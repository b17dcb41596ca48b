package graft.tools

import graft.io.Memo

/** Memo-family bookkeeping for full-suite sweeps (Verify/Bench).
  *
  * Similarity, Dedup and CorpusOps memoize expensive intermediates
  * per input ([[graft.io.Memo]]) — the persisted normalized vectors
  * and fitted quantizers, the localCheckpoint'd MinHash pair table,
  * the boilerplate line-df table. Within a family that reuse
  * is the point, but an 89-query sweep that never releases them holds
  * every family's blocks concurrently for the rest of the run:
  * eviction pressure mid-sweep is the plausible mechanism behind the
  * r8 bench's single-query 6.8x `corpus_curated` outlier. A Tracker
  * releases each family's memos the moment its LAST consumer
  * finishes, so sweep residency is bounded by one family, not the
  * union of all of them.
  *
  * The consumer sets are the static call graph of SparkEntry.queries;
  * a query added to a family without updating its set here just means
  * a refit/recompute (correctness unaffected — memos rebuild on
  * demand). Freeing the localCheckpoint'd tables is safe exactly
  * because no later query references them once the set drains.
  */
object SweepCaches {

  /** Queries that read a Similarity memo (family "sim").
    * SweepCachesSpec pins this as a subset of SparkEntry.queries and
    * (via the family's `Memo.builds`) that no memo rebuilds after its
    * set drains in a full sweep — the failure mode of a renamed/added
    * consumer missing from here. */
  private[graft] val simConsumers = Set(
    "dedup_embedding", "dedup_embedding_ivf",
    "ann_brute_force", "ann_label_filtered", "ann_range", "ann_range_ivf", "ann_mrl",
    "ann_ivf", "ann_lsh",
    "emb_quantize_int8", "ann_int8", "ann_ivf_int8", "stream_ann_int8",
    "stream_ann_ivf_int8", "stream_ann_ivf_pq", "stream_index_append",
    "ann_pq", "ann_ivf_pq",
    "ann_hamming", "ann_cascade", "dedup_semantic", "stream_semantic",
    "ann_recall_probe")

  /** Queries that read a Dedup MinHash memo (family "dedup": the
    * signature table, pair table and cluster map). Same pin as
    * [[simConsumers]]. */
  private[graft] val dedupConsumers = Set(
    "dedup_minhash_lsh", "dedup_clusters", "dedup_near_kept",
    "dedup_cluster_stats",
    "corpus_split_leakage", "dedup_incremental_near", "stream_near_dup")

  /** Queries that read Dedup.gramMemo (the shared word-5-gram
    * postings + document-frequency tables). Its OWN family for the
    * same reason as [[contamConsumers]]: the MinHash set drains at a
    * different point in sweep order. Same pin as [[simConsumers]]. */
  private[graft] val gramConsumers = Set(
    "dedup_ngram_jaccard", "dedup_containment")

  /** Queries that read CorpusOps.lineDfMemo (the shared
    * boilerplate line-df table). Same pin as [[simConsumers]]. */
  private[graft] val corpusConsumers = Set(
    "corpus_boilerplate", "corpus_strip_boilerplate")

  /** Queries that read CorpusOps.contamMemo (the memoized
    * benchmark-contamination id table — the full-corpus 4-gram join).
    * Its OWN family, not folded into [[corpusConsumers]]: the line-df
    * set drains tens of queries earlier in sweep order, and one
    * release point for both would either evict this memo before its
    * consumers run or pin the line-df table long past its last
    * reader. Same pin as [[simConsumers]]. */
  private[graft] val contamConsumers = Set(
    "contamination", "corpus_curated", "stream_curated")

  /** The one family → consumer-set declaration that [[Tracker]] walks;
    * its keys are [[Memo.Families]]. */
  private[graft] val consumers: Map[String, Set[String]] = Map(
    "sim" -> simConsumers, "dedup" -> dedupConsumers, "gram" -> gramConsumers,
    "corpus" -> corpusConsumers, "contam" -> contamConsumers)
  require(consumers.keySet == Memo.Families, "one consumer set per memo family")

  final class Tracker {
    private val pending = consumers.map { case (f, qs) => f -> collection.mutable.Set.from(qs) }

    /** Call after query `name` completes (success or failure — a
      * failed consumer still never reads the memo again). Releases
      * only the families that just drained; the others drain later. */
    def done(name: String): Unit =
      pending.foreach { case (family, left) =>
        if (left.remove(name) && left.isEmpty) Memo.release(family)
      }
  }

  /** Drop everything — used between a warmup sweep and the timed
    * sweep so warmup-dir residue doesn't ride along. */
  def releaseAll(): Unit = Memo.releaseAll()
}
