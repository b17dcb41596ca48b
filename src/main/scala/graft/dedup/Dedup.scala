package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Memo, Tables}

/** Deduplication operators for the training-data pipeline surface
  * (BASELINE.json north_star; not present in the reference, which has no
  * dedup of any kind — SURVEY.md §2.5).
  *
  * Every variant is oracle-checkable: hashing is md5-derived (identical
  * bytes in Spark and DuckDB), permutations are integer arithmetic, and
  * thresholds are integer comparisons, so results hash-match across
  * engines with no float-ordering hazards.
  *
  * Scale design (100 TB): all variants are shuffle-on-key pipelines —
  * shingle/minhash/band maps are narrow, the only wide ops are the
  * per-key groupBys and the band-bucket self-join, which AQE handles.
  * Nothing collects to the driver; candidate generation is LSH-style so
  * the pair space never goes quadratic in the corpus (only within a
  * band bucket).
  */
object Dedup {

  /** 32-bit hash of a string column via md5's first 4 digest bytes —
    * byte-identical in DuckDB (`('0x'||substr(md5(x),1,8))::BIGINT`).
    * Routed through the codegen'd [[graft.functions.H32]] (one digest
    * call per value; the composed conv∘substring∘md5 form it replaces
    * paid four per-value string ops after the digest — see its
    * scaladoc). Requires GraftFunctions on the session: Tables()
    * registers at construction, so every batch operator is covered;
    * DataFrame-input streaming paths register explicitly.
    */
  private[graft] def h32(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_h32", c)

  private[graft] def sqlH32(x: String): String =
    s"('0x'||substr(md5($x),1,8))::BIGINT"

  /** Overlapping word `width`-gram spans of `text` as a self-contained
    * SQL expression, capped at 8191 starts (invariant 6 — mirrored by
    * the oracles' range(1, 8192) tables). Since r22 this is the native
    * [[graft.functions.WordGrams]] node — the previous composed form
    * (`transform(array(split(text,' ')), toks -> transform(sequence(
    * 1, least(greatest(size(toks)-(w-1), 1), 8191)), i ->
    * concat_ws(' ', slice(toks, i, w))))[0]`, itself the r18 fix for
    * the O(words·starts) re-split) was a CodegenFallback HOF paying an
    * interpreted lambda dispatch and a slice allocation PER GRAM —
    * ~12 s of summed task CPU on each of stream_curated's three gram
    * stages at sf0.1 (r22 stage audit). The native node bottoms out in
    * the same UTF8String split/concatWs kernels, so the array is
    * byte-identical (FunctionsSpec pin). Callers need GraftFunctions
    * registered on the session (Tables() does it; the direct-use
    * sites register defensively).
    */
  private[graft] def gramExpr(width: Int): String =
    s"graft_word_grams(text, $width)"

  // ---------------------------------------------------------------- exact

  /** Exact dedup: hash-groupBy on content digest; keeps the smallest
    * doc_id as canonical representative. One shuffle on a 128-bit key,
    * map-side partial aggregation — the textbook 100 TB-safe shape.
    */
  def exact(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents
      .groupBy(md5($"text".cast(BinaryType)).as("fp"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("copies"))
      .select($"doc_id", $"copies")
  }

  val exactSql: String =
    "SELECT min(doc_id) AS doc_id, count(*) AS copies FROM documents GROUP BY md5(text)"

  /** Incremental-ingest dedup — the batch form of
    * streaming/Streams.dedupStream: when a NEW batch (here doc_id % 10
    * == 9 stands in for the arriving drop) lands next to an existing
    * corpus, report each new doc as `dup_of_corpus` (content digest
    * already present in the old corpus), `dup_in_batch` (first seen in
    * this batch — smallest doc_id in the batch wins), or `new`. Shape:
    * the batch side is digest-keyed and LEFT-joined against the
    * digest-distinct old corpus — one map-side-combinable aggregate
    * per side, one equi-join on the digest. No corpus PAIR is ever
    * re-deduped, but this entry still makes one full corpus scan per
    * run to derive the digest set; the true O(batch) path is
    * [[incrementalAgainstDigests]] below, which joins the batch
    * against a PRECOMPUTED digest table instead.
    */
  def incremental(t: Tables): DataFrame = {
    import t.spark.implicits._
    val fp = md5($"text".cast(BinaryType))
    val old = t.documents.filter($"doc_id" % 10 =!= 9)
      .select(fp.as("fp")).distinct()
    val batch = t.documents.filter($"doc_id" % 10 === 9)
      .select($"doc_id", fp.as("fp"))
    incrementalAgainstDigests(batch, old)
  }

  /** The corpus's distinct content digests — the persistent state a
    * nightly ingest job maintains (write once with GraftIO.write,
    * then append each accepted batch's `new` digests). 16 bytes per
    * unique document; at 100 TB of text this table is GBs, not TBs.
    */
  def corpusDigests(docs: DataFrame): DataFrame =
    docs.select(md5(col("text").cast(BinaryType)).as("fp")).distinct()

  /** True O(batch) incremental dedup: classify `batch` (doc_id, fp)
    * rows against a precomputed digest table ([[corpusDigests]], read
    * back from storage). Per run the work is one aggregate over the
    * BATCH plus one digest-keyed equi-join — the corpus is never
    * rescanned; its cost was paid once at digest-table build time and
    * amortizes across every subsequent ingest. The digest side streams
    * through the join (shuffle on fp or broadcast while small, AQE's
    * call), so a nightly drop against a 100 TB corpus costs
    * O(batch + matching digest partitions), not O(corpus).
    */
  def incrementalAgainstDigests(batch: DataFrame, digests: DataFrame): DataFrame = {
    val firstInBatch = batch.groupBy(col("fp")).agg(min(col("doc_id")).as("first_id"))
    batch
      .join(firstInBatch, "fp")
      .join(digests.select(col("fp")).withColumn("in_corpus", lit(1)),
        Seq("fp"), "left_outer")
      .select(col("doc_id"),
        when(col("in_corpus").isNotNull, "dup_of_corpus")
          .when(col("doc_id") =!= col("first_id"), "dup_in_batch")
          .otherwise("new").as("status"))
  }

  val incrementalSql: String =
    """WITH old AS (SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 9),
      |batch AS (SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 = 9),
      |fib AS (SELECT fp, min(doc_id) AS first_id FROM batch GROUP BY fp)
      |SELECT batch.doc_id AS doc_id,
      | CASE WHEN old.fp IS NOT NULL THEN 'dup_of_corpus'
      |      WHEN batch.doc_id <> first_id THEN 'dup_in_batch'
      |      ELSE 'new' END AS status
      |FROM batch JOIN fib ON batch.fp = fib.fp
      |LEFT JOIN old ON batch.fp = old.fp""".stripMargin.replace("\n", " ")

  // -------------------------------------------------------------- minhash

  /** (a,b) coefficients for the k=16 universal-hash permutations
    * h_i(x) = (a_i*x + b_i) mod P. a_i < 2^20 keeps a_i*x < 2^52: no
    * 64-bit overflow in either engine.
    */
  private[graft] val P = 4294967311L // smallest prime > 2^32
  private[graft] val AB: Seq[(Long, Long)] = Seq(
    (387461L, 1104739L), (452443L, 220301L), (112909L, 913259L),
    (641087L, 54293L), (322193L, 678341L), (918269L, 131071L),
    (204803L, 402653L), (561109L, 786433L), (770503L, 24593L),
    (133807L, 196613L), (489217L, 593251L), (705649L, 49157L),
    (882377L, 98317L), (247099L, 393241L), (318259L, 786431L),
    (663163L, 12289L)
  )
  private val K = AB.size // 16 minhashes
  private val BANDS = 4   // 4 bands x 4 rows
  private val ROWS = K / BANDS
  private val MIN_MATCHES = 8 // report pairs with est. Jaccard >= 8/16

  /** Char-5-gram shingle set per document. Positions are capped at
    * 8191 (matching the oracle's range(1, 8192) table): only the first
    * ~8K chars participate in shingling — a deliberate bound on
    * per-document work that also keeps skew from mega-documents out of
    * the shuffle. The testdata
    * documents table is a single parquet file = one input split, so the
    * explode would otherwise run on one core; widen() repartitions
    * only in that case (at real scale the input arrives pre-split and
    * widen is the identity — no shuffle).
    */
  private def shingles(t: Tables): DataFrame = {
    import t.spark.implicits._
    // No distinct: min() over the shingle multiset equals min() over the
    // set, so dedup would only add a 200x-rows shuffle for nothing.
    t.widen(t.documents)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, least(greatest(length(text)-4, 1), 8191)), i -> substring(text, i, 5))"
      )).as("shingle"))
  }

  /** Per-doc minhash signature: single pass over hashed shingles with K
    * min() aggregates (no K-way row explosion).
    */
  private def signatures(t: Tables): DataFrame = {
    val hashed = shingles(t).select(col("doc_id"), h32(col("shingle")).as("h"))
    val aggs = AB.zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P).as(s"m$i")
    }
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  // One persisted signature table per input: three sweep queries
  // consume it (dedup_minhash_lsh builds its memoized pair table from
  // it, dedup_incremental_near and stream_near_dup probe with it) — K
  // longs per doc, tiny relative to the corpus.
  private val sigMemo = Memo[DataFrame]("dedup")

  /** Builds of every Dedup memo, both families (perfbench's
    * `memo.builds`). */
  private[graft] object cacheBuilds { def get: Int = Memo.builds("dedup", "gram") }

  private[graft] def signatureTable(t: Tables): DataFrame =
    sigMemo(t)(signatures(t).persist())

  /** Bind a caller-supplied signature table to the canonical
    * (doc_id, m0..m{K-1}) layout BY NAME. The probe paths
    * ([[nearDupAgainstIndex]], Streams.nearDupStream) rename
    * positionally afterwards; without this, a table with the right
    * arity but a different column order would silently mis-bind
    * signature columns and report wrong est_sim — wrong-order input
    * must fail loudly instead.
    */
  private[graft] def bindSigs(df: DataFrame, label: String): DataFrame = {
    val expected = "doc_id" +: (0 until K).map(i => s"m$i")
    require(expected.forall(df.columns.contains),
      s"$label signature table needs columns ${expected.mkString(", ")}; " +
        s"got ${df.columns.mkString(", ")}")
    df.select(expected.map(col): _*)
  }

  /** Number of minhash permutations / agreement threshold, shared with
    * the streaming twin (graft.streaming.Streams.nearDupStream). */
  private[graft] def kPerms: Int = K
  private[graft] def minMatches: Int = MIN_MATCHES

  /** Row-LOCAL shingle-hash array — the streaming form of
    * [[shingles]]+[[h32]]: a document arrives as one row, so its
    * shingle multiset is a pure array expression (same substring
    * positions, same 8191 cap, same md5-derived hash — bitwise the
    * batch pipeline's values, just never exploded).
    */
  private[graft] def rowHashes(text: Column): Column = {
    val idx = sequence(lit(1),
      least(greatest(length(text) - 4, lit(1)), lit(8191)))
    val sh = transform(idx, i => text.substr(i, lit(5)))
    transform(sh, s => h32(s))
  }

  /** K signature columns from a [[rowHashes]] array: array_min over
    * each permutation — min over the multiset equals the batch min()
    * aggregate over the exploded rows, so row-local signatures are
    * bitwise-identical to [[signatures]]'s.
    */
  private[graft] def sigCols(hs: Column, prefix: String): Seq[Column] =
    AB.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(hs, h => (h * a + b) % P)).as(s"$prefix$i")
    }

  /** Band structs over signature columns named `prefix0..prefix{K-1}`. */
  private[graft] def bandStructs(prefix: String): Seq[Column] =
    (0 until BANDS).map { j =>
      struct(lit(j).as("band"),
        concat_ws("-", (0 until ROWS).map(r => col(s"$prefix${j * ROWS + r}")): _*).as("key"))
    }

  /** Signature-agreement count between `a`-prefixed and `b`-prefixed
    * signature columns. */
  private[graft] def matchCount(a: String, b: String): Column =
    (0 until K)
      .map(i => when(col(s"$a$i") === col(s"$b$i"), 1).otherwise(0))
      .reduce(_ + _)

  /** MinHash + LSH near-duplicate pairs: band-bucket join for candidate
    * generation, then signature agreement count as the similarity
    * estimate. est_sim = matches/16 is exact in binary (16 = 2^4).
    */
  /** One materialized pair table per input: the same result serves the
    * dedup_minhash_lsh query and clusters' edge input, so the
    * expensive shingle→signature→band pipeline runs once per sweep.
    * localCheckpoint (small, lineage-free) rather than persist.
    */
  private val lshMemo = Memo[DataFrame]("dedup")

  // One (postings, sorted-array) pair per input: ngramJaccard
  // and containment built BYTE-IDENTICAL gram lineages independently —
  // the same widened scan → array_distinct(gramExpr(5)) explode with
  // the doc's gram-set size carried on every row → doc_id-keyed
  // exchange → persist — AND (r22) the same df-join + per-doc
  // (df, gram) sort: both queries' prefixes are slices of ONE globally
  // ordered per-doc gram array, and their exact-|A∩B| verification
  // reads the same arrays, so the whole df+sort pipeline now lives in
  // the memo instead of running once per query. Its own release
  // family ("gram"): it drains at a different point in sweep order than
  // the MinHash memos. SweepCachesSpec pins one build per full sweep (a
  // second one = a consumer re-running the gram explode + df
  // aggregation instead of reading the shared tables).
  private[graft] val gramMemo = Memo[(DataFrame, DataFrame)]("gram")

  /** The shared (grams, arrTab) pair: grams = (doc_id, n, gram) with n
    * = |doc's distinct gram set| on every row, hash-partitioned by
    * doc_id and persisted (containment's full join side); arrTab =
    * (doc_id, arr) with arr = the doc's distinct grams sorted by the
    * global (document frequency asc, gram asc) total order — the
    * df-ordered prefix of EITHER query is a slice of it, and
    * size(array_intersect(aa, ab)) over two of them is the exact
    * |A∩B| both verifications need (arrays are per-doc distinct by
    * construction). The df table is an internal input of the arr
    * build: nothing downstream reads it, so it is neither persisted
    * nor memoized. See [[ngramJaccard]]'s scaladoc for why the doc_id
    * exchange below the persist is load-bearing. */
  private[graft] def gramPostings(t: Tables): (DataFrame, DataFrame) =
    gramMemo(t) {
      val grams = t.widen(t.documents)
        .select(col("doc_id"), array_distinct(expr(gramExpr(5))).as("gs"))
        .select(col("doc_id"), size(col("gs")).as("n"),
          explode(col("gs")).as("gram"))
        .repartition(t.spark.sessionState.conf.numShufflePartitions,
          col("doc_id"))
        .persist()
      val dfTab = grams.groupBy(col("gram"))
        .agg(count(lit(1)).as("df"))
      // df via groupBy + join-back, NOT count().over(partitionBy(gram)):
      // a window has no map-side combine and a ubiquitous gram would
      // pin its whole posting list in one unsplittable partition. Each
      // doc's (df, gram) list is ≤ 8191 entries by the position cap,
      // so array_sort inside the row replaces a WindowExec sort of the
      // whole gram table.
      val arrTab = grams
        .join(dfTab, "gram")
        .groupBy(col("doc_id"))
        .agg(collect_list(struct(col("df"), col("gram"))).as("lst"))
        .select(col("doc_id"),
          expr("transform(array_sort(lst), x -> x.gram)").as("arr"))
        .persist()
      (grams, arrTab)
    }

  def minhashLsh(t: Tables): DataFrame = lshMemo(t)(minhashLshUncached(t))

  /** (doc_id, band, key) bucket table from a signature table — the
    * classic LSH band index: one exploded row per band, keyed so a
    * single equi-join covers all bands.
    */
  private def bandKeys(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(bandStructs("m"): _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"))

  private def minhashLshUncached(t: Tables): DataFrame = {
    // The signature table feeds the band join twice per band plus both
    // sides of the agreement count — without an explicit persist Spark
    // recomputes the whole shingle+md5+agg pipeline per branch (10 times
    // here). Signatures are K longs per doc: tiny relative to the
    // corpus, so materializing is the 100 TB-correct call too; the
    // persisted table is shared with the incremental/streaming probes
    // via sigMemo.
    val sig = signatureTable(t)
    // One bucket table keyed by (band, key) → a single self-join covers
    // all bands (vs one join per band: fewer stages, one shuffle, and
    // the classic LSH bucket-table shape that scales).
    val buckets = bandKeys(sig)

    val x = buckets.toDF("doc_a", "band", "key")
    val y = buckets.toDF("doc_b", "band", "key")
    val cand = x.join(y, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

    val sa = sig.toDF("doc_a" +: (0 until K).map(i => s"ma$i"): _*)
    val sb = sig.toDF("doc_b" +: (0 until K).map(i => s"mb$i"): _*)
    val matches = (0 until K)
      .map(i => when(col(s"ma$i") === col(s"mb$i"), 1).otherwise(0))
      .reduce(_ + _)
    // localCheckpoint here (not at the memo site) so the memoized pair
    // table carries no lineage into the persisted signature table
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("matches", matches)
      .filter(col("matches") >= MIN_MATCHES)
      .select(col("doc_a"), col("doc_b"),
        (col("matches") / lit(K.toDouble)).as("est_sim"))
      .localCheckpoint()
  }

  val minhashSql: String = {
    val sigCols = AB.zipWithIndex.map { case ((a, b), i) =>
      s"min((h*$a+$b)%$P) AS m$i"
    }.mkString(", ")
    val bandExprs = (0 until BANDS).map { j =>
      val cols = (0 until ROWS).map(r => s"m${j * ROWS + r}").mkString(", ")
      s"concat_ws('-', $cols) AS b$j"
    }.mkString(", ")
    val candUnion = (0 until BANDS).map { j =>
      s"SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM bands x JOIN bands y ON x.b$j = y.b$j AND x.doc_id < y.doc_id"
    }.mkString(" UNION ")
    val matchSum = (0 until K)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sh AS (SELECT DISTINCT doc_id, substring(text, CAST(r.range AS INT), 5) AS shingle
       | FROM documents JOIN range(1, 8192) r ON r.range <= greatest(length(text)-4, 1)),
       |h AS (SELECT doc_id, ${sqlH32("shingle")} AS h FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM h GROUP BY doc_id),
       |bands AS (SELECT doc_id, $bandExprs FROM sig),
       |cand AS ($candUnion),
       |m AS (SELECT cand.doc_a, cand.doc_b, ($matchSum) AS matches
       | FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id JOIN sig sb ON cand.doc_b = sb.doc_id)
       |SELECT doc_a, doc_b, matches / CAST($K AS DOUBLE) AS est_sim
       |FROM m WHERE matches >= $MIN_MATCHES""".stripMargin.replace("\n", " ")
  }

  /** O(batch) incremental NEAR-dup — the MinHash twin of
    * [[incrementalAgainstDigests]]: when a new drop lands (doc_id % 10
    * == 9 stands in for the arriving batch, same convention as
    * `incremental`), report each batch doc's near-duplicates already
    * in the corpus, WITHOUT re-LSHing the corpus. This entry derives
    * both sides live from the testdata (the contract), but the
    * production path is [[nearDupAgainstIndex]]: the corpus's
    * signature + band tables are the persistent index a nightly job
    * maintains (K longs + BANDS keys per doc — GBs at 100 TB, like the
    * digest table), and per ingest the work is batch
    * shingle→signature (O(batch)) plus a bucket join that touches only
    * the index partitions whose keys the batch produces.
    */
  def incrementalNearDup(t: Tables): DataFrame = {
    val sig = signatureTable(t)
    val isBatch = col("doc_id") % 10 === 9
    nearDupAgainstIndex(sig.filter(isBatch), sig.filter(!isBatch))
  }

  /** Probe batch signatures against the PRECOMPUTED corpus index.
    * Candidates form only on shared (band, key) buckets — |bucket|-
    * bounded work, never batch×corpus — and are verified by exact
    * signature agreement (≥ MIN_MATCHES of K), so LSH only PRUNES:
    * every reported pair's est_sim is the true signature agreement.
    */
  def nearDupAgainstIndex(batchSigs0: DataFrame,
                          corpusSigs0: DataFrame): DataFrame = {
    val batchSigs = bindSigs(batchSigs0, "batch")
    val corpusSigs = bindSigs(corpusSigs0, "corpus")
    val bb = bandKeys(batchSigs).toDF("batch_id", "band", "key")
    val cb = bandKeys(corpusSigs).toDF("corpus_id", "band", "key")
    val cand = bb.join(cb, Seq("band", "key"))
      .select(col("batch_id"), col("corpus_id"))
      .distinct() // a pair may collide in several bands
    val sa = batchSigs.toDF("batch_id" +: (0 until K).map(i => s"ma$i"): _*)
    val sb = corpusSigs.toDF("corpus_id" +: (0 until K).map(i => s"mb$i"): _*)
    cand.join(sa, "batch_id").join(sb, "corpus_id")
      .withColumn("matches", matchCount("ma", "mb"))
      .filter(col("matches") >= MIN_MATCHES)
      .select(col("batch_id"), col("corpus_id"),
        (col("matches") / lit(K.toDouble)).as("est_sim"))
  }

  val incrementalNearDupSql: String = {
    val sigCols = AB.zipWithIndex.map { case ((a, b), i) =>
      s"min((h*$a+$b)%$P) AS m$i"
    }.mkString(", ")
    val bandExprs = (0 until BANDS).map { j =>
      val cols = (0 until ROWS).map(r => s"m${j * ROWS + r}").mkString(", ")
      s"concat_ws('-', $cols) AS b$j"
    }.mkString(", ")
    val candUnion = (0 until BANDS).map { j =>
      s"SELECT x.doc_id AS batch_id, y.doc_id AS corpus_id FROM bands x JOIN bands y ON x.b$j = y.b$j WHERE x.doc_id % 10 = 9 AND y.doc_id % 10 <> 9"
    }.mkString(" UNION ")
    val matchSum = (0 until K)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sh AS (SELECT DISTINCT doc_id, substring(text, CAST(r.range AS INT), 5) AS shingle
       | FROM documents JOIN range(1, 8192) r ON r.range <= greatest(length(text)-4, 1)),
       |h AS (SELECT doc_id, ${sqlH32("shingle")} AS h FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM h GROUP BY doc_id),
       |bands AS (SELECT doc_id, $bandExprs FROM sig),
       |cand AS ($candUnion),
       |m AS (SELECT cand.batch_id, cand.corpus_id, ($matchSum) AS matches
       | FROM cand JOIN sig sa ON cand.batch_id = sa.doc_id JOIN sig sb ON cand.corpus_id = sb.doc_id)
       |SELECT batch_id, corpus_id, matches / CAST($K AS DOUBLE) AS est_sim
       |FROM m WHERE matches >= $MIN_MATCHES""".stripMargin.replace("\n", " ")
  }

  /** The corpus a dedup pipeline actually emits: one surviving row per
    * distinct content hash (min doc_id wins).
    */
  def keptCorpus(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5($"text".cast(BinaryType)))
      .orderBy($"doc_id".asc)
    t.documents
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }

  val keptCorpusSql: String =
    """SELECT doc_id, lang, source, n_chars FROM (
      | SELECT doc_id, lang, source, n_chars,
      |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
      | FROM documents)
      |WHERE rn = 1""".stripMargin.replace("\n", " ")

  /** Near-duplicate clusters: connected components over the MinHash-LSH
    * pair graph by the alternating large-star/small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — converges in O(log n) rounds regardless of component
    * diameter, vs O(diameter) for plain min-label propagation. Cluster
    * id = min doc_id in the component. The DuckDB oracle computes the
    * same components with a recursive CTE, and `ccMinLabel` is kept as
    * a third independent algorithm (DedupSpec cross-checks all on the
    * same pair graph).
    */
  // One materialized cluster map per input: three sweep
  // queries consume the SAME connected-components fixpoint
  // (dedup_clusters reads it, dedup_near_kept anti-joins its
  // non-representative ids, dedup_cluster_stats histograms it), and
  // an uncached call re-runs the whole O(log n)-round CC loop — the
  // pair table was memoized (lshMemo) but the loop above it ran 3x
  // per sweep (~3 s each at sf0.1, r20). One narrow row per clustered
  // doc (doc_id, cluster_id): localCheckpoint-sized at any corpus the
  // pair family itself can run on. SweepCachesSpec pins one CC run
  // per full sweep (a second one = a consumer re-deriving the fixpoint
  // instead of reading the shared map).
  private[graft] val clusterMemo = Memo[DataFrame]("dedup")

  def clusters(t: Tables): DataFrame =
    clusterMemo(t) {
      // minhashLsh is memoized per input — no second pipeline run
      connectedComponents(minhashLsh(t).select(col("doc_a"), col("doc_b")))
        .localCheckpoint()
    }

  /** Alternating large-star/small-star connected components over an
    * undirected pair list (doc_a, doc_b) → (doc_id, cluster_id =
    * component-min doc_id).
    *
    * Edges are kept canonically oriented (u, v) with u > v. Each round
    * is one large-star then one small-star — two grouped min-aggs and
    * two equi-joins keyed on node id, all map-side combinable, no step
    * ever materializes a neighborhood in one task beyond the agg
    * buffer. The fixpoint is the star graph (every node → its
    * component min), detected by an (edge count, xxhash64 checksum)
    * pair going stationary; `localCheckpoint` per round truncates the
    * doubling lineage (see CLAUDE.md gotcha).
    */
  private[graft] def connectedComponents(pairs: DataFrame,
      driverMaxEdges: Long = CcDriverMaxEdges): DataFrame = {
    val nodes = pairs.select(col("doc_a").as("doc"))
      .union(pairs.select(col("doc_b").as("doc")))
      .distinct()
      .localCheckpoint()
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var prev = (-1L, "")
    // one (count, checksum) job doubles as the old isEmpty probe AND
    // the driver-path size gate AND the loop's fixpoint seed
    var cur = edgeChecksum(edges)
    if (cur._1 == 0L) {
      return nodes.select(col("doc").as("doc_id"), col("doc").as("cluster_id"))
    }
    // Driver union-find fast path (r22): the fixpoint loop's wall at
    // bench scale is almost pure sequential job dispatch (~8 tiny
    // 1-task stages per round x ~6-12 rounds on a graph of a few
    // thousand edges). When the MEASURED edge count fits the driver
    // comfortably (<= ~1M canonical edges, well under the loop's own
    // single-partition regime), collect the edge list once, run
    // min-label union-find (path compression + link-larger-root-
    // under-smaller, so each root IS its component min), and hand the
    // label table back as one broadcastable join input. Output is
    // bit-identical to the fixpoint (both label every node with its
    // component minimum); the distributed loop below is UNCHANGED for
    // every graph past the bound, so nothing about the 100 TB path
    // moved — this is the same measured-size-dependent plan class as
    // the edit residue probes (DedupSpec pins driver == loop ==
    // min-label on the same graphs). Long ids only (every caller's
    // doc_id/vec_id schema); anything else falls through to the loop.
    if (cur._1 <= driverMaxEdges &&
        edges.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)) {
      val sp = pairs.sparkSession
      import sp.implicits._
      val arr = edges.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val p = parent(c); parent(c) = r; c = p }
        r
      }
      arr.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      val seen = scala.collection.mutable.LongMap.empty[Unit]
      arr.foreach { case (a, b) => seen(a) = (); seen(b) = () }
      val labels = seen.keysIterator.map(d => (d, find(d))).toSeq
      val roots = labels.toDF("doc", "root")
      return nodes.join(roots, Seq("doc"), "left")
        .select(col("doc").as("doc_id"),
          coalesce(col("root"), col("doc")).as("cluster_id"))
    }
    // width from the measured edge count (shrinks monotonically over
    // rounds, so the initial count is an upper bound); coalesce is
    // narrow, so the 1-partition case pays no shuffle (reachable via
    // the spec's driverMaxEdges = 0 override and non-long id schemas)
    val parts = math.max(1L,
      (cur._1 + CcRowsPerPartition - 1) / CcRowsPerPartition).toInt
    if (parts == 1) edges = edges.coalesce(1)
    var rounds = 0
    while (cur != prev && rounds < 30) {
      // LAZY checkpoint: the fixpoint checksum that follows computes
      // every partition anyway, so it doubles as the materializing
      // action — one job per round instead of checkpoint + checksum
      // (r21; the loop's bench wall is sequential job latency, the
      // data per round is tiny). Lineage is truncated identically.
      edges = ccRound(edges, parts).localCheckpoint(eager = false)
      prev = cur
      cur = edgeChecksum(edges)
      rounds += 1
    }
    // star edges: (node, root). A node can transiently hold several
    // smaller neighbors if the cap fired pre-fixpoint — min() keeps the
    // output well-defined either way.
    val roots = edges.groupBy(col("u").as("doc")).agg(min(col("v")).as("root"))
    nodes.join(roots, Seq("doc"), "left")
      .select(col("doc").as("doc_id"),
        coalesce(col("root"), col("doc")).as("cluster_id"))
  }

  /** One alternating large-star/small-star round (Kiveris et al.) with
    * THREE exchanges instead of the textbook two-function form's four
    * (r21 — the CC loop's wall at bench scale is almost pure
    * sequential-stage latency, so one exchange per round is ~25% of
    * the loop):
    *   - large-star: center on each node u, connect every strictly
    *     larger neighbor to m(u) = min of the closed neighborhood
    *     (preserves connectivity, halves tall chains);
    *   - its output repartitions by the NEW center u — hash(u)
    *     satisfies the (u, v) dedup's clustered distribution AND
    *     small-star's groupBy(u)/join(u), so all three run off that
    *     single exchange (the old form paid a (u, v) distinct exchange
    *     plus a fresh u exchange for small-star);
    *   - small-star: connect all smaller neighbors and u itself to
    *     m(u) = min of the smaller neighborhood.
    * The per-round edge SET is identical to the two-function form (the
    * dedup is relocated, not removed), so the checksum fixpoint and
    * the final labels are bit-identical.
    */
  private def ccRound(edges: DataFrame, parts: Int): DataFrame = {
    // sym via explode, not union: narrow, and it PRESERVES the input's
    // partition count — with parts == 1 the entire round (both
    // min-aggs, both joins, both dedups) plans with ZERO exchanges
    // because SinglePartition satisfies every clustered distribution.
    val sym = edges.select(explode(array(
      struct(col("u"), col("v")),
      struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val m = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    val large0 = sym.filter(col("v") > col("u"))
      .join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
    val large = (if (parts > 1) large0.repartition(parts, col("u")) else large0)
      .dropDuplicates("u", "v")
    val m2 = large.groupBy("u").agg(min(col("v")).as("m"))
    large.join(m2, "u")
      .select(explode(array(
        struct(col("v").as("a"), col("m").as("b")),
        struct(col("u").as("a"), col("m").as("b")))).as("e"))
      .select(col("e.a").as("u"), col("e.b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Edge rows per CC-loop partition (~64 MB of 16-byte edge rows):
    * the loop's width derives from the MEASURED edge count — one
    * partition (zero-exchange rounds) for bench-scale graphs, ~64 MB
    * partitions at any corpus size. Scale-adaptive by construction,
    * never a pinned local constant. */
  private[graft] val CcRowsPerPartition = 4L * 1000 * 1000

  /** Canonical-edge bound for the CC driver union-find fast path
    * (~1M (Long, Long) tuples ≈ tens of MB of driver heap, transient).
    * Deliberately BELOW the loop's single-partition regime: any graph
    * the driver path takes was already being processed one task at a
    * time — the fast path removes the per-round job dispatch, not
    * parallelism. */
  private[graft] val CcDriverMaxEdges = 1L << 20

  // hash sum accumulates in DECIMAL(38,0): a Long sum of 64-bit hashes
  // overflows under ANSI arithmetic
  private def edgeChecksum(e: DataFrame): (Long, String) = {
    val r = e.agg(count(lit(1)),
      sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0)))).head
    (r.getLong(0), if (r.isNullAt(1)) "" else r.getDecimal(1).toPlainString)
  }

  /** Min-label propagation (the round-2 clusters implementation), kept
    * as an independent cross-check for `connectedComponents`:
    * O(component diameter) rounds, one shuffle per round. Fine for the
    * shallow components dup clusters produce; the alternating
    * algorithm above wins on deep chains.
    */
  private[graft] def ccMinLabel(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist()
    // localCheckpoint (not persist): labels appears twice per round, so
    // without lineage truncation the logical plan doubles every
    // iteration — 2^rounds nodes blows the driver heap long before the
    // data does.
    var labels = edges.select(col("doc_a").as("doc")).distinct()
      .withColumn("lbl", col("doc"))
      .localCheckpoint()
    // no pairs → no components; also guards the null sum(lbl) below
    if (labels.isEmpty) {
      edges.unpersist()
      return labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
    }
    // labels only ever decrease, so the label sum is strictly monotone:
    // equal sums across rounds ⇔ fixpoint. Carry the previous round's
    // sum forward — one agg job per round, no comparison join.
    var prevSum = labels.agg(sum(col("lbl"))).head.getLong(0)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 40) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("doc", "doc_b")
          .withColumnRenamed("lbl", "nlbl"), Seq("doc_b"))
        .groupBy(col("doc_a").as("doc"))
        .agg(min(col("nlbl")).as("nmin"))
      val next = labels.join(viaNeighbor, Seq("doc"), "left")
        .select(col("doc"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
        .localCheckpoint()
      val nextSum = next.agg(sum(col("lbl"))).head.getLong(0)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      rounds += 1
    }
    // labels is localCheckpoint-materialized: the edge cache can go
    edges.unpersist()
    labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
  }

  val clustersSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($minhashSql)),
       |edges AS (SELECT doc_a, doc_b FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT doc_a AS doc FROM edges),
       |reach AS (
       | SELECT doc, doc AS r FROM nodes
       | UNION
       | SELECT reach.doc, e.doc_b AS r FROM reach JOIN edges e ON e.doc_a = reach.r)
       |SELECT doc AS doc_id, min(r) AS cluster_id FROM reach GROUP BY doc""".stripMargin.replace("\n", " ")

  /** The NEAR-dup kept corpus — [[keptCorpus]]'s fuzzy sibling and the
    * actual output of a MinHash dedup pipeline: every document that is
    * its cluster's representative (component-min doc_id) or in no
    * cluster at all. One left-anti join of the corpus against the
    * non-representative members of [[clusters]] — the cluster table is
    * near-dup-pair-sized, not corpus-sized, so at 100 TB this is a
    * corpus scan anti-joined with a (much smaller) drop list, same
    * shape as [[keptCorpus]]. Shares the LSH pair cache with
    * clusters/minhashLsh (one pipeline run serves all three).
    */
  def nearKeptCorpus(t: Tables): DataFrame = {
    import t.spark.implicits._
    val drop = clusters(t)
      .filter($"doc_id" =!= $"cluster_id")
      .select($"doc_id")
    t.documents.select($"doc_id", $"source")
      .join(drop, Seq("doc_id"), "left_anti")
  }

  val nearKeptCorpusSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($minhashSql)),
       |edges AS (SELECT doc_a, doc_b FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT doc_a AS doc FROM edges),
       |reach AS (
       | SELECT doc, doc AS r FROM nodes
       | UNION
       | SELECT reach.doc, e.doc_b AS r FROM reach JOIN edges e ON e.doc_a = reach.r),
       |cc AS (SELECT doc, min(r) AS cluster_id FROM reach GROUP BY doc)
       |SELECT d.doc_id AS doc_id, d.source AS source FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc FROM cc WHERE doc <> cluster_id)""".stripMargin.replace("\n", " ")

  // ------------------------------------------------- substring (span) dedup

  /** Span-level exact-substring duplication: every 16-word span shared
    * by ≥ 2 distinct documents, with its document and occurrence
    * counts — the cross-doc repeated-passage detector from the
    * exact-substring-dedup line of work (boilerplate, licenses, quoted
    * chains that doc-level dedup misses). One narrow explode (positions
    * capped at 8191 starts, invariant #6) followed by one md5-keyed
    * groupBy — map-side combinable, the same canonical shape as exact
    * dedup, so it scales exactly like a word count. Docs shorter than
    * one window contribute their whole text as a single short span
    * (mirrored by greatest(..., 1) on both engines).
    */
  def substringDup(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.widen(t.documents)
      .select($"doc_id", explode(expr(gramExpr(16))).as("span"))
      .select($"doc_id", h32($"span").as("span_h"))
      .groupBy($"span_h")
      .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_spans"))
      .filter($"n_docs" >= 2)
  }

  val substringDupSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, array_to_string(toks[CAST(r.range AS INT):CAST(r.range AS INT)+15], ' ') AS span
       | FROM d JOIN range(1, 8192) r ON r.range <= greatest(len(toks)-15, 1))
       |SELECT ${sqlH32("span")} AS span_h, count(DISTINCT doc_id) AS n_docs,
       | count(*) AS n_spans
       |FROM s GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin.replace("\n", " ")

  // -------------------------------------------------------------- simhash

  /** 32-bit SimHash over the distinct token set: per-bit majority vote.
    * Single aggregation pass with 32 sum() columns (no 32-way explode).
    * A tie on a bit yields 0 — deterministic in both engines.
    */
  def simhash(t: Tables): DataFrame = {
    import t.spark.implicits._
    val toks = t.widen(t.documents)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .filter($"tok" =!= "")
      .distinct()
      .select($"doc_id", h32($"tok").as("h"))
    val aggs = count(lit(1)).as("n") +:
      (0 until 32).map(i => sum(expr(s"shiftright(h, $i) & 1")).as(s"s$i"))
    val fp = (0 until 32)
      .map(i => when(col(s"s$i") * 2 > col("n"), lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    toks.groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
      .select($"doc_id", fp.as("simhash"))
  }

  val simhashSql: String = {
    val sums = (0 until 32).map(i => s"sum((h>>$i)&1) AS s$i").mkString(", ")
    val fp = (0 until 32)
      .map(i => s"CASE WHEN s$i*2 > n THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (SELECT DISTINCT doc_id, tok FROM
       | (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''),
       |h AS (SELECT doc_id, ${sqlH32("tok")} AS h FROM toks),
       |agg AS (SELECT doc_id, count(*) AS n, $sums FROM h GROUP BY doc_id)
       |SELECT doc_id, $fp AS simhash FROM agg""".stripMargin.replace("\n", " ")
  }

  /** SimHash near-dup pairs at Hamming distance ≤ 2 via pigeonhole
    * blocking (the Manku et al., WWW'07 technique, rescaled: their
    * 64-bit ham ≤ 3 is ~95% bit agreement, which for our 32-bit
    * fingerprint is ham ≤ 2): split the fingerprint into 4 byte
    * blocks — any pair within distance 2 must agree on at least one
    * block (pigeonhole: 3 flipped bits < 4 blocks, with margin) — and
    * in fact on at least TWO of the four (≤ 2 flips damage ≤ 2
    * blocks), which is what the candidate join keys on: pairs of
    * intact blocks (see [[blockedHammingPairs]] — the single-block
    * form's 4·256 total buckets saturate to ~N²/64 candidates at
    * corpus scale, measured across three decades by the r17 dedup
    * probe scan), never an all-pairs scan.
    * Verification is one codegen'd bit_count(xor) per candidate. At
    * 100 TB this is the standard simhash dedup shape: fingerprints are
    * one long per doc, the bucket join is Σ|bucket|² like LSH, and a
    * mega-bucket (boilerplate fleets sharing a block) AQE-skew-splits.
    * The oracle keeps the simpler single-block candidate CTE — both
    * schemes are lossless, so the final pair set is identical.
    */
  def simhashHamming(t: Tables): DataFrame =
    blockedHammingPairs(simhash(t), "doc_id", "simhash", nBlocks = 4, maxHam = 2)

  /** Pigeonhole-blocked Hamming pairs over any fingerprint table —
    * the candidate generator shared by [[simhashHamming]] (32-bit, 4
    * blocks), the image aHash and the audio energy-contour pairs in
    * graft.mm (64-bit, 8 blocks). Lossless iff maxHam < nBlocks: a
    * pair within Hamming maxHam has ≤ maxHam differing bits spread
    * over nBlocks disjoint 8-bit blocks, so nBlocks − maxHam blocks
    * match exactly. When that slack is ≥ 2, candidates key on PAIRS
    * of intact blocks (C(nBlocks,2) combos, 16-bit combined keys)
    * instead of single 8-bit blocks — still lossless (≥ 2 intact
    * blocks ⇒ some intact PAIR matches) and the decisive scale fix
    * the r17 dedup decade scan forced: single 8-bit blocks give only
    * nBlocks·256 buckets TOTAL, so Σ|bucket|² saturates to
    * ~N²·nBlocks/256 — measured 1.6e7 → 1.6e9 → (projected) 1.6e11
    * candidates across the 5k/50k/500k decades, i.e. asymptotically
    * all-pairs. Pair keys multiply the bucket space by 256/nBlocks·
    * (nBlocks−1)/2 (6·65536 for simhash's 4 blocks: ~170× fewer
    * random collisions).
    *
    * Slack-1 callers (the 64-bit image aHash and audio contour
    * families: 8 blocks, maxHam 7) can reach the same pair-key
    * geometry by RE-SPLITTING the word into maxHam + 2 near-equal
    * UNEVEN blocks (64 bits → eight 7-bit + one 8-bit): the pigeonhole
    * argument never needed equal widths — ≤ maxHam dirty bits damage
    * ≤ maxHam of the maxHam + 2 disjoint blocks, so ≥ 2 are intact and
    * some intact pair matches. Which geometry is CHEAPER depends on
    * the corpus, so the choice is MEASURED, not assumed: candidate
    * volume is exactly Σ|bucket|² over whichever key set runs, and
    * both sums cost one narrow aggregation over the persisted
    * fingerprint table — strictly cheaper than either join. On sparse
    * corpora single 8-bit blocks saturate (2048 buckets total →
    * Σ|bucket|² → N²/32 while pair keys sit at ≈ N²/512 under the
    * uniform model) and the re-split wins; on DUP-DENSE corpora the
    * volume is true pairs × key duplication, and pair keys LOSE
    * because a distance-0 pair collides on all C(9,2) = 36 combos vs
    * 8 single blocks (measured on the r18 10× rehearsal corpus, ~10M
    * qualifying image pairs from 50k media: forcing combos cost 2.4×
    * wall on dedup_image_ahash, 1.9× on dedup_audio_fp — so the
    * chooser, not a fixed layout, is what survives both regimes).
    * Candidate volume is Σ|bucket|² over the
    * combo buckets — mega-buckets are AQE-skew-split. The fingerprint
    * table is persisted for the duration (it feeds the bucket keys
    * plus both verification sides) and the verified pair list is
    * localCheckpoint'd before the unpersist so callers never re-run
    * the upstream pipeline.
    */
  /** Near-equal uneven block layout as (bitOffset, bitWidth): nb
    * disjoint blocks covering wordBits, wider blocks last (64, 9 →
    * eight 7-bit + one 8-bit). Pigeonhole-sound for any maxHam ≤
    * nb − 2 regardless of widths. */
  private[graft] def unevenLayout(wordBits: Int, nb: Int): IndexedSeq[(Int, Int)] = {
    val base = wordBits / nb
    val widths = IndexedSeq.fill(nb - wordBits % nb)(base) ++
      IndexedSeq.fill(wordBits % nb)(base + 1)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** SQL array expr of pair-of-intact-blocks keys over a block layout:
    * one named_struct('blk', comboId, 'key', bitsᵢ ++ bitsⱼ) per
    * (i, j) block pair, i < j. */
  private[graft] def pairKeyExpr(layout: IndexedSeq[(Int, Int)],
      blkOffset: Int = 0): String = {
    val combos = for { i <- layout.indices; j <- i + 1 until layout.size }
      yield (i, j)
    combos.zipWithIndex.map { case ((i, j), idx) =>
      val (oi, wi) = layout(i)
      val (oj, wj) = layout(j)
      s"named_struct('blk', ${blkOffset + idx}, 'key', " +
        s"shiftleft(shiftright(w, $oi) & ${(1L << wi) - 1}, $wj) | " +
        s"(shiftright(w, $oj) & ${(1L << wj) - 1}))"
    }.mkString("array(", ", ", ")")
  }

  /** Slack-1 key choice: measure Σ|bucket|² for single 8-bit blocks
    * vs the uneven (maxHam + 2)-block pair keys over the SAME word
    * column `w` and return the cheaper key expr. Each sum is one
    * narrow aggregation over the (persisted) fingerprint table —
    * strictly cheaper than the candidate join it predicts, whose
    * pre-distinct output is exactly the chosen Σ|bucket|². See the
    * [[blockedHammingPairs]] scaladoc for why neither geometry
    * dominates both corpus regimes. */
  // Geometry-decision memo for [[slack1KeyExpr]], keyed on the
  // fingerprint plan's SEMANTIC hash + (nBlocks, maxHam): the chooser
  // is one narrow aggregation, but it re-ran on every query invocation
  // (3x under best-of-3 bench), charging a fixed ~0.3-0.5 s
  // measurement job to sub-second mm dedup queries — the r18
  // dedup_image_ahash bench watch item. The key takes no
  // Tables.fingerprint: memoizing is safe even across a REWRITTEN dir, since
  // both geometries are lossless key schemes, so a stale choice can
  // only cost speed, never pairs.
  private val slack1Memo = Memo[String]("dedup")

  private[graft] def slack1KeyExpr(fp: DataFrame, nBlocks: Int,
      maxHam: Int): String =
    slack1Memo.keyed((fp.sparkSession, nBlocks, maxHam,
        fp.queryExecution.analyzed.semanticHash())) {
      val (vSingle, vCombo) = slack1Volumes(fp, nBlocks, maxHam)
      if (vSingle <= vCombo) singleKeyExpr(nBlocks)
      else pairKeyExpr(unevenLayout(nBlocks * 8, maxHam + 2))
    }

  // Literal array, NOT transform(sequence(...)): the HOF is
  // CodegenFallback, and this expr feeds the explode inside the
  // Σ|bucket|²-sized candidate-join stage — an interpreted expression
  // there drops the whole stage off the compiled path (the standing
  // house rule; pairKeyExpr was already literal for the same reason).
  private[graft] def singleKeyExpr(nBlocks: Int): String =
    (0 until nBlocks).map(i =>
      s"named_struct('blk', $i, 'key', shiftright(w, ${i * 8}) & 255)")
      .mkString("array(", ", ", ")")

  /** The two Σ|bucket|² sums behind [[slack1KeyExpr]]'s choice —
    * (single 8-bit blocks, uneven pair combos). ONE Spark job: both
    * key sets ride a single explode with the combo blk ids offset past
    * the single ones, then a two-level count → Σc² aggregation split
    * on the offset (the fused form halved the chooser's floor cost on
    * the sub-second mm dedup queries vs two separate jobs). */
  private def slack1Volumes(fp: DataFrame, nBlocks: Int,
      maxHam: Int): (Long, Long) = {
    val single = singleKeyExpr(nBlocks)
    // combo blk ids offset past the single range so one (blk, key)
    // groupBy keeps the two geometries' buckets disjoint
    val combo = pairKeyExpr(unevenLayout(nBlocks * 8, maxHam + 2),
      blkOffset = nBlocks)
    val rows = fp
      .select(explode(expr(s"concat($single, $combo)")).as("b"))
      .groupBy(col("b.blk"), col("b.key")).count()
      .groupBy((col("blk") < nBlocks).as("isSingle"))
      .agg(coalesce(sum(col("count") * col("count")), lit(0L)).as("v"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    (rows.getOrElse(true, 0L), rows.getOrElse(false, 0L))
  }

  private[graft] def blockedHammingPairs(fp0: DataFrame, idCol: String,
      wCol: String, nBlocks: Int, maxHam: Int): DataFrame = {
    require(maxHam < nBlocks,
      s"pigeonhole guarantee needs maxHam < nBlocks (got $maxHam >= $nBlocks)")
    val fp = fp0.select(col(idCol).as("doc_id"), col(wCol).as("w")).persist()
    val keyExpr =
      if (nBlocks - maxHam >= 2)
        pairKeyExpr((0 until nBlocks).map(i => (i * 8, 8)))
      else slack1KeyExpr(fp, nBlocks, maxHam)
    val blocks = fp.select(col("doc_id"), col("w"),
      explode(expr(keyExpr)).as("b"))
      .select(col("doc_id"), col("w"),
        col("b.blk").as("blk"), col("b.key").as("key"))
    // symmetric self-join: doc_a < doc_b is already canonical
    val canon = blocks.toDF("doc_a", "fa", "blk", "key")
      .join(blocks.toDF("doc_b", "fb", "blk", "key"), Seq("blk", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("fa"), col("fb"))
    // Verify BEFORE the distinct: bit_count(xor) is one codegen'd
    // instruction per candidate, while distinct is a shuffle+agg over
    // every candidate row — and the candidate stream is Σ|bucket|²-
    // sized (the r21 stage audit measured the audio family at 29M
    // candidates from 4,229 fingerprints, with the post-join distinct
    // owning ~47 of the query's ~63 CPU-seconds). Filtering first
    // shrinks the distinct's input to qualifying-pairs × key-
    // duplication (≤ nBlocks or ≤ C(nb,2) per pair), orders of
    // magnitude smaller on every measured corpus. Output is identical:
    // hamming is a function of the pair, so distinct-then-filter and
    // filter-then-distinct agree row-for-row.
    val verified = canon
      .withColumn("hamming", expr("CAST(bit_count(fa ^ fb) AS INT)"))
      .filter(col("hamming") <= maxHam)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
    val out = verified.localCheckpoint()
    fp.unpersist()
    out
  }

  val simhashHammingSql: String =
    s"""WITH fp AS ($simhashSql),
       |b AS (SELECT doc_id, simhash, CAST(r.range AS INT) AS blk,
       |  (simhash >> (CAST(r.range AS INT) * 8)) & 255 AS key
       | FROM fp CROSS JOIN range(0, 4) r),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |  a.simhash AS fa, c.simhash AS fb
       | FROM b a JOIN b c ON a.blk = c.blk AND a.key = c.key AND a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= 2""".stripMargin.replace("\n", " ")

  // -------------------------------------------- n-gram Jaccard (exact)

  /** Exact word-5-gram Jaccard pairs with similarity >= 0.1, thresholded
    * in integer arithmetic (common*10 >= union).
    *
    * Candidate generation is df-ordered PREFIX FILTERING (Chaudhuri et
    * al. SSJoin / Bayardo All-Pairs), not a raw gram-bucket join: each
    * doc's grams are sorted by (global document frequency asc, gram) and
    * only the first n - ceil(θ·n) + 1 participate in the candidate
    * self-join. Lossless for the θ=0.1 threshold: if both prefixes
    * missed each other, the global ordering forces every common gram
    * into ONE doc's suffix (a gram in A's prefix ∩ B's suffix and a
    * gram in B's prefix ∩ A's suffix would each have to precede the
    * other), so |A∩B| ≤ max(⌈θ|A|⌉, ⌈θ|B|⌉) - 1 — but J ≥ θ gives
    * |A∩B| ≥ θ|A∪B| ≥ ⌈θ·max(|A|,|B|)⌉, a contradiction. The scale
    * win: a stop-gram shared by 10⁶ docs
    * sorts LAST globally, so it lands in a doc's prefix only when the
    * doc has almost nothing rarer — the quadratic hot bucket the raw
    * join suffers never forms. Exact common counts are then computed
    * only for surviving candidate pairs.
    */
  def ngramJaccard(t: Tables): DataFrame = {
    import t.spark.implicits._
    // (doc_id, n, gram): grams dedupe WITHIN a doc via array_distinct
    // on the per-doc gram array, carrying n = |gram set| on every row
    // for free. The explicit doc_id
    // exchange below the persist is LOAD-BEARING, not a style choice
    // (r19 nd1000 audit): a multi-consumer DAG launches independent
    // stages concurrently, and a persisted-but-narrow gram table makes
    // every cache race/eviction re-run the per-doc text pipeline
    // (measured 2x family wall when the old `.distinct()` exchange was
    // dropped without a replacement barrier) — with the exchange, a
    // miss re-FETCHES shuffle files instead.
    // shared (grams, arrTab) memo — containment reads the identical
    // lineage, so the build runs once per sweep (gramPostings). The
    // prefix (first n - ceil(n/10) + 1 grams in global (df, gram)
    // order, all-integer arithmetic) is a row-local slice of the
    // memoized sorted array.
    val (_, arrTab) = gramPostings(t)
    val prefix = arrTab
      .select($"doc_id", explode(expr(
        "slice(arr, 1, size(arr) - (size(arr) + 9) div 10 + 1)")).as("gram"))
      .persist() // BOTH sides of the candidate self-join read it
    val cand = prefix.toDF("doc_a", "gram")
      .join(prefix.toDF("doc_b", "gram"), "gram")
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b")
      .distinct()
    // exact |A∩B| per surviving candidate pair as a row-local
    // size(array_intersect) over the two docs' memoized sorted gram
    // arrays (r22 — replaces the candDocs semi-join + per-gram pair
    // join + count groupBy: 5 stages and the suite's heaviest gram
    // stage become two equi-joins and a map). Arrays are per-doc
    // distinct by construction, so the intersect size IS |A∩B|; n
    // comes from the same rows as size(arr), dropping the separate sz
    // aggregate and its two joins. Shuffle bytes are unchanged in
    // shape: the old form shipped each candidate doc's gram rows once
    // per pair membership, this ships the same grams as one array
    // cell (≤ 8191 entries by the position cap — task-sized at any
    // corpus). No broadcast hint: the candidate side is
    // corpus-fraction-sized at scale, the pick is left to AQE.
    val out = cand
      .join(arrTab.toDF("doc_a", "aa"), "doc_a")
      .join(arrTab.toDF("doc_b", "ab"), "doc_b")
      .withColumn("common", size(array_intersect($"aa", $"ab")).cast("long"))
      .withColumn("na", size($"aa"))
      .withColumn("nb", size($"ab"))
      .filter($"common" * 10 >= $"na" + $"nb" - $"common")
      .select($"doc_a", $"doc_b",
        ($"common".cast(DoubleType) / ($"na" + $"nb" - $"common"))
          .as("jaccard"))
    val cp = out.localCheckpoint() // materialize so the query-local
                                   // persist can be released
                                   // (grams/arrTab stay memoized for
                                   // containment — SweepCaches drains
                                   // them)
    prefix.unpersist()
    cp
  }

  val ngramJaccardSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT DISTINCT doc_id, array_to_string(toks[CAST(r.range AS INT):CAST(r.range AS INT)+4], ' ') AS gram
      | FROM d JOIN range(1, 8192) r ON r.range <= greatest(len(toks)-4, 1)),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      | FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(common AS DOUBLE) / (x.n + y.n - common) AS jaccard
      |FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      |WHERE common * 10 >= (x.n + y.n - common)""".stripMargin.replace("\n", " ")

  // ------------------------------------------- edit-distance join (exact)

  /** Fuzzy-key dedup: pairs of documents whose 64-char text prefixes
    * are within Levenshtein distance [[EdMaxDist]] = 6 (typo scale —
    * ~9% of the key). Edit distance is the one string metric the
    * set-based families (MinHash/Jaccard/SimHash) cannot express —
    * transpositions and small in-place edits barely move a
    * character-level alignment but scramble shingle sets — and it is
    * the standard key-matching metric for short normalized fields
    * (titles, URLs, product keys). The key is the 64-char prefix
    * precisely because Levenshtein verification cost is per-pair:
    * bounding key and threshold bounds verification at the banded
    * 3-arg `levenshtein(ka, kb, d)`'s O(d·64) early-exit DP
    * (full-document near-dup stays with the gram/minhash families).
    *
    * Candidate generation is the PassJoin block pigeonhole (Li, Deng
    * & Feng, "PASS-JOIN: A Partition-based Method for Similarity
    * Joins", PVLDB 2011): partition each key into d+1 = 7 contiguous
    * blocks (⌊(j−1)·l/7⌋-boundaries); d edits leave ≥ 1 block
    * edit-free, and that block's exact content appears in the partner
    * at the same length, shifted by at most the net indels before it
    * (≤ d). So the INDEX side emits 7 (len, block, content) rows per
    * key, and the PROBE side emits, for every partner length within
    * ±d and every block, the partner's windows at the block start
    * ± d — an equi-join on (len, block, content) finds every
    * qualifying pair. Lossless, and the block contents are 6–9-char
    * substrings: on a small-alphabet corpus this is the difference
    * between a working filter and a degenerate one — the Ed-Join
    * df-ordered 3-gram prefix (the first implementation) saturates on
    * this word-soup testdata (~377 distinct 3-grams across 5000 keys
    * ⇒ 11.5M of 12.5M possible pairs survived the prefix filter;
    * 15 s at sf0.1), while the block join's candidates collapse to
    * near-true-positives (sub-second verify). [[ngramJaccard]] keeps
    * the df-prefix scheme where it belongs: word-gram sets with a
    * long-tail df distribution.
    *
    * The pigeonhole only needs each of the 7 blocks NON-EMPTY, so the
    * block join covers every key down to l = 7 (1–2-char blocks at the
    * short end — shared-character buckets; coarser, but still a
    * lossless per-(len, block, char) bucketing, never a global
    * product). Only keys SHORTER than 7 chars fall outside it, and for
    * those the residue is a LENGTH-BANDED equi-join: the short side
    * keys on its own length (0–6), the partner side (≤ 12 chars, since
    * ed ≥ |len diff|) explodes to the ≤ 7 bands within ±d of its
    * length. Work is Σ per-band |short_l|·|partner±6(l)| — and on a
    * sub-7-char slice the TRUE OUTPUT is itself near-quadratic (most
    * such pairs really are within 6 edits), so candidates stay
    * proportional to output even on a pre-quality-gate crawl with
    * billions of near-empty docs; no unconditioned product anywhere.
    * Scale shape: the probe explode is ≤ 13·7·13 rows per key before
    * its distinct (position/length clamps cut most), the join is equi
    * on (len, block, content) with no forced broadcast (AQE decides),
    * and every surviving candidate costs one banded levenshtein. The
    * oracle is the unfiltered quadratic scan — identical output
    * because the pigeonhole is lossless (DedupSpec pins this
    * empirically at sf0.01, and pins the per-bucket candidate bound on
    * a majority-short fixture).
    */
  /** (doc_id, k = 64-char key, l = length, h1/h2 = packed character
    * histogram) — shared key projection for the edit-distance family.
    *
    * h1/h2 pack a 32-bucket saturating character histogram of the key,
    * 16 4-bit counters per long (bucket = codepoint mod 32 — the
    * identity map on lowercase ASCII + space, a merge on anything
    * else; counts saturate at 15). For bucketed saturating histograms
    * L1/2 lower-bounds edit distance (an indel moves one bucket by 1,
    * a substitution two buckets by 1 each; merging buckets and
    * saturating counters only SHRINK L1), so `NibbleL1(h) > 2d`
    * rejects a block-join candidate without the banded levenshtein.
    * Why it exists: the PassJoin block buckets saturate on an
    * adversarial small-vocabulary corpus (the nd100 decade scan
    * measured Σ|bucket|² = 8.0e8 at N=500k with 97% of keys at l=64),
    * and this content filter is what keeps the candidate DISTINCT
    * tractable there — measured 99.93% candidate kill on the hottest
    * nd100 bucket (73 820 pairs → 53) at zero loss. */
  private[graft] def edKeys(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"), substring(col("text"), 1, 64).as("k"))
      .withColumn("l", length(col("k")))
      .withColumn("h1", edHistWord(col("k"), 0))
      .withColumn("h2", edHistWord(col("k"), 1))
  }

  /** One packed word of the [[edKeys]] histogram: buckets
    * [word*16, word*16+16), counter b at bits [4b, 4b+4) — the
    * codegen'd graft.functions.CharHistWord (one pass over the
    * string; the composed-HOF form it replaced cost 32 interpreted
    * array traversals per row, a measured 2-3x floor move on the
    * edit family at sf0.1). Callers must have GraftFunctions
    * registered on the session ([[edKeys]] does it). */
  private[graft] def edHistWord(k: Column, word: Int): Column =
    graft.functions.GraftFunctions.charHist(k, word)

  /** The [[edKeys]] histogram L1 between two docs' packed words, as a
    * Column (registers the codegen'd NibbleL1 on the session). */
  private[graft] def edHistL1(spark: org.apache.spark.sql.SparkSession,
      a1: Column, a2: Column, b1: Column, b2: Column): Column = {
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.nibbleL1(a1, b1) +
      graft.functions.GraftFunctions.nibbleL1(a2, b2)
  }

  /** INDEX side of the PassJoin scheme: the d+1 = 7 partition blocks of
    * each key as (doc_id, bl = key length, bj = block no, bc = content).
    * Callers pre-filter to l >= [[EdBlockMinLen]] (= 7, every block
    * non-empty). */
  private[graft] def edBlocks(longKeys: DataFrame): DataFrame =
    longKeys.select(col("doc_id"), col("h1"), col("h2"), explode(expr(
      "transform(sequence(1, 7), j -> named_struct(" +
        "'bl', l, 'bj', j, " +
        "'bc', substring(k, ((j-1)*l) div 7 + 1, (j*l) div 7 - ((j-1)*l) div 7)))"
    )).as("e"))
      .select(col("doc_id"), col("h1"), col("h2"),
        col("e.bl").as("bl"), col("e.bj").as("bj"), col("e.bc").as("bc"))

  /** PROBE side: for every partner length within ±d and every block,
    * this key's MULTI-MATCH-AWARE windows around the block's start
    * (same block length) — the edit-free block of any qualifying
    * partner is guaranteed here. The window for block j at partner
    * length pl is the shift interval [-(j-1), j-1] ∩ [Δ-(7-j), Δ+(7-j)]
    * around the block start (Δ = l - pl), NOT the r21 ±d band: PassJoin
    * Lemma 3 (Li, Deng & Feng, PVLDB 2011). Losslessness: walk an
    * optimal ≤ d-edit alignment and let g(j) = (edits strictly before
    * block j) − (j−1); g(1) = 0, each edit-free block steps g by −1,
    * blocks with e ≥ 1 edits step by e−1 ≥ 0, and g ends at
    * e − (d+1) < e − d, so g crosses 0 → −1 at some edit-free block j*
    * with exactly j*−1 prefix edits and e − j* + 1 ≤ d+1−j* suffix
    * edits; the shift is bounded by the prefix edits and Δ − shift by
    * the suffix edits, so block j*'s aligned content starts inside the
    * intersection. Window count per partner length drops from 7·13 to
    * Σ_j min(2j−1, 2(7−j)+1) = 25 — ~3.6× fewer probe rows through the
    * (len, block, content) join (DedupSpec pins the corner layouts:
    * all-front / all-back / split edit runs force the shift to the
    * interval boundary). Both interval ends stay within the [1,
    * l−blocklen+1] clamp for every pl in [max(l−6,7), l+6], so the
    * sequence() never descends (proof in the r22 notes; the clamps
    * keep it true at the short end).
    * No distinct: duplicate (len, blk, content) windows within one key
    * are rare (repeated 6-9-char substrings) and the pair distinct
    * downstream absorbs them — cheaper than a per-key shuffle just to
    * dedupe. */
  /** The probe-window generator as a raw expression over columns
    * `k`/`l`, so callers (the streaming twin) can carry extra columns
    * through the explode instead of re-joining them on afterwards. */
  private[graft] val edProbeExpr: String =
    "flatten(flatten(transform(sequence(greatest(l - 6, 7), least(l + 6, 64)), pl -> " +
      "transform(sequence(1, 7), j -> " +
      "transform(sequence(" +
      "greatest(((j-1)*pl) div 7 + 1 - (j - 1), ((j-1)*pl) div 7 + 1 + l - pl - (7 - j), 1), " +
      "least(((j-1)*pl) div 7 + 1 + (j - 1), ((j-1)*pl) div 7 + 1 + l - pl + (7 - j), " +
      "l - ((j*pl) div 7 - ((j-1)*pl) div 7) + 1)), " +
      "p -> named_struct('bl', pl, 'bj', j, " +
      "'bc', substring(k, p, (j*pl) div 7 - ((j-1)*pl) div 7)))))))"

  private[graft] def edProbes(longKeys: DataFrame): DataFrame =
    longKeys.select(col("doc_id"), col("h1"), col("h2"),
      explode(expr(edProbeExpr)).as("e"))
      .select(col("doc_id"), col("h1"), col("h2"),
        col("e.bl").as("bl"), col("e.bj").as("bj"), col("e.bc").as("bc"))

  /** Canonicalized distinct candidate pairs (doc_a < doc_b) from the
    * block pigeonhole (l >= [[EdBlockMinLen]]) plus the length-banded
    * sub-7-char residue — every true pair is here (lossless), every
    * candidate came from a per-(len, block, content) or per-length-band
    * bucket (no global product). The histogram-L1 filter runs INSIDE
    * the block join, before the pair distinct: on a saturating-block
    * corpus the distinct is the blow-up (Σ|bucket|² rows through a
    * shuffle), and the L1 bound kills the random-collision candidates
    * while they are still join-local. Lossless: L1/2 ≤ ed (see
    * [[edKeys]]), so nothing within [[EdMaxDist]] is dropped. Split
    * out so DedupSpec can pin the candidate COUNT (Σ|bucket|² shape)
    * independently of the verify. */
  private[graft] def edCandidatePairs(keys: DataFrame): DataFrame = {
    val longKeys = keys.filter(col("l") >= EdBlockMinLen)
    val cand = edBlocks(longKeys).toDF("doc_a", "ha1", "ha2", "bl", "bj", "bc")
      .join(edProbes(longKeys).toDF("doc_b", "hb1", "hb2", "bl", "bj", "bc"),
        Seq("bl", "bj", "bc"))
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(edHistL1(keys.sparkSession, col("ha1"), col("ha2"),
        col("hb1"), col("hb2")) <= lit(2 * EdMaxDist))
      // each unordered pair is probed from both sides; canonicalize
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    // residue: the pigeonhole needs BOTH sides >= 7 chars (non-empty
    // blocks), so only pairs whose SHORTER side is < 7 are unproven —
    // partner <= 12 (ed >= |len diff|). Banded equi-join on the short
    // side's length: the partner explodes to the <= 7 bands within ±d,
    // so work is Σ per-band products, never a global cross product.
    // Existence probe before building the residue legs: the union's
    // short-side pipeline is ~5 AQE stages (two exchanges, a join, the
    // union legs), and on any quality-gated corpus with no sub-7-char
    // keys they all materialize EMPTY — measured ~0.8-3 s of pure
    // stage-dispatch wall at sf0.1 (r21 stage audit: five 32-task
    // zero-CPU stages). One limit-1 probe over the (persisted) keys
    // table decides it; when short keys exist the plan is unchanged.
    // Same driver-side data-dependent-plan class as slack1KeyExpr.
    if (keys.filter(col("l") < EdBlockMinLen).isEmpty) return cand.distinct()
    val sh = keys.filter(col("l") < EdBlockMinLen)
      .select(col("doc_id").as("doc_a"), col("l").as("band"))
    val nearSh = keys.filter(col("l") < EdBlockMinLen + EdMaxDist)
      .select(col("doc_id").as("doc_b"), explode(expr(edBandExpr)).as("band"))
    val shortPairs = sh.join(nearSh, "band")
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    cand.union(shortPairs).distinct()
  }

  def editDistance(t: Tables): DataFrame = {
    import t.spark.implicits._
    val keys = edKeys(t.widen(t.documents))
      .persist() // feeds blocks, probes, the short block, both verify joins
    val out = edCandidatePairs(keys)
      .join(keys.select($"doc_id".as("doc_a"), $"k".as("ka"), $"l".as("la")), "doc_a")
      .join(keys.select($"doc_id".as("doc_b"), $"k".as("kb"), $"l".as("lb")), "doc_b")
      .filter(abs($"la" - $"lb") <= EdMaxDist) // ed ≥ |len diff|: free prune
      .withColumn("dist", levenshtein($"ka", $"kb", EdMaxDist))
      .filter($"dist" >= 0 && $"dist" <= EdMaxDist) // -1 = beyond band
      .select($"doc_a", $"doc_b", $"dist")
    val cp = out.localCheckpoint()
    keys.unpersist()
    cp
  }

  /** Incremental fuzzy-KEY dedup — the edit-distance member of the
    * incremental family ([[incremental]] exact, [[incrementalNearDup]]
    * MinHash): each arriving batch document's corpus matches within
    * Levenshtein [[EdMaxDist]] of its 64-char key. The batch side
    * (doc_id % 10 == 9 stands in for the nightly drop) emits PROBE
    * windows and joins the CORPUS's persistent 7-rows-per-key block
    * index — O(batch) probe work against a precomputed index, the
    * corpus is never re-blocked per ingest (same asymmetry as the
    * digest and signature tables; the index is `edBlocks` over the
    * corpus keys, ~7 short strings per document, GBs at 100 TB).
    * Lossless by the same PassJoin pigeonhole as [[editDistance]];
    * the batch↔batch shorts residue is omitted deliberately — this
    * operator answers "is the arrival a fuzzy dup OF THE CORPUS",
    * in-batch dups are [[editDistance]]'s job on the merged corpus.
    * Full hash oracle: the quadratic batch×corpus scan.
    */
  def incrementalEdit(t: Tables): DataFrame = {
    import t.spark.implicits._
    val keys = edKeys(t.widen(t.documents)).persist()
    val corpus = keys.filter($"doc_id" % 10 =!= 9)
    val batch = keys.filter($"doc_id" % 10 === 9)
    val cand = edBlocks(corpus.filter($"l" >= EdBlockMinLen))
      .toDF("match_id", "hc1", "hc2", "bl", "bj", "bc")
      .join(edProbes(batch.filter($"l" >= EdBlockMinLen))
        .toDF("doc_id", "hb1", "hb2", "bl", "bj", "bc"), Seq("bl", "bj", "bc"))
      .filter(edHistL1(t.spark, $"hb1", $"hb2", $"hc1", $"hc2") <=
        lit(2 * EdMaxDist))
      .select($"doc_id", $"match_id")
    // residue covers the boundary from both orientations: the sub-7-char
    // side can be EITHER the batch doc or the corpus doc (pigeonhole
    // fails when min < 7, partner <= 12). Length-banded equi-joins —
    // the longer side explodes to the <= 7 bands within ±d — so the
    // work is per-band, never a batch×corpus product.
    // Same empty-residue existence probe as edCandidatePairs: both
    // orientations need a sub-7-char key on SOME side, so one limit-1
    // probe over the persisted keys skips ~8 empty AQE stages on a
    // quality-gated corpus; plan unchanged when short keys exist.
    val withShorts = if (keys.filter($"l" < EdBlockMinLen).isEmpty) cand else {
      val shorts = batch.filter($"l" < EdBlockMinLen)
        .select($"doc_id", $"l".as("band"))
        .join(corpus.filter($"l" < EdBlockMinLen + EdMaxDist)
          .select($"doc_id".as("match_id"), explode(expr(edBandExpr)).as("band")),
          "band")
        .select($"doc_id", $"match_id")
        .union(batch.filter($"l" < EdBlockMinLen + EdMaxDist)
          .select($"doc_id", explode(expr(edBandExpr)).as("band"))
          .join(corpus.filter($"l" < EdBlockMinLen)
            .select($"doc_id".as("match_id"), $"l".as("band")), "band")
          .select($"doc_id", $"match_id"))
      cand.union(shorts)
    }
    val out = withShorts.distinct()
      .join(batch.select($"doc_id", $"k".as("kb"), $"l".as("lb")), "doc_id")
      .join(corpus.select($"doc_id".as("match_id"), $"k".as("kc"), $"l".as("lc")),
        "match_id")
      .filter(abs($"lb" - $"lc") <= EdMaxDist)
      .withColumn("dist", levenshtein($"kb", $"kc", EdMaxDist))
      .filter($"dist" >= 0 && $"dist" <= EdMaxDist)
      .select($"doc_id", $"match_id", $"dist")
      .localCheckpoint()
    keys.unpersist()
    out
  }

  val incrementalEditSql: String =
    """WITH kk AS (SELECT doc_id, substr(text, 1, 64) AS k FROM documents)
      |SELECT b.doc_id AS doc_id, c.doc_id AS match_id,
      | CAST(levenshtein(b.k, c.k) AS INT) AS dist
      |FROM kk b JOIN kk c
      | ON b.doc_id % 10 = 9 AND c.doc_id % 10 <> 9
      | AND abs(len(b.k) - len(c.k)) <= 6
      |WHERE levenshtein(b.k, c.k) <= 6""".stripMargin.replace("\n", " ")

  /** Levenshtein threshold for [[editDistance]] (d; blocks = d+1). */
  private[graft] val EdMaxDist = 6

  /** Shortest key the 7-block pigeonhole covers (every block >= 1
    * char). Keys below this go through the length-banded residue. */
  private[graft] val EdBlockMinLen = 7

  /** Residue band explode over column `l` (partner side, l < 13): one
    * row per short-side length band within ±[[EdMaxDist]] — the equi
    * key that replaces a global short×short product with Σ per-band
    * work. Bands are the short side's own length 0–6. */
  private[graft] val edBandExpr: String = "sequence(greatest(l - 6, 0), 6)"

  /** Oracle: the unfiltered quadratic form — identical output because
    * the prefix filter is lossless; both engines' `levenshtein` is the
    * textbook unit-cost Wagner–Fischer distance.
    */
  val editDistanceSql: String =
    """WITH kk AS (SELECT doc_id, substr(text, 1, 64) AS k FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | CAST(levenshtein(a.k, b.k) AS INT) AS dist
      |FROM kk a JOIN kk b
      | ON a.doc_id < b.doc_id AND abs(len(a.k) - len(b.k)) <= 6
      |WHERE levenshtein(a.k, b.k) <= 6""".stripMargin.replace("\n", " ")

  // ----------------------------------------- containment pairs (exact)

  /** Asymmetric containment dedup: pairs where the smaller document's
    * gram set is at least half inside the larger's —
    * C(A,B) = |A∩B| / min(|A|,|B|) ≥ 1/2 over the same distinct
    * word-5-gram sets as [[ngramJaccard]]. Containment is the metric
    * Jaccard structurally misses: a 50-gram document quoted verbatim
    * inside a 5000-gram one has J ≈ 0.01 (invisible at any usable
    * Jaccard threshold) but C = 1.0 — exactly the quotation/subset
    * duplication a training corpus accumulates.
    *
    * Candidate generation is ASYMMETRIC prefix filtering: only the
    * SMALLER side's τ-prefix (first n − ⌈n/2⌉ + 1 = ⌊n/2⌋ + 1 grams in
    * global (df, gram) order) joins, against the larger side's FULL
    * gram table. Lossless: if no prefix gram of A (the min side)
    * appears anywhere in B, every common gram sits behind A's prefix
    * boundary, so |A∩B| ≤ |A| − (⌊|A|/2⌋ + 1) = ⌈|A|/2⌉ − 1 < |A|/2 —
    * contradiction with C ≥ 1/2. (A symmetric prefix-prefix join is
    * NOT lossless here: the min-normalized score puts no useful bound
    * on how deep the common grams sit in the LARGE side's ordering,
    * which is why this family needs its own candidate shape rather
    * than [[ngramJaccard]]'s.) Threshold is integer arithmetic
    * (common·2 ≥ n_min); the score is one IEEE division of exactly
    * representable ints.
    *
    * Scale shape (100 TB): the full-side posting lists carry the
    * stop-gram weight, but a hot gram meets only prefixes that rank it
    * unusually low — the Σ|posting|·|prefix-posting| cost is the
    * All-Pairs asymmetric bound, far under the raw Σ|posting|² the
    * unfiltered join pays. Verification reuses the candidate-doc
    * semi-join pattern: exact |A∩B| is computed only over docs that
    * survived candidate generation.
    */
  def containment(t: Tables): DataFrame = {
    import t.spark.implicits._
    // (doc_id, n, gram) with n = |doc's distinct gram set| carried on
    // every row FOR FREE: grams dedupe WITHIN a doc (array_distinct on
    // the per-doc gram array), so the old explode + global
    // `.distinct()` — a 250M-row exchange at nd1000 — and the
    // 250M-row `grams ⋈ sz` join that re-attached n to the full join
    // side were both paying shuffles for values computable in the
    // per-doc narrow map (r19 nd1000 stage audit).
    // shared (grams, arrTab) memo — ngramJaccard reads the identical
    // lineage, so the build runs once per sweep (gramPostings). The
    // τ-prefix (first n − ⌈n/2⌉ + 1 = ⌊n/2⌋ + 1 grams in global
    // (df, gram) order) is a row-local slice of the memoized sorted
    // array.
    val (grams, arrTab) = gramPostings(t)
    val prefix = arrTab
      .select($"doc_id", size($"arr").as("n"), explode(expr(
        "slice(arr, 1, size(arr) div 2 + 1)")).as("gram"))
      .select($"doc_id", $"gram", $"n")
      .persist()
    // (n, doc_id) is the total order that picks the "smaller" side, so
    // ties break deterministically and each unordered pair appears once
    val cand = prefix.toDF("doc_a", "gram", "na")
      .join(grams.select($"doc_id", $"gram", $"n")
        .toDF("doc_b", "gram", "nb"), "gram")
      .filter($"na" < $"nb" || ($"na" === $"nb" && $"doc_a" < $"doc_b"))
      .select($"doc_a", $"doc_b")
      .distinct()
    // exact |A∩B| per surviving candidate pair as a row-local
    // size(array_intersect) over the two docs' memoized sorted gram
    // arrays (r22 — same replacement as [[ngramJaccard]]'s: the
    // candDocs semi-join + per-gram pair join + count groupBy become
    // two equi-joins and a map; na = size(aa) rides the same rows, so
    // the sz aggregate and its join disappear too). na IS
    // min(|A|,|B|) by the candidate orientation.
    val out = cand
      .join(arrTab.toDF("doc_a", "aa"), "doc_a")
      .join(arrTab.toDF("doc_b", "ab"), "doc_b")
      .withColumn("common", size(array_intersect($"aa", $"ab")).cast("long"))
      .withColumn("na", size($"aa"))
      .filter($"common" * 2 >= $"na")
      .select($"doc_a", $"doc_b", $"common",
        ($"common".cast(DoubleType) / $"na").as("containment"))
    // grams/arrTab stay memoized for ngramJaccard (SweepCaches drains
    // them); only the query-local persist releases here
    val cp = out.localCheckpoint()
    prefix.unpersist()
    cp
  }

  /** Oracle: unfiltered pair join with the same (n, doc_id) orientation
    * — identical output because the asymmetric prefix is lossless.
    */
  val containmentSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT DISTINCT doc_id, array_to_string(toks[CAST(r.range AS INT):CAST(r.range AS INT)+4], ' ') AS gram
      | FROM d JOIN range(1, 8192) r ON r.range <= greatest(len(toks)-4, 1)),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      | FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id GROUP BY 1, 2),
      |o AS (SELECT doc_a, doc_b, common, x.n AS na
      | FROM p JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
      | WHERE x.n < y.n OR (x.n = y.n AND doc_a < doc_b))
      |SELECT doc_a, doc_b, common, CAST(common AS DOUBLE) / na AS containment
      |FROM o WHERE common * 2 >= na""".stripMargin.replace("\n", " ")

  // ------------------------------------------------- cluster statistics

  /** Duplicate-cluster size histogram — the dedup pipeline's summary
    * report: how many near-dup components of each size the corpus
    * carries, with unclustered documents counted as size-1 singletons.
    * One groupBy over [[clusters]]' component table (component-count
    * cardinality, already tiny relative to the corpus) plus one
    * anti-join for the singleton row; CC components always have ≥ 2
    * members (every node arrives via an edge), so the synthesized
    * size-1 row never collides with a real component size.
    */
  def clusterStats(t: Tables): DataFrame = {
    import t.spark.implicits._
    // clusters(t) is the memoized localCheckpoint'd map — already
    // materialized for its two reads here; do NOT unpersist it (other
    // consumers share it until SweepCaches drains the family)
    val cl = clusters(t)
    val hist = cl
      .groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = t.documents.select($"doc_id")
      .join(cl.select($"doc_id"), Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .select(lit(1L).as("cluster_size"), $"n_clusters")
    hist.unionByName(singles).localCheckpoint()
  }

  val clusterStatsSql: String =
    s"""WITH sizes AS (SELECT cluster_id, count(*) AS cluster_size
       |  FROM ($clustersSql) c GROUP BY 1),
       |hist AS (SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1)
       |SELECT cluster_size, n_clusters FROM hist
       |UNION ALL
       |SELECT CAST(1 AS BIGINT) AS cluster_size, count(*) AS n_clusters
       |FROM documents d
       |WHERE NOT EXISTS (SELECT 1 FROM ($clustersSql) c2 WHERE c2.doc_id = d.doc_id)""".stripMargin
      .replace("\n", " ")
}
