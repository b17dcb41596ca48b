package graft

import graft.dedup.Dedup
import graft.io.Tables
import graft.tools.{Sweep, SweepCaches}

/** Pins the hand-maintained SweepCaches consumer sets against the real
  * sweep: the sets must name actual SparkEntry.queries entries, and —
  * the property the class exists for — once a family's last consumer
  * finishes and its caches are released, NO later query in the sweep
  * may repopulate them (a reader missing from the set would refit per
  * query AND re-pin the cache for the rest of the run, the exact
  * residency leak SweepCaches fixes). Verified with the families'
  * cacheBuilds/quantizerFits counters over a full sf0.001 sweep in
  * SparkEntry.queries order — the same order Verify and Bench use.
  * Also pins that the shared tools.Sweep never hides a failure: a query
  * that throws is a failed record carrying its message, it adds nothing
  * to the seconds Bench sums, and its memo family is still released.
  */
class SweepCachesSpec extends SparkSuite {
  private val dataDir = "/root/testdata/sf0.001"

  test("consumer sets name real SparkEntry.queries entries") {
    val names = SparkEntry.queries.keySet
    val unknownSim = SweepCaches.simConsumers.diff(names)
    val unknownDedup = SweepCaches.dedupConsumers.diff(names)
    val unknownGram = SweepCaches.gramConsumers.diff(names)
    val unknownCorpus = SweepCaches.corpusConsumers.diff(names)
    val unknownContam = SweepCaches.contamConsumers.diff(names)
    assert(unknownSim.isEmpty, s"simConsumers not in queries: $unknownSim")
    assert(unknownDedup.isEmpty, s"dedupConsumers not in queries: $unknownDedup")
    assert(unknownGram.isEmpty, s"gramConsumers not in queries: $unknownGram")
    assert(unknownCorpus.isEmpty, s"corpusConsumers not in queries: $unknownCorpus")
    assert(unknownContam.isEmpty, s"contamConsumers not in queries: $unknownContam")
  }

  test("full sweep: no family cache repopulates after its consumer set drains") {
    spark.sparkContext.setLogLevel("WARN")
    SweepCaches.releaseAll()
    val tracker = new SweepCaches.Tracker
    def simBuilds(): Int =
      graft.sim.Similarity.cacheBuilds.get() + graft.sim.Similarity.quantizerFits.get()
    def dedupBuilds(): Int =
      graft.dedup.Dedup.cacheBuilds.get() + graft.dedup.Dedup.clusterBuilds.get()
    def gramBuilds(): Int = graft.dedup.Dedup.gramBuilds.get()
    def corpusBuilds(): Int = graft.pipeline.CorpusOps.cacheBuilds.get()
    def contamBuilds(): Int = graft.pipeline.CorpusOps.contamBuilds.get()
    var simAtDrain: Option[Int] = None
    var dedupAtDrain: Option[Int] = None
    var gramAtDrain: Option[Int] = None
    var corpusAtDrain: Option[Int] = None
    var contamAtDrain: Option[Int] = None
    val semBefore = graft.sim.Similarity.semanticBuilds.get()
    val clBefore = graft.dedup.Dedup.clusterBuilds.get()
    val grmBefore = graft.dedup.Dedup.gramBuilds.get()
    val contBefore = graft.pipeline.CorpusOps.contamBuilds.get()
    SparkEntry.queries.foreach { case (name, fn) =>
      fn(spark, dataDir).count()
      tracker.done(name)
      simAtDrain.foreach(n => assert(simBuilds() == n,
        s"sim family cache repopulated after drain, at query $name"))
      dedupAtDrain.foreach(n => assert(dedupBuilds() == n,
        s"dedup family cache repopulated after drain, at query $name"))
      gramAtDrain.foreach(n => assert(gramBuilds() == n,
        s"gram family cache repopulated after drain, at query $name"))
      corpusAtDrain.foreach(n => assert(corpusBuilds() == n,
        s"corpus family cache repopulated after drain, at query $name"))
      contamAtDrain.foreach(n => assert(contamBuilds() == n,
        s"contam family cache repopulated after drain, at query $name"))
      if (simAtDrain.isEmpty && tracker.simDrained) simAtDrain = Some(simBuilds())
      if (dedupAtDrain.isEmpty && tracker.dedupDrained) dedupAtDrain = Some(dedupBuilds())
      if (gramAtDrain.isEmpty && tracker.gramDrained) gramAtDrain = Some(gramBuilds())
      if (corpusAtDrain.isEmpty && tracker.corpusDrained) corpusAtDrain = Some(corpusBuilds())
      if (contamAtDrain.isEmpty && tracker.contamDrained) contamAtDrain = Some(contamBuilds())
    }
    assert(simAtDrain.isDefined && dedupAtDrain.isDefined && gramAtDrain.isDefined &&
      corpusAtDrain.isDefined && contamAtDrain.isDefined,
      "all five families must drain in a full sweep")
    // r20 stage-audit pin: the semantic cluster map (IVF pair join +
    // CC — the suite's largest single build) materializes ONCE per
    // sweep; a second build means stream_semantic's index re-fit the
    // pair family instead of reusing dedup_semantic's cached map.
    assert(graft.sim.Similarity.semanticBuilds.get() - semBefore == 1,
      "semantic cluster map must build exactly once per full sweep")
    // r20: the minhash connected-components fixpoint is likewise
    // shared — dedup_clusters / dedup_near_kept / dedup_cluster_stats
    // read one memoized map instead of re-running the CC loop each.
    assert(graft.dedup.Dedup.clusterBuilds.get() - clBefore == 1,
      "minhash cluster map must build exactly once per full sweep")
    // r20: the benchmark-contamination id table (full-corpus 4-gram
    // join) is likewise shared — contamination / corpus_curated /
    // stream_curated read one memoized table instead of three builds.
    assert(graft.pipeline.CorpusOps.contamBuilds.get() - contBefore == 1,
      "contamination table must build exactly once per full sweep")
    // r21: the word-5-gram postings + df tables are likewise shared —
    // dedup_ngram_jaccard / dedup_containment read one memoized build
    // instead of two identical gram-explode + df-agg pipelines.
    assert(graft.dedup.Dedup.gramBuilds.get() - grmBefore == 1,
      "gram postings must build exactly once per full sweep")
    SweepCaches.releaseAll()
  }

  test("a throwing query is a failed record, not a fast one, and still drains its family") {
    spark.sparkContext.setLogLevel("WARN")
    // the gram family's two consumers; the second one throws
    val queries: Seq[(String, Sweep.Query)] = Seq(
      "dedup_ngram_jaccard" -> SparkEntry.queries("dedup_ngram_jaccard"),
      "dedup_containment" -> ((_, _) => throw new IllegalStateException("planted failure")))
    val records = Sweep.run(spark, dataDir, queries)(Sweep.noop)
    assert(records.map(_.name) == queries.map(_._1))
    val Seq(real, failed) = records
    assert(real.ok, s"real query failed: ${real.error}")
    assert(!failed.ok && failed.error.contains("planted failure"))

    assert(Bench.okSeconds(records) == real.seconds)
    // best-of-N: failing in any run keeps the query failed
    val best = Bench.bestOf(Seq(records, records.map(_.copy(error = None))))
    assert(best.map(_.ok) == Seq(true, false))
    assert(Bench.okSeconds(best) == real.seconds)

    // Tracker.done ran for the failed consumer: the gram family drained,
    // its memo was released, so the next reader builds it again
    val before = Dedup.gramBuilds.get()
    Dedup.gramPostings(Tables(spark, dataDir))
    assert(Dedup.gramBuilds.get() == before + 1,
      "gram memo survived the sweep: Tracker.done skipped the failed query")
    SweepCaches.releaseAll()
  }
}
