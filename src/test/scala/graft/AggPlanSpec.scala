package graft

import graft.io.Tables

/** Physical-shape pins for the round-10 typed-Aggregator queries: both
  * must plan as ObjectHashAggregate with a partial_ (map-side) stage —
  * the whole point of the bounded buffers is that they combine before
  * the exchange — and the MG candidates join must stay hint-free and
  * never degenerate to a nested loop.
  */
class AggPlanSpec extends SparkSuite {
  private lazy val t = {
    spark.sparkContext.setLogLevel("WARN")
    Tables(spark, "/root/testdata/sf0.001")
  }

  test("grouped MG heavy hitters: partial ObjectHashAggregate, hint-free join, no nested loop") {
    val df = graft.functions.Aggs.mgHeavyHittersPerGroup(t)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"typed agg missing:\n${plan.take(2000)}")
    assert(plan.contains("partial_"), "map-side partial aggregation missing")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      "candidates recount must be an equi-join")
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.toLowerCase.contains("resolvedhint"),
      "candidates table grows with group count — no forced broadcast hint")
  }

  test("weighted reservoir: partial ObjectHashAggregate (bounded buffer combines map-side)") {
    val plan = graft.functions.Aggs.weightedSampleQuery(t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"typed agg missing:\n${plan.take(2000)}")
    assert(plan.contains("partial_"), "map-side partial aggregation missing")
  }

  test("chunking shuffles nothing; packing shuffles once, on the shard key") {
    // chunk = per-doc explode: the only exchange allowed is widen's
    // round-robin split of the single-file local scan — never a hash
    // partitioning (chunking has no key)
    val chunkPlan = graft.pipeline.CorpusOps.chunk(t)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("hashpartitioning"),
      s"chunking must not shuffle on any key:\n$chunkPlan")
    // pack = chunk + one running-total window per shard: exactly one
    // hash exchange, and it partitions on shard (the parallelism dial)
    val packPlan = graft.pipeline.CorpusOps.pack(t)
      .queryExecution.executedPlan.toString
    val hashExchanges = "hashpartitioning\\(shard".r.findAllIn(packPlan).length
    assert(hashExchanges >= 1, s"pack's window must partition on shard:\n$packPlan")
    assert("hashpartitioning\\((?!shard)".r.findFirstIn(packPlan).isEmpty,
      s"pack must not shuffle on any key but shard:\n$packPlan")
    // pack reuses chunk() but never reads chunk_text — Catalyst must
    // prune the concat_ws reconstruction out of the packing plan
    assert(!packPlan.contains("concat_ws"),
      s"unused chunk_text must be pruned from pack's plan:\n$packPlan")
  }

  test("sequence shuffle: every hash exchange is on the shard dial") {
    // groupBy(shard, seq_id) and the rank window both partition on
    // shard-prefixed keys; nothing may shuffle on any other key, and
    // chunk_text must stay pruned end-to-end (shuffle rides on pack)
    val plan = graft.pipeline.CorpusOps.shuffleSequences(t)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(shard".r.findAllIn(plan).nonEmpty,
      s"shuffle must partition on shard:\n$plan")
    assert("hashpartitioning\\((?!shard)".r.findFirstIn(plan).isEmpty,
      s"shuffle must not shuffle on any key but shard:\n$plan")
    assert(!plan.contains("concat_ws"),
      s"unused chunk_text must be pruned from the shuffle plan:\n$plan")
  }

  test("mixture interleave: bounded agg combines map-side, scan pruned to 3 columns") {
    val plan = graft.functions.Aggs.mixtureInterleaveQuery(t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_"),
      s"bounded sample buffer must combine before the exchange:\n${plan.take(2000)}")
    assert(!plan.contains("text#"),
      s"interleave must never read the text column:\n${plan.take(2000)}")
  }

  test("temperature mix/sample: pruned scans, map-side counts, window only on lang rows") {
    val mp = graft.pipeline.CorpusOps.temperatureMix(t)
      .queryExecution.executedPlan.toString
    assert(mp.contains("partial_count"),
      s"lang counts must combine map-side:\n${mp.take(2000)}")
    assert(mp.contains("ReadSchema: struct<lang:string>"),
      s"mix scan must be pruned to lang only:\n${mp.take(2000)}")
    // the grand-total window sits above the aggregate (|langs| rows),
    // so the only exchanges are the count's and the window's singleton
    val sp = graft.pipeline.CorpusOps.temperatureSample(t)
      .queryExecution.executedPlan.toString
    assert(!sp.contains("text#"),
      s"sample must never read the text column:\n${sp.take(2000)}")
  }

  test("boilerplate profile/strip: df via agg + join-back, never a window; scan pruned") {
    for ((name, df) <- Seq(
      "profile" -> graft.pipeline.CorpusOps.boilerplate(t),
      "strip" -> graft.pipeline.CorpusOps.stripBoilerplate(t))) {
      val plan = df.queryExecution.executedPlan.toString
      // the df rule: a count-over-window would pin a hot line's rows
      // to one partition; only strip's ordered reassembly is an agg,
      // so NO WindowExec may appear in either plan
      assert(!plan.contains("Window"),
        s"$name must compute line df without a window:\n${plan.take(2000)}")
      assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name scan must be pruned to doc_id+text:\n${plan.take(2000)}")
    }
    graft.io.Memo.release("corpus")
  }
}
