package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.tools.SweepCaches

/** End-to-end numbers of one run, from its untraced timed passes. */
final case class E2E(setupS: Double, totalS: Double, p50S: Double, tailS: Double,
    tailPct: Int, tailN: Int, storagePeakMb: Double, inputMbPerS: Double,
    attempted: Int, failed: Int, passes: Int) {
  def failedFrac: Double = failed.toDouble / attempted
}

object Report {

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  /** total_s is the median pass total; op_p50_s and op_tail_s are taken
    * over each op's median time across passes. Failed ops add to no
    * latency. */
  def endToEnd(passes: Seq[Seq[OpRun]], setupS: Double, peakMb: Double,
      inputBytes: Long): E2E = {
    val ok = passes.flatten.filter(_.ok)
    val totals = passes.map(_.filter(_.ok).map(_.seconds).sum)
    val perOp = ok.groupBy(_.name).values.map(rs => Ops.median(rs.map(_.seconds))).toSeq
    val totalS = Ops.median(totals)
    val tailPct = if (perOp.size > 10) Ops.tailPercent(perOp.size) else 100
    def pct(p: Double) = if (perOp.isEmpty) Double.NaN else Ops.percentile(perOp, p)
    E2E(setupS, totalS, pct(0.5), pct(tailPct / 100.0), tailPct,
      perOp.size, peakMb, inputBytes / 1048576.0 / totalS,
      passes.map(_.size).sum, passes.map(_.count(!_.ok)).sum, passes.size)
  }

  /** The end-to-end metrics of the result line. Three more are printed
    * above it but are not in it: a run has too few ops for an op_tail_s
    * with ten samples beyond it; storage_peak_mb moves by a fifth between
    * runs with the timing of Spark's ContextCleaner; failed_frac is 0 on
    * a correct program (the line's `failed`/`attempted` carry it). */
  val E2eUnits: Seq[(String, String)] = Seq("setup_s" -> "s", "total_s" -> "s",
    "op_p50_s" -> "s", "input_mb_per_s" -> "MB/s")

  def e2eValues(e: E2E): Map[String, Double] = Map("setup_s" -> e.setupS,
    "total_s" -> e.totalS, "op_p50_s" -> e.p50S, "op_tail_s" -> e.tailS,
    "storage_peak_mb" -> e.storagePeakMb, "input_mb_per_s" -> e.inputMbPerS,
    "failed_frac" -> e.failedFrac)

  def e2eMetrics(e: E2E): Seq[(String, Double, String)] =
    E2eUnits.map { case (k, u) => (k, e2eValues(e)(k), u) }

  def printHuman(workload: String, seed: Long, passes: Seq[Seq[OpRun]], e: E2E): Unit = {
    println(s"workload $workload seed $seed: ${e.passes} timed passes of " +
      s"${passes.head.size} ops")
    (E2eUnits ++ Seq("op_tail_s" -> "s", "storage_peak_mb" -> "MB", "failed_frac" -> "ratio"))
      .foreach { case (k, u) =>
      println(f"  $k%-16s ${e2eValues(e)(k)}%12.4f $u")
    }
    println(s"  op_tail_s is p${e.tailPct} of ${e.tailN} per-op medians; " +
      s"failed_frac is ${e.failed} of ${e.attempted} ops")
    println("  per-op median seconds: " + passes.flatten.filter(_.ok).groupBy(_.name)
      .map { case (n, rs) => n -> Ops.median(rs.map(_.seconds)) }.toSeq.sortBy(-_._2)
      .map { case (n, t) => f"$n=$t%.3f" }.mkString(" "))
    passes.flatten.filterNot(_.ok).map(r => s"${r.name}: ${r.error.get}").distinct
      .foreach(m => println(s"  FAILED $m"))
  }

  // ---- per-layer metrics from the traced passes ----

  /** Per-layer metric names and units, in the order they are written. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
    "io.tables_ms" -> "ms", "io.scan_bytes" -> "bytes", "io.scan_rows" -> "count",
    "io.write_ms" -> "ms", "io.write_bytes" -> "bytes",
    "build.ms" -> "ms", "build.jobs" -> "count",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms",
    "plan.physical_ms" -> "ms", "plan.fallback_nodes" -> "count",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.run_ms" -> "ms", "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.task_wait_ms" -> "ms", "exec.slot_busy_frac" -> "ratio",
    "exec.stage_skew" -> "ratio", "exec.failed_tasks" -> "count",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.records" -> "count", "shuffle.fetch_wait_ms" -> "ms", "spill.bytes" -> "bytes",
    "memo.builds" -> "count", "memo.hit_frac" -> "ratio", "storage.mb" -> "MB",
    "mr.maple_ms" -> "ms", "mr.juice_ms" -> "ms", "mr.pairs" -> "count",
    "mr.pairs_per_line" -> "ratio", "mr.pipe_ms" -> "ms",
    "refsql.compile_ms" -> "ms", "refsql.exec_ms" -> "ms",
    "driver.warn_lines" -> "count", "trace.overhead_s" -> "s")

  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, hi), (a, b)) =>
      if (b <= hi) (acc, hi) else (acc + b - math.max(a, hi), b)
    }._1

  /** Fill each op's span-derived metrics; returns the ops in run order. */
  def opMetrics(t: Tracer, cores: Int): Seq[OpStats] = {
    val spansByOp = t.spans.toSeq.groupBy(_.op)
    t.ops.toSeq.map { st =>
      val sp = spansByOp.getOrElse(st.id, Nil)
      def dur(name: String) = sp.filter(_.name == name).map(s => s.end - s.start).sum
      st.m("io.tables_ms") = dur("tables")
      st.m("io.write_ms") = dur("write")
      st.m("build.ms") = dur("build")
      st.m("exec.ms") = union(sp.filter(_.name == "job").map(s => (s.start, s.end)))
      st.m("mr.maple_ms") = dur("maple")
      st.m("mr.juice_ms") = dur("juice")
      st.m("mr.pipe_ms") = if (st.name.startsWith("pipe_")) dur("maple") + dur("juice") else 0.0
      st.m("refsql.compile_ms") = dur("refsql")
      st.m("refsql.exec_ms") = if (st.name.startsWith("refsql_")) dur("exec") else 0.0
      st.m("exec.slot_busy_frac") =
        st.m.getOrElse("exec.run_ms", 0.0) / math.max(1e-9, st.wallMs * cores)
      val skews = st.stageTaskMs.values.filter(_.size >= 2)
        .map(ts => ts.max / math.max(1.0, Ops.median(ts.map(_.toDouble).toSeq)))
      st.m("exec.stage_skew") = if (skews.isEmpty) 1.0 else skews.max
      st
    }
  }

  /** One value per metric for the run: per-pass totals for counts, times
    * and bytes; whole-run ratios; the peak for storage. */
  def perLayer(t: Tracer, passes: Int, cores: Int, overheadS: Double): Map[String, Double] = {
    // codegen.* are JVM totals since start (set-up included); the trace
    // file keeps each op's own delta
    val ops = opMetrics(t, cores)
    def total(k: String) = ops.map(_.m.getOrElse(k, 0.0)).sum
    val consumers = SweepCaches.simConsumers ++ SweepCaches.dedupConsumers ++
      SweepCaches.gramConsumers ++ SweepCaches.corpusConsumers ++ SweepCaches.contamConsumers
    val memoOps = ops.filter(o => consumers(o.name))
    val sums = LayerUnits.map(_._1).map(k => k -> total(k) / passes).toMap
    sums ++ Map(
      "exec.slot_busy_frac" -> total("exec.run_ms") / (ops.map(_.wallMs).sum * cores),
      "exec.stage_skew" -> Ops.median(ops.map(_.m("exec.stage_skew"))),
      "memo.hit_frac" -> (if (memoOps.isEmpty) 0.0
        else memoOps.count(_.m.getOrElse("memo.builds", 0.0) == 0).toDouble / memoOps.size),
      "storage.mb" -> ops.map(_.m("storage.mb")).max,
      "mr.pairs_per_line" -> (if (total("mr.lines") == 0) 0.0
        else total("mr.pairs") / total("mr.lines")),
      "trace.overhead_s" -> overheadS) ++ t.codegenSinceStart
  }

  /** Per-layer metrics the trace file keeps but the result line leaves
    * out: timings that are zero by construction on some workload (no
    * `Tables` probe in maplejuice_gen; no writes, maple/juice or RefSql
    * calls in the sweeps) or always zero in local mode (shuffle fetch
    * wait). */
  val TraceOnly: Set[String] = Set("io.tables_ms", "io.write_ms", "mr.maple_ms",
    "mr.juice_ms", "mr.pipe_ms", "refsql.compile_ms", "refsql.exec_ms",
    "shuffle.fetch_wait_ms")

  def layerMetrics(v: Map[String, Double]): Seq[(String, Double, String)] =
    LayerUnits.filterNot(l => TraceOnly(l._1)).map { case (k, u) => (k, v(k), u) }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def str(s: String): String = graft.tools.DriverSession.jsonQuote(s)

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** The trace file: every op's per-layer metrics and its spans, each
    * layer's self time, the run's per-layer values and the tracing
    * overhead. */
  def traceJson(workload: String, seed: Long, t: Tracer, layers: Map[String, Double],
      untracedTotalS: Double, overheadS: Double): String = {
    val sb = new StringBuilder
    sb ++= s"""{"workload": ${str(workload)}, "seed": $seed,\n"""
    sb ++= s""" "untraced_total_s": ${num(untracedTotalS)}, "tracing_overhead_s": ${num(overheadS)},\n"""
    sb ++= " \"layers\": {" + LayerUnits.map { case (k, u) =>
      s"${str(k)}: {${str("value")}: ${num(layers(k))}, ${str("unit")}: ${str(u)}}"
    }.mkString(", ") + "},\n"
    sb ++= " \"self_ms\": {" + t.selfTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ") + "},\n"
    sb ++= " \"ops\": [\n" + t.ops.map { o =>
      val ms = LayerUnits.map(_._1).filterNot(_ == "trace.overhead_s")
        .map(k => s"${str(k)}: ${num(o.m.getOrElse(k, 0.0))}").mkString(", ")
      s"""  {"id": ${o.id}, "name": ${str(o.name)}, "ok": ${o.ok}, "wall_ms": ${num(o.wallMs)}, $ms}"""
    }.mkString(",\n") + "\n ],\n"
    sb ++= " \"spans\": [\n" + t.spans.sortBy(_.start).map { s =>
      s"""  {"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}}"""
    }.mkString(",\n") + "\n ]\n}\n"
    sb.toString
  }
}
