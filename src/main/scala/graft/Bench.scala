package graft

import graft.tools.Sweep

/** Arbitrary-directory sweep timer: runs every `SparkEntry.queries`
  * entry on `SPARK_GRAFT_SF_DIR` through [[graft.tools.Sweep]] with the
  * noop sink (each result fully materialized, nothing pruned) and prints
  * ONE JSON line. `tools/exponents.py` reads its `"queries"` map. The
  * repo's benchmark is `perfbench/run.py`, not this main.
  *
  * The line carries the evidence needed to adjudicate a run by itself
  * (round 10: ambient host load twice produced numbers 2x+ over the
  * idle floor on unchanged code):
  *   - "queries": {name: seconds} of the queries that succeeded;
  *     "failed": {name: message} of those that threw — a failure never
  *     adds to a time or to "value", the sum of "queries".
  *   - "load_start"/"load_timed"/"load_end": 1/5/15-min load averages
  *     (from /proc/loadavg; MXBean fallback) at JVM start, at the start
  *     of the timed sweep (post-warmup), and at the end.
  *   - "wall_sec": wall clock of the whole main (warmup included).
  *   - best-of-N: SPARK_GRAFT_BENCH_RUNS=N repeats the timed sweep N
  *     times and reports each query's MINIMUM (a query that fails in any
  *     run is failed). "run_totals" keeps the raw per-run sums so the
  *     spread itself is visible.
  */
object Bench {
  /** (1-min, 5-min, 15-min) load averages. /proc/loadavg on Linux;
    * falls back to the MXBean's 1-min (5/15 reported as -1). */
  def loadAvg(): (Double, Double, Double) = {
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")
      (parts(0).toDouble, parts(1).toDouble, parts(2).toDouble)
    } catch { case _: Exception =>
      val one = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      (one, -1.0, -1.0)
    }
  }
  private def loadJson(l: (Double, Double, Double)): String =
    s"[${l._1},${l._2},${l._3}]"

  /** Per query, in sweep order: its first failed record if it failed in
    * any run, else its fastest record. */
  private[graft] def bestOf(runs: Seq[Seq[Sweep.Record]]): Seq[Sweep.Record] =
    runs.transpose.map { rs =>
      rs.find(!_.ok).getOrElse(rs.minBy(_.seconds))
    }

  /** Seconds summed over the ok records only. */
  private[graft] def okSeconds(records: Seq[Sweep.Record]): Double =
    records.filter(_.ok).map(_.seconds).sum

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.tools.DriverSession.cpus
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt)
    // Optional subset filter (r20): SPARK_GRAFT_BENCH_ONLY=q1,q2 runs
    // just the named queries — the single-query floor-adjudication
    // loop (idle-host best-of-3 on one family) without a full sweep.
    // NOTE a subset pays its family's cache builds itself; full-sweep
    // floors amortize those across the family, so compare subset
    // numbers to floors only for queries that build their own caches
    // or when the subset includes the family's first consumer.
    val queries: Seq[(String, Sweep.Query)] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
        case Some(csv) =>
          val names = csv.split(",").map(_.trim).filter(_.nonEmpty)
          val unknown = names.filterNot(SparkEntry.queries.contains)
          require(unknown.isEmpty,
            s"unknown queries in SPARK_GRAFT_BENCH_ONLY: ${unknown.mkString(", ")}")
          names.toSeq.map(n => n -> SparkEntry.queries(n))
        case None => SparkEntry.queries.toSeq
      }
    val spark = graft.tools.DriverSession.build(cpus)
    // Warmup at the smallest scale factor: JIT + whole-stage-codegen
    // compile per plan shape, so the timed runs measure steady state
    // (the plans are identical across sf dirs, only the input differs).
    val warmDir = new java.io.File("/root/testdata/sf0.001")
    if (warmDir.isDirectory && warmDir.getPath != sfDir)
      Sweep.run(spark, warmDir.getPath, queries)(Sweep.noop)
    val loadTimed = loadAvg()
    val runs = Seq.fill(nRuns)(Sweep.run(spark, sfDir, queries)(Sweep.noop))
    val best = bestOf(runs)
    val loadEnd = loadAvg()
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val quote = graft.tools.DriverSession.jsonQuote _
    val qs = best.filter(_.ok).map(r => s"${quote(r.name)}:${r.seconds}")
      .mkString("{", ",", "}")
    val failed = best.filterNot(_.ok).map(r => s"${quote(r.name)}:${quote(r.error.get)}")
      .mkString("{", ",", "}")
    val runTotals = runs.map(okSeconds).mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":${okSeconds(best)},"unit":"sec","queries":$qs""" +
        s""","failed":$failed,"sf":${quote(sfDir)},"runs":$nRuns""" +
        s""","run_totals":$runTotals,"wall_sec":$wallSec""" +
        s""","load_start":${loadJson(loadStart)},"load_timed":${loadJson(loadTimed)}""" +
        s""","load_end":${loadJson(loadEnd)},"cpus":$cpus}"""
    println(json)
    // sbt wraps stdout in [info] prefixes but leaves stderr bare —
    // emit the line there too so a driver scraping the process output
    // can parse it without stripping prefixes
    System.err.println(json)
    // and write it to a file so the structured number survives any
    // log-routing choices (canonical artifact, see README)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"bench_out write failed: $e") }
    spark.stop()
  }
}
