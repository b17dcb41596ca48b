package graft.tools

/** Spark-stage-level timing of named SparkEntry queries:
  *
  *   Profile <dir> stages <query...>     ("all" = every query)
  *
  * Runs the queries through [[Sweep]] with the noop sink and prints
  * every completed stage's task count + wall + summed task CPU — the
  * tool that found the single-task AQE-coalesced shortlist stage
  * (SCALING.md §10x defect 3): a stage with tasks=1 and wall ≈ query
  * total is a byte-based sizing pathology.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(1) == "stages",
      "usage: Profile <dir> stages <query...>")
    val dir = args(0)
    val names = args.drop(2).toSeq
    val named =
      if (names == Seq("all")) graft.SparkEntry.queries.toSeq
      else names.map(n => n -> graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n")))
    val spark = DriverSession.build(DriverSession.cpus)
    // labelled when the query STARTS building: memo families run jobs
    // while the DataFrame is constructed, before the sink sees it
    @volatile var label = ""
    val queries: Seq[(String, Sweep.Query)] = named.map { case (n, fn) =>
      n -> ((s, d) => { label = n; fn(s, d) })
    }
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        val cpu = si.taskMetrics.executorRunTime / 1e3
        // first graft.* frame in the stage's callsite: pinpoints which
        // operator the stage belongs to (the short name is almost
        // always an AQE future with zero signal)
        val frame = si.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.tools."))
          .map(_.trim.stripPrefix("at ").take(80)).getOrElse("")
        val tm = si.taskMetrics
        val gc = tm.jvmGCTime / 1e3
        val fetch = tm.shuffleReadMetrics.fetchWaitTime / 1e3
        val deser = tm.executorDeserializeTime / 1e3
        val outRows = tm.shuffleWriteMetrics.recordsWritten
        println(f"STAGE [$label] id=${si.stageId} tasks=${si.numTasks} wall=$wall%7.2f s cpu=$cpu%8.2f s gc=$gc%6.2f fetch=$fetch%6.2f deser=$deser%6.2f outRec=$outRows%-9d ${si.name.takeWhile(_ != '\n').take(40)}  $frame")
      }
    })
    Sweep.run(spark, dir, queries)(Sweep.noop).foreach { r =>
      if (r.ok) println(f"PROFILE ${r.name}%-28s ${r.seconds}%8.2f s")
      else println(s"FAILED ${r.name}: ${r.error.get.take(120)}")
    }
    spark.stop()
  }
}
