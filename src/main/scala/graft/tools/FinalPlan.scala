package graft.tools

/** Prints the FINAL adaptive plan (post-execution) of named
  * SparkEntry queries, with per-node SQL metrics — the executed-plan
  * twin of PlanDump (whose pre-execution dump can't show AQE's join
  * strategy picks or runtime row counts). Uses PlanDump's query forms,
  * so a pair family shows its real join, not a LogicalRDD scan.
  *
  * Usage: FinalPlan <sfDir> <query...>
  */
object FinalPlan {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FinalPlan <sfDir> <query...>")
    val sfDir = args.head
    val spark = DriverSession.build(DriverSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      val df = PlanDump.query(spark, sfDir, name)
      // execute df's OWN plan: count()/foreach plan a different query
      // and would leave this one at isFinalPlan=false
      df.queryExecution.toRdd.foreach(_ => ())
      println(s"===== $name (final adaptive plan) =====")
      println(df.queryExecution.executedPlan.toString)
      // per-node metrics: walk the final plan and print non-zero rows/time
      def walk(p: org.apache.spark.sql.execution.SparkPlan, d: Int): Unit = {
        val m = p.metrics.collect {
          case (k, v) if v.value > 0 && (k.contains("numOutputRows") ||
            k.contains("time") || k.contains("Time")) => s"$k=${v.value}"
        }.mkString(" ")
        println(("  " * d) + p.nodeName + (if (m.nonEmpty) s"  [$m]" else ""))
        p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan, d + 1)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan, d + 1)
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
            walk(r.child, d + 1)
          case _ => p.children.foreach(walk(_, d + 1))
        }
      }
      println("----- node metrics -----")
      walk(df.queryExecution.executedPlan, 0)
    }
    spark.stop()
  }
}
