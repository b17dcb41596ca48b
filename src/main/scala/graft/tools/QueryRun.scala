package graft.tools

/** Run a SUBSET of SparkEntry.queries — the single-operator iteration
  * loop Verify is too coarse for. Writes each named query's result to
  * `outDir/<name>` parquet plus the matching `oracle_sql.json` subset,
  * in the exact layout Verify produces (both ride
  * [[DriverSession]], so the session config and JSON escaping cannot
  * diverge). tools/check.py still wants the FULL Verify sweep — its
  * registered band checks fail on missing dirs by design.
  *
  * Usage: runMain graft.tools.QueryRun <sfDir> <outDir> <query> [query...]
  */
object QueryRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QueryRun <sfDir> <outDir> <query> [query...]")
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = DriverSession.build(DriverSession.cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      println(s"[queryrun] wrote $outDir/$name")
    }
    DriverSession.writeOracleJson(s"$outDir/oracle_sql.json",
      graft.SparkEntry.oracleSql.view.filterKeys(names.contains).toMap)
    spark.stop()
  }
}
