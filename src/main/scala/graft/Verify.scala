package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Session, sweep
  * and JSON plumbing shared with the other mains via tools.DriverSession
  * and tools.Sweep. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.tools.DriverSession.build(graft.tools.DriverSession.cpus)
    new java.io.File(outDir).mkdirs()
    graft.tools.Sweep.run(spark, sfDir, SparkEntry.queries.toSeq) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.filterNot(_.ok).foreach { r =>
      System.err.println(s"[verify] ${r.name} failed: ${r.error.get}")
    }
    graft.tools.DriverSession.writeOracleJson(
      s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }
}
