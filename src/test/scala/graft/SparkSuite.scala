package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM (getOrCreate), built by the same
  * recipe as every main (tools.DriverSession) at 4 cores: UTC, small
  * shuffle partitions, nanos-as-long for the events table.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = graft.tools.DriverSession.build("4")

  def withLogLevel[A](f: => A): A = { spark.sparkContext.setLogLevel("WARN"); f }

  /** Writes rows as a parquet "documents"-style table into a temp dir
    * and returns a Tables bound to it.
    */
  def tempTables(write: String => Unit): graft.io.Tables = {
    val dir = java.nio.file.Files.createTempDirectory("graft-test").toString
    write(dir)
    graft.io.Tables(spark, dir)
  }
}
