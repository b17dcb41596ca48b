package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one sweep loop behind Verify, Bench and Profile: runs named
  * queries over one data directory in the order given, hands each
  * result to a caller-supplied sink (the action that materializes it),
  * and returns one [[Sweep.Record]] per query.
  *
  * The sweep starts from empty memo caches and releases each family
  * after its last consumer (see [[SweepCaches]]). A query that throws —
  * building its DataFrame or in the sink — is a failed record carrying
  * the message, never a time: callers sum only ok records.
  */
object Sweep {
  type Query = (SparkSession, String) => DataFrame

  /** One query's outcome: wall seconds of build + sink, and the error
    * message when it threw. */
  final case class Record(name: String, seconds: Double, error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  /** Materializes the full result on the executors and discards it: no
    * column or aggregate is pruned away, unlike `count()`. */
  val noop: (String, DataFrame) => Unit =
    (_, df) => df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, dir: String, queries: Seq[(String, Query)])(
      sink: (String, DataFrame) => Unit): Seq[Record] = {
    SweepCaches.releaseAll()
    val caches = new SweepCaches.Tracker
    queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val error =
        try { sink(name, fn(spark, dir)); None }
        catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.toString)) }
      val record = Record(name, (System.nanoTime() - t0) / 1e9, error)
      caches.done(name)
      record
    }
  }
}
