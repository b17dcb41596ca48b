package graft.mr

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.io.Tables

/** The reference's public programming model, as a typed Spark library
  * (SURVEY.md §2.2 D1-D3, §3.2).
  *
  * `maple <exe> <num_workers> <prefix> <input_dir>` shards one file by
  * line ranges and runs a Python subprocess per chunk that emits
  * `{prefix}_{key}` files (sdfs/src/leader.rs:226-472,
  * sdfs/src/server.rs:335-435). `juice` partitions the key set across
  * workers and folds each key's values (sdfs/src/leader.rs:476-635).
  *
  * Here the subprocess surface becomes a Scala lambda: `maple` is a
  * flatMap to key-value pairs (input splits and the per-key shuffle are
  * Spark's native ones — no `{prefix}_{key}` files, no fd-locked
  * appends, sdfs/src/server.rs:517-563; the registry map executors in
  * [[Executors]] run once per split). `juice` runs a user fold as
  * groupByKey.flatMapGroups (every pair crosses the shuffle); folds
  * that are per-key sums — the registry reducers in [[Executors]] and
  * the word count below — run as [[sumByKey]], a partial/final hash
  * aggregate that combines map-side. Worker count, chunk sizing
  * (sdfs/src/leader.rs:370: ceil(lines/num_workers)) and re-execution
  * on failure (sdfs/src/leader.rs:359-439) all disappear into the
  * scheduler. Unlike the reference's `.take(1)` single-file truncation
  * (sdfs/src/leader.rs:253 — a limitation, not a capability), multi-file
  * datasets are read whole.
  */
object MapleJuice {

  private implicit val kvEnc: org.apache.spark.sql.Encoder[(String, String)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING)

  /** D1 maple: record → zero or more (key, value) pairs. The UDTF role
    * the reference fills with `python3 <exe> <file> <prefix> [args]`.
    */
  def maple[T](ds: Dataset[T])(udf: T => IterableOnce[(String, String)]): Dataset[(String, String)] =
    ds.flatMap(udf(_).iterator.to(Iterator))

  /** D3 juice: fold all values of a key into zero or more output pairs.
    * The shuffle between maple and juice is D2 — native hash shuffle
    * instead of per-key SDFS files.
    */
  def juice(kv: Dataset[(String, String)])(
      udf: (String, Iterator[String]) => IterableOnce[(String, String)]): Dataset[(String, String)] =
    kv.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroups((k: String, rows: Iterator[(String, String)]) =>
        udf(k, rows.map(_._2)).iterator.to(Iterator))

  /** The per-key sum fold over a (key, value) view: (key, sum(value as
    * long)), planned as a partial and a final HashAggregate. Under the
    * session's ANSI mode (the Spark 4 default) a non-numeric value and
    * a sum past 2^63 both throw instead of turning null or wrapping.
    */
  def sumByKey(kv: DataFrame): DataFrame =
    kv.groupBy(col("key")).agg(sum(col("value").cast("long")).as("value"))

  /** The reference's wordcount demo (sdfs/executors/wordcountmap.py +
    * wordcountreduce.py) run through the maple/juice surface, folded
    * by [[sumByKey]].
    */
  def wordCount(t: Tables): DataFrame = {
    import t.spark.implicits._
    val lines: Dataset[String] = t.documents.select($"text").as[String]
    val kv = maple(lines)(line =>
      line.split(" ").iterator.filter(_.nonEmpty).map(w => (w, "1")))
    sumByKey(kv.toDF("key", "value"))
      .select(col("key").as("word"), col("value").as("cnt"))
  }

  // Same semantics as the declarative word count → same oracle shape.
  val wordCountSql: String =
    """SELECT word, count(*) AS cnt FROM
      | (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> '' GROUP BY word""".stripMargin.replace("\n", " ")
}
