package graft.mr

/** The reference's eight Python executors re-expressed as Scala
  * lambdas over the maple/juice surface (semantics from SURVEY.md §2.3
  * and FIXTURES.md; no code ported — these are behavioral
  * reimplementations of ~250 lines of Python).
  *
  * Reference contract: a map executor receives a file of lines and
  * emits (key, value) pairs into `{prefix}_{key}` files
  * (sdfs/src/server.rs:371-398); a reduce executor folds all values of
  * its keys into output lines (sdfs/src/server.rs:459-482). Here both
  * are (String, args) lambdas pluggable into MapleJuice.maple/juice.
  */
object Executors {

  type MapUdf = (String, Seq[String]) => Iterator[(String, String)]
  type ReduceUdf = (String, Iterator[String], Seq[String]) => Iterator[(String, String)]

  /** selectmap.py:4-19 — keep lines where the regex searches (not
    * anchors); single key "filtered".
    */
  // per-args pattern memo: the lambda runs once per record, and
  // Pattern.compile per line would dominate the map hot path
  private val patternCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def pattern(re: String): java.util.regex.Pattern =
    patternCache.computeIfAbsent(re, java.util.regex.Pattern.compile(_))

  val selectMap: MapUdf = (line, args) =>
    if (pattern(args.head).matcher(line).find()) Iterator(("filtered", line))
    else Iterator.empty

  /** selectreduce.py:4-16 — concatenate all matched chunks. */
  val selectReduce: ReduceUdf = (_, vs, _) => vs.map(v => ("filtered", v))

  /** wordcountmap.py:9-27 — lowercase \w+ tokens. The reference emits
    * a partial count per split; this emits one (word, "1") pair per
    * token, and nothing combines them before the shuffle:
    * MapleJuice.juice is a typed groupByKey.flatMapGroups, which plans
    * no partial aggregate, so every pair crosses the exchange and the
    * reduce side does all the counting.
    */
  private val WordRe = java.util.regex.Pattern.compile("\\w+")

  val wordCountMap: MapUdf = (line, _) => {
    // Locale.ROOT: locale-independent lowering (tr_TR dotless-i etc.),
    // matching both the reference's Python .lower() and Spark's lower()
    val m = WordRe.matcher(line.toLowerCase(java.util.Locale.ROOT))
    Iterator.continually(m).takeWhile(_.find()).map(mm => (mm.group(), "1"))
  }

  /** wordcountreduce.py:15-19 — per-word totals (the reference's reduce
    * also emits a grand total across its key set; grand-total form =
    * Relational.q6WordTotal).
    */
  val wordCountReduce: ReduceUdf = (k, vs, _) =>
    Iterator((k, vs.map(_.toLong).sum.toString))

  /** Sdemo1map.py:7-31 — CSV rows (35 cols, header cell 'X' skipped,
    * ragged rows skipped) where Interconne (col 10) == args(0); emit
    * Detection_ (col 9) with partial count 1.
    */
  val sdemo1Map: MapUdf = (line, args) => {
    val parts = line.split(",", -1)
    if (parts.length > 10 && parts(0) != "X" && parts(0) != "﻿X" &&
      parts(10) == args.head)
      Iterator((parts(9), "1"))
    else Iterator.empty
  }

  /** Sdemo1reduce.py:20-31 — sum partials per key; the percent-of-total
    * presentation ("{:.2f}%") is applied over the folded counts (the
    * grand total requires all keys, so it lives in the caller —
    * Relational.q4GroupPct is the engine form).
    */
  val sdemo1Reduce: ReduceUdf = (k, vs, _) =>
    Iterator((k, vs.map(_.toLong).sum.toString))

  /** Hdemo1map/Hdemo1reduce (Hadoop-streaming style, Hdemo1map.py:7-18,
    * Hdemo1reduce.py:13-24): same query as Sdemo1 without map-side
    * combine; the sorted-input merge assumption is irrelevant under
    * groupByKey. Same lambdas apply.
    */
  val hdemo1Map: MapUdf = sdemo1Map
  val hdemo1Reduce: ReduceUdf = sdemo1Reduce

  /** Executor-name registry: lets reference users run their exact
    * `maple <exe> ...` / `juice <exe> ...` commands (README.md:84-103)
    * with the Python script names they already use.
    */
  val mapByName: Map[String, MapUdf] = Map(
    "selectmap.py" -> selectMap,
    "wordcountmap.py" -> wordCountMap,
    "Sdemo1map.py" -> sdemo1Map,
    "Hdemo1map.py" -> hdemo1Map)

  val reduceByName: Map[String, ReduceUdf] = Map(
    "selectreduce.py" -> selectReduce,
    "wordcountreduce.py" -> wordCountReduce,
    "Sdemo1reduce.py" -> sdemo1Reduce,
    "Hdemo1reduce.py" -> hdemo1Reduce)

  /** Finalization stage: the reference's reduce executors do more than
    * fold per key — wordcountreduce emits the grand total across its
    * keys (wordcountreduce.py:15-19) and Sdemo1reduce formats each
    * count as a percent of its keys' total (Sdemo1reduce.py:29-31).
    * With the reference's single-reducer demo configuration "its keys"
    * = all keys, which is what these finalizers reproduce over the
    * folded (key, value) table.
    */
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, format_string, lit, sum}
  import org.apache.spark.sql.expressions.{Window => W}

  val finalizeByName: Map[String, DataFrame => DataFrame] = Map(
    "wordcountreduce.py" -> { df =>
      df.agg(sum(col("value").cast("long")).cast("string").as("value"))
        .select(lit("total").as("key"), col("value"))
    },
    "Sdemo1reduce.py" -> sdemo1Percent,
    "Hdemo1reduce.py" -> sdemo1Percent)

  private def sdemo1Percent(df: DataFrame): DataFrame =
    df.select(col("key"),
      format_string("%.2f%%",
        col("value").cast("long") * lit(100.0) /
          sum(col("value").cast("long")).over(W.partitionBy()))
        .as("value"))
}
