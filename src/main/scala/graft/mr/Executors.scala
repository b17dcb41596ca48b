package graft.mr

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions.{col, format_string, lit, sum}

/** The reference's eight Python executors re-expressed over the
  * maple/juice surface (semantics from SURVEY.md §2.3 and FIXTURES.md;
  * no code ported — these are behavioral reimplementations of ~250
  * lines of Python).
  *
  * Reference contract: a map executor receives a file of lines and
  * emits (key, value) pairs into `{prefix}_{key}` files
  * (sdfs/src/server.rs:371-398); a reduce executor folds all values of
  * its keys into output lines (sdfs/src/server.rs:459-482). Here a map
  * executor is a typed lambda over one input split's lines, and a
  * reduce executor is one DataFrame plan over the (key, value) maple
  * view that covers both its per-key fold and its finalize step.
  */
object Executors {

  /** One input split's lines and the executor's CLI args → pairs. */
  type MapUdf = (Iterator[String], Seq[String]) => Iterator[(String, String)]

  /** The (key, value) maple view → the reducer's (key, value) output. */
  type ReducePlan = DataFrame => DataFrame

  /** selectmap.py:4-19 — keep lines where the regex searches (not
    * anchors); single key "filtered". One compiled pattern per split.
    */
  val selectMap: MapUdf = (lines, args) => {
    val p = java.util.regex.Pattern.compile(args.head)
    lines.filter(p.matcher(_).find()).map(("filtered", _))
  }

  /** selectreduce.py:4-16 — emits ("filtered", v) for every value,
    * whatever its key: a projection, no shuffle.
    */
  val selectReduce: ReducePlan =
    _.select(lit("filtered").as("key"), col("value"))

  /** wordcountmap.py:9-27 — lowercase \w+ tokens, counted per split:
    * one (word, partial count) pair per distinct word of the split, as
    * the reference script emits, so the maple view already holds the
    * split-level combine.
    */
  private val WordRe = java.util.regex.Pattern.compile("\\w+")

  val wordCountMap: MapUdf = (lines, _) => {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    lines.foreach { line =>
      // Locale.ROOT: locale-independent lowering (tr_TR dotless-i etc.),
      // matching both the reference's Python .lower() and Spark's lower()
      val m = WordRe.matcher(line.toLowerCase(java.util.Locale.ROOT))
      while (m.find()) counts(m.group()) = counts.getOrElse(m.group(), 0L) + 1
    }
    counts.iterator.map { case (w, n) => (w, n.toString) }
  }

  /** wordcountreduce.py:15-19 — the reference's finalizer keeps only
    * the grand total across its keys, so the plan is one global sum:
    * a partial/final aggregate with no per-key fold (per-word totals
    * are [[MapleJuice.sumByKey]]; Relational.q6WordTotal is the engine
    * form).
    */
  val wordCountReduce: ReducePlan = kv =>
    kv.agg(sum(col("value").cast("long")).cast("string").as("value"))
      .select(lit("total").as("key"), col("value"))

  /** Sdemo1map.py:7-31 — CSV rows (35 cols, header cell 'X' skipped,
    * ragged rows skipped) where Interconne (col 10) == args(0); emit
    * Detection_ (col 9) with partial count 1.
    */
  val sdemo1Map: MapUdf = (lines, args) => lines.flatMap { line =>
    val parts = line.split(",", -1)
    if (parts.length > 10 && parts(0) != "X" && parts(0) != "﻿X" &&
      parts(10) == args.head)
      Iterator((parts(9), "1"))
    else Iterator.empty
  }

  /** Sdemo1reduce.py:20-31 — sum partials per key (partial + final
    * HashAggregate), then format each count as a percent of the total
    * over all keys ("{:.2f}%", the reference's single-reducer demo
    * configuration; Relational.q4GroupPct is the engine form). The
    * folded rows are few, so the percent step runs over `coalesce(1)`
    * and its grand-total window adds no second exchange.
    */
  val sdemo1Reduce: ReducePlan = kv =>
    MapleJuice.sumByKey(kv).coalesce(1)
      .select(col("key"),
        format_string("%.2f%%",
          col("value") * lit(100.0) / sum(col("value")).over(W.partitionBy()))
          .as("value"))

  /** Hdemo1map/Hdemo1reduce (Hadoop-streaming style, Hdemo1map.py:7-18,
    * Hdemo1reduce.py:13-24): same query as Sdemo1 without map-side
    * combine; the sorted-input merge assumption is irrelevant to a hash
    * aggregate. Same executors apply.
    */
  val hdemo1Map: MapUdf = sdemo1Map
  val hdemo1Reduce: ReducePlan = sdemo1Reduce

  /** Executor-name registry: lets reference users run their exact
    * `maple <exe> ...` / `juice <exe> ...` commands (README.md:84-103)
    * with the Python script names they already use.
    */
  val mapByName: Map[String, MapUdf] = Map(
    "selectmap.py" -> selectMap,
    "wordcountmap.py" -> wordCountMap,
    "Sdemo1map.py" -> sdemo1Map,
    "Hdemo1map.py" -> hdemo1Map)

  val reduceByName: Map[String, ReducePlan] = Map(
    "selectreduce.py" -> selectReduce,
    "wordcountreduce.py" -> wordCountReduce,
    "Sdemo1reduce.py" -> sdemo1Reduce,
    "Hdemo1reduce.py" -> hdemo1Reduce)
}
