package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.tools.SweepCaches

/** The two sweeps over `SparkEntry.queries`. `relational` draws from
  * the 62 queries q1-q55, asof_*, agg_* and mj_word_count; `curation`
  * from the other 94 (dedup, ANN, text, corpus, multimodal, streaming
  * in batch mode, contamination). A full pass of both takes about four
  * minutes on 4 cores with its warm-up, more than a benchmark run can
  * spend, so each workload runs the fixed subset below: every operator
  * family once, every query a ROADMAP item names, and every memo
  * family with its build and at least one later hit.
  *
  * Both read the fixed testdata tables; the workload seed does not
  * apply to them. Each op builds one query, plans it and materializes
  * its full result, then checks the row count and digest against the
  * goldens (row count and schema only for the rows-only queries, whose
  * values are band-checked by tools/check.py instead). */
object Sweeps {

  val relational: Set[String] = Set(
    // ROADMAP item 3 (decimal sums, grouping sets) and item 1's
    // count-pruned example
    "q1_agg", "q15_rollup", "q22_cube", "q38_grouping_sets", "q27_approx_distinct",
    // joins, a window, the pinned as-of exchange, the typed maple/juice
    // surface
    "q3_equi_join", "q10_window", "asof_join", "mj_word_count")

  val curation: Set[String] = Set(
    // memo families, each with its build and a later hit: gram postings
    // (n-gram Jaccard, containment), contamination ids (curated corpus,
    // contamination); the Similarity norm/quantizer build (IVF)
    "dedup_ngram_jaccard", "dedup_containment", "corpus_curated", "contamination",
    "ann_ivf",
    // interpreted HOFs a ROADMAP item replaces
    "corpus_scrub_spans")

  private val curationPrefixes =
    Seq("dedup_", "ann_", "emb_", "text_", "corpus_", "mm_", "stream_")

  /** The sweep a query belongs to: 62 relational, 94 curation. */
  def sweepOf(name: String): String =
    if (name == "contamination" || curationPrefixes.exists(name.startsWith)) "curation"
    else "relational"

  /** Query names of a sweep, in the order Verify and Bench run them
    * (SweepCaches' consumer sets drain in that order): the timed subset,
    * or with `full` every query of the sweep. */
  def names(workload: String, full: Boolean = false): Seq[String] = {
    val pick = workload match {
      case "relational" => relational
      case "curation" => curation
      case other => sys.error(s"not a sweep: $other")
    }
    require(pick.forall(n => SparkEntry.queries.contains(n) && sweepOf(n) == workload),
      s"the $workload subset names a query outside the $workload sweep")
    SparkEntry.queries.keys.toSeq.filter(n => if (full) sweepOf(n) == workload else pick(n))
  }

  /** Rows-only queries carry no oracle SQL: their values are
    * engine-specific, so only the row count and schema are checked. */
  def rowsOnly(name: String): Boolean = !SparkEntry.oracleSql.contains(name)

  /** One golden line per query: name, rows, digest (or "-" for a
    * rows-only query), schema. */
  final case class Golden(rows: Long, digest: Option[String], schema: String)

  def readGoldens(path: Path): Map[String, Golden] =
    if (!Files.isRegularFile(path)) Map.empty
    else Files.readAllLines(path).toArray(Array.empty[String]).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(name, rows, digest, schema) = l.split("\t", 4)
        name -> Golden(rows.toLong, Option(digest).filter(_ != "-"), schema)
      }.toMap

  def goldenLine(name: String, o: Outcome): String =
    Seq(name, o.rows.toString, if (rowsOnly(name)) "-" else o.digestHex,
      o.schema).mkString("\t")

  def check(name: String, golden: Option[Golden])(o: Outcome): Option[String] =
    golden match {
      case None => Some("no golden for this query")
      case Some(g) if g.schema != o.schema => Some(s"schema ${o.schema} != ${g.schema}")
      case Some(g) if g.rows != o.rows => Some(s"rows ${o.rows} != ${g.rows}")
      case Some(Golden(_, Some(d), _)) if d != o.digestHex =>
        Some(s"digest ${o.digestHex} != $d")
      case _ => None
    }

  /** The ops of one pass over `dir`. Ops carry no check when `goldens`
    * is None (the warm-up pass, on another scale factor). */
  def ops(spark: SparkSession, workload: String, dir: String,
      goldens: Option[Map[String, Golden]], full: Boolean = false): Seq[Op] =
    names(workload, full).map { name =>
      val fn = SparkEntry.queries(name)
      Op(name, hooks => {
        if (hooks.traced) hooks.span("tables") { graft.io.Tables(spark, dir) }
        val df = hooks.span("build") { fn(spark, dir) }
        Ops.materialize(df, hooks)
      }, goldens.fold((_: Outcome) => Option.empty[String])(g => check(name, g.get(name))))
    }

  /** One pass: every op once, from empty memo caches, releasing each
    * memo family after its last consumer (as Verify and Bench do).
    * Consumers outside the subset never run, so families they keep
    * open are released when the pass ends. */
  def pass(ops: Seq[Op], hooks: Hooks): Seq[OpRun] = {
    SweepCaches.releaseAll()
    val caches = new SweepCaches.Tracker
    val runs = ops.map { op =>
      val r = Ops.runOne(op, hooks)
      caches.done(op.name)
      r
    }
    SweepCaches.releaseAll()
    runs
  }
}
