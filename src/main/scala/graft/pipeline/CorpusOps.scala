package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.Dedup
import graft.io.Tables

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and training: repetition filtering, deterministic
  * stratified sampling, and benchmark-contamination detection. Not in
  * the reference (SURVEY.md §2.5 territory) — first-class
  * LLM-pipeline surface alongside graft.dedup / graft.text.
  *
  * All three are oracle-checkable: counts are integers, fractions are
  * single IEEE divisions of exactly-representable integers, hashes are
  * md5-derived (invariants 2-4 in CLAUDE.md). N-gram positions cap at
  * 8191 starts, mirrored by the oracle's range(1, 8192) table
  * (invariant 6).
  */
object CorpusOps {

  /** Word n-gram starting positions, capped like Dedup.shingles.
    * `private[graft]`: Streams.curatedStream evaluates the same
    * expression row-locally so its gate matches the batch pass's
    * repetition counts gram for gram. Delegates to [[Dedup.gramExpr]]
    * (the split-hoisted form — see its scaladoc for why the naive
    * lambda is O(words·starts) per doc).
    */
  private[graft] def gramExpr(width: Int): String = Dedup.gramExpr(width)

  private[graft] def gramSqlCte(width: Int): String =
    s"""SELECT doc_id, array_to_string(toks[CAST(r.range AS INT):CAST(r.range AS INT)+${width - 1}], ' ') AS gram
       | FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d
       | JOIN range(1, 8192) r ON r.range <= greatest(len(toks)-${width - 1}, 1)""".stripMargin

  // ------------------------------------------------------- repetition

  /** Gopher-style repetition signals per document: the duplicate
    * word-2-gram fraction ((total - distinct) / total) and the
    * most-frequent-word fraction (max word count / total words). High
    * values mark boilerplate/spam for downstream filtering. One
    * explode + two doc-keyed aggregations — map-side combinable, one
    * shuffle each, output rows = docs.
    */
  /** Integer repetition counts per doc — shared by `repetition` (which
    * derives the fractions) and `curated` (which thresholds in integer
    * arithmetic, per the oracle-determinism rules).
    */
  private def repetitionCounts(t: Tables): DataFrame = {
    import t.spark.implicits._
    val docs = t.widen(t.documents)
    // Row-local: n_grams/n_distinct are per-doc functions of the gram
    // array (gramExpr is never empty — greatest(..., 1)), so
    // size/array_distinct in the narrow map replace an explode plus a
    // two-phase countDistinct aggregation — the gram stream never
    // shuffles at all (r21; was ~1M exploded rows at sf0.1).
    val grams = docs
      .select($"doc_id", expr(gramExpr(2)).as("garr"))
      .select($"doc_id", size($"garr").cast(LongType).as("n_grams"),
        size(array_distinct($"garr")).cast(LongType).as("n_distinct"))
    val words = docs
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"doc_id", $"word")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(max($"cnt").as("top_cnt"), sum($"cnt").as("n_words"))
    grams.join(words, "doc_id")
  }

  def repetition(t: Tables): DataFrame = {
    import t.spark.implicits._
    repetitionCounts(t)
      .select(
        $"doc_id", $"n_grams",
        (($"n_grams" - $"n_distinct").cast(DoubleType) / $"n_grams").as("dup_2gram_frac"),
        ($"top_cnt".cast(DoubleType) / $"n_words").as("top_word_frac"))
  }

  val repetitionSql: String =
    s"""WITH g AS (${gramSqlCte(2)}),
       |ga AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
       | FROM g GROUP BY doc_id),
       |w AS (SELECT doc_id, word, count(*) AS cnt FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       | WHERE word <> '' GROUP BY doc_id, word),
       |wa AS (SELECT doc_id, max(cnt) AS top_cnt, sum(cnt) AS n_words FROM w GROUP BY doc_id)
       |SELECT ga.doc_id AS doc_id, n_grams,
       | CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_2gram_frac,
       | CAST(top_cnt AS DOUBLE) / n_words AS top_word_frac
       |FROM ga JOIN wa ON ga.doc_id = wa.doc_id""".stripMargin.replace("\n", " ")

  // ------------------------------------------------ boilerplate lines

  /** Non-overlapping line width (words) and the per-doc line cap —
    * the cap mirrors the oracle's range(1, MaxLines+1) table exactly
    * (invariant 6's symmetric-cap discipline; 1024 lines × 8 words
    * covers the same 8192-word prefix as the frame cap).
    */
  private val LineWidth = 8
  private val MaxLines = 1024

  /** Non-overlapping LineWidth-word segments, 1-based slice starts
    * (split-hoisted like [[Dedup.gramExpr]]). */
  private def lineExpr: String =
    s"transform(array(split(text, ' ')), toks -> " +
      s"transform(sequence(1, least((size(toks) + ${LineWidth - 1}) div $LineWidth, $MaxLines)), " +
      s"j -> concat_ws(' ', slice(toks, (j-1)*$LineWidth+1, $LineWidth))))[0]"

  /** Cross-document boilerplate-line profile — the line-level df twin
    * of [[repetition]]: where repetition scores WITHIN-doc redundancy
    * (Gopher-style dup-gram fractions), this scores repeats ACROSS
    * documents — headers, footers, license blurbs, nav chrome: the
    * web-corpus noise a curation pass strips before training. The
    * corpus has no newlines, so "lines" are the non-overlapping
    * [[LineWidth]]-word segments of each document (the same
    * fixed-width-span convention as dedup_substring), capped at
    * [[MaxLines]] per doc symmetrically with the oracle.
    *
    * Shape: one explode (≤MaxLines rows/doc) → line document-frequency
    * via groupBy(line) + countDistinct(doc_id) + join-back (the df
    * rule: both agg phases map-side combinable; never a
    * count-over-window, which would pin a hot line's rows to one
    * partition) → one doc-keyed agg. At 100 TB a hot boilerplate line
    * (one footer in 1e8 docs) skews the join-back on `line`, but the
    * df side has ONE row per distinct line, so AQE's skew-join split
    * applies cleanly — the join only fans out line instances, never
    * line×line pairs. Output is one row per doc: line count, how many
    * of its lines are corpus-boilerplate (df ≥ minDf distinct docs),
    * the max df any of its lines reaches, and the boilerplate
    * fraction (one IEEE division of exact integers, invariant 3).
    */
  /** (doc_id, line_no, line) — the shared line stream for
    * [[boilerplate]] (profile) and [[stripBoilerplate]] (removal);
    * line_no is the 1-based position, needed only to reassemble
    * stripped documents in original order.
    */
  private def docLines(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.widen(t.documents)
      .select($"doc_id", posexplode(expr(lineExpr)))
      .select($"doc_id", ($"pos" + 1).cast(LongType).as("line_no"),
        $"col".as("line"))
  }

  // One line-df table per (session, dir): corpus_boilerplate and
  // corpus_strip_boilerplate both join against it, and the
  // groupBy(line)+countDistinct shuffle is the expensive half of both
  // passes — the profile and the strip of the SAME corpus share one
  // build the way the dedup family shares signatures. Same
  // immutable-dir assumption as Dedup.sigCache; released by
  // clearCaches() via tools.SweepCaches once the last consumer is done.
  private val lineDfCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), DataFrame]

  /** Family-cache population counter for the SweepCaches
    * no-repopulate-after-drain pin. */
  private[graft] val cacheBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The general dir-rewrite invalidation entry point: drops EVERY
    * CorpusOps memo (line-df AND the contamination table — r20 ADVICE:
    * the documented "call clearCaches() after rewriting a dir" must
    * not leave a stale contam table feeding contamination /
    * corpus_curated / stream_curated). Sweep bookkeeping that wants to
    * evict one family early uses the narrower
    * [[clearLineDfCache]]/[[clearContamCache]]. */
  def clearCaches(): Unit = {
    clearLineDfCache()
    clearContamCache()
  }

  /** Narrow release for the line-df memo only (SweepCaches' corpus
    * family drains tens of queries before the contam consumers run). */
  def clearLineDfCache(): Unit = {
    lineDfCache.values.foreach(_.unpersist())
    lineDfCache.clear()
  }

  /** Line document frequency — groupBy(line)+countDistinct(doc_id),
    * shared by profile and strip (the join-back side of the df rule),
    * memoized and persisted per (session, dir).
    */
  private def lineDf(t: Tables): DataFrame =
    lineDfCache.getOrElseUpdate((t.spark, t.dir), {
      cacheBuilds.incrementAndGet()
      // distinct (doc, line) row-locally (array_distinct before the
      // explode) so the df agg is a plain count — countDistinct over
      // the raw line stream planned an Expand + a second aggregation
      // exchange for dedup the narrow map does for free (the same
      // array_distinct-before-explode move as the contamination build)
      import t.spark.implicits._
      t.widen(t.documents)
        .select($"doc_id", explode(array_distinct(expr(lineExpr))).as("line"))
        .groupBy(col("line"))
        .agg(count(lit(1)).as("line_df"))
        .persist()
    })

  def boilerplate(t: Tables, minDf: Int = 2): DataFrame = {
    import t.spark.implicits._
    val lines = docLines(t).select($"doc_id", $"line")
    val df = lineDf(t)
    lines.join(df, "line")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when($"line_df" >= minDf, 1L).otherwise(0L)).as("n_boiler"),
        max($"line_df").as("max_line_df"))
      .select($"doc_id", $"n_lines", $"n_boiler", $"max_line_df",
        ($"n_boiler".cast(DoubleType) / $"n_lines").as("boiler_frac"))
  }

  val boilerplateSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |l AS (SELECT doc_id, array_to_string(
       |   toks[CAST((r.range-1)*$LineWidth+1 AS INT):CAST((r.range-1)*$LineWidth+$LineWidth AS INT)], ' ') AS line
       | FROM d JOIN range(1, ${MaxLines + 1}) r
       |   ON (r.range-1)*$LineWidth+1 <= greatest(len(toks), 1)),
       |f AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM l GROUP BY line),
       |a AS (SELECT doc_id, count(*) AS n_lines,
       |   CAST(sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |   max(line_df) AS max_line_df
       | FROM l JOIN f USING (line) GROUP BY doc_id)
       |SELECT doc_id, n_lines, n_boiler, max_line_df,
       | CAST(n_boiler AS DOUBLE) / n_lines AS boiler_frac FROM a""".stripMargin.replace("\n", " ")

  /** Boilerplate REMOVAL — the consumer of [[boilerplate]]'s signal,
    * C4-style: drop every line that appears in ≥ minDf distinct
    * documents and reassemble the survivors in original order. The
    * df plumbing is [[docLines]]/[[lineDf]] shared with the profile;
    * the only new wide op is the per-doc reassembly, whose state is
    * bounded by the doc itself (≤[[MaxLines]] kept (line_no, line)
    * pairs — the same per-doc memory as any whole-doc map), ordered
    * deterministically by line_no on both engines (array_sort vs
    * string_agg ORDER BY). A left join from the per-doc totals keeps
    * all-boilerplate docs in the output with empty text — at 100 TB
    * the downstream filter (drop empties, re-score quality) needs to
    * SEE them to account tokens removed; n_removed makes the pass
    * auditable (Σ n_removed = lines dropped corpus-wide).
    */
  def stripBoilerplate(t: Tables, minDf: Int = 2): DataFrame = {
    import t.spark.implicits._
    val lines = docLines(t)
    val kept = lines.join(lineDf(t), "line")
      .filter($"line_df" < minDf)
      .groupBy($"doc_id")
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(line_no, line))), x -> x.line), ' ')")
          .as("clean_text"),
        count(lit(1)).as("n_kept"))
    lines.groupBy($"doc_id").agg(count(lit(1)).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"clean_text", lit("")).as("clean_text"),
        $"n_lines",
        ($"n_lines" - coalesce($"n_kept", lit(0L))).as("n_removed"))
  }

  val stripBoilerplateSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |l AS (SELECT doc_id, r.range AS line_no, array_to_string(
       |   toks[CAST((r.range-1)*$LineWidth+1 AS INT):CAST((r.range-1)*$LineWidth+$LineWidth AS INT)], ' ') AS line
       | FROM d JOIN range(1, ${MaxLines + 1}) r
       |   ON (r.range-1)*$LineWidth+1 <= greatest(len(toks), 1)),
       |f AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM l GROUP BY line),
       |k AS (SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS clean_text,
       |   count(*) AS n_kept
       | FROM l JOIN f USING (line) WHERE line_df < 2 GROUP BY doc_id),
       |la AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
       |SELECT la.doc_id AS doc_id, coalesce(clean_text, '') AS clean_text, n_lines,
       | n_lines - coalesce(n_kept, 0) AS n_removed
       |FROM la LEFT JOIN k USING (doc_id)""".stripMargin.replace("\n", " ")

  // ------------------------------------- within-doc line dedupe

  /** WITHIN-document repeated-line removal — the per-page dedupe step
    * web-corpus pipelines run before any cross-doc pass (nav chrome
    * and footers repeat inside one page long before they repeat
    * across pages): keep each line's FIRST occurrence in its document,
    * drop later repeats, reassemble in order. Lines are the module's
    * [[LineWidth]]-word segments ([[lineExpr]], the same convention as
    * the cross-doc boilerplate pair — [[stripBoilerplate]] removes
    * lines repeated ACROSS docs, this removes repeats INSIDE one).
    *
    * Entirely ROW-LOCAL on both engines: the line list, the
    * keep-first filter (an indexed higher-order `filter` whose
    * predicate scans only the line's prefix — O(lines²) per doc,
    * bounded by the [[MaxLines]] cap), and the reassembly are pure
    * column expressions — the whole operator is a zero-shuffle
    * projection over the scan, the cheapest shape there is at any
    * corpus size.
    */
  def dedupLines(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents
      .withColumn("ls", expr(lineExpr))
      // Spark HOF index is 0-based: slice(ls, 1, i) = the i lines before x
      .withColumn("keep", expr(
        "filter(ls, (x, i) -> NOT exists(slice(ls, 1, i), y -> y = x))"))
      .select($"doc_id",
        expr("array_join(keep, ' ')").as("clean_text"),
        size($"ls").cast(LongType).as("n_lines"),
        (size($"ls") - size($"keep")).cast(LongType).as("n_dropped"))
  }

  val dedupLinesSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |l AS (SELECT doc_id, list_transform(
       |   range(1, least((len(toks) + ${LineWidth - 1}) // $LineWidth, $MaxLines) + 1),
       |   j -> array_to_string(toks[CAST((j-1)*$LineWidth+1 AS INT):CAST((j-1)*$LineWidth+$LineWidth AS INT)], ' ')) AS ls
       | FROM d),
       |k AS (SELECT doc_id, ls,
       |   list_filter(ls, (x, i) -> len(list_filter(ls[1:i-1], y -> y = x)) = 0) AS keep
       | FROM l)
       |SELECT doc_id, array_to_string(keep, ' ') AS clean_text,
       | CAST(len(ls) AS BIGINT) AS n_lines,
       | CAST(len(ls) - len(keep) AS BIGINT) AS n_dropped
       |FROM k""".stripMargin.replace("\n", " ")

  // --------------------------------------- duplicate-substring scrub

  /** Duplicate-SUBSTRING removal applied to the text — the
    * exact-substring dedup of Lee et al. ("Deduplicating Training Data
    * Makes Language Models Better", ACL'22), re-expressed over
    * Dedup.substringDup's 16-word span fingerprints: every word whose
    * position is covered by a span shared by ≥ 2 distinct documents is
    * dropped, and the survivors reassemble in order. Where
    * [[stripBoilerplate]] removes repeated LINES at fixed offsets,
    * this removes repeated PASSAGES at any alignment — the quoted
    * chains, licenses, and template fragments that dominate duplicate
    * tokens in web corpora. (Lee et al. keep one canonical occurrence;
    * this pass drops all of them — compose with [[Dedup.keptCorpus]]
    * first if a canonical copy must survive, the same policy split as
    * C4-style line stripping.)
    *
    * Scale shape (100 TB): span fingerprints are a narrow explode
    * (8191-start cap, invariant 6) into one md5-keyed groupBy — the
    * word-count shape. The duplicated-span join back is gram-keyed
    * (AQE skew-splits hot license spans), and the scrub itself is
    * ROW-LOCAL: each doc's duplicated start positions aggregate to one
    * array (bounded by the start cap, ≤ doc length in practice), and
    * one higher-order `filter`/`exists` pass over the token sequence
    * rebuilds the text without exploding words into the shuffle.
    * Covered-position semantics are identical in both engines: word i
    * survives iff no duplicated span starts in [i-15, i].
    */
  def scrubSpans(t: Tables, checkpoint: Boolean = true): DataFrame = {
    import t.spark.implicits._
    val docs = t.widen(t.documents)
    val spans = docs
      .select($"doc_id", explode(expr(
        // split-hoisted like Dedup.gramExpr (this variant also carries
        // the start position for the scrub's covered-range test)
        "transform(array(split(text, ' ')), toks -> " +
          "transform(sequence(1, least(greatest(size(toks)-15, 1), 8191)), " +
          "i -> named_struct('pos', i, 'span', concat_ws(' ', slice(toks, i, 16)))))[0]"
      )).as("e"))
      .select($"doc_id", $"e.pos".cast(LongType).as("pos"),
        Dedup.h32($"e.span").as("span_h"))
      .persist() // feeds the dup-span groupBy and the join back
    // min(doc_id) != max(doc_id) <=> countDistinct(doc_id) >= 2, but
    // plans as ONE map-side-combinable hash agg instead of the
    // two-phase distinct rewrite (47 s of summed stage CPU at 10x)
    val dup = spans.groupBy($"span_h")
      .agg(min($"doc_id").as("d0"), max($"doc_id").as("d1"))
      .filter($"d0" =!= $"d1")
      .select($"span_h")
    val starts = spans.join(dup, "span_h")
      .groupBy($"doc_id")
      .agg(collect_list($"pos").as("ss")) // order-free: exists() below
    val out = docs
      .join(starts, Seq("doc_id"), "left")
      .withColumn("ss", coalesce($"ss", expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("toks", split($"text", " "))
      .withColumn("keep", expr(
        "filter(sequence(1L, CAST(size(toks) AS BIGINT)), " +
          "i -> NOT exists(ss, s -> s <= i AND i <= s + 15))"))
      .select($"doc_id",
        expr("array_join(transform(keep, i -> element_at(toks, CAST(i AS INT))), ' ')")
          .as("clean_text"),
        size($"toks").cast(LongType).as("n_words"),
        (size($"toks") - size($"keep")).cast(LongType).as("n_removed"))
    // checkpoint=false is for PLAN INSPECTION only (tools.PlanDump)
    if (!checkpoint) { spans.unpersist(); return out }
    val cp = out.localCheckpoint()
    spans.unpersist()
    cp
  }

  val scrubSpansSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT doc_id, CAST(r.range AS BIGINT) AS pos,
       |  array_to_string(toks[CAST(r.range AS INT):CAST(r.range AS INT)+15], ' ') AS span
       | FROM d JOIN range(1, 8192) r ON r.range <= greatest(len(toks)-15, 1)),
       |h AS (SELECT doc_id, pos, ${Dedup.sqlH32("span")} AS span_h FROM s),
       |dup AS (SELECT span_h FROM h GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
       |st AS (SELECT doc_id, list(pos) AS ss FROM h JOIN dup USING (span_h) GROUP BY doc_id),
       |j AS (SELECT d.doc_id, toks, coalesce(ss, CAST([] AS BIGINT[])) AS ss
       | FROM d LEFT JOIN st ON d.doc_id = st.doc_id),
       |k AS (SELECT doc_id, toks,
       |  list_filter(range(1, len(toks)+1), i -> len(list_filter(ss, s -> s <= i AND i <= s + 15)) = 0) AS keep
       | FROM j)
       |SELECT doc_id,
       | coalesce(array_to_string(list_transform(keep, i -> toks[CAST(i AS INT)]), ' '), '') AS clean_text,
       | CAST(len(toks) AS BIGINT) AS n_words,
       | CAST(len(toks) - len(keep) AS BIGINT) AS n_removed
       |FROM k""".stripMargin.replace("\n", " ")

  // --------------------------------------------------------- sampling

  /** Deterministic stratified sampling — the domain-mixing primitive.
    * Each source stratum gets a reproducible keep-rate in [10%, 50%)
    * derived from md5(source); a document survives iff
    * md5(doc_id) mod 100 < rate. Pure narrow map+filter: no shuffle,
    * no RNG state, identical sample on every engine and every rerun —
    * which is what makes 100 TB sampling auditable. Rates would come
    * from a mixing config in production; hash-derived here keeps the
    * operator self-contained.
    */
  def stratifiedSample(t: Tables): DataFrame = {
    import t.spark.implicits._
    val rate = (Dedup.h32($"source") % 40 + 10).as("rate_pct")
    t.documents
      .withColumn("rate_pct", rate)
      .filter(Dedup.h32($"doc_id".cast(StringType)) % 100 < $"rate_pct")
      .select($"doc_id", $"source", $"rate_pct")
  }

  val stratifiedSampleSql: String =
    s"""SELECT doc_id, source, ${Dedup.sqlH32("source")} % 40 + 10 AS rate_pct
       |FROM documents
       |WHERE ${Dedup.sqlH32("CAST(doc_id AS VARCHAR)")} % 100 < ${Dedup.sqlH32("source")} % 40 + 10""".stripMargin
      .replace("\n", " ")

  // ---------------------------------------------------- contamination

  /** Benchmark-contamination check (the GPT-3-style n-gram audit): how
    * many of a training document's distinct word-4-grams appear in the
    * held-out benchmark set (here: docs with doc_id % 97 == 0 stand in
    * for the eval suite). Real pipelines use 13-grams over open text;
    * width 4 plays the same role on the testdata's ~40-word vocabulary
    * so the operator produces a non-degenerate result to check.
    * A *real* eval suite's gram set is bounded, but this stand-in
    * derives the benchmark side from the corpus itself (doc_id % 97),
    * so it grows with the corpus — no forced broadcast hint (AQE
    * cannot demote one): AQE broadcasts the bench side while it is
    * genuinely under the threshold and falls back to a shuffled join
    * when it is not, so the plan survives 100× where a hint would
    * OOM the executors. Emits docs with at least one colliding gram.
    */
  // One materialized contamination table per (session, dir): three
  // sweep queries consume it (the contamination audit itself, the
  // curated batch chain's decontamination anti-join, and the
  // stream_curated ingest gate's static side), and the build is a
  // full-corpus distinct-4-gram self-join — the most expensive thing
  // to recompute three times at 100 TB. The memo is the narrow
  // grouped output (doc_id, n_contam), localCheckpoint-sized.
  // Released by its OWN SweepCaches consumer set
  // ([[clearContamCache]]) — the corpus line-df family drains tens of
  // queries earlier in name order, so sharing its release would
  // either evict this memo before its consumers run or pin the
  // line-df table long past its last reader.
  private val contamCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), DataFrame]

  /** contamCache population counter — SweepCachesSpec pins one build
    * per full sweep (a second one = a consumer re-running the 4-gram
    * join instead of reading the shared table). */
  private[graft] val contamBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  def clearContamCache(): Unit = {
    contamCache.values.foreach(_.unpersist())
    contamCache.clear()
  }

  def contamination(t: Tables): DataFrame =
    contamCache.getOrElseUpdate((t.spark, t.dir), {
      contamBuilds.incrementAndGet()
      contaminationUncached(t).localCheckpoint()
    })

  /** The live plan behind the memo — the plan-audit surfaces
    * (tools.PlanDump, ScaleSpec's no-forced-broadcast pin) must inspect
    * THIS form: the memoized [[contamination]] analyzes to a
    * LogicalRDD, which would pass any plan assertion vacuously. */
  private[graft] def contaminationUncached(t: Tables): DataFrame = {
    import t.spark.implicits._
    val docs = t.widen(t.documents)
    // distinct WITHIN the row (array_distinct before the explode), not
    // a global .distinct() after it: (doc_id, gram) distinctness only
    // needs per-doc dedup since doc_id is in the key, and the global
    // form paid a full-corpus exchange of every exploded gram (~5M
    // rows at sf0.1, the r21 stage audit) for rows the narrow map
    // already dedups — the gramPostings lesson applied here.
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        explode(array_distinct(expr(gramExpr(4)))).as("gram"))
    val bench = grams(docs.filter($"doc_id" % 97 === 0)).select($"gram").distinct()
    grams(docs.filter($"doc_id" % 97 =!= 0))
      .join(bench, "gram")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_contam"))
  }

  val contaminationSql: String =
    s"""WITH g AS (SELECT DISTINCT doc_id, gram FROM (${gramSqlCte(4)})),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
       |SELECT doc_id, count(*) AS n_contam
       |FROM g JOIN bench USING (gram)
       |WHERE doc_id % 97 <> 0
       |GROUP BY doc_id""".stripMargin.replace("\n", " ")

  // ------------------------------------------------- n-gram novelty

  /** Bigram novelty against a reference corpus — the integer-exact
    * analog of the CCNet/KenLM-style LM filter: instead of a
    * log-probability (log/exp are oracle-hostile, CLAUDE.md invariant
    * 3), score each candidate document by how many of its bigram
    * OCCURRENCES never appear in the reference corpus (here the
    * doc_id-even half stands in for the reference snapshot a nightly
    * job maintains). Low novelty ≈ fluent/redundant text the reference
    * models well; high novelty ≈ out-of-domain or gibberish — both
    * tails are what a quality pipeline inspects.
    *
    * Shape at 100 TB: one gram explode, one gram-keyed LEFT join
    * against the distinct reference gram set (hot stopword bigrams are
    * AQE skew-join territory — no window, no driver state), one
    * doc-keyed count — the same scaling story as [[contamination]].
    * novel_frac is a single IEEE division of exactly-representable
    * integers (invariant 3).
    */
  def ngramNovelty(t: Tables): DataFrame = {
    import t.spark.implicits._
    val docs = t.widen(t.documents)
    val grams = docs.select($"doc_id", explode(expr(gramExpr(2))).as("gram"))
    val ref = grams.filter($"doc_id" % 2 === 0).select($"gram").distinct()
    grams.filter($"doc_id" % 2 === 1)
      .join(ref.withColumn("seen", lit(1)), Seq("gram"), "left_outer")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when($"seen".isNull, 1L).otherwise(0L)).as("n_unseen"))
      .select($"doc_id", $"n_bigrams", $"n_unseen",
        ($"n_unseen".cast(DoubleType) / $"n_bigrams").as("novel_frac"))
  }

  val ngramNoveltySql: String =
    s"""WITH g AS (${gramSqlCte(2)}),
       |ref AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
       |sc AS (SELECT g.doc_id AS doc_id,
       |  CASE WHEN r.gram IS NULL THEN 1 ELSE 0 END AS unseen
       | FROM g LEFT JOIN ref r ON g.gram = r.gram WHERE g.doc_id % 2 = 1)
       |SELECT doc_id, count(*) AS n_bigrams,
       | CAST(sum(unseen) AS BIGINT) AS n_unseen,
       | CAST(sum(unseen) AS DOUBLE) / count(*) AS novel_frac
       |FROM sc GROUP BY doc_id""".stripMargin.replace("\n", " ")

  // ----------------------------------------------------- the full pass

  /** The end-to-end curation pass — what a user actually runs before
    * training: exact dedup (keep min doc_id per content hash) →
    * repetition filter (dup-2gram fraction < 0.2 AND top-word fraction
    * < 0.3, thresholded in integer arithmetic) → drop benchmark docs
    * and anything contaminated by them → deterministic stratified
    * sample. Emits (doc_id, source, n_words) — the surviving corpus
    * with its token accounting. Every stage is one of the operators
    * above, so the whole pass is the composition Catalyst sees and
    * optimizes as a single plan; at 100 TB it is two doc-keyed
    * shuffles (dedup window, repetition aggs) plus joins keyed on
    * doc_id. The contaminated-doc anti-join carries no broadcast
    * hint: the list is corpus-fraction-sized, so AQE broadcasts it
    * only while it is genuinely small.
    */
  def curated(t: Tables): DataFrame = {
    import t.spark.implicits._
    val kept = Dedup.keptCorpus(t).select($"doc_id", $"source")
    val contam = contamination(t).select($"doc_id")
    kept
      .join(repetitionCounts(t), "doc_id")
      .filter(($"n_grams" - $"n_distinct") * 5 < $"n_grams" &&
        $"top_cnt" * 10 < $"n_words" * 3)
      .join(contam, Seq("doc_id"), "left_anti")
      .filter($"doc_id" % 97 =!= 0)
      .filter(Dedup.h32($"doc_id".cast(StringType)) % 100 <
        Dedup.h32($"source") % 40 + 10)
      .select($"doc_id", $"source", $"n_words")
  }

  val curatedSql: String =
    s"""WITH kept AS (SELECT doc_id, source FROM
       |  (SELECT doc_id, source, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
       |   FROM documents) WHERE rn = 1),
       |g2 AS (${gramSqlCte(2)}),
       |ga AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
       | FROM g2 GROUP BY doc_id),
       |w AS (SELECT doc_id, word, count(*) AS cnt FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       | WHERE word <> '' GROUP BY doc_id, word),
       |wa AS (SELECT doc_id, max(cnt) AS top_cnt, CAST(sum(cnt) AS BIGINT) AS n_words FROM w GROUP BY doc_id),
       |g4 AS (SELECT DISTINCT doc_id, gram FROM (${gramSqlCte(4)})),
       |bench AS (SELECT DISTINCT gram FROM g4 WHERE doc_id % 97 = 0),
       |contam AS (SELECT DISTINCT doc_id FROM g4 JOIN bench USING (gram) WHERE doc_id % 97 <> 0)
       |SELECT k.doc_id AS doc_id, k.source AS source, n_words
       |FROM kept k JOIN ga ON k.doc_id = ga.doc_id JOIN wa ON k.doc_id = wa.doc_id
       |WHERE (n_grams - n_distinct) * 5 < n_grams
       | AND top_cnt * 10 < n_words * 3
       | AND k.doc_id % 97 <> 0
       | AND k.doc_id NOT IN (SELECT doc_id FROM contam)
       | AND ${Dedup.sqlH32("CAST(k.doc_id AS VARCHAR)")} % 100 < ${Dedup.sqlH32("k.source")} % 40 + 10""".stripMargin
      .replace("\n", " ")

  /** Oracle for the batch-driven streaming ingest gate
    * (Streams.curatedStream → the `stream_curated` driver entry):
    * min-doc_id exact dedup (dedupStream's deterministic batch keep
    * rule) → the row-local dup-2gram gate (gramExpr(2), identical to
    * the repetition counts' gram set, thresholded in integer
    * arithmetic) → decontamination against the SAME contaminated-id
    * list `contamination` emits. The stream gate intentionally skips
    * the batch [[curated]] pass's top-word gate (not row-local),
    * bench-doc drop and stratified sample — those stay in the nightly
    * batch pass; this SQL mirrors exactly what the stream admits.
    */
  val curatedStreamSql: String =
    s"""WITH dd AS (SELECT doc_id, text FROM
       |  (SELECT doc_id, text, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
       |   FROM documents) WHERE rn = 1),
       |g2 AS (${gramSqlCte(2)}),
       |ga AS (SELECT doc_id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
       | FROM g2 GROUP BY doc_id),
       |g4 AS (SELECT DISTINCT doc_id, gram FROM (${gramSqlCte(4)})),
       |bench AS (SELECT DISTINCT gram FROM g4 WHERE doc_id % 97 = 0),
       |contam AS (SELECT DISTINCT doc_id FROM g4 JOIN bench USING (gram) WHERE doc_id % 97 <> 0)
       |SELECT d.doc_id AS doc_id, d.text AS text
       |FROM dd d JOIN ga ON d.doc_id = ga.doc_id
       |WHERE (n_grams - n_distinct) * 5 < n_grams
       | AND d.doc_id NOT IN (SELECT doc_id FROM contam)""".stripMargin
      .replace("\n", " ")

  // ---------------------------------------------------- mixture budget

  /** Data-mixture summary — the token-accounting table a training run
    * budgets from: per source, document and whitespace-token counts,
    * the source's share of the total token budget, and the running
    * cumulative tokens in (tokens desc, source asc) order (the order
    * sources get packed into a mixture). The heavy agg is one
    * map-side-combinable groupBy(source); the share/cumsum windows run
    * over the aggregated rows — source-cardinality input, not corpus
    * rows, so the single-partition window is a non-issue at any scale.
    * Share = one IEEE division of two exact longs.
    */
  def tokenBudget(t: Tables): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val perSource = t.documents
      .select($"source",
        size(filter(split($"text", " "), x => x =!= "")).as("toks"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"))
    val wCum = Window.orderBy($"n_tokens".desc, $"source".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perSource
      .withColumn("share",
        $"n_tokens".cast(DoubleType) / sum($"n_tokens").over(Window.partitionBy()))
      .withColumn("cum_tokens", sum($"n_tokens").over(wCum))
  }

  /** Per-column data profile — the expectations check every pipeline
    * runs before training on a new drop: null counts and distinct
    * cardinalities for each metadata column, plus the row count. ONE
    * pass over the table computes every statistic (a single aggregate
    * with partial/final combine; countDistinct adds one Expand), then
    * `stack` pivots the scalar row to one row per column — no second
    * scan, no per-column jobs. At 100 TB swap countDistinct for
    * approx_count_distinct and the plan shape is unchanged.
    */
  def profile(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents.agg(
      count(lit(1)).as("n_rows"),
      count(when($"text".isNull, 1)).as("text_null"),
      countDistinct($"text").as("text_distinct"),
      count(when($"lang".isNull, 1)).as("lang_null"),
      countDistinct($"lang").as("lang_distinct"),
      count(when($"source".isNull, 1)).as("source_null"),
      countDistinct($"source").as("source_distinct"))
      .select(expr(
        "stack(3, 'text', text_null, text_distinct," +
          " 'lang', lang_null, lang_distinct," +
          " 'source', source_null, source_distinct)" +
          " AS (col_name, n_null, n_distinct)"),
        $"n_rows")
  }

  val profileSql: String =
    """SELECT 'text' AS col_name, count(*) FILTER (text IS NULL) AS n_null,
      | count(DISTINCT text) AS n_distinct, count(*) AS n_rows FROM documents
      |UNION ALL
      |SELECT 'lang', count(*) FILTER (lang IS NULL),
      | count(DISTINCT lang), count(*) FROM documents
      |UNION ALL
      |SELECT 'source', count(*) FILTER (source IS NULL),
      | count(DISTINCT source), count(*) FROM documents""".stripMargin.replace("\n", " ")

  /** Deterministic train/val/test split — assignment is a pure
    * function of doc_id (salted md5, 80/10/10 on h mod 100), so the
    * split is reproducible from the raw corpus alone: no RNG state, no
    * shuffle, membership auditable per doc at 100 TB exactly like the
    * stratified sample. The salt keeps the split independent of every
    * other h32-derived decision (sampling, budget) — the same doc can
    * be sampled AND assigned without correlation.
    */
  def assignSplits(t: Tables): DataFrame = {
    import t.spark.implicits._
    val r = Dedup.h32(concat($"doc_id".cast("string"), lit(":split"))) % 100
    t.documents.select($"doc_id", $"source",
      when(r < 80, "train").when(r < 90, "val").otherwise("test").as("split"))
  }

  val splitSql: String = {
    val h = s"${Dedup.sqlH32("CAST(doc_id AS VARCHAR)||':split'")} % 100"
    s"""SELECT doc_id, source,
       | CASE WHEN $h < 80 THEN 'train' WHEN $h < 90 THEN 'val'
       |  ELSE 'test' END AS split
       |FROM documents""".stripMargin.replace("\n", " ")
  }

  /** Split-leakage audit: near-duplicate pairs (MinHash+LSH) that
    * straddle split boundaries — each train/test near-dup pair is a
    * leaked eval answer. Composes the memoized pair table with the
    * split assignment (two doc-keyed joins on an already-tiny pair
    * list) and aggregates to an unordered split-pair matrix; at 100 TB
    * the cost is the dedup pass you run anyway, plus join work
    * proportional to the PAIR count, not the corpus.
    */
  def splitLeakage(t: Tables): DataFrame = {
    import t.spark.implicits._
    val s = assignSplits(t).select($"doc_id", $"split")
    Dedup.minhashLsh(t)
      .join(s.toDF("doc_a", "split_a"), "doc_a")
      .join(s.toDF("doc_b", "split_b"), "doc_b")
      .select(least($"split_a", $"split_b").as("split_x"),
        greatest($"split_a", $"split_b").as("split_y"))
      .groupBy($"split_x", $"split_y")
      .agg(count(lit(1)).as("n_pairs"))
  }

  val splitLeakageSql: String = {
    val h = s"${Dedup.sqlH32("CAST(doc_id AS VARCHAR)||':split'")} % 100"
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM (${Dedup.minhashSql})),
       |s AS (SELECT doc_id,
       | CASE WHEN $h < 80 THEN 'train' WHEN $h < 90 THEN 'val'
       |  ELSE 'test' END AS split
       | FROM documents)
       |SELECT least(sa.split, sb.split) AS split_x,
       | greatest(sa.split, sb.split) AS split_y, count(*) AS n_pairs
       |FROM pairs JOIN s sa ON pairs.doc_a = sa.doc_id
       |           JOIN s sb ON pairs.doc_b = sb.doc_id
       |GROUP BY 1, 2""".stripMargin.replace("\n", " ")
  }

  /** Token-budget-matched downsampling — cap every source at (about)
    * BUDGET whitespace tokens, the mixture-construction primitive that
    * turns `tokenBudget`'s accounting into an actual sampled corpus.
    * Per-source keep rate = min(1, BUDGET / T_s); a doc survives iff
    * h32(doc_id) < (BUDGET << 32) / T_s — deterministic, auditable,
    * integer-only (the constant BUDGET·2^32 ≈ 3.4e12 never overflows,
    * and the division by T_s floors identically in both engines).
    * T_s is clamped to ≥1 (`greatest`) on BOTH engines: a source whose
    * documents all tokenize to zero tokens would otherwise make the
    * ANSI `div` / DuckDB `//` error out instead of trivially keeping
    * every (zero-cost) doc of that source.
    * T_s comes from one map-side-combinable groupBy(source) joined
    * back (source-cardinality table — AQE broadcasts it); the filter
    * is a narrow map. At 100 TB this is exactly how mixtures are cut:
    * no shuffle of the corpus, one tiny aggregate, one hash compare
    * per row.
    */
  private val Budget = 800L

  def budgetSample(t: Tables): DataFrame = {
    import t.spark.implicits._
    val toks = t.documents.select($"doc_id", $"source",
      size(filter(split($"text", " "), x => x =!= "")).cast("long").as("n_toks"))
    val perSource = toks.groupBy($"source").agg(sum($"n_toks").as("t_s"))
    toks.join(perSource, "source")
      // `div`, not `/`: Spark's `/` on longs is true (double) division,
      // which would make the threshold an IEEE quotient while the
      // oracle floors — integer div on both sides keeps the predicate
      // exact (invariant 3)
      .filter(Dedup.h32($"doc_id".cast("string")) <
        expr(s"($Budget * 4294967296) div greatest(t_s, 1L)"))
      .select($"doc_id", $"source", $"n_toks")
  }

  val budgetSampleSql: String =
    s"""WITH toks AS (
       | SELECT doc_id, source,
       |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_toks
       | FROM documents),
       |per_source AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS t_s
       | FROM toks GROUP BY source)
       |SELECT doc_id, toks.source AS source, n_toks
       |FROM toks JOIN per_source ON toks.source = per_source.source
       |WHERE ${Dedup.sqlH32("CAST(doc_id AS VARCHAR)")} < ($Budget * 4294967296) // greatest(t_s, 1)""".stripMargin
      .replace("\n", " ")

  val tokenBudgetSql: String =
    """SELECT source, n_docs, n_tokens,
      | CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS share,
      | CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, source ASC
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |FROM (
      | SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_tokens
      | FROM documents GROUP BY source)""".stripMargin.replace("\n", " ")

  // --------------------------------------- temperature-flattened mixture

  /** Document budget the temperature allocation distributes, and the
    * weight resolution (w = floor(sqrt(n·10^6)) = ~1000·√n, three extra
    * decimal digits of α-weight precision as an exact integer). */
  private[graft] val TempBudget = 300L
  private[graft] val TempScale = 1000000L

  /** Temperature-flattened mixture allocation — α-sampling as used for
    * multilingual LM training mixtures (sample language i with
    * p_i ∝ n_i^α, α<1 upweighting tail languages; the published range
    * is α ∈ [0.3, 0.7]). Complements `Aggs.weightedSample`, which takes
    * externally-given weights and draws exactly k: here the weights
    * derive from the corpus itself and the draw (temperatureSample) is
    * an expected-size Bernoulli threshold that scales to any target.
    *
    * α is pinned to 1/2 — deliberately, for oracle determinism: sqrt is
    * the one power IEEE 754 requires to be CORRECTLY ROUNDED, so
    * w = floor(sqrt(double(n·10^6))) is bit-identical in Spark and
    * DuckDB (int64→double cast is round-half-even in both, sqrt is
    * exact-then-rounded in both, floor of the same double agrees), and
    * every step after it is integer arithmetic. A general-α variant
    * would route through pow/exp·ln, which carry no such guarantee
    * (the ann_lsh / aesKey ulp-contingency class) — α=0.5 sits inside
    * the published range AND is the unique temperature with bit-exact
    * cross-engine semantics, so the full hash oracle is safe with no
    * demote contingency.
    *
    * Exact-integer weights also kill the summation-order problem: the
    * grand total W = Σw is an integer sum (order-free), not a float
    * fold, so the grand-total window needs no frame-order argument.
    * The window runs over ALREADY-AGGREGATED rows (|langs| of them) —
    * the accepted group-cardinality pattern, not a data-sized sort.
    * target_i = min(n_i, (BUDGET·w_i) div W) floors identically in
    * both engines (invariant 3); the min caps oversampled tail
    * languages at their actual size.
    *
    * At 100 TB: one map-side-combinable groupBy(lang) is the only pass
    * over the corpus; everything downstream operates on the
    * |langs|-row allocation table. n up to 10^12 docs keeps n·10^6
    * inside int64, and BUDGET·w_i inside int64 for any budget the
    * int64 doc-id space can express.
    */
  def temperatureMix(t: Tables): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    t.documents.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(($"n_docs" * TempScale).cast(DoubleType))))
      .withColumn("w_total", sum($"w").over(Window.partitionBy()))
      .withColumn("target_docs",
        least($"n_docs", expr(s"($TempBudget * w) div w_total")))
      .drop("w_total")
  }

  val temperatureMixSql: String =
    s"""WITH alloc AS (
       | SELECT lang, count(*) AS n_docs,
       |  CAST(floor(sqrt(CAST(count(*) * $TempScale AS DOUBLE))) AS BIGINT) AS w
       | FROM documents GROUP BY lang)
       |SELECT lang, n_docs, w,
       | least(n_docs, ($TempBudget * w) // CAST(sum(w) OVER () AS BIGINT)) AS target_docs
       |FROM alloc""".stripMargin.replace("\n", " ")

  /** The draw side of `temperatureMix`: keep a document iff
    * h32(doc_id‖':tmix') mod 2^20 < (target·2^20) div n — a
    * deterministic expected-size Bernoulli sample hitting each
    * language's temperature target in expectation. Same auditable
    * integer-threshold shape as `budgetSample`, but on a 2^20 grid
    * instead of 2^32: target·2^20 stays inside int64 even for
    * 10^12-document targets (target·2^32 would overflow at ~2·10^9),
    * so the predicate survives any corpus the int64 id space can hold.
    * The ':tmix' salt keeps this draw independent of the split and
    * budget hashes over the same ids. target = n ⇒ threshold caps at
    * 2^20 ⇒ the whole language is kept (tail languages at their size
    * cap). At 100 TB: the allocation table is |langs| rows (AQE
    * broadcasts the join), the filter is one hash compare per row —
    * the corpus itself never shuffles.
    */
  def temperatureSample(t: Tables): DataFrame = {
    import t.spark.implicits._
    val alloc = temperatureMix(t).select($"lang", $"n_docs", $"target_docs")
    t.documents.select($"doc_id", $"lang", $"source")
      .join(alloc, "lang")
      .filter(Dedup.h32(concat($"doc_id".cast("string"), lit(":tmix"))) % 1048576L <
        least(lit(1048576L), expr("(target_docs * 1048576) div greatest(n_docs, 1L)")))
      .select($"doc_id", $"lang", $"source")
  }

  val temperatureSampleSql: String =
    s"""WITH alloc AS (
       | SELECT lang, count(*) AS n_docs,
       |  CAST(floor(sqrt(CAST(count(*) * $TempScale AS DOUBLE))) AS BIGINT) AS w
       | FROM documents GROUP BY lang),
       |tgt AS (
       | SELECT lang, n_docs,
       |  least(n_docs, ($TempBudget * w) // CAST(sum(w) OVER () AS BIGINT)) AS target_docs
       | FROM alloc)
       |SELECT doc_id, d.lang AS lang, source
       |FROM documents d JOIN tgt ON d.lang = tgt.lang
       |WHERE ${Dedup.sqlH32("CAST(doc_id AS VARCHAR)||':tmix'")} % 1048576
       |  < least(1048576, (target_docs * 1048576) // greatest(n_docs, 1))""".stripMargin
      .replace("\n", " ")

  // ---------------------------------------------------- chunk / pack

  /** Tokens per chunk (context-window slice), chunks per doc cap (the
    * invariant-6 symmetric cap: 128·64 = 8192 token starts covered),
    * tokens per packed sequence, shard count for packing. */
  val ChunkTokens = 64
  val MaxChunksPerDoc = 128
  val SeqTokens = 256
  val PackShards = 32

  /** seq_id = shard·stride + local sequence index. 2^40 local ids per
    * shard = 2^40·256 ≈ 2.8e14 tokens per shard before collision —
    * comfortably above a 100 TB corpus divided across any shard count
    * (2^20 would overflow at ~268M tokens/shard, i.e. immediately at
    * scale); 32·2^40 still sits far inside Long range. */
  val SeqIdStride = 1L << 40

  /** Fixed-token-window chunking — the step that turns documents into
    * training-sequence pieces. Tokenization is the same unfiltered
    * space split the n-gram ops use; every doc yields
    * ceil(n_toks/64) chunks (≥1 — split('') is ['']), capped at 128
    * chunks mirrored by the oracle's range(0, 128). One narrow
    * explode per doc — no shuffle at all: chunking is embarrassingly
    * parallel and stays inside the scan stage at any corpus size.
    * Output cells are scalars (chunk text via concat_ws, invariant 8).
    */
  def chunk(t: Tables): DataFrame = {
    import t.spark.implicits._
    val C = ChunkTokens
    t.widen(t.documents)
      .select($"doc_id", split($"text", " ").as("toks"))
      .select($"doc_id", $"toks",
        explode(expr(s"sequence(0, least((size(toks)+${C - 1}) div $C, $MaxChunksPerDoc) - 1)"))
          .as("ci"))
      .select($"doc_id", $"ci".cast("long").as("chunk_idx"), $"toks")
      .select($"doc_id", $"chunk_idx",
        expr(s"cast(size(slice(toks, cast(chunk_idx*$C+1 as int), $C)) as bigint)").as("n_toks"),
        expr(s"concat_ws(' ', slice(toks, cast(chunk_idx*$C+1 as int), $C))").as("chunk_text"))
  }

  private val chunkSqlCte: String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |chunks AS (
       | SELECT doc_id, toks, CAST(r.range AS BIGINT) AS chunk_idx
       | FROM d JOIN range(0, $MaxChunksPerDoc) r
       |  ON r.range < least((len(toks)+${ChunkTokens - 1})//$ChunkTokens, $MaxChunksPerDoc)),
       |chunked AS (
       | SELECT doc_id, chunk_idx,
       |  CAST(len(toks[CAST(chunk_idx*$ChunkTokens+1 AS INT):CAST(chunk_idx*$ChunkTokens+$ChunkTokens AS INT)]) AS BIGINT) AS n_toks,
       |  array_to_string(toks[CAST(chunk_idx*$ChunkTokens+1 AS INT):CAST(chunk_idx*$ChunkTokens+$ChunkTokens AS INT)], ' ') AS chunk_text
       | FROM chunks)""".stripMargin

  val chunkSql: String =
    s"WITH $chunkSqlCte SELECT doc_id, chunk_idx, n_toks, chunk_text FROM chunked"
      .replace("\n", " ")

  /** Sequence-packing ACCOUNTING: assign every chunk a packed-sequence
    * id and offset, the way a training pipeline concatenates chunks
    * into fixed-length context windows. Greedy concatenation is
    * inherently sequential, so it runs per SHARD — shard =
    * md5-derived hash of doc_id mod `shards` (default
    * [[PackShards]] = 32), the per-worker packing every real
    * pipeline does — and within a shard a running token total
    * over the deterministic (doc_id, chunk_idx) order yields
    * seq_id = shard·[[SeqIdStride]] + start div 256 and
    * seq_off = start mod 256.
    * All integer arithmetic (invariants 3/12). `shards` is the 100 TB
    * parallelism dial, and the cost model is stark: each shard's
    * window streams corpus/shards tokens through ONE task in one
    * ordered pass — at 100 TB, shards=32 means ~3 TB per task, so set
    * shards ∝ total cores (e.g. 4–8× the executor-core count) to keep
    * per-task volume in the tens-of-GB range. Nothing else shuffles.
    * seq_id values depend on the shard count (shard mod + stride), so
    * a given corpus+shards pair is reproducible but different shards
    * values are not comparable; the registered `corpus_pack` oracle
    * is pinned at the default 32.
    * seq_off > 0 rows straddle a boundary iff the packer would split
    * them — downstream chooses split vs pad; the accounting is the
    * auditable part.
    * Deliberately RECOMPUTES [[chunk]] rather than caching it:
    * chunking is a zero-shuffle per-row explode that fuses into the
    * scan stage, and pack's plan prunes `chunk_text` (pinned by
    * CorpusOpsSpec), so the recompute reads only doc_id+text once —
    * whereas caching chunk's output would materialize the whole
    * corpus text a second time (chunk_text ≈ the corpus) for no
    * saved shuffle. Cheaper to recompute at every scale.
    */
  def pack(t: Tables, shards: Int = PackShards): DataFrame = {
    require(shards > 0 && shards.toLong * SeqIdStride > 0 &&
      shards.toLong <= (Long.MaxValue / SeqIdStride),
      s"shards must be in [1, ${Long.MaxValue / SeqIdStride}] to keep seq_id inside Long")
    import t.spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"doc_id".asc, $"chunk_idx".asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    chunk(t)
      .withColumn("shard", Dedup.h32($"doc_id".cast("string")) % shards)
      .withColumn("start", sum($"n_toks").over(w) - $"n_toks")
      .select($"doc_id", $"chunk_idx", $"shard",
        (($"shard" * lit(SeqIdStride)) + expr(s"start div $SeqTokens")).as("seq_id"),
        ($"start" % SeqTokens).as("seq_off"))
  }

  val packSql: String =
    s"""WITH $chunkSqlCte,
       |sh AS (SELECT doc_id, chunk_idx, n_toks,
       |  (${Dedup.sqlH32("CAST(doc_id AS VARCHAR)")} % $PackShards) AS shard
       | FROM chunked),
       |p AS (SELECT doc_id, chunk_idx, shard,
       |  CAST(sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id ASC, chunk_idx ASC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_toks AS start
       | FROM sh)
       |SELECT doc_id, chunk_idx, shard,
       | shard*$SeqIdStride + start//$SeqTokens AS seq_id, start%$SeqTokens AS seq_off
       |FROM p""".stripMargin.replace("\n", " ")

  /** Epoch-salted deterministic training-order shuffle of the packed
    * sequences — the step after [[chunk]]→[[pack]]: a training run
    * reads sequences in "random" order, but a REPRODUCIBLE run derives
    * that order from a pure function of (seq_id, epoch salt), never
    * from RNG state. shuffle_key = h32(seq_id ':' salt) (the library's
    * md5 convention, re-derivable in SQL); within a shard, shard_pos
    * ranks by (shuffle_key, seq_id) — a total order, since colliding
    * 32-bit keys fall back to the unique seq_id. Changing `salt`
    * reshuffles every epoch; salt=0 is the oracle-pinned default.
    *
    * Scale shape: the groupBy(shard, seq_id) collapsing chunks to
    * sequences is map-side combinable, and the per-shard rank window
    * streams seqs/shards rows through one task — the SAME shard-dial
    * cost model as pack's running-total window (set shards ∝ cores;
    * at 100 TB a sequence row is ~3 words of accounting, ~1e9 rows
    * per shard at shards=32, so the dial matters less than pack's).
    * In production the shard file would be WRITTEN in shard_pos order
    * (sortWithinPartitions); the rank column is the auditable
    * contract, not a global materialized position.
    */
  def shuffleSequences(t: Tables, shards: Int = PackShards, salt: Long = 0L): DataFrame = {
    import t.spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"shuffle_key".asc, $"seq_id".asc)
    pack(t, shards)
      .groupBy($"shard", $"seq_id")
      .agg(count(lit(1)).as("n_chunks"))
      .withColumn("shuffle_key",
        Dedup.h32(concat($"seq_id".cast(StringType), lit(":"), lit(salt.toString))))
      .select($"shard", $"seq_id", $"n_chunks", $"shuffle_key",
        row_number().over(w).cast(LongType).as("shard_pos"))
  }

  val shuffleSequencesSql: String = {
    val packCore =
      s"""sh AS (SELECT doc_id, chunk_idx, n_toks,
         |  (${Dedup.sqlH32("CAST(doc_id AS VARCHAR)")} % $PackShards) AS shard
         | FROM chunked),
         |p AS (SELECT doc_id, chunk_idx, shard, n_toks,
         |  CAST(sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id ASC, chunk_idx ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_toks AS start
         | FROM sh)""".stripMargin
    s"""WITH $chunkSqlCte,
       |$packCore,
       |seqs AS (SELECT shard, shard*$SeqIdStride + start//$SeqTokens AS seq_id,
       |   count(*) AS n_chunks
       | FROM p GROUP BY shard, shard*$SeqIdStride + start//$SeqTokens),
       |k AS (SELECT shard, seq_id, n_chunks,
       |  ${Dedup.sqlH32("CAST(seq_id AS VARCHAR) || ':0'")} AS shuffle_key
       | FROM seqs)
       |SELECT shard, seq_id, n_chunks, shuffle_key,
       | row_number() OVER (PARTITION BY shard ORDER BY shuffle_key ASC, seq_id ASC) AS shard_pos
       |FROM k""".stripMargin.replace("\n", " ")
  }
}
