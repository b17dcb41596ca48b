package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference has no streaming at all
  * (SURVEY.md §2.5); these are the streaming forms of the batch
  * operators in graft.ops.Relational (q16 hourly windows, q17
  * sessionization), built on watermarked event time so state is bounded
  * on an unbounded 100 TB/day stream: late data beyond the watermark is
  * dropped and window/session state is evicted, never accumulated
  * forever.
  */
object Streams {

  final case class Evt(user_id: Long, event_type: String, ts: Timestamp, value: Double)
  final case class Doc(doc_id: Long, text: String, ts: Timestamp)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
                              session_end: Timestamp, n_events: Long)

  /** Tumbling 1-hour windowed counts with a 1-hour watermark — the
    * streaming twin of Relational.q16EventsHourly. Works on any
    * DataFrame with (ts, event_type, value), batch or streaming.
    */
  def hourlyCounts(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        graft.functions.GraftFunctions.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("cnt"), col("sum_value"))
  }

  /** Hopping (sliding) 30-min/10-min windowed counts — the streaming
    * twin of Relational.q42SlidingWindow. Each event contributes to
    * len/slide = 3 open windows; the watermark closes a window once
    * event time passes its end + 1 hour, so open state is bounded at
    * 3 windows per (grid slot, type) regardless of stream length.
    */
  def hoppingCounts(events: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(events.sparkSession)
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        graft.functions.GraftFunctions.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))
  }

  /** Streaming exact dedup — the ingest-side twin of Dedup.exact for a
    * continuously arriving corpus. Content fingerprint = md5(text);
    * `dropDuplicatesWithinWatermark` keeps the first arrival per
    * fingerprint and evicts that fingerprint's state once the watermark
    * passes the horizon, so state is bounded on an unbounded feed
    * (a plain dropDuplicates would grow keyed state forever). Within
    * the horizon dedup is exact; re-ingests arriving later than the
    * horizon are the periodic batch `Dedup.exact` pass's to catch — the
    * standard stream/batch split for 100 TB/day ingest.
    */
  def dedupStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val withFp = docs.withColumn("fp", md5(col("text").cast(BinaryType)))
    if (docs.isStreaming)
      withFp.withWatermark("ts", horizon).dropDuplicatesWithinWatermark("fp")
    else {
      // Batch-driven (Spark rejects the watermark form on batch frames,
      // and plain dropDuplicates keeps an ARBITRARY row): keep the row
      // whose leading column (doc_id) is smallest per fingerprint —
      // Dedup.exact's canonical-representative rule, so the batch drive
      // is deterministic and oracle-checkable. min(struct) compares
      // lexicographically, doc_id first; one map-side-combinable
      // groupBy on the 128-bit digest, the 100 TB-safe shape.
      val cols = docs.columns
      withFp
        .groupBy(col("fp"))
        .agg(min(struct(cols.map(col): _*)).as("r"))
        .select(cols.map(c => col(s"r.$c")) :+ col("fp"): _*)
    }
  }

  /** Streaming ingest curation — the stream-side sibling of
    * CorpusOps.curated for a continuously arriving corpus: exact
    * in-horizon dedup (bounded state via dropDuplicatesWithinWatermark),
    * the Gopher-style repetition gate evaluated STATELESSLY (a document
    * arrives as one row, so the duplicate-bigram fraction is a pure
    * array expression on that row — no shuffle, no state), and
    * decontamination as a stream-static left-outer join + null filter
    * against the audit's contaminated-id list (stream-static left_anti
    * is unsupported; outer+isNull is the standard equivalent, and the
    * static side re-broadcasts per micro-batch). Append-mode,
    * watermark-bounded — safe on an unbounded ingest feed; the
    * periodic batch `curated` pass remains the cross-horizon backstop
    * (it additionally applies the top-word gate, which is not
    * row-local, and the stratified sample).
    *
    * The repetition gate evaluates CorpusOps.gramExpr(2) row-locally —
    * the SAME capped bigram expression the batch repetition counts
    * explode — so stream and batch agree gram for gram, and driven on
    * a batch frame (where [[dedupStream]] falls back to the
    * deterministic min-doc_id keep rule) the whole gate is
    * oracle-checkable: the `stream_curated` driver entry carries
    * [[graft.pipeline.CorpusOps.curatedStreamSql]] as a FULL hash
    * oracle.
    */
  def curatedStream(docs: DataFrame, contamIds: DataFrame,
                    horizon: String = "1 hour"): DataFrame = {
    // gramExpr resolves the native graft_word_grams since r22 — this
    // is a DataFrame-input path, so register on the session ourselves
    // (the CLAUDE.md graft_h32 rule; Tables() isn't necessarily built)
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val g2 = expr(graft.pipeline.CorpusOps.gramExpr(2))
    // Repetition gate BEFORE the dedup (r21): the gate is a pure
    // function of text and dedup groups rows by md5(text), so every
    // group member gates identically — gate-then-dedup equals
    // dedup-then-gate row for row, and gating first shrinks the
    // dedup's full-row exchange (batch) / keyed state (stream) to the
    // gate's survivors. The decontamination join must STAY after the
    // dedup: it filters by doc_id, which varies within a group, so
    // hoisting it could change which representative survives.
    val gated = docs
      .withColumn("g2", g2)
      .filter((size(col("g2")) - size(array_distinct(col("g2")))) * 5 < size(col("g2")))
      .drop("g2")
    dedupStream(gated, horizon)
      .join(contamIds.select(col("doc_id").as("c_id")),
        col("doc_id") === col("c_id"), "left_outer")
      .filter(col("c_id").isNull)
      .select(col("doc_id"), col("text"), col("ts"))
  }

  /** Streaming temperature-mixture admission gate — the ingest-side
    * twin of CorpusOps.temperatureSample: each arriving document is
    * kept iff its language's temperature-flattened quota admits it,
    * decided by the same deterministic integer-threshold Bernoulli
    * draw (h32(doc_id‖':tmix') mod 2²⁰ vs (target·2²⁰) div n) against
    * the STATIC allocation table (CorpusOps.temperatureMix — |langs|
    * rows, maintained by the nightly batch job over the corpus the
    * stream is growing; the 2²⁰ grid keeps target·2²⁰ inside int64 at
    * 10¹² docs).
    *
    * Completely STATELESS: the draw is one hash compare per row, the
    * allocation join is stream-static on a fixed-|langs| table (AQE
    * broadcasts it), no watermark, no state store — admission control
    * at any ingest rate costs exactly the filter. Batch-driven, the
    * output equals corpus_temperature_sample bit for bit (the draw
    * depends only on doc_id and the static allocation), so it carries
    * temperatureSampleSql as a FULL hash oracle; StreamingSpec pins
    * the real MemoryStream drive against the batch path.
    */
  /** Streaming model-based quality admission gate — the ingest-side
    * twin of TextAnalysis.qualityModel: each arriving document is
    * scored by the SAME hashed-feature linear classifier column
    * (TextAnalysis.modelScore — one shared expression tree, so batch
    * and stream scores are bitwise identical) and admitted iff
    * score > 0.
    *
    * Completely STATELESS, even more so than [[temperatureGate]]:
    * no join at all — the weight model lives inside the per-row fold
    * (kilobyte-scale models; a million-feature model graduates to a
    * stream-static broadcast weight-table join without changing the
    * gate). No watermark, no state store: admission costs exactly one
    * projection + filter per row at any ingest rate. Batch-driven,
    * the output equals text_quality_model's admitted subset bit for
    * bit (the score depends only on the text), so it carries
    * TextAnalysis.qualityGateSql as a FULL hash oracle; StreamingSpec
    * drives the real MemoryStream path against the batch twin.
    */
  def qualityGate(docs: DataFrame): DataFrame = {
    import graft.text.TextAnalysis
    graft.functions.GraftFunctions.register(docs.sparkSession) // modelScore's h32 weights
    docs
      .withColumn("n_tokens",
        size(filter(split(col("text"), " "), x => x =!= "")).cast("long"))
      .withColumn("score", TextAnalysis.modelScore(col("text")))
      .filter(col("score") > 0)
      .select(col("doc_id"), col("n_tokens"), col("score"))
  }

  def temperatureGate(docs: DataFrame, alloc: DataFrame): DataFrame = {
    import graft.dedup.Dedup
    graft.functions.GraftFunctions.register(docs.sparkSession) // h32 below
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(alloc.select(col("lang"), col("n_docs"), col("target_docs")), Seq("lang"))
      .filter(Dedup.h32(concat(col("doc_id").cast("string"), lit(":tmix"))) % 1048576L <
        least(lit(1048576L), expr("(target_docs * 1048576) div greatest(n_docs, 1L)")))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Streaming ingest NEAR-dup — the MinHash twin of [[dedupStream]]
    * and the streaming form of Dedup.incrementalNearDup: each arriving
    * document's near-duplicates in the EXISTING corpus, probed against
    * the corpus's static signature index.
    *
    * The whole per-document pipeline is STATELESS: a doc arrives as
    * one row, so its shingle hashes and K minhashes are pure array
    * expressions (Dedup.rowHashes/sigCols — bitwise the batch groupBy
    * signatures, never exploded into state), band keys are a 4-row
    * explode, and both index joins are stream-static. The only
    * stateful op is the within-watermark pair dedup (a pair colliding
    * in several bands emits identical rows at one event time, so the
    * horizon trivially covers them); state is watermark-evicted. At
    * 100 TB/day the static side is the persistent band/signature index
    * the nightly batch job maintains — the stream probes it, never
    * rebuilds it.
    */
  def nearDupStream(docs: DataFrame, corpusSigs0: DataFrame,
                    horizon: String = "1 hour"): DataFrame = {
    import graft.dedup.Dedup
    graft.functions.GraftFunctions.register(docs.sparkSession) // rowHashes' h32 shingles
    val K = Dedup.kPerms
    // bind by NAME before the positional mb-rename below — a
    // right-arity, wrong-order index must fail loudly (Dedup.bindSigs)
    val corpusSigs = Dedup.bindSigs(corpusSigs0, "corpus")
    val sigs = docs
      .withWatermark("ts", horizon)
      .select(col("doc_id").as("batch_id") +: col("ts") +:
        Dedup.sigCols(Dedup.rowHashes(col("text")), "ma"): _*)
    val withBands = sigs
      .select(col("batch_id") +: col("ts") +:
        (0 until K).map(i => col(s"ma$i")) :+
        explode(array(Dedup.bandStructs("ma"): _*)).as("b"): _*)
      .select(col("batch_id") +: col("ts") +:
        (0 until K).map(i => col(s"ma$i")) :+
        col("b.band").as("band") :+ col("b.key").as("key"): _*)
    val cIndex = corpusSigs
      .select(col("doc_id").as("corpus_id"),
        explode(array(Dedup.bandStructs("m"): _*)).as("b"))
      .select(col("corpus_id"), col("b.band").as("band"), col("b.key").as("key"))
    val sb = corpusSigs.toDF("corpus_id" +: (0 until K).map(i => s"mb$i"): _*)
    val collisions = withBands
      .join(cIndex, Seq("band", "key")) // stream-static
      .select(col("batch_id") +: col("ts") +: col("corpus_id") +:
        (0 until K).map(i => col(s"ma$i")): _*)
    // Multi-band collisions emit identical rows at one event time
    // (same batch doc → same ts and ma*, band/key dropped above), so
    // the pair dedup can sit on either side of the K-wide signature
    // verification without changing the output — duplicates are
    // identical rows, no arbitrary-row hazard. WHERE it sits is a
    // mode-appropriate trade:
    //  - batch (the nightly backfill / bench path): dedup FIRST, so an
    //    exact dup colliding in all BANDS bands costs one wide join +
    //    verification, not BANDS — the dedup exchange is the same
    //    keyed shuffle the post-verify form pays, just over narrower
    //    rows and ahead of the expensive stage;
    //  - streaming: verify FIRST, dedup after, because the watermark
    //    state store is the scarce resource on an unbounded stream —
    //    post-verify state holds only VERIFIED pairs (≥ minMatches),
    //    a small subset of raw band collisions, while micro-batch
    //    stream-static joins are already small per trigger.
    // the K-wide signature verification + projection is ONE definition
    // applied on both sides of the mode-specific dedup — the two modes
    // must stay output-identical (StreamingSpec pins the agreement),
    // so the shared stage must not be able to drift
    def verifyAndProject(cands: DataFrame): DataFrame = cands
      .join(sb, "corpus_id")            // stream-static in stream mode
      .withColumn("matches", Dedup.matchCount("ma", "mb"))
      .filter(col("matches") >= Dedup.minMatches)
    def project(df: DataFrame): DataFrame = df
      .select(col("batch_id"), col("corpus_id"),
        (col("matches") / lit(K.toDouble)).as("est_sim"))
    if (collisions.isStreaming)
      project(verifyAndProject(collisions)
        .dropDuplicatesWithinWatermark("batch_id", "corpus_id"))
    else
      project(verifyAndProject(
        collisions.dropDuplicates("batch_id", "corpus_id")))
  }

  /** Stream-stream interval join — the streaming twin of
    * Relational.q36IntervalJoin: purchases attribute to clicks of the
    * same user within [click, click + windowMinutes). Both sides carry
    * watermarks and the join condition brackets event time in both
    * directions, so Spark derives state-eviction bounds: a click is
    * buffered at most window + watermark before eviction, a purchase
    * never waits on clicks older than the window — bounded state on an
    * unbounded stream. Gap is exact integer microseconds, matching the
    * batch operator column for column (run on batch DataFrames the
    * watermark is a no-op and this IS the batch range join; the
    * StreamingSpec agreement test exploits that).
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      windowMinutes: Int = 10): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", s"$windowMinutes minutes")
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", s"$windowMinutes minutes")
    c.join(p, expr(
      s"c_user = p_user AND p_ts >= c_ts AND " +
        s"p_ts < c_ts + INTERVAL $windowMinutes MINUTES"))
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** Streaming int8 retrieval — the ingest-side twin of
    * Similarity.annInt8: each arriving probe vector searches the STATIC
    * quantized resident index (Similarity.quantizedIndex — the table
    * the nightly batch job maintains) for its top-k neighbors by the
    * scale-corrected integer dot.
    *
    * Stream-safety: probe-side quantization is row-LOCAL pure
    * expressions (cast, fold-norm, scale, floor — bitwise the batch
    * Similarity.withQuantCols chain, never state); the index join is
    * stream-static; the only stateful op is the per-(window, probe)
    * top-k, held in Aggs.topKOf's bounded O(k) buffer and evicted once
    * the watermark passes the probe's window — so state on an
    * unbounded probe stream is k pairs per in-flight probe, not the
    * candidate set. The full-index probe here is the brute-force
    * baseline; at 100 TB the index join keys on the IVF cell
    * (Similarity.annIvfInt8's pruning) so a probe touches nprobe
    * partitions of codes, and the aggregator's map-side trim still
    * ships only k pairs per partition into the exchange.
    *
    * Driven on a batch frame (watermark a no-op, window degenerate per
    * probe) the output equals ann_int8 minus the qdot column bit for
    * bit — Similarity.annStreamSql is its full hash oracle;
    * StreamingSpec pins the batch/stream agreement on a real
    * MemoryStream.
    *
    * Signed-zero note: the score here can be exactly 0.0 (orthogonal
    * quantized vectors) but never -0.0 — qdot is an integer cast and
    * the qp/qc scales are strictly positive, so 0·positive stays
    * +0.0. That is what keeps Aggs.topKOf's ordering identical to the
    * oracle's SQL row_number (topKOf's documented -0.0/0.0 residual
    * caveat cannot fire). A score-formula change that can produce
    * -0.0 (e.g. a float subtraction) would silently reintroduce it.
    */
  /** @param nIndex resident-index cardinality when the caller knows it
    *               (table metadata / the nightly job's row count) —
    *               derives blockedPairs' block count; -1 = unknown →
    *               the 8·par ceiling. */
  def annStream(probes: DataFrame, index0: DataFrame, k: Int = 5,
                horizon: String = "1 hour", nIndex: Long = -1L): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(probes.sparkSession) // idempotent; see annStreamIvf
    // On a real stream the static side re-executes its whole lineage
    // every micro-batch (r15 advisor item) — pin it once. Batch-driven
    // (Verify/Bench) the single job reads it once, so skip the extra
    // materialization there.
    val index = if (probes.isStreaming) index0.localCheckpoint() else index0
    val p = probes
      .withWatermark("ts", horizon)
      .select(col("vec_id").as("probe_id"), col("ts"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(GraftFunctions.graftDot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("q", call_function("graft_quant", col("v"), col("nrm")))
      .withColumn("qp", col("q.qmax"))
      .withColumn("cp", col("q.codes").cast("array<double>"))
      .select(col("probe_id"), col("ts"), col("qp"), col("cp"))
    val idx = index.select(col("vec_id").as("cand_id"),
      col("qmax").as("qc"), col("codes").cast("array<double>").as("cc"))
    // stream-static, block-salted: the theta form would broadcast the
    // RESIDENT INDEX side (BNLJ BuildRight) into every micro-batch —
    // Similarity.blockedPairs keys it once by block instead (the
    // arriving probes are the replicated side; the index shuffles by
    // pmod(cand_id) exactly as in the batch twin).
    val scored = graft.sim.Similarity.blockedPairs(p, idx, nIndex)
      .withColumn("qdot", GraftFunctions.graftDot(col("cp"), col("cc")).cast(LongType))
      .withColumn("score", col("qdot") * col("qp") * col("qc") / lit(16129.0))
    val topk = udaf(graft.functions.Aggs.topKOf[(Double, Long)](k)(_._1, _._2),
      Encoders.product[(Double, Long)])
    scored
      .groupBy(window(col("ts"), horizon), col("probe_id"))
      .agg(topk(col("score"), col("cand_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col._2").as("cand_id"),
        (col("pos") + 1).cast("long").as("rnk"), col("col._1").as("score"))
  }

  /** Cell-keyed streaming int8 retrieval — the production probe shape
    * [[annStream]]'s scaladoc promises: instead of scoring every
    * resident, each arriving probe ranks the nlist coarse centroids
    * ROW-LOCALLY and joins only its nprobe nearest cells of the static
    * cell-partitioned codes index (Similarity.quantizedCellIndex), so
    * per-probe candidate work drops by ~nlist/nprobe and, at 100 TB, a
    * probe touches nprobe partitions of the codes table instead of all
    * of it.
    *
    * The centroid ranking needs no window function (streams can't run
    * row_number): the centroids arrive as DRIVER-SIDE constants (the
    * coarse quantizer is a tiny model artifact, nlist × 64 doubles)
    * baked into one array-of-structs literal; cdist = ‖c‖² − 2·p·c per
    * element, array_sort's struct ordering gives exactly the
    * (cdist asc, cell asc) total order of the batch path's
    * row_number, and slice takes the nprobe head. All row-local —
    * the stream's only stateful op remains the bounded per-(window,
    * probe) top-k, as in [[annStream]]. (A 65k-cell production index
    * would graduate the literal to a broadcast join + per-group
    * bounded top-k aggregator; the shape is unchanged.)
    *
    * Because cells partition the corpus (a candidate appears via
    * exactly one cell) and every arithmetic step reuses the batch
    * expressions, driving this on a batch frame yields
    * Similarity.annIvfInt8's output minus qdot bit for bit —
    * StreamingSpec pins that, plus the candidate-count reduction.
    * Rows-only like ann_ivf_int8 (the KMeans fit isn't
    * SQL-derivable); check.py bands recall@5 vs ann_brute_force.
    * Same signed-zero argument as [[annStream]]: integer qdot ×
    * positive scales can't produce -0.0, so topKOf's order stays
    * identical to the batch row_number.
    */
  /** (cdist, cell) structs for every centroid, sorted by the batch
    * path's (cdist asc, cell asc) order, as ONE row-local array
    * expression over the probe's raw vector column `v`. ‖c‖² is
    * precomputed driver-side with the same left-to-right fold as
    * graft_dot; p·c uses graft_dot itself (r21 — the accessor takes
    * array literals now that it routes through call_function), so
    * cdist here equals Similarity.annIvfInt8's
    * `dot(centroid,centroid) − 2·dot(vp,centroid)` bit for bit.
    */
  private[graft] def rankedCellArray(centroids: Seq[(Int, Seq[Double])],
                                     v0: Column): Column = {
    // Dimension guard (r15, advisor item): zip_with null-pads when the
    // probe's length differs from the centroid's, which would silently
    // rank cells differently from the batch path's graft_dot — a
    // malformed embedding must fail LOUDLY instead.
    val dim = centroids.head._2.length
    val v = when(size(v0) === dim, v0).otherwise(raise_error(concat(
      lit(s"probe vector dimension != $dim: got "), size(v0).cast("string"))))
    // graft_dot (codegen'd, same left-fold) instead of the interpreted
    // aggregate(zip_with(...)) — this expression runs nlist times per
    // probe row; the accessor takes array literals since the r21
    // call_function fix. Bitwise unchanged per DotProduct's scaladoc.
    array_sort(array(centroids.map { case (cellId, cv) =>
      val cnorm2 = { var s = 0.0; cv.foreach(x => s += x * x); s }
      val pdotc = graft.functions.GraftFunctions.graftDot(v, typedLit(cv))
      struct((lit(cnorm2) - lit(2.0) * pdotc).as("cdist"),
        lit(cellId).as("cell"))
    }: _*))
  }

  def annStreamIvf(probes: DataFrame, cellIndex: DataFrame,
                   centroids: Seq[(Int, Seq[Double])], k: Int = 5,
                   nprobe: Int = 0, horizon: String = "1 hour"): DataFrame = {
    import graft.functions.GraftFunctions
    // nprobe derives from the index's own cell count by default — the
    // stream stays bit-consistent with the batch annIvfInt8 twin at
    // any corpus size (both resolve nprobeFor(nlist))
    val np = if (nprobe > 0) nprobe else graft.sim.Similarity.nprobeFor(centroids.size)
    // graftDot parses to the session-registered graft_dot function —
    // register defensively (idempotent) rather than relying on an
    // earlier withNorm/quantizedCellIndex call on the same session
    // having done it (r15 advisor item: an externally built index
    // would otherwise hit an unresolved-function analysis error).
    GraftFunctions.register(probes.sparkSession)
    // Same static-side pinning as [[annStream]] (r15 advisor item): a
    // continuous run must not re-run the KMeans transform + quantization
    // lineage per micro-batch; batch-driven it is a single read.
    val index = if (probes.isStreaming) cellIndex.localCheckpoint() else cellIndex
    val rankedCells = rankedCellArray(centroids, col("v"))
    val p = probes
      .withWatermark("ts", horizon)
      .select(col("vec_id").as("probe_id"), col("ts"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(GraftFunctions.graftDot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("q", call_function("graft_quant", col("v"), col("nrm")))
      .withColumn("qp", col("q.qmax"))
      .withColumn("cp", col("q.codes").cast("array<double>"))
      .withColumn("pc", explode(slice(rankedCells, 1, np)))
      .select(col("probe_id"), col("ts"), col("qp"), col("cp"),
        col("pc.cell").as("cell"))
    val idx = index.select(col("vec_id").as("cand_id"), col("cell"),
      col("qmax").as("qc"), col("codes").cast("array<double>").as("cc"))
    // stream-static, cell-keyed; width pinned (Similarity.cellJoin —
    // the byte-small inputs otherwise AQE-coalesce the scored-pair
    // stage to a few tasks)
    val scored = graft.sim.Similarity.cellJoin(p, idx)
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("qdot", GraftFunctions.graftDot(col("cp"), col("cc")).cast(LongType))
      .withColumn("score", col("qdot") * col("qp") * col("qc") / lit(16129.0))
    val topk = udaf(graft.functions.Aggs.topKOf[(Double, Long)](k)(_._1, _._2),
      Encoders.product[(Double, Long)])
    scored
      .groupBy(window(col("ts"), horizon), col("probe_id"))
      .agg(topk(col("score"), col("cand_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col._2").as("cand_id"),
        (col("pos") + 1).cast("long").as("rnk"), col("col._1").as("score"))
  }

  /** Streaming IVFPQ retrieval — the ingest-side twin of
    * [[graft.sim.Similarity.annIvfPq]], closing the retrieval matrix
    * (batch/stream × int8/pq). The batch query's three stages map onto
    * streaming operators one for one:
    *   1. cell ranking — row-local over the driver-side centroid
    *      constants ([[rankedCellArray]], the same (cdist asc, cell
    *      asc) total order as the batch TopCells assignment);
    *   2. ADC shortlist — stream-static cell join against the SAME
    *      decoded resident index the batch query scans
    *      (Similarity.ivfPqDecodedCodes: uhat exists only in flight,
    *      the persisted artifact stays m bytes/resident), scored
    *      adc = up·uhat, top-`rerank` per (window, probe) via the
    *      bounded O(rerank) topKOf aggregator — the probe's float
    *      vector rides the aggregate as a first() so the exact stage
    *      needs no stream-stream rejoin;
    *   3. exact re-rank — a second stream-static join to the resident
    *      floats, true cosines, top-k via a CHAINED windowed
    *      aggregation (window(window_time(window), horizon) — the
    *      multiple-stateful-operator form Spark supports in append
    *      mode; both aggs share the probe's event-time window, so
    *      state stays bounded per (window, probe)).
    *
    * Every arithmetic step reuses the batch expressions (graft_dot
    * scores, shared index/floats definitions, same rerank depth and
    * tiebreaks), so batch-driven output equals annIvfPq's bit for bit
    * minus the rnk type — StreamingSpec pins that plus a real
    * MemoryStream drive. Rows-only like the rest of the IVF family
    * (KMeans + Lloyd fits); check.py bands recall@5 vs
    * ann_brute_force like its siblings.
    */
  def annStreamIvfPq(probes: DataFrame, pqIndex: DataFrame,
                     centroids: Seq[(Int, Seq[Double])], floats: DataFrame,
                     rerank: Int, k: Int = 5, nprobe: Int = 0,
                     horizon: String = "1 hour"): DataFrame = {
    import graft.functions.GraftFunctions
    val np = if (nprobe > 0) nprobe else graft.sim.Similarity.nprobeFor(centroids.size)
    GraftFunctions.register(probes.sparkSession)
    // same static-side pinning as the sibling retrieval streams: a
    // continuous run must not replay the KMeans/Lloyd + decode lineage
    // per micro-batch
    val index = if (probes.isStreaming) pqIndex.localCheckpoint() else pqIndex
    val flts = if (probes.isStreaming) floats.localCheckpoint() else floats
    val rankedCells = rankedCellArray(centroids, col("v"))
    val p = probes
      .withWatermark("ts", horizon)
      .select(col("vec_id").as("probe_id"), col("ts"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("pnrm", sqrt(GraftFunctions.graftDot(col("v"), col("v"))))
      .filter(col("pnrm") > 0)
      // same normalization expression as the batch probes (bit-equal up)
      .withColumn("up", graft.functions.GraftFunctions.vdiv(col("v"), col("pnrm")))
      .withColumn("pc", explode(slice(rankedCells, 1, np)))
      .select(col("probe_id"), col("ts"), col("v").as("vp"), col("pnrm"),
        col("up"), col("pc.cell").as("cell"))
    val idx = index.select(col("cand_id"), col("cell"), col("uhat"))
    val topRr = udaf(graft.functions.Aggs.topKOf[(Double, Long)](rerank)(_._1, _._2),
      Encoders.product[(Double, Long)])
    val topK = udaf(graft.functions.Aggs.topKOf[(Double, Long)](k)(_._1, _._2),
      Encoders.product[(Double, Long)])
    // stage 2: cell-keyed stream-static ADC, width pinned (cellJoin)
    val shortlist = graft.sim.Similarity.cellJoin(p, idx)
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("adc", GraftFunctions.graftDot(col("up"), col("uhat")))
      .groupBy(window(col("ts"), horizon), col("probe_id"))
      .agg(topRr(col("adc"), col("cand_id")).as("top"),
        first(col("vp")).as("vp"), first(col("pnrm")).as("pnrm"))
      .select(col("window"), col("probe_id"), col("vp"), col("pnrm"),
        explode(col("top")).as("s"))
      .select(col("window"), col("probe_id"), col("vp"), col("pnrm"),
        col("s._2").as("cand_id"))
    // stage 3: exact re-rank of the bounded shortlist
    shortlist
      .join(flts, "cand_id")
      .withColumn("cos", GraftFunctions.graftDot(col("vp"),
        col("vc").cast("array<double>")) / (col("pnrm") * col("nc")))
      .groupBy(window(window_time(col("window")), horizon), col("probe_id"))
      .agg(topK(col("cos"), col("cand_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col._2").as("cand_id"),
        (col("pos") + 1).cast("long").as("rnk"), col("col._1").as("cos"))
  }

  /** Streaming IVF-index maintenance — the write path the retrieval
    * streams' scaladocs keep referencing ("the nightly batch job
    * maintains the index; the stream probes it") taken streaming
    * itself: each arriving vector is quantized and cell-assigned
    * ROW-LOCALLY (the same nrm→u→qmax→codes chain the probes run,
    * plus a nearest-centroid pick over the broadcast-scale centroid
    * constants via [[rankedCellArray]]), producing the (vec_id, cell,
    * qmax, codes) rows an append sink adds to the cell-partitioned
    * codes table. COMPLETELY STATELESS — no watermark, no state
    * store, no shuffle: index ingestion costs exactly one projection
    * per vector at any rate, and a periodic batch job only re-FITS
    * the coarse quantizer (drift), never re-ingests.
    *
    * Batch-driven, the quantization columns are bitwise
    * emb_quantize_int8's (the same expression chain), which check.py
    * band-pins per vec_id; the cell pick is the probes' expression,
    * so index and probe sides agree on geometry by construction —
    * StreamingSpec additionally pins exact agreement with the MLlib
    * transform the batch builder uses, and drives a real MemoryStream
    * against the batch path. Rows-only at the driver (the KMeans
    * centroids aren't SQL-derivable).
    */
  def indexAppend(vectors: DataFrame,
                  centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(vectors.sparkSession)
    val rankedCells = rankedCellArray(centroids, col("v"))
    vectors
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(GraftFunctions.graftDot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .withColumn("q", call_function("graft_quant", col("v"), col("nrm")))
      .withColumn("qmax", col("q.qmax"))
      .withColumn("codes", col("q.codes"))
      .withColumn("cell", element_at(rankedCells, 1).getField("cell"))
      .select(col("vec_id"), col("cell"), col("qmax"),
        concat_ws(":", transform(col("codes"), x => x.cast(StringType))).as("codes"),
        aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"))
  }

  /** Streaming SemDeDup — the ingest-side probe of the batch
    * [[graft.sim.Similarity.semanticDedup]]: each arriving vector is
    * normalized and cell-assigned ROW-LOCALLY (the same
    * [[rankedCellArray]] centroid ranking as the retrieval streams,
    * sliced to the batch blocking's `assign` count), stream-static
    * joins ONLY its assigned cells of the corpus's semantic index
    * (cell, cand_id, rep_id, vc, nc — [[graft.sim.Similarity
    * .semanticIndex]]), and is kept iff no corpus vector in those
    * cells reaches `minCos`; a dropped arrival maps to its best
    * match's cluster representative. The left-outer join + a sentinel
    * −1 score keeps arrivals with NO cell candidates in the output
    * (kept = 1) without any stream-stream machinery; the only stateful
    * op is the bounded per-(window, vec) top-1 aggregator, identical
    * in shape to [[annStreamIvf]]'s top-k. Scale: O(assign) index
    * partitions touched per arrival, the corpus is never rescanned.
    *
    * Batch-driven it reproduces the batch blocking's candidate
    * geometry exactly (same cdist expressions bit for bit), so
    * check.py bands keep/drop agreement with dedup_semantic on the
    * arrival slice; rows-only at the driver (KMeans centroids).
    */
  def semanticDedupStream(vectors: DataFrame, semIndex: DataFrame,
                          centroids: Seq[(Int, Seq[Double])], assign: Int = 0,
                          minCos: Double = 0.35,
                          horizon: String = "1 hour"): DataFrame = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(vectors.sparkSession)
    val a = if (assign > 0) assign
      else graft.sim.Similarity.assignFor(centroids.size)
    // same static-side pinning as the retrieval streams: a continuous
    // run must not replay the KMeans + CC lineage per micro-batch
    val index = if (vectors.isStreaming) semIndex.localCheckpoint() else semIndex
    val rankedCells = rankedCellArray(centroids, col("v"))
    val p = vectors
      .withWatermark("ts", horizon)
      .select(col("vec_id"), col("ts"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(GraftFunctions.graftDot(col("v"), col("v"))))
      .withColumn("pc", explode(slice(rankedCells, 1, a)))
      .select(col("vec_id"), col("ts"), col("v"), col("nrm"),
        col("pc.cell").as("cell"))
    val idx = index.select(col("cell"), col("cand_id"), col("rep_id"),
      col("vc"), col("nc"))
    val scored = p.join(idx, Seq("cell"), "left_outer")
      // self-matches, empty cells, and zero-norm arrivals (cosine
      // undefined — the batch side emits them kept=1, rep=self) score
      // the −1 sentinel (below any real cosine) instead of being
      // filtered, so every arrival keeps >= 1 row into the aggregate
      // and a no-match doc emits kept=1
      .withColumn("score",
        when(col("cand_id").isNull || col("cand_id") === col("vec_id") ||
            col("nrm") <= 0, lit(-1.0))
          .otherwise(GraftFunctions.graftDot(col("v"), col("vc")) /
            (col("nrm") * col("nc"))))
      .withColumn("cand_rep", coalesce(col("rep_id"), lit(-1L)))
    val top1 = udaf(graft.functions.Aggs.topKOf[(Double, Long)](1)(_._1, _._2),
      Encoders.product[(Double, Long)])
    scored
      .groupBy(window(col("ts"), horizon), col("vec_id"))
      .agg(top1(col("score"), col("cand_rep")).as("best"))
      .select(col("vec_id"), element_at(col("best"), 1).as("b"))
      // drop iff a corpus match clears minCos AND its representative
      // is someone else: batch-driven, an arrival that is its own
      // cluster's canonical keeper finds its mates in the index but
      // they map back to IT — it must stay kept, exactly as the batch
      // CC's min-id rule decided. (On a true out-of-corpus arrival the
      // self-rep case cannot arise and the clause is inert.)
      .select(col("vec_id"),
        when(col("b._1") >= minCos && col("b._2") =!= col("vec_id"),
          col("b._2")).otherwise(col("vec_id")).as("rep_id"),
        when(col("b._1") >= minCos && col("b._2") =!= col("vec_id"), 0)
          .otherwise(1).cast("int").as("kept"))
  }

  /** Streaming fuzzy-KEY dedup — the edit-distance member of the
    * ingest-probe family ([[dedupStream]] exact digests,
    * [[nearDupStream]] MinHash bands): each arriving document's corpus
    * matches within Levenshtein Dedup.EdMaxDist of its 64-char key,
    * probed against the corpus's STATIC key table (the persistent
    * 7-rows-per-key PassJoin block index derives from it; callers own
    * its residency for continuous runs, as with the ANN cell index).
    *
    * The per-document pipeline is STATELESS: key, length, and the
    * shifted probe windows are pure row-local expressions (a flatMap-
    * shaped explode, legal pre-aggregation in append mode), both the
    * block join and the key-fetch join are stream-static, and the
    * banded `levenshtein` verify is a per-row filter. The only state
    * is the within-watermark pair dedup (a pair matching on several
    * blocks emits identical rows at one event time). Driven on a
    * batch frame the output equals [[graft.dedup.Dedup.incrementalEdit]]
    * bit for bit, so the driver entry carries incrementalEditSql as a
    * FULL hash oracle.
    */
  def editDedupStream(docs: DataFrame, corpusKeys0: DataFrame,
                      horizon: String = "1 hour"): DataFrame = {
    import graft.dedup.Dedup
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val corpusKeys = corpusKeys0
      .select(col("doc_id").as("match_id"), col("k").as("kc"), col("l").as("lc"))
    val cIndex = Dedup.edBlocks(
      corpusKeys0.filter(col("l") >= Dedup.EdBlockMinLen))
      .toDF("match_id", "hc1", "hc2", "bl", "bj", "bc")
    val keyed = docs
      .withWatermark("ts", horizon)
      .withColumn("k", substring(col("text"), 1, 64))
      .withColumn("l", length(col("k")))
      .withColumn("h1", Dedup.edHistWord(col("k"), 0))
      .withColumn("h2", Dedup.edHistWord(col("k"), 1))
    // ts/key/length/histogram ride THROUGH the probe explode
    // (edProbeExpr is the shared generator) — re-attaching them after
    // the block join would be a stream-stream self-join, which append
    // mode cannot bound. The histogram-L1 candidate filter (lossless,
    // Dedup.edKeys) runs right after the stream-static block join,
    // same placement as the batch family.
    val longCand = keyed.filter(col("l") >= Dedup.EdBlockMinLen)
      .select(col("doc_id"), col("ts"), col("k").as("kb"), col("l").as("lb"),
        col("h1"), col("h2"), explode(expr(Dedup.edProbeExpr)).as("e"))
      .select(col("doc_id"), col("ts"), col("kb"), col("lb"),
        col("h1"), col("h2"),
        col("e.bl").as("bl"), col("e.bj").as("bj"), col("e.bc").as("bc"))
      .join(cIndex, Seq("bl", "bj", "bc")) // stream-static
      .filter(Dedup.edHistL1(docs.sparkSession, col("h1"), col("h2"),
        col("hc1"), col("hc2")) <= lit(2 * Dedup.EdMaxDist))
      .select(col("doc_id"), col("ts"), col("kb"), col("lb"), col("match_id"))
    // residue covers sub-7-char keys from both orientations (pigeonhole
    // needs min(lb, lc) >= 7; partner <= 12 by the length bound) as
    // length-banded stream-static EQUI-joins — per-band work, and no
    // unconditioned stream-static join for append mode to reject
    val shortCand = keyed.filter(col("l") < Dedup.EdBlockMinLen)
      .select(col("doc_id"), col("ts"), col("k").as("kb"), col("l").as("lb"),
        col("l").as("band"))
      .join(corpusKeys0.filter(col("l") < Dedup.EdBlockMinLen + Dedup.EdMaxDist)
        .select(col("doc_id").as("match_id"),
          explode(expr(Dedup.edBandExpr)).as("band")), "band")
      .select(col("doc_id"), col("ts"), col("kb"), col("lb"), col("match_id"))
      .union(keyed.filter(col("l") < Dedup.EdBlockMinLen + Dedup.EdMaxDist)
        .select(col("doc_id"), col("ts"), col("k").as("kb"), col("l").as("lb"),
          explode(expr(Dedup.edBandExpr)).as("band"))
        .join(corpusKeys0.filter(col("l") < Dedup.EdBlockMinLen)
          .select(col("doc_id").as("match_id"), col("l").as("band")), "band")
        .select(col("doc_id"), col("ts"), col("kb"), col("lb"), col("match_id")))
    // Static-side existence probe (the stream side cannot be probed,
    // but doesn't need to be): a short pair needs min(lb, lc) < 7 and
    // partner <= 12, so the CORPUS side of every short pair is < 13
    // chars — if the static index has no such key, both residue legs
    // are empty and their ~6 AQE stages are pure dispatch waste
    // (r21; the batch edCandidatePairs probe's streaming analogue).
    val candAll =
      if (corpusKeys0.filter(col("l") < Dedup.EdBlockMinLen + Dedup.EdMaxDist)
        .isEmpty) longCand
      else longCand.union(shortCand)
    val verified = candAll
      .join(corpusKeys, "match_id")   // stream-static
      .filter(abs(col("lb") - col("lc")) <= Dedup.EdMaxDist)
      .withColumn("dist", levenshtein(col("kb"), col("kc"), Dedup.EdMaxDist))
      .filter(col("dist") >= 0 && col("dist") <= Dedup.EdMaxDist)
      .select(col("doc_id"), col("match_id"), col("ts"), col("dist"))
    val deduped =
      if (verified.isStreaming)
        verified.dropDuplicatesWithinWatermark("doc_id", "match_id")
      else verified.dropDuplicates("doc_id", "match_id")
    deduped.select(col("doc_id"), col("match_id"), col("dist"))
  }

  /** Event-time sessionization with explicit state: sessions close after
    * `gapMinutes` of per-user silence (state timeout = watermark-driven
    * eviction). The streaming twin of Relational.q17Sessionize.
    */
  def sessionize(events: Dataset[Evt], gapMinutes: Int = 30): Dataset[SessionOut] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[SessionOut] =
      Encoders.product[SessionOut]
    implicit val stateEnc: org.apache.spark.sql.Encoder[(Timestamp, Timestamp, Long)] =
      Encoders.tuple(Encoders.TIMESTAMP, Encoders.TIMESTAMP, Encoders.scalaLong)
    val gapMs = gapMinutes * 60000L

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[(Timestamp, Timestamp, Long), SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Evt],
         state: GroupState[(Timestamp, Timestamp, Long)]) =>
          if (state.hasTimedOut) {
            val (start, last, n) = state.get
            state.remove()
            Iterator(SessionOut(userId, start, last, n))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var out = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some((start, last, n)) if e.ts.getTime - last.getTime <= gapMs =>
                  cur = Some((start, e.ts, n + 1))
                case Some((start, last, n)) =>
                  out ::= SessionOut(userId, start, last, n)
                  cur = Some((e.ts, e.ts, 1L))
                case None =>
                  cur = Some((e.ts, e.ts, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s._2.getTime + gapMs)
            }
            out.reverseIterator
          }
      }
  }
}
