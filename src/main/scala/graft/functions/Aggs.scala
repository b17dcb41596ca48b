package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.col

import graft.io.Tables

/** Typed custom aggregates (`Aggregator[IN, BUF, OUT]`) — the Spark
  * surface for the reference's juice-side folds (SURVEY.md §2.2 D3):
  * arbitrary per-key accumulation in Scala with a mergeable buffer,
  * instead of a Python subprocess folding a key's value file.
  */
object Aggs {

  /** Exact monetary/quantity sum: doubles quantized to 4 decimal places
    * (same HALF_UP quantization as a CAST to DECIMAL(18,4)) accumulated
    * in scaled-long units — exact up to 2^63 units (~9.2e14) and
    * mergeable associatively, then converted to double once at finish.
    * Past 2^63 units it throws ArithmeticException rather than wrap.
    * Matches the engine-portable decimal-sum pattern bitwise.
    */
  def decimalSumOf[T](f: T => Double): Aggregator[T, Long, Double] =
    new Aggregator[T, Long, Double] {
      override def zero: Long = 0L
      override def reduce(b: Long, a: T): Long =
        Math.addExact(b, JBigDecimal.valueOf(f(a)).setScale(4, RoundingMode.HALF_UP)
          .unscaledValue().longValueExact())
      override def merge(b1: Long, b2: Long): Long = Math.addExact(b1, b2)
      override def finish(units: Long): Double =
        new JBigDecimal(java.math.BigInteger.valueOf(units), 4).doubleValue()
      override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
      override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }

  // public: the Catalyst-generated encoder code must reach this class
  final case class LiSlice(l_returnflag: String, l_linestatus: String,
                           l_quantity: Double)

  /** q1-shaped sum through the typed Aggregator surface — oracle-backed
    * proof that custom typed folds reproduce the declarative result.
    */
  def typedSumQuery(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
      .as[LiSlice]
      .groupByKey(r => (r.l_returnflag, r.l_linestatus))
      .agg(decimalSumOf[LiSlice](_.l_quantity).toColumn.name("sum_qty"))
      .select(col("key._1").as("l_returnflag"), col("key._2").as("l_linestatus"),
        col("sum_qty"))
  }

  val typedSumSql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")

  /** Map-side-combinable per-group top-k: a bounded buffer of the k
    * best (value desc, id asc — total order) pairs, trimmed on every
    * reduce/merge. This is the scale-correct alternative to the
    * `row_number() OVER (PARTITION BY g ORDER BY ...)` window for
    * SMALL k over LARGE groups: the window shuffles and sorts every
    * row of every group (a hot group = one reducer sorting its full
    * volume), while this buffer ships at most k pairs per (partition,
    * group) into the exchange — the per-group analog of what
    * TakeOrderedAndProject does globally for q8. State is O(k) per
    * group per task by construction.
    *
    * Ordering matches SQL `ORDER BY v DESC, id ASC` on the IEEE
    * corners too: the comparator is `java.lang.Double.compare(b, a)` —
    * NOT `sortBy(-v)`, whose negation maps every NaN to NaN and so
    * loses DESC's NaN-ranks-first placement, and flips -0.0/0.0.
    * Under Double.compare, NaN > +Inf, so NaN rows rank FIRST in DESC
    * — exactly Spark's and DuckDB's sort order. Residual caveat: SQL
    * engines compare -0.0 = 0.0 (tie broken by id), while
    * Double.compare distinguishes them (0.0 ranks above -0.0); only a
    * group holding BOTH signed zeros with adversarial ids can diverge,
    * and no shipped query produces signed zeros.
    */
  def topKOf[T](k: Int)(value: T => Double, id: T => Long): Aggregator[T, Seq[(Double, Long)], Seq[(Double, Long)]] =
    new Aggregator[T, Seq[(Double, Long)], Seq[(Double, Long)]] {
      private val ord: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
        def compare(x: (Double, Long), y: (Double, Long)): Int = {
          val c = java.lang.Double.compare(y._1, x._1) // v DESC, -0.0 < 0.0
          if (c != 0) c else java.lang.Long.compare(x._2, y._2) // id ASC
        }
      }
      private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
        s.sorted(ord).take(k)
      override def zero: Seq[(Double, Long)] = Vector.empty
      // Buffer invariant: a fully-SORTED prefix of length min(k, seen)
      // established by the last trim, followed by an UNSORTED tail of
      // later acceptances; total size < 2k (trim fires at 2k). The
      // per-row paths (annStream feeds every scored pair of a
      // micro-batch through this):
      //  - reject: once >= k items are buffered, a row no better than
      //    the STALE kth (the sorted prefix's last element) costs ONE
      //    compare and no allocation. Safe: it is worse than k resident
      //    items, so it can never make the final top-k — the threshold
      //    only tightens after a trim.
      //  - accept: an effectively-O(1) Vector append; every k accepts
      //    one O(k log k) sort-trim amortizes to O(log k)/accept. The
      //    old in-place insertion copied the WHOLE buffer per accept —
      //    O(k) each, measured 36.7 s vs the batch twin's 9.6 s on
      //    stream_ann_ivf_pq's rerank=405 shortlist at the 10x
      //    rehearsal (r19).
      // finish() sort-trims, so the result is the exact top-k of all
      // accepted rows — arrival-order-independent, identical to the
      // sort-trim form ((value, id) pairs are distinct, total order).
      // NOTE (r18): this aggregator did NOT beat the row_number window
      // on the BATCH Θ(Q·N) scans — the udaf path pays a per-row
      // encoder conversion that costs more than the Tungsten sort
      // feeding WindowGroupLimit (measured 3.3 s -> 15.8 s on
      // ann_brute_force at 10x when tried); keep the windows there.
      override def reduce(b: Seq[(Double, Long)], a: T): Seq[(Double, Long)] = {
        val x = (value(a), id(a))
        if (b.size < k) {
          // establish the sorted prefix by insertion — only the first
          // k rows of a group pay this O(k) path, and it is what makes
          // b(k-1) below genuinely the kth-best-so-far (an unsorted
          // sub-k buffer made that an arbitrary arrival and wrongly
          // rejected later rows — caught by StreamingSpec's bitwise pin)
          val buf = b.toBuffer
          var i = buf.size
          while (i > 0 && ord.compare(buf(i - 1), x) > 0) i -= 1
          buf.insert(i, x)
          buf.toVector
        }
        else if (ord.compare(b(k - 1), x) <= 0) b
        else {
          val grown = b :+ x
          if (grown.size >= 2 * k) trim(grown) else grown
        }
      }
      override def merge(b1: Seq[(Double, Long)], b2: Seq[(Double, Long)]): Seq[(Double, Long)] =
        trim(b1 ++ b2)
      override def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = trim(b)
      override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
      override def outputEncoder: Encoder[Seq[(Double, Long)]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    }


  final case class OrderSlice(o_orderpriority: String, o_totalprice: Double,
                              o_orderkey: Long)

  /** Top-3 orders by price per priority through the bounded-buffer
    * Aggregator; the exploded (rank, key, price) rows hash-match the
    * row_number-window oracle because the buffer order is total
    * (price desc, orderkey asc) and prices pass through unmodified.
    */
  def topKPerGroupQuery(t: Tables): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.functions.posexplode
    t.orders
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .as[OrderSlice]
      .groupByKey(_.o_orderpriority)
      .agg(topKOf[OrderSlice](3)(_.o_totalprice, _.o_orderkey).toColumn.name("top"))
      .toDF("prio", "top")
      .select(col("prio"), posexplode(col("top")))
      .select(col("prio"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._2").as("o_orderkey"), col("col._1").as("price"))
  }

  val topKPerGroupSql: String =
    """SELECT o_orderpriority AS prio, rnk, o_orderkey, price FROM (
      | SELECT o_orderpriority,
      |  row_number() OVER (PARTITION BY o_orderpriority
      |   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk,
      |  o_orderkey, o_totalprice AS price
      | FROM orders)
      |WHERE rnk <= 3""".stripMargin.replace("\n", " ")

  /** A-ES (Efraimidis–Spirakis) key for weighted reservoir sampling,
    * made DETERMINISTIC: the uniform draw u is derived from the item id
    * by the library's md5 convention (first 8 hex chars as a 32-bit
    * int, the Dedup.h32 shape over the id's decimal string), so
    * u = (h + 0.5) / 2^32 is a pure, exactly-representable function of
    * the id — h + 0.5 and the power-of-two division are exact in
    * double, so ln sees a bitwise-identical argument in any engine.
    * The sample keeps the k items with the LARGEST u^(1/w) —
    * equivalently largest ln(u)/w (ln(u) < 0), which is the form both
    * sides compute: one ln, one IEEE division by the integer weight
    * (clamped to ≥1). P(item in sample) is proportional-ish to w, the
    * weighted-without-replacement guarantee of A-ES (PODS'06).
    *
    * Cross-engine caveat (same class as ann_lsh's accumulation-order
    * pin): ln is correctly-rounded to ≤1 ulp in both JDK and DuckDB's
    * libm but not guaranteed bit-identical; the sample only changes if
    * the boundary pair's keys differ by under 2 ulp, vanishingly rare
    * for hash-spread keys and validated against DuckDB on the testdata.
    * If a DuckDB upgrade ever breaks the hash, demote the query to
    * rows-only (determinism pin stays — the Spark side is pure).
    */
  // one digest per thread: aesKey runs per ROW inside the aggregator's
  // reduce — a fresh MessageDigest (and a hex-string round-trip) per
  // row is pure allocation overhead at corpus scale
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  def aesKey(id: Long, weight: Long): Double = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(java.lang.Long.toString(id).getBytes("UTF-8"))
    // first 4 digest bytes as an unsigned 32-bit int — identical to
    // parsing the first 8 hex chars of the md5 string (big-endian)
    val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    math.log((h + 0.5) / 4294967296.0) / math.max(weight, 1L)
  }

  /** Weighted reservoir sample of k ids per group: [[topKOf]]'s bounded
    * O(k) map-side-combinable buffer ordered by the deterministic
    * [[aesKey]]. The corpus-mixture primitive: sampling a fixed number
    * of docs per stratum with probability ∝ weight (doc length, token
    * count, a q50 hot-key profile) is one pass, no sort, ≤k pairs per
    * (partition, group) into the exchange — at 100 TB the classic way
    * to draw a training mixture without materializing permutations.
    */
  def weightedSampleOf[T](k: Int)(weight: T => Long, id: T => Long): Aggregator[T, Seq[(Double, Long)], Seq[(Double, Long)]] =
    topKOf[T](k)(r => aesKey(id(r), weight(r)), id)

  final case class DocSlice(lang: String, doc_id: Long, n_chars: Long)

  /** Driver-gated entry: 5 docs per language stratum, weighted by
    * n_chars — the mixture sampler over the documents table. Output is
    * (lang, rnk, doc_id): ids and ranks only; the A-ES key orders but
    * never leaves the plan (no transcendental in the oracle output).
    */
  def weightedSampleQuery(t: Tables): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.functions.posexplode
    t.documents
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .as[DocSlice]
      .groupByKey(_.lang)
      .agg(weightedSampleOf[DocSlice](5)(_.n_chars, _.doc_id).toColumn.name("picked"))
      .toDF("lang", "picked")
      .select(col("lang"), posexplode(col("picked")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._2").as("doc_id"))
  }

  val weightedSampleSql: String =
    """SELECT lang, rnk, doc_id FROM (
      | SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
      |  ORDER BY ln((('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT + 0.5)
      |    / 4294967296.0) / greatest(n_chars, 1) DESC, doc_id ASC) AS rnk
      | FROM documents)
      |WHERE rnk <= 5""".stripMargin.replace("\n", " ")

  /** Deterministic training-stream interleave of the mixture draws —
    * orders [[weightedSampleQuery]]-style per-language draws (k per
    * stratum via the same bounded A-ES Aggregator) into ONE
    * reproducible stream by stride scheduling (Waldspurger & Weihl,
    * OSDI'94): each language gets an integer weight w ∈ [1,9]
    * (hash-derived here, a mixing config in production) and a stride
    * 2520/w — 2520 = lcm(1..9), so the division is EXACT integer
    * arithmetic, no float near the ordering — and the r-th draw of a
    * language emits at stream_key = r·stride. Sorting by
    * (stream_key, lang, doc_id) gives the stride-scheduling
    * guarantee: until a stratum exhausts its k draws, every prefix of
    * the stream holds each language within one draw of its
    * w-proportional share — a reproducible curriculum mix with zero
    * RNG state, re-runnable byte-identically on any engine.
    *
    * Scale shape: the input is k·|langs| rows BY CONSTRUCTION (the
    * O(k) map-side-combinable sample buffer), so the single global
    * row_number runs over group-cardinality rows — the same
    * bounded-window argument as the grand-total windows, not a
    * data-sized sort. The [[aesKey]] ln caveat rides along unchanged
    * (ordering only, hash-validated vs DuckDB; if an engine upgrade
    * flips a boundary pair, demote to rows-only, don't chase ulps).
    */
  def mixtureInterleaveQuery(t: Tables, k: Int = 40): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{expr, posexplode, row_number}
    val draws = t.documents
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .as[DocSlice]
      .groupByKey(_.lang)
      .agg(weightedSampleOf[DocSlice](k)(_.n_chars, _.doc_id).toColumn.name("picked"))
      .toDF("lang", "picked")
      .select(col("lang"), posexplode(col("picked")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._2").as("doc_id"))
    val keyed = draws
      .withColumn("w", graft.dedup.Dedup.h32(col("lang")) % 9 + 1)
      .withColumn("stream_key", expr("rnk * (2520 div w)"))
    keyed
      .select(
        row_number().over(Window.orderBy(col("stream_key"), col("lang"), col("doc_id")))
          .cast("long").as("pos"),
        col("lang"), col("rnk"), col("doc_id"), col("stream_key"))
  }

  val mixtureInterleaveSql: String =
    """WITH draws AS (SELECT lang, rnk, doc_id FROM (
      |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
      |   ORDER BY ln((('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))::BIGINT + 0.5)
      |     / 4294967296.0) / greatest(n_chars, 1) DESC, doc_id ASC) AS rnk
      |  FROM documents) WHERE rnk <= 40),
      |k AS (SELECT lang, rnk, doc_id,
      |  rnk * (2520 // (('0x'||substr(md5(lang),1,8))::BIGINT % 9 + 1)) AS stream_key
      | FROM draws)
      |SELECT row_number() OVER (ORDER BY stream_key, lang, doc_id) AS pos,
      | lang, rnk, doc_id, stream_key FROM k""".stripMargin.replace("\n", " ")

  /** Mergeable Misra-Gries heavy-hitter CANDIDATES per group — the
    * ONE MG implementation in the repo: q51 runs this same Aggregator
    * as a single global group (one ≤`counters`-entry row fetched on
    * the driver), and [[mgHeavyHittersPerGroup]] runs it grouped, so
    * candidates stay a column and nothing data-sized ever leaves the
    * executors. Buffer = at most `counters`
    * (value, residual-count) entries; reduce inserts one value, merge
    * sums two sketches, and both prune by subtracting the
    * (counters+1)-th largest count from every entry and dropping the
    * non-positive — the mergeable-summaries MG step (Agarwal et al.,
    * PODS'12), which bounds total undercount by n_g/(counters+1). Any
    * value with in-group frequency above that survives, so with
    * counters+1 > k the candidate set is a SUPERSET of the
    * share > 1/k answer; an exact recount confirms, and the sketch
    * never decides — the same prune-don't-decide trick as q51 and the
    * Bloom semi-join, which is what lets the query keep a full exact
    * hash oracle. State is O(counters) per (task, group); at 100 TB
    * the grouped heavy-hitter profile (per-language hot sources,
    * per-tenant hot keys) costs one map-side-combinable pass plus a
    * candidates-sized recount join, with NO driver round-trip even
    * when the GROUP count itself is unbounded.
    */
  def mgCandidatesOf[T](counters: Int)(value: T => String): Aggregator[T, Map[String, Long], Seq[String]] =
    new Aggregator[T, Map[String, Long], Seq[String]] {
      private def prune(m: Map[String, Long]): Map[String, Long] =
        if (m.size <= counters) m
        else {
          val d = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(counters)
          m.collect { case (v, c) if c > d => v -> (c - d) }
        }
      override def zero: Map[String, Long] = Map.empty
      override def reduce(b: Map[String, Long], a: T): Map[String, Long] = {
        val v = value(a)
        prune(b.updated(v, b.getOrElse(v, 0L) + 1L))
      }
      override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] =
        prune(b1.foldLeft(b2) { case (acc, (v, c)) =>
          acc.updated(v, acc.getOrElse(v, 0L) + c)
        })
      override def finish(b: Map[String, Long]): Seq[String] = b.keys.toSeq.sorted
      override def bufferEncoder: Encoder[Map[String, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
      override def outputEncoder: Encoder[Seq[String]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
    }

  final case class LangSource(lang: String, source: String)

  /** Driver-gated entry: per-language sources holding more than a
    * 1/k share of that language's docs (k=25), MG-candidates then
    * exact recount. Output identical to the plain per-group
    * QUALIFY query, so it carries the full hash oracle; the grand
    * totals per lang come from a window over ALREADY-AGGREGATED
    * (lang, source) rows — group-cardinality input, not N.
    */
  def mgHeavyHittersPerGroup(t: Tables, k: Int = 25, counters: Int = 64): DataFrame = {
    require(counters + 1 > k, "MG superset guarantee needs counters+1 > k")
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, explode, lit, sum, when}
    import org.apache.spark.sql.types.DoubleType
    val cands = t.documents.select(col("lang"), col("source")).as[LangSource]
      .groupByKey(_.lang)
      .agg(mgCandidatesOf[LangSource](counters)(_.source).toColumn.name("cands"))
      .toDF("lang", "cands")
      .select(col("lang"), explode(col("cands")).as("source"))
      .withColumn("is_cand", lit(true))
    // candidates are |groups|·counters rows — no broadcast hint (group
    // count grows with the corpus; AQE owns the physical strategy)
    val counts = t.documents
      .join(cands, Seq("lang", "source"), "left")
      .groupBy(col("lang"), when(col("is_cand"), col("source")).as("src"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      .filter(col("src").isNotNull && col("cnt") * lit(k.toLong) > col("total"))
      .select(col("lang"), col("src").as("source"), col("cnt"), col("total"),
        (col("cnt").cast(DoubleType) / col("total").cast(DoubleType)).as("share"))
  }

  val mgHeavyHittersPerGroupSql: String =
    """SELECT lang, source, cnt, total,
      | CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
      |FROM (
      | SELECT lang, source, count(*) AS cnt,
      |  CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT) AS total
      | FROM documents GROUP BY 1, 2)
      |WHERE cnt * 25 > total""".stripMargin.replace("\n", " ")
}
