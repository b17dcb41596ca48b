package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed

import graft.functions.{Aggs, GraftFunctions}

/** `graft_dsum` returns the double the CAST form it replaces returns,
  * bit for bit, on the same rows: `graft_dsum(x)` against
  * `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)` and
  * `graft_dsum(x, d)` against the discounted-revenue form. */
class DecimalSumSpec extends SparkSuite {

  private val castSum = "CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)"
  private val castDisc = "CAST(SUM(CAST(CAST(x AS DECIMAL(18,4)) * " +
    "(CAST(1 AS DECIMAL(18,4)) - CAST(d AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE)"

  private val schema = StructType(Seq(StructField("g", IntegerType),
    StructField("x", DoubleType), StructField("d", DoubleType)))

  private type R = (Int, java.lang.Double, java.lang.Double)

  /** (g, x, d) rows dealt round-robin over `parts` partitions, so every
    * group's partial sums go through the merge. */
  private def frame(rows: Seq[R], parts: Int = 3): DataFrame = {
    GraftFunctions.register(spark)
    val rdd = spark.sparkContext.parallelize(rows.map { case (g, x, d) => Row(g, x, d) }, parts)
    spark.createDataFrame(rdd, schema)
  }

  private def bits(v: Any): Option[Long] =
    Option(v).map(d => java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double]))

  /** Per group: (graft_dsum(x), cast sum, graft_dsum(x, d), cast disc),
    * as raw double bits (None = null). */
  private def sums(df: DataFrame): Map[Int, Seq[Option[Long]]] =
    df.groupBy("g")
      .agg(expr("graft_dsum(x)"), expr(castSum), expr("graft_dsum(x, d)"), expr(castDisc))
      .collect().map(r => r.getInt(0) -> (1 to 4).map(i => bits(r.get(i)))).toMap

  /** The groups where either form differs from its CAST twin. */
  private def mismatches(rows: Seq[R], parts: Int = 3): Map[Int, Seq[Option[Long]]] =
    sums(frame(rows, parts)).filter { case (_, s) => s(0) != s(1) || s(2) != s(3) }

  private def withConf[A](key: String, value: String)(f: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def box(x: Double): java.lang.Double = java.lang.Double.valueOf(x)

  private val TwoTo36 = 68719476736.0

  /** The listed corners: 0–6 decimals with fifth-decimal HALF_UP ties,
    * signed zero, scientific-notation toString, the fast path's edge,
    * the largest DECIMAL(18,4)-sized values. */
  private val corners: Seq[Double] = Seq(0.1, 0.2, 0.25, 3.0, 1.005, 2.675, 123.456789,
    0.99995, 1.23455, -1.23455, 0.00005, -0.00005, 0.00015, 2.00025, 1e-4, 1e-5, 1e-6,
    -0.0, 0.0, TwoTo36, -TwoTo36, Math.nextDown(TwoTo36), TwoTo36 + 0.5, 9.99e13, -9.99e13,
    99999999999999.99, 12345678.123456)

  private val discounts: Seq[Double] = Seq(0.0, 0.05, 0.1, 0.06, 0.00005, 1.5, -0.25, 0.123456)

  test("graft_dsum corners match the CAST forms bit for bit") {
    // one group per corner, one group holding them all, and a price
    // times each discount for the discounted form
    val rows: Seq[R] = corners.zipWithIndex.flatMap { case (x, i) =>
      discounts.filter(d => math.abs(x * (1 - d)) < 9.99e13).map(d => (i, box(x), box(d)))
    } ++ corners.map(x => (1000, box(x), box(0.07)))
    Seq("true", "false").foreach { wholeStage =>
      withConf("spark.sql.codegen.wholeStage", wholeStage) {
        assert(mismatches(rows).isEmpty, s"wholeStage=$wholeStage")
      }
    }
    withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN") {
      withConf("spark.sql.codegen.wholeStage", "false") {
        assert(mismatches(rows).isEmpty, "interpreted")
      }
    }
  }

  test("nulls, an all-null group and empty input give what the CAST forms give") {
    val rows: Seq[R] = Seq((1, null, box(0.05)), (1, box(2.5), null), (1, box(1.25), box(0.1)),
      (2, null, null), (2, null, box(0.1)), (3, box(7.0), null))
    val s = sums(frame(rows))
    assert(mismatches(rows).isEmpty, s)
    assert(s(2).forall(_.isEmpty), "an all-null group sums to null")
    assert(s(3)(2).isEmpty, "a null discount is a skipped row")
    val empty = frame(Nil).agg(expr("graft_dsum(x)"), expr(castSum),
      expr("graft_dsum(x, d)"), expr(castDisc)).collect()
    assert(empty.length == 1 && (0 until 4).forall(empty.head.isNullAt))
    assert(sums(frame(Nil)).isEmpty)
  }

  test("a sum past 2^63 units carries across partitions") {
    val big = 99999999999999.99
    val rows: Seq[R] = Seq.fill(20)((1, box(big), box(0.0))) :+ ((2, box(big), box(0.5)))
    Seq(2, 5).foreach { parts =>
      val s = sums(frame(rows, parts))
      assert(s(1)(0) == s(1)(1) && s(1)(2) == s(1)(3), s"parts=$parts")
      // 20 × ~10^18 units
      assert(java.lang.Double.longBitsToDouble(s(1)(0).get) > Long.MaxValue / 1e4)
    }
  }

  /** The first SparkThrowable's condition in `t`'s cause chain. */
  private def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(t.toString)

  /** One aggregate's per-group result bits, or the error's condition. */
  private def outcome(df: DataFrame, agg: String): Either[String, Map[Int, Option[Long]]] =
    try Right(df.groupBy("g").agg(expr(agg)).collect()
      .map(r => r.getInt(0) -> bits(r.get(1))).toMap)
    catch { case e: Exception => Left(condition(e)) }

  test("NaN, ±Inf and 1e15 are skipped or fail exactly as the cast does, ANSI on and off") {
    // the last pair's (1 - d) overflows the DECIMAL(18,4) product
    val cases = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e15)
      .map((_, 0.05)) :+ ((1000.0, -1e13))
    def rows(x: Double, d: Double): Seq[R] =
      Seq((1, box(x), box(d)), (1, box(1.5), box(0.1)), (2, box(x), box(d)))
    Seq("true", "false").foreach { ansi =>
      withConf("spark.sql.ansi.enabled", ansi) {
        cases.foreach { case (x, d) =>
          val df = frame(rows(x, d))
          Seq("graft_dsum(x)" -> castSum, "graft_dsum(x, d)" -> castDisc).foreach { case (f, c) =>
            val (ours, cast) = (outcome(df, f), outcome(df, c))
            assert(ours == cast, s"ansi=$ansi $f on ($x, $d)")
            // Spark's cast makes NaN and ±Inf null even under ANSI; the
            // out-of-range rows fail the query under ANSI only
            val outOfRange = x == 1e15 || (f == "graft_dsum(x, d)" && d == -1e13)
            assert(ours.isLeft == (ansi == "true" && outOfRange), s"ansi=$ansi $f on ($x, $d): $ours")
          }
        }
      }
    }
  }

  /** A value with 0–6 decimals (fifth-decimal ties among them), a raw
    * double, or null; sized so that no sum or discounted price leaves
    * DECIMAL(18,4) (those are the ANSI test's). */
  private val value: Gen[java.lang.Double] = Gen.frequency(
    6 -> (for {
      scale <- Gen.choose(0, 6)
      n <- Gen.choose(-9999999999L, 9999999999L)
    } yield box(BigDecimal(n, scale).toDouble)),
    2 -> Gen.choose(-9999999L, 9999999L).map(n => box(BigDecimal(n * 10 + 5, 5).toDouble)),
    2 -> Gen.choose(-3e13, 3e13).map(box),
    1 -> Gen.const(null))

  private val discount: Gen[java.lang.Double] = Gen.frequency(
    4 -> Gen.choose(0, 10).map(n => box(n / 100.0)),
    2 -> (for {
      scale <- Gen.choose(0, 6)
      n <- Gen.choose(-2 * math.pow(10, scale).toLong, 2 * math.pow(10, scale).toLong)
    } yield box(BigDecimal(n, scale).toDouble)),
    1 -> Gen.choose(-2.0, 2.0).map(box),
    1 -> Gen.const(null))

  private val rowsGen: Gen[List[R]] = Gen.choose(0, 300).flatMap(n => Gen.listOfN(n,
    for { g <- Gen.choose(0, 4); x <- value; d <- discount } yield (g, x, d)))

  test("graft_dsum matches the CAST forms bit for bit (property)") {
    val prop = Prop.forAllNoShrink(rowsGen) { rows =>
      val bad = mismatches(rows)
      Prop(bad.isEmpty) :| s"mismatched groups $bad of ${rows.size} rows"
    }
    val params = Check.Parameters.default.withMinSuccessfulTests(25)
      .withInitialSeed(Seed(20261018L))
    val result = Check.check(params, prop)
    assert(result.passed, result.status)
  }

  test("Aggs.decimalSumOf fails loudly past 2^63 units instead of wrapping") {
    val agg = Aggs.decimalSumOf[Double](identity)
    intercept[ArithmeticException](agg.reduce(Long.MaxValue - 1L, 1.0))
    intercept[ArithmeticException](agg.merge(Long.MaxValue, 1L))
    assert(agg.merge(agg.reduce(agg.zero, 0.1), agg.reduce(agg.zero, 0.2)) == 3000L)
  }
}
