package graft.functions

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, And, AttributeReference, BinaryExpression,
  BitwiseAnd, Cast, CheckOverflowInSum, Coalesce, ConditionalExpression, EvalMode, Expression, If,
  ImplicitCastInputTypes, IsNull, Literal, Multiply, NumericEvalContext, ShiftRight, Subtract}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.{TernaryLike, UnaryLike}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, Decimal, DecimalType, DoubleType, LongType}

/** `graft_dsum`: the oracle contract's exact sum,
  * `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`, bit for bit, without
  * a Decimal per row or a DECIMAL(28,4) buffer.
  *
  *  - `graft_dsum(x)` sums x;
  *  - `graft_dsum(price, discount)` sums
  *    `CAST(CAST(price AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) -
  *    CAST(discount AS DECIMAL(18,4))) AS DECIMAL(18,4))`.
  *
  * Why: Spark's form builds a `BigDecimal` from `Double.toString` for
  * every row, and its DECIMAL(28,4) buffer lives as bytes in the
  * UnsafeRow, so every update round-trips through `BigInteger` (Spark's
  * own `DecimalAggregates` long rewrite stops at precision 8). Here each
  * row becomes the cast's unscaled scale-4 long ([[Dec4Units]]) and the
  * buffer is two longs.
  *
  * Why it is exact:
  *  - a row's units are the cast's own unscaled value: the fast path
  *    ([[Dec4.units]]) only answers when that value is provably `k`, and
  *    every other row evaluates Spark's cast (so NaN, ±Inf and
  *    |x| ≥ 10¹⁴ error under ANSI and are skipped nulls without it, as
  *    in the CAST form);
  *  - the buffer holds the sum as `hi·2³² + lo` with `lo` in [0, 2³²):
  *    every add is overflow-checked and the carry moves to `hi`, so the
  *    sum is exact past 2⁶³ units up to 2⁹⁵, beyond DECIMAL(28,4)'s
  *    10²⁸-unit limit (past 2⁹⁵, which takes over 10¹⁰ rows of the
  *    largest DECIMAL(18,4), it fails with ARITHMETIC_OVERFLOW instead
  *    of wrapping);
  *  - the finish builds that DECIMAL(28,4) value, passes it through the
  *    same `CheckOverflowInSum` Spark's Sum ends in (≥ 10²⁸ units: null,
  *    or the sum-overflow error under ANSI) and casts it to double with
  *    Spark's own cast. Integer addition is associative, so the result
  *    does not depend on partitioning or merge order.
  *
  * Nulls are skipped; an all-null group and empty input give null.
  */
case class GraftDsum(units: Expression, nullOnOverflow: Boolean = !SQLConf.get.ansiEnabled)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def child: Expression = units
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dsum"

  override def checkInputDataTypes(): TypeCheckResult =
    if (units.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dsum sums scale-4 units (bigint), got ${units.dataType.simpleString}")

  // lo is null until the first non-null row: that is the empty marker
  private lazy val lo = AttributeReference("lo", LongType)()
  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(lo, hi)
  override lazy val initialValues: Seq[Expression] = Seq(Literal(null, LongType), Literal(0L))

  private def plus(a: Expression, b: Expression): Expression =
    Add(a, b, NumericEvalContext(EvalMode.ANSI))
  private def low32(s: Expression): Expression = BitwiseAnd(s, Literal(0xFFFFFFFFL))
  private def carry(s: Expression): Expression = ShiftRight(s, Literal(32))
  private def orZero(e: Expression): Expression = Coalesce(Seq(e, Literal(0L)))

  // a null row adds 0 to hi (lo < 2³² carries nothing) and leaves lo;
  // `units` sits in two always-evaluated positions, so whole-stage
  // codegen computes it once per row
  override lazy val updateExpressions: Seq[Expression] = {
    val s = plus(orZero(lo), orZero(units))
    Seq(If(IsNull(units), lo, low32(s)), plus(hi, carry(s)))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val s = plus(orZero(lo.left), orZero(lo.right))
    Seq(
      If(And(IsNull(lo.left), IsNull(lo.right)), Literal(null, LongType), low32(s)),
      plus(plus(hi.left, hi.right), carry(s)))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(lo), Literal(null, DoubleType),
      Cast(CheckOverflowInSum(Dec4Value(hi, lo), Dec4.SumType, nullOnOverflow, origin.context),
        DoubleType))

  override protected def withNewChildInternal(newChild: Expression): GraftDsum =
    copy(units = newChild)
}

object GraftDsum {

  /** graft_dsum's FunctionBuilder. Each form carries the DECIMAL(18,4)
    * expression it replaces, built as the Column form builds it, so the
    * rows off the fast path evaluate exactly that. */
  def build(args: Seq[Expression]): Expression = args match {
    case Seq(x) =>
      GraftDsum(Dec4CastUnits(x, Cast(x, Dec4.RowType)))
    case Seq(price, discount) =>
      val exact = Cast(Multiply(Cast(price, Dec4.RowType),
        Subtract(Cast(Literal(1), Dec4.RowType), Cast(discount, Dec4.RowType))), Dec4.RowType)
      GraftDsum(Dec4DiscUnits(price, discount, exact))
    case _ =>
      throw new IllegalArgumentException(
        s"graft_dsum takes (x) or (price, discount), got ${args.size} arguments")
  }
}

/** A row's unscaled scale-4 units: a kernel over the double inputs when
  * it answers, else `exact`, the DECIMAL(18,4) expression whose
  * unscaled value the kernel reproduces. `exact` only runs off the fast
  * path, so common-subexpression elimination must not hoist it out of
  * the branch — hence a [[ConditionalExpression]] whose always-evaluated
  * inputs are the doubles. */
sealed trait Dec4Units extends ConditionalExpression with ImplicitCastInputTypes {
  def exact: Expression

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def branchGroups: Seq[Seq[Expression]] = Nil

  protected def exactUnits(input: InternalRow): Any = {
    val d = exact.eval(input)
    if (d == null) null else d.asInstanceOf[Decimal].toUnscaledLong
  }

  /** `ev.value` already holds the kernel's answer; a row off the fast
    * path evaluates `exact` (null stays null). */
  protected def exactCode(ctx: CodegenContext, ev: ExprCode): String = {
    val e = exact.genCode(ctx)
    s"""
       |if (${ev.value} == java.lang.Long.MIN_VALUE) { // Dec4.Off
       |  ${e.code}
       |  ${ev.isNull} = ${e.isNull};
       |  if (!${ev.isNull}) ${ev.value} = ${e.value}.toUnscaledLong();
       |}""".stripMargin
  }
}

/** [[Dec4Units]] of `CAST(x AS DECIMAL(18,4))` through [[Dec4.units]]. */
case class Dec4CastUnits(child: Expression, exact: Expression)
    extends BinaryExpression with Dec4Units {

  override def left: Expression = child
  override def right: Expression = exact
  override def inputTypes: Seq[DataType] = Seq(DoubleType, Dec4.RowType)
  override def prettyName: String = "dec4_units"

  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(child)
  override def withNewAlwaysEvaluatedInputs(exprs: Seq[Expression]): Dec4CastUnits =
    copy(child = exprs.head)

  override def eval(input: InternalRow): Any = {
    val x = child.eval(input)
    if (x == null) null
    else {
      val k = Dec4.units(x.asInstanceOf[Double])
      if (k != Dec4.Off) k else exactUnits(input)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val x = child.genCode(ctx)
    ev.copy(code = code"""
      |${x.code}
      |boolean ${ev.isNull} = ${x.isNull};
      |long ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.Dec4.units(${x.value});
      |  ${exactCode(ctx, ev)}
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dec4CastUnits =
    copy(child = newLeft, exact = newRight)
}

/** [[Dec4Units]] of the DECIMAL(18,4) discounted price
  * `CAST(CAST(price AS DECIMAL(18,4)) * (1 − CAST(discount AS
  * DECIMAL(18,4))) AS DECIMAL(18,4))` through [[Dec4.discUnits]]. */
case class Dec4DiscUnits(price: Expression, discount: Expression, exact: Expression)
    extends Expression with TernaryLike[Expression] with Dec4Units {

  override def first: Expression = price
  override def second: Expression = discount
  override def third: Expression = exact
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType, Dec4.RowType)
  override def prettyName: String = "dec4_disc_units"

  override def alwaysEvaluatedInputs: Seq[Expression] = Seq(price, discount)
  override def withNewAlwaysEvaluatedInputs(exprs: Seq[Expression]): Dec4DiscUnits =
    copy(price = exprs(0), discount = exprs(1))

  override def eval(input: InternalRow): Any = {
    val p = price.eval(input)
    val d = if (p == null) null else discount.eval(input)
    if (d == null) null
    else {
      val k = Dec4.discUnits(p.asInstanceOf[Double], d.asInstanceOf[Double])
      if (k != Dec4.Off) k else exactUnits(input)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = price.genCode(ctx)
    val d = discount.genCode(ctx)
    ev.copy(code = code"""
      |${p.code}
      |${d.code}
      |boolean ${ev.isNull} = ${p.isNull} || ${d.isNull};
      |long ${ev.value} = 0L;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.Dec4.discUnits(${p.value}, ${d.value});
      |  ${exactCode(ctx, ev)}
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Dec4DiscUnits =
    copy(price = newFirst, discount = newSecond, exact = newThird)
}

/** [[GraftDsum]]'s buffer (`hi·2³² + lo`) as the DECIMAL(28,4) Spark's
  * Sum would hold, or null where that buffer would have overflowed. */
case class Dec4Value(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = Dec4.SumType
  override def nullable: Boolean = true

  override def nullSafeEval(hi: Any, lo: Any): Any =
    Dec4.toDecimal(hi.asInstanceOf[Long], lo.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hi, lo) =>
      s"""${ev.value} = graft.functions.Dec4.toDecimal($hi, $lo);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dec4Value =
    copy(left = newLeft, right = newRight)
}

/** Scale-4 kernels behind [[GraftDsum]]; shared by interpreted eval,
  * codegen (called from generated code — keep signatures stable) and
  * specs. */
object Dec4 {

  /** The cast every row goes through, and Sum's buffer/result type. */
  val RowType: DecimalType = DecimalType(18, 4)
  val SumType: DecimalType = DecimalType(28, 4)

  /** Not a unit count (|units| < 10¹⁸): the kernels' "off the fast
    * path" answer. */
  final val Off = Long.MinValue

  private final val TwoTo36 = 68719476736.0
  private final val PriceBound = 1L << 40
  private final val FactorBound = 1L << 22
  private val SumLimit = BigInteger.TEN.pow(28)

  /** The unscaled value of `CAST(x AS DECIMAL(18,4))`, or [[Off]].
    * With k = rint(x·10⁴): when |x| < 2³⁶ and k/10⁴ == x (both exact
    * IEEE operations on |k| < 2⁵⁰), x is the double nearest k/10⁴ and
    * ulp(x) ≤ 2⁻¹⁷ < 5·10⁻⁵. The cast rounds HALF_UP at scale 4 the
    * decimal string `Double.toString(x)`, which lies within ulp(x)/2 of
    * x and so strictly within half a unit of k/10⁴: it rounds to k.
    * Every other x (more than 4 decimals, ties, huge, NaN, ±Inf) is
    * [[Off]]. -0.0 gives 0, as the cast does. */
  def units(x: Double): Long = {
    val k = Math.rint(x * 10000.0)
    if (Math.abs(x) < TwoTo36 && k / 10000.0 == x) k.toLong else Off
  }

  /** The unscaled value of the discounted price, or [[Off]]: both
    * factors' exact [[units]], their product at scale 8 (exact in a
    * long for |price| < 2⁴⁰ units and |1 − discount| < 2²² units) and
    * the cast's HALF_UP rounding to scale 4 in integer arithmetic (ties
    * away from zero). Spark's DECIMAL(38,8) product is exact at these
    * sizes, so the cast rounds the same number. */
  def discUnits(price: Double, discount: Double): Long = {
    val p = units(price)
    val d = units(discount)
    if (p == Off || d == Off) Off
    else {
      val m = 10000L - d
      if (p >= PriceBound || p <= -PriceBound || m >= FactorBound || m <= -FactorBound) Off
      else {
        val prod = p * m
        if (prod >= 0) (prod + 5000L) / 10000L else -((5000L - prod) / 10000L)
      }
    }
  }

  /** `hi·2³² + lo` as a DECIMAL(28,4), or null at or past 10²⁸ units. */
  def toDecimal(hi: Long, lo: Long): Decimal = {
    val v = BigInteger.valueOf(hi).shiftLeft(32).add(BigInteger.valueOf(lo))
    if (v.abs.compareTo(SumLimit) >= 0) null
    else Decimal(new JBigDecimal(v, 4), SumType.precision, SumType.scale)
  }
}
