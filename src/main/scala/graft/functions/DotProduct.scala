package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native fused dot product over two array<double> columns.
  *
  * The composable form — aggregate(zip_with(a, b, *), 0.0, +) — builds
  * an intermediate array and walks interpreted higher-order lambdas per
  * element. This expression is one codegen'd loop: no allocation, stays
  * inside whole-stage codegen. Fold order is the same sequential
  * left-to-right double accumulation, so results are bitwise identical
  * to the HOF form (and to DuckDB's list_dot_product — the oracle
  * compare relies on that).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<double> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Every native graft function as (SQL name, builder). The one table
    * both registration paths read: [[register]] (per session, from
    * Scala) and [[GraftExtensions]] (config-only, at session build). */
  val table: Seq[(String, FunctionRegistry.FunctionBuilder)] = Seq(
    "graft_dot" -> (e => DotProduct(e(0), e(1))),
    "graft_nibble_l1" -> (e => NibbleL1(e(0), e(1))),
    "graft_char_hist" -> (e => CharHistWord(e(0), e(1))),
    "graft_srp_words" -> (e => SrpWords(e(0), e(1))),
    "graft_h32" -> (e => H32(e(0))),
    "graft_top_cells" -> (e => TopCells(e(0), e(1), e(2))),
    "graft_quant" -> (e => QuantCodes(e(0), e(1))),
    "graft_vdiv" -> (e => VecDiv(e(0), e(1))),
    "graft_word_grams" -> (e => WordGrams(e(0), e(1))),
    "graft_dsum" -> GraftDsum.build)

  /** Registers every [[table]] function the session does not already
    * have, so the per-operator calls (every `Tables()` construction and
    * the streaming/DataFrame-input paths) cost a lookup after the first:
    * replacing a registered function logs a FunctionRegistry WARN each
    * time, which was nearly every log line of a full sweep. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  /** Column accessor for [[NibbleL1]] (requires register() first). */
  def nibbleL1(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_nibble_l1", a, b)

  /** Column accessor for [[CharHistWord]] (requires register() first). */
  def charHist(s: Column, word: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_char_hist", s,
      org.apache.spark.sql.functions.lit(word))

  /** Column accessor for [[SrpWords]] (requires register() first). */
  def srpWords(v: Column, nWords: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_srp_words", v,
      org.apache.spark.sql.functions.lit(nWords))

  /** Column accessor for [[TopCells]] (requires register() first):
    * the `a` nearest IVF cells of vector column `v` against the given
    * centroid matrix, as one nested-array literal. */
  def topCells(v: Column, centroids: Seq[Seq[Double]], a: Int): Column =
    org.apache.spark.sql.functions.call_function("graft_top_cells", v,
      org.apache.spark.sql.functions.typedLit(centroids),
      org.apache.spark.sql.functions.lit(a))

  /** Column-level accessor (requires register() on the session first).
    * call_function like every sibling accessor — the old
    * Column.toString + expr() round trip broke on any argument whose
    * rendering doesn't re-parse (array literals, nested expressions),
    * which is why callers used to fall back to the interpreted
    * aggregate(zip_with(...)) form for literal hyperplanes/centroids. */
  def graftDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)

  /** Column accessor for [[VecDiv]] (requires register() first):
    * elementwise `v / s` as one codegen'd loop — bitwise identical to
    * the interpreted `transform(v, x => x / s)` it replaces. */
  def vdiv(v: Column, s: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_vdiv", v, s)

  /** Column accessor for [[GraftDsum]] (requires register() first):
    * `CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DOUBLE)`, bit for bit. */
  def dsum(c: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dsum", c)

  /** Column accessor for [[GraftDsum]]'s discounted form (requires
    * register() first): the same exact sum of
    * `CAST(CAST(price AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) -
    * CAST(discount AS DECIMAL(18,4))) AS DECIMAL(18,4))`. */
  def dsumDisc(price: Column, discount: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dsum", price, discount)
}
