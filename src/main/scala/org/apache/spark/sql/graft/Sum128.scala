package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Exact 128-bit integer sum of a BIGINT column at primitive-codegen speed.
  *
  * The engine's money arithmetic works on integer cents (queries.Relational
  * header), whose grouped sums overflow a raw 64-bit `sum(long)` near 10^19
  * — reachable at the 100 TB design point (~10^10 rows × ~10^9-cent
  * products). The previous formulation summed `CAST(cents AS DECIMAL(38,0))`,
  * which is overflow-safe but allocates a `Decimal` per row inside the hash
  * aggregate (~0.4 s of q1's 1.1 s at sf0.1, measured). This aggregate keeps
  * the exactness and the primitive speed: the accumulator is two LongType
  * buffer slots (hi, lo) forming a signed 128-bit integer, updated with
  * branch-free carry arithmetic that whole-stage codegen compiles to plain
  * long ops in the UnsafeRow fixed-width buffer — no object allocation, no
  * ObjectHashAggregate fallback.
  *
  * Semantics: SQL `sum` — nulls are skipped, and an input with no non-null
  * rows evaluates to NULL (a third boolean buffer slot tracks "saw a row";
  * grouped sums never see an empty group, but a GLOBAL .agg over a filtered
  * relation can, and the DuckDB oracle's sum(...) is NULL there). The final
  * value materializes once per GROUP as a DECIMAL(38,0) (exactly hi·2^64 +
  * lo, unsigned-lo), so downstream `cast(double) / 10^k` projections are
  * identical to the decimal-sum formulation bit for bit. DECIMAL stays out
  * of driver-visible output per the QueryDef dtype rules — callers project
  * it to DOUBLE, as centsSum always has.
  *
  * Output bound: the ACCUMULATOR is exact to ±2^127, but the DECIMAL(38,0)
  * output type caps the representable |sum| at 10^38 − 1 ≈ 2^126.3;
  * finalization of a sum in (10^38, 2^127) throws at group evaluation. The
  * documented safe range is therefore 38 digits, not the full 128 bits —
  * still 10^19 beyond where sum(BIGINT) overflows, and unreachable at the
  * 100 TB design point (~10^10 rows × ~10^9-cent values ≈ 10^19).
  *
  * Carry logic (update, same shape for merge): for `newLo = lo + v` the
  * unsigned carry-out is `((lo & v) | ((lo | v) & ~newLo)) >>> 63` — the
  * classic carry-out identity — and the high word adds `v >> 63` (sign
  * extension of the long operand) plus that carry.
  */
case class Sum128(child: Expression, scale: Int = 0)
    extends DeclarativeAggregate with UnaryLike[Expression] with ExpectsInputTypes {
  require(scale >= 0 && scale <= 9, s"sum128 scale must be in [0, 9], got $scale")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = true
  override def prettyName: String = "sum128"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  /** (newHi, newLo) for adding (vHi, vLo) into (h, l) with carry. The adds
    * are LEGACY-mode on purpose: two's-complement wraparound of the low
    * word is the mechanism the carry detection reads — ANSI overflow
    * checking would reject exactly the case this aggregate exists for.
    */
  private def add128(h: Expression, l: Expression,
      vHi: Expression, vLo: Expression): Seq[Expression] = {
    val newLo = Add(l, vLo, EvalMode.LEGACY)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(l, vLo), BitwiseAnd(BitwiseOr(l, vLo), BitwiseNot(newLo))),
      Literal(63))
    val newHi = Add(Add(h, vHi, EvalMode.LEGACY), carry, EvalMode.LEGACY)
    Seq(newHi, newLo)
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val v = If(IsNull(child), Literal(0L), child)
    add128(hi, lo, ShiftRight(v, Literal(63)), v) :+ Or(seen, IsNotNull(child))
  }

  override lazy val mergeExpressions: Seq[Expression] =
    add128(hi.left, lo.left, hi.right, lo.right) :+ Or(seen.left, seen.right)

  override lazy val evaluateExpression: Expression =
    If(seen, Int128ToDecimal(hi, lo, scale), Literal(null, DecimalType(38, scale)))

  override protected def withNewChildInternal(newChild: Expression): Sum128 =
    copy(child = newChild)
}

/** (hi, lo) two's-complement 128-bit → DECIMAL(38,scale) whose UNSCALED
  * value is the 128-bit integer (scale 0 = plain integer sum; scale 9 =
  * a sum of scale-9 fixed-point "nanos"), exact. Evaluated once per output
  * group (not per row), so the BigInteger path costs nothing measurable;
  * the hot per-row/per-merge path stays in [[Sum128]]'s pure long
  * arithmetic.
  */
case class Int128ToDecimal(hiExpr: Expression, loExpr: Expression, scale: Int = 0)
    extends BinaryExpression with ExpectsInputTypes {

  override def left: Expression = hiExpr
  override def right: Expression = loExpr
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = DecimalType(38, scale)
  override def nullable: Boolean = false
  override def prettyName: String = "int128_to_decimal"

  override def nullSafeEval(h: Any, l: Any): Any =
    Int128ToDecimal.javaToDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"org.apache.spark.sql.graft.Int128ToDecimal$$.MODULE$$.javaToDecimal($h, $l, $scale)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Int128ToDecimal =
    copy(hiExpr = newLeft, loExpr = newRight)
}

object Int128ToDecimal {
  /** Codegen entry point (static call target). */
  def javaToDecimal(h: Long, l: Long, scale: Int): Decimal = {
    val big = java.math.BigInteger.valueOf(h).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(l)))
    Decimal(scala.math.BigDecimal(new java.math.BigDecimal(big, scale)), 38, scale)
  }
}

/** Scale-9 fixed-point projection of a double, as the DECIMAL cast does it:
  * `BigDecimal.valueOf(d)` (the SHORTEST-REPR string route — NOT the exact
  * binary expansion; the two can round differently at scale 9, so the
  * string route is load-bearing for oracle parity) rounded HALF_UP, as an
  * unscaled long. `Decimal9Nanos(v)` summed by `Sum128(_, scale = 9)` is
  * bit-identical to `sum(CAST(v AS DECIMAL(18,9)))` (property-tested in
  * Sum128Spec) without allocating a Decimal per ROW in the aggregate hash
  * map — the nanos long is one `BigDecimal.valueOf` in the projection
  * stage, and the sum is pure long carry arithmetic.
  */
case class Decimal9Nanos(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = LongType
  override def prettyName: String = "decimal9_nanos"

  override def nullSafeEval(input: Any): Any =
    Decimal9Nanos.nanos(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.Decimal9Nanos$$.MODULE$$.nanos($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Decimal9Nanos {
  /** valueOf = Double.toString route, matching Spark's double→decimal cast;
    * longValueExact throws loudly on |v| ≥ ~9.2e9 instead of corrupting.
    *
    * Domain contract: callers feed embedding-element values (|v| ≤ ~1 by
    * unit normalization; KMeans means are convex combinations, so also ≤ 1)
    * — the scale-9 unscaled value then fits a long with 9 decimal digits to
    * spare. This is a deliberate behavior change vs the
    * `sum(CAST(v AS DECIMAL(18,9)))` it replaces, which null-overflows per
    * value in legacy mode (the sum silently skips the row): inside the
    * guaranteed domain the two never diverge, and outside it a crash beats
    * a silently-dropped addend. Callers with unvetted inputs must range-
    * check before projecting.
    */
  def nanos(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(9, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
}

object SumExpressions {
  /** Exact 128-bit sum of a long column → DECIMAL(38,0). */
  def sum128(c: Column): Column =
    ExpressionUtils.column(Sum128(ExpressionUtils.expression(c)).toAggregateExpression())

  /** Exact 128-bit sum of scale-9 fixed-point longs → DECIMAL(38,9). */
  def sum128Nanos(c: Column): Column =
    ExpressionUtils.column(Sum128(ExpressionUtils.expression(c), scale = 9).toAggregateExpression())

  /** Scale-9 unscaled-long projection of a double column (decimal-cast
    * rounding semantics, no per-row Decimal in the downstream aggregate).
    */
  def decimal9_nanos(c: Column): Column =
    ExpressionUtils.column(Decimal9Nanos(ExpressionUtils.expression(c)))
}
