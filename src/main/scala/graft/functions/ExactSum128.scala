package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** JVM kernels for [[ExactSum128]] — invoked via StaticInvoke from
  * generated code (Scala object methods get static forwarders). */
object ExactSumKernel {
  private val Pows: Array[Double] = Array.tabulate(10)(i => math.pow(10, i))

  /** The double's value rounded HALF_UP at `scale` decimals, as the
    * scaled integer — exactly `CAST(x AS DECIMAL(_, scale))`'s
    * unscaled value. Fast path: for in-contract inputs (≤ scale
    * decimals) with |x·10^scale| < 2^51 the product's rounding error
    * is < 0.5 ulp ≪ the gap to the next integer, so rint is provably
    * exact. Magnitudes in [2^51, 2^53) are excluded: there x·10^scale
    * can be an exact integer yet differ by ±1 from the decimal-string
    * value (e.g. 81023871937164.1 at scale 2). Slow path:
    * BigDecimal.valueOf = Double.toString semantics — the same
    * shortest-decimal reading Spark's double→Decimal cast uses — then
    * HALF_UP, matching the cast bit-for-bit. Callers pre-filter
    * NaN/Infinity/|x·10^scale| > ~9.2e18 (see ExactSum128's validity
    * predicate), so both paths are total here. */
  def scaleTo(x: Double, scale: Int): Long = {
    val y = x * Pows(scale)
    val r = Math.rint(y)
    if (Math.abs(y - r) <= 1e-6 && Math.abs(r) < 2.251799813685248e15) r.toLong
    else java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()
  }

  /** Wrapping add — javac emits a plain `ladd`, outside ANSI-mode
    * overflow checks (the 128-bit carry logic needs mod-2^64). */
  def wrapAdd(a: Long, b: Long): Long = a + b

  /** (hi·2^64 + unsigned lo) / 10^scale as a correctly-rounded
    * double — the same BigDecimal.doubleValue Spark's
    * Decimal.toDouble uses, so results are bit-identical to the
    * decimal-sum-then-cast plan this aggregate replaces. */
  def finish(hi: Long, lo: Long, scale: Int): Double = {
    val loBytes = java.nio.ByteBuffer.allocate(8).putLong(lo).array()
    val bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(1, loBytes))
    new java.math.BigDecimal(bi, scale).doubleValue()
  }
}

/** Exact order-independent sum of fixed-scale doubles on a 128-bit
  * integer accumulator held as TWO LONG buffer slots.
  *
  * Replaces `sum(cast(x as decimal(30,s))).cast("double")`: decimal
  * precision > 18 forces BigDecimal-backed aggregation buffers (the
  * "decimal tax" — q_corr/q_cube spent seconds in BigDecimal.add),
  * while this buffer is (long, long, boolean) → fixed-width mutable
  * row → HashAggregateExec's codegen fast path. Input rounding and
  * the final 128-bit→double conversion reuse the exact decimal-cast
  * semantics (see [[ExactSumKernel]]), so every oracle hash is
  * unchanged.
  *
  * Add/merge are branch-free two's-complement 128-bit adds: the
  * carry out of the low word is `((a&b) | ((a|b) & ~sum)) >>> 63`,
  * the high word gets the input's sign extension — all bitwise ops
  * plus one wrapping add via StaticInvoke (ANSI-safe).
  */
case class ExactSum128(child: Expression, scale: Int)
    extends DeclarativeAggregate with UnaryLike[Expression] {
  require(scale >= 0 && scale <= 9, "scale must be in [0, 9]")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "exact_sum128"

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val nonEmpty = AttributeReference("nonEmpty", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(hi, lo, nonEmpty)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(false))

  private def wrapAdd(a: Expression, b: Expression): Expression =
    StaticInvoke(ExactSumKernel.getClass, LongType, "wrapAdd",
      Seq(a, b), Seq(LongType, LongType), returnNullable = false)

  /** (newHi, newLo) = (hi, lo) + sign-extended s, mod 2^128. */
  private def add128(hiE: Expression, loE: Expression, s: Expression): (Expression, Expression) = {
    val newLo = wrapAdd(loE, s)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(loE, s),
        BitwiseAnd(BitwiseOr(loE, s), BitwiseNot(newLo))),
      Literal(63))
    // hi + signext(s) + carry never overflows long in practice
    // (|true sum| < 2^127 needs ~2^63 max-scaled rows); plain Add is
    // fine under ANSI
    val newHi = Add(Add(hiE, ShiftRight(s, Literal(63))), carry)
    (newHi, newLo)
  }

  /** Largest |x| whose scaled-and-rounded value is guaranteed inside
    * Long range (9.2e18 < 2^63−1 leaves headroom for HALF_UP). Rows
    * outside — NaN, ±Infinity, |x| beyond the bound — are treated as
    * NULL, mirroring the decimal-cast plan for NaN/Infinity (cast →
    * NULL in non-ANSI, row ignored by sum) and degrading gracefully,
    * instead of crashing, for magnitudes the 64-bit scaled row can't
    * carry (the decimal(30,s) plan still sums those; such values are
    * off this aggregate's fixed-scale contract). NaN fails both range
    * comparisons under Java and SQL comparison semantics alike. */
  private lazy val inRange: Expression = {
    val bound = 9.2e18 / math.pow(10, scale)
    And(IsNotNull(child),
      And(GreaterThanOrEqual(child, Literal(-bound)),
        LessThanOrEqual(child, Literal(bound))))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val s = StaticInvoke(ExactSumKernel.getClass, LongType, "scaleTo",
      Seq(child, Literal(scale)), Seq(DoubleType, IntegerType), returnNullable = false)
    val (newHi, newLo) = add128(hi, lo, s)
    Seq(
      If(inRange, newHi, hi),
      If(inRange, newLo, lo),
      Or(nonEmpty, inRange))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val newLo = wrapAdd(lo.left, lo.right)
    val carry = ShiftRightUnsigned(
      BitwiseOr(BitwiseAnd(lo.left, lo.right),
        BitwiseAnd(BitwiseOr(lo.left, lo.right), BitwiseNot(newLo))),
      Literal(63))
    Seq(
      Add(Add(hi.left, hi.right), carry),
      newLo,
      Or(nonEmpty.left, nonEmpty.right))
  }

  override lazy val evaluateExpression: Expression =
    If(nonEmpty,
      StaticInvoke(ExactSumKernel.getClass, DoubleType, "finish",
        Seq(hi, lo, Literal(scale)), Seq(LongType, LongType, IntegerType),
        returnNullable = false),
      Literal(null, DoubleType))

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
