package graft.functions

import java.math.BigInteger

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Exact second-order moment sums — output array order:
  * [n, Σx, Σy, Σx², Σy², Σxy] — over integer inputs, as a
  * [[TypedImperativeAggregate]] with signed 192-bit accumulation
  * (any long inputs, positive or negative, are exact).
  *
  * Motivation: the portable formulation routes each moment through
  * `sum(decimal × decimal)`, which drops Spark's Decimal onto the
  * BigDecimal slow path once products exceed 18 digits — measured 3.5 s of
  * the sf0.1 bench for one query. This aggregate does the same arithmetic
  * in primitive longs (full 128-bit products via Math.multiplyHigh, since
  * a square overflows a single long at inputs ~3·10⁹), and converts to
  * double exactly once at finish through BigInteger — correctly rounded,
  * hence bit-identical to the oracle's `CAST(sum(DECIMAL…) AS DOUBLE)`.
  *
  * Inputs are longs (callers pre-scale, e.g. money → cents); partial
  * aggregation works as usual (buffers merge with 192-bit adds).
  *
  * EXACTNESS DOMAIN: UNCONDITIONAL. Each per-row term is a signed 128-bit
  * product (|x·y| ≤ 2¹²⁶) and the row count is itself a 64-bit long, so
  * an accumulator's magnitude is bounded by 2⁶⁴·2¹²⁶ = 2¹⁹⁰ < 2¹⁹¹ — a
  * signed 192-bit sum cannot wrap for ANY long inputs at any row count
  * the engine can represent. (Through round 4 the accumulators were
  * 128-bit, exact only below 2¹²⁷ ≈ 1.7·10³⁸ with a documented
  * silent-wrap beyond — e.g. ~10¹⁸ rows of 10¹⁰-scale inputs; the third
  * limb closes that last class, see `docs/HISTORY.md`. ExactMomentsSpec
  * pins a Σx² > 2¹²⁷ case.) The widening costs one extra long-add with
  * carry per term — invisible next to the two multiplies (A/B in
  * BASELINE.md round-5 notes).
  *
  * @param xScale decimal digits the x input was scaled by (e.g. 2 for
  *               money→cents) — outputs are de-scaled with a SINGLE
  *               correctly-rounded conversion (Σx²/10^2s via BigDecimal),
  *               never a second double division, so they stay bit-identical
  *               to `CAST(sum(DECIMAL) AS DOUBLE)`.
  */
case class ExactMoments(
    x: Expression,
    y: Expression,
    xScale: Int = 0,
    yScale: Int = 0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  // buffer layout: n, then 5 accumulators × (hi, mid, lo) — each a SIGNED
  // two's-complement 192-bit accumulator (the linear sums too: a plain
  // 64-bit Σx wraps at ~9·10¹⁸, reachable at ~10¹² rows of large scaled
  // inputs — exactly the silent-wrong-answer class this aggregate exists
  // to rule out)
  private val BufLen = 16

  override def children: Seq[Expression] = Seq(x, y)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (x.dataType == LongType && y.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two BIGINT arguments, got " +
          s"${x.dataType.catalogString} and ${y.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](BufLen)

  /** Unsigned carry-out (0 or 1) of the 64-bit add a + b = r. */
  @inline private def carry(a: Long, b: Long, r: Long): Long =
    ((a & b) | ((a | b) & ~r)) >>> 63

  /** b[i:i+2] += sign-extended (vh:vl), signed 192-bit. The two mid-word
    * carries cannot both be 1 (if the first add carried, its result is at
    * most 2⁶⁴-2, so adding the 0/1 low carry cannot carry again), but the
    * sum form needs no such reasoning to be correct.
    */
  private def add192(b: Array[Long], i: Int, vh: Long, vl: Long): Unit = {
    val lo = b(i + 2)
    val nl = lo + vl
    val c1 = carry(lo, vl, nl)
    b(i + 2) = nl
    val m0 = b(i + 1)
    val m1 = m0 + vh
    val c2 = carry(m0, vh, m1)
    val m2 = m1 + c1
    val c3 = carry(m1, c1, m2)
    b(i + 1) = m2
    b(i) += (vh >> 63) + c2 + c3
  }

  /** b[i:i+2] += o[i:i+2], full signed 192-bit (merge path). */
  private def add192w(b: Array[Long], o: Array[Long], i: Int): Unit = {
    val nl = b(i + 2) + o(i + 2)
    val c1 = carry(b(i + 2), o(i + 2), nl)
    b(i + 2) = nl
    val m1 = b(i + 1) + o(i + 1)
    val c2 = carry(b(i + 1), o(i + 1), m1)
    val m2 = m1 + c1
    val c3 = carry(m1, c1, m2)
    b(i + 1) = m2
    b(i) += o(i) + c2 + c3
  }

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val xv = x.eval(input)
    val yv = y.eval(input)
    if (xv != null && yv != null) {
      val xl = xv.asInstanceOf[Long]
      val yl = yv.asInstanceOf[Long]
      b(0) += 1
      // sign-extended high word keeps the linear sums exact past 2⁶³
      add192(b, 1, xl >> 63, xl)
      add192(b, 4, yl >> 63, yl)
      // full 128-bit products: per-term 64-bit multiply would wrap for
      // inputs beyond ~3e9 (Math.multiplyHigh gives the signed high word)
      add192(b, 7, Math.multiplyHigh(xl, xl), xl * xl)
      add192(b, 10, Math.multiplyHigh(yl, yl), yl * yl)
      add192(b, 13, Math.multiplyHigh(xl, yl), xl * yl)
    }
    b
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
    b(0) += o(0)
    add192w(b, o, 1)
    add192w(b, o, 4)
    add192w(b, o, 7)
    add192w(b, o, 10)
    add192w(b, o, 13)
    b
  }

  /** Exact signed-192 / 10^scale → double, single correct rounding. */
  private def d192(hi: Long, mid: Long, lo: Long, scale: Int): Double = {
    if (scale == 0 &&
        ((hi == 0 && mid == 0 && lo >= 0) || (hi == -1 && mid == -1 && lo < 0)))
      return lo.toDouble
    val bytes = java.nio.ByteBuffer.allocate(24)
      .putLong(hi).putLong(mid).putLong(lo).array()
    // two's-complement signed magnitude (BigInteger(byte[]) is signed)
    new java.math.BigDecimal(new BigInteger(bytes), scale).doubleValue()
  }

  override def eval(b: Array[Long]): Any =
    new GenericArrayData(Array(
      b(0).toDouble,
      d192(b(1), b(2), b(3), xScale),
      d192(b(4), b(5), b(6), yScale),
      d192(b(7), b(8), b(9), 2 * xScale),
      d192(b(10), b(11), b(12), 2 * yScale),
      d192(b(13), b(14), b(15), xScale + yScale)))

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(BufLen * 8)
    b.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(BufLen)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(o: Int): ExactMoments =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ExactMoments =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(x = c(0), y = c(1))
  override def prettyName: String = "exact_moments"
}

object ExactMomentsAggregate {
  /** Aggregate column: ARRAY<DOUBLE>[n, Σx, Σy, Σx², Σy², Σxy] (each the
    * correctly-rounded double of the exact de-scaled integer sum).
    */
  def exactMoments(x: Column, y: Column, xScale: Int = 0, yScale: Int = 0): Column =
    GraftColumnBridge.column(
      ExactMoments(
        GraftColumnBridge.expression(x),
        GraftColumnBridge.expression(y),
        xScale, yScale).toAggregateExpression())
}
