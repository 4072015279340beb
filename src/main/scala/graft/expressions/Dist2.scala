package graft.expressions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The squared-L2 loops, shared verbatim by the interpreted eval path
  * and the generated code (the object's static forwarders are called
  * directly from whole-stage-codegen'd Java). Element types arrive as
  * baked-in int codes so the generated call sites stay monomorphic.
  */
object Dist2Kernels {
  final val FLOAT = 0
  final val DOUBLE = 1
  final val INT = 2
  final val LONG = 3

  def code(t: DataType): Int = t match {
    case FloatType => FLOAT
    case DoubleType => DOUBLE
    case IntegerType => INT
    case LongType => LONG
    case _ => throw new IllegalStateException("unreachable")
  }

  @inline private def get(a: ArrayData, i: Int, t: Int): Double =
    t match {
      case FLOAT => a.getFloat(i).toDouble
      case DOUBLE => a.getDouble(i)
      case INT => a.getInt(i).toDouble
      case _ => a.getLong(i).toDouble
    }

  /** One step of the chain's fold, `(acc + x).cast(DECIMAL(38,8))`:
    * the DECIMAL(38,7)-typed add rounds HALF_UP at scale 7, then the
    * cast re-expresses it at scale 8, or gives null (non-ANSI) when it
    * needs more than 38 digits there. The overflow check is at scale
    * 8: a 38-digit scale-7 sum fits the add's type but not the cast's.
    */
  def addCast38x8(acc: JBigDecimal, x: JBigDecimal): JBigDecimal = {
    val s = acc.add(x).setScale(7, RoundingMode.HALF_UP).setScale(8)
    if (s.precision > 38) null else s
  }

  /** [[Dist2Decimal]]'s loop; null result = null (poisoned). */
  def dist2Decimal(la: ArrayData, ra: ArrayData, lt: Int, rt: Int): Decimal = {
    if (la.numElements() != ra.numElements()) return null
    val n = la.numElements()
    var i = 0
    // unscaled value at scale 8; a multiple of 10 after every add
    // (each partial sum is a scale-7 value re-expressed at scale 8)
    var accL = 0L
    var accB: JBigDecimal = null
    while (i < n) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      val d = get(la, i, lt) - get(ra, i, rt)
      val sq = d * d
      if (java.lang.Double.isNaN(sq) || java.lang.Double.isInfinite(sq))
        return null
      // Spark's Cast(double → DECIMAL(28,8)): BigDecimal over the
      // shortest decimal repr (valueOf), setScale(8, HALF_UP),
      // precision gate. FAST PATH: for sq·1e8 < 4e15 (< 2^52) the
      // HALF_UP unscaled long is floor(T + 0.5) with T = r·1e8 and r
      // the shortest-repr decimal of sq. y = fl(sq·1e8) carries
      // |y − T| ≤ y·2^-52 (one multiply rounding + |r − sq| ≤
      // ulp(sq)/2, each ≤ y·2^-53); floor(y) and y − floor(y) are
      // EXACT here (both multiples of ulp(y) ≤ 1/2). So whenever the
      // exact fractional part frac is farther than eps = y·1e-15 +
      // 1e-12 (≥ 4× the error bound) from the 0.5 tie, the rounding
      // decision is provably the BigDecimal one — only near-ties pay
      // Double.toString + parse + setScale (Dist2Spec pins tie and
      // boundary cases). sq ≥ 0 always (a square), so HALF_UP means
      // round up at ties.
      var u = -1L
      val y = sq * 1e8
      if (y < 4.0e15) {
        val f = Math.floor(y)
        val frac = y - f
        val eps = y * 1e-15 + 1e-12
        if (frac > 0.5 + eps) u = f.toLong + 1L
        else if (frac < 0.5 - eps) u = f.toLong
      }
      if (accB == null && u >= 0L) {
        // u < 2^52 and accL ≤ Long.MaxValue >> 1 = 2^62: no overflow
        val s = accL + u
        // the DECIMAL(38,7)-typed add: HALF_UP at scale 7, back to 8
        val r10 = s % 10L
        val acc7 = if (r10 >= 5L) s - r10 + 10L else s - r10
        if (acc7 <= (Long.MaxValue >> 1)) accL = acc7
        else accB = new JBigDecimal(
          java.math.BigInteger.valueOf(acc7), 8)
      } else {
        val bd =
          if (u >= 0L) JBigDecimal.valueOf(u, 8)
          else JBigDecimal.valueOf(sq).setScale(8, RoundingMode.HALF_UP)
        if (bd.precision > 28) return null
        val unscaled = bd.unscaledValue()
        if (accB == null && unscaled.bitLength() < 62) {
          val uu = unscaled.longValue()
          val s = accL + uu // both ≥ 0 and < 2^62: cannot overflow
          val r10 = s % 10L
          val acc7 = if (r10 >= 5L) s - r10 + 10L else s - r10
          if (acc7 <= (Long.MaxValue >> 1)) accL = acc7
          else accB = new JBigDecimal(
            java.math.BigInteger.valueOf(acc7), 8)
        } else {
          if (accB == null)
            accB = new JBigDecimal(java.math.BigInteger.valueOf(accL), 8)
          accB = addCast38x8(accB, bd)
          if (accB == null) return null
        }
      }
      i += 1
    }
    if (accB == null) Decimal(accL, 38, 8)
    else Decimal(BigDecimal(accB), 38, 8)
  }

  /** [[Dist2Double]]'s loop; null result = null (poisoned). */
  def dist2Double(la: ArrayData, ra: ArrayData, lt: Int, rt: Int)
      : java.lang.Double = {
    if (la.numElements() != ra.numElements()) return null
    val n = la.numElements()
    var i = 0
    var acc = 0.0
    while (i < n) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      val d = get(la, i, lt) - get(ra, i, rt)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Shared element access for the squared-L2 kernels. */
private[expressions] trait Dist2Base { self: BinaryExpression =>
  protected def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType | IntegerType | LongType), _) =>
      Some(t)
    case _ => None
  }

  protected def check(name: String): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects numeric arrays, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
}

/** Native DECIMAL squared L2 between two numeric arrays — the k-means
  * assignment kernel. Bit-identical semantics of
  *   aggregate(zip_with(a, b, (x,y) -> ((double(x)-double(y))^2)
  *                                       .cast(DECIMAL(28,8))),
  *             0L.cast(DECIMAL(38,8)), (acc,v) -> (acc+v).cast(38,8))
  * Each per-dim square rounds HALF_UP to 8 decimals of the double's
  * shortest decimal representation (exactly Spark's double→decimal
  * cast). CRITICALLY, the chained add is NOT an exact sum: Spark
  * types DECIMAL(38,8) + DECIMAL(28,8) as DECIMAL(38,7) (precision
  * would need 39, so allowPrecisionLoss drops the scale to 7), so
  * EVERY partial sum rounds HALF_UP to 7 decimals before the cast
  * back to scale 8 — a lossy but deterministic sequential fold, which
  * this kernel replays digit-for-digit (Dist2Spec pins parity against
  * the original chain; the unit digit of each scale-8 partial is
  * rounded away each step). One tight primitive loop with a compact
  * unscaled-long accumulator (BigInteger escape on overflow) replaces
  * the interpreted per-element lambda machinery and its per-add
  * Decimal allocations, which dominated the Lloyd passes (q202/q210/
  * q211/q212 first-iteration stages). The loop lives in
  * [[Dist2Kernels]] and is called straight from generated code, so
  * the expression participates in whole-stage codegen instead of
  * forcing the interpreted-fallback row round-trip.
  *
  * Null semantics mirror the HOF chain: null array → null; length
  * mismatch or null element → null (zip_with pads with null and null
  * poisons the fold); a NaN/Infinite square or one whose decimal
  * exceeds DECIMAL(28,8) casts to null (non-ANSI) → null.
  */
case class Dist2Decimal(left: Expression, right: Expression)
    extends BinaryExpression with Dist2Base {

  override def dataType: DataType = DecimalType(38, 8)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = check("graft_dist2q8")

  @transient private lazy val ltc = Dist2Kernels.code(elemType(left).get)
  @transient private lazy val rtc = Dist2Kernels.code(elemType(right).get)

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    Dist2Kernels.dist2Decimal(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], ltc, rtc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val tmp = ctx.freshName("d2q8")
    nullSafeCodeGen(ctx, ev, (l, r) => {
      s"""
         |org.apache.spark.sql.types.Decimal $tmp =
         |  graft.expressions.Dist2Kernels.dist2Decimal($l, $r, $ltc, $rtc);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dist2Decimal =
    copy(left = newLeft, right = newRight)
}

/** Native DOUBLE squared L2 — sequential left fold Σ (aᵢ−bᵢ)², the
  * exact semantics of
  *   aggregate(zip_with(a, b, (x,y) -> (double(x)-double(y)) *
  *                                     (double(x)-double(y))), 0d, +)
  * (and DuckDB's list_reduce), bit-identical because the fold is
  * sequential in both. NaN/Infinity flow through as double values,
  * exactly as in the HOF chain. Null semantics as [[Dist2Decimal]].
  * Codegen-integrated via [[Dist2Kernels]], as [[Dist2Decimal]].
  */
case class Dist2Double(left: Expression, right: Expression)
    extends BinaryExpression with Dist2Base {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = check("graft_dist2")

  @transient private lazy val ltc = Dist2Kernels.code(elemType(left).get)
  @transient private lazy val rtc = Dist2Kernels.code(elemType(right).get)

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    Dist2Kernels.dist2Double(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], ltc, rtc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val tmp = ctx.freshName("d2")
    nullSafeCodeGen(ctx, ev, (l, r) => {
      s"""
         |java.lang.Double $tmp =
         |  graft.expressions.Dist2Kernels.dist2Double($l, $r, $ltc, $rtc);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dist2Double =
    copy(left = newLeft, right = newRight)
}
