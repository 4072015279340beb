package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native polynomial rolling hash: h := (h·31 + codePoint) mod 1e9+7,
  * left fold over the string's UTF-16 chars.
  *
  * Semantically identical to the higher-order-function formulation
  *   aggregate(transform(sequence(1, length(s)), i -> ascii(substr(s,i,1))),
  *             0L, (h,c) -> (h*31+c) % P)
  * for BMP strings (our corpora are ASCII), but compiled: Catalyst
  * evaluates nested lambda chains interpreted, one NamedLambdaVariable
  * binding per character — this expression is a tight generated-Java
  * loop, ~10× faster at sf0.1 and the gap widens with document length.
  * First place in this engine where a custom Catalyst Expression
  * genuinely pays (SURVEY.md §7.4).
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_rolling_hash expects STRING, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |java.lang.String $s = $c.toString();
         |long $h = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $h = ($h * 31L + (long) $s.charAt($i)) % ${RollingHash.P}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val P = 1000000007L

  def hash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31L + s.charAt(i)) % P; i += 1 }
    h
  }
}

/** Tokenize-shingle-hash in ONE compiled pass:
  * graft_shingle_hashes(text, n) ≡
  *   transform(shingles(split(trim(text),'\s+'), n), sh -> rollingHash(sh))
  * but without materializing shingle strings or paying interpreted
  * lambda overhead per position. Returns array<long>, one hash per
  * shingle position (callers array_distinct as needed). The shingle
  * hash folds the space-joined token window, char by char, identical
  * to hashing the concatenated string.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_hashes expects STRING, got ${child.dataType.simpleString}")

  override def nullable: Boolean = child.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    // mirror Spark's trim() EXACTLY: it strips ' ' only — Java's
    // String.trim also strips tabs/control chars and would tokenize
    // "\tfoo" differently from the HOF formulation
    val raw = v.asInstanceOf[UTF8String].toString
    var start = 0
    var end = raw.length
    while (start < end && raw.charAt(start) == ' ') start += 1
    while (end > start && raw.charAt(end - 1) == ' ') end -= 1
    val tokens = raw.substring(start, end).split("\\s+", -1)
    val count = tokens.length - n + 1
    if (count <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      var h = 0L
      var j = 0
      while (j < n) {
        if (j > 0) h = (h * 31L + ' ') % RollingHash.P
        val t = tokens(i + j)
        var k = 0
        while (k < t.length) { h = (h * 31L + t.charAt(k)) % RollingHash.P; k += 1 }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Tokenize-and-shingle in ONE compiled pass, emitting the shingle
  * STRINGS: graft_shingles(text, n) ≡
  *   shingles(split(trim(text),'\s+'), n)   (TextFns.shingles)
  * Exists for the recount passes that must materialize the winning
  * strings (heavy hitters): the HOF formulation binds an interpreted
  * lambda per position (slice + concat_ws per shingle), which under
  * 32-way parallel allocation pressure dominated the operator's CPU.
  * Tokenization mirrors ShingleHashes / Spark's trim+split exactly,
  * so rollingHash(graft_shingles(...)[i]) == graft_shingle_hashes(...)[i]
  * (property-tested).
  */
case class ShingleStrings(child: Expression, n: Int) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects STRING, got ${child.dataType.simpleString}")

  override def nullable: Boolean = child.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    // same ' '-only trim as ShingleHashes (mirrors Spark's trim())
    val raw = v.asInstanceOf[UTF8String].toString
    var start = 0
    var end = raw.length
    while (start < end && raw.charAt(start) == ' ') start += 1
    while (end > start && raw.charAt(end - 1) == ' ') end -= 1
    val tokens = raw.substring(start, end).split("\\s+", -1)
    val count = tokens.length - n + 1
    if (count <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      out(i) =
        if (n == 1) UTF8String.fromString(tokens(i))
        else {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(tokens(i + j))
            j += 1
          }
          UTF8String.fromString(sb.toString)
        }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleStrings =
    copy(child = newChild)
}

/** Tokenize, hash, and candidate-filter in ONE compiled pass: emits
  * only the shingle STRINGS whose rolling hash is in a (small,
  * driver-known) candidate set. This is HeavyHitters' recount shape —
  * after the Misra-Gries pass the driver holds ≤ k candidate hashes,
  * and the exact recount only ever needs the strings of matching
  * windows (a few percent of positions). The previous shape
  * (materialize EVERY shingle string, re-hash it, broadcast-semi-join)
  * paid string allocation + a second hash for the ~95% of windows the
  * join then threw away. A hash collision can only ADD a false
  * survivor, whose exact string count the threshold filter still
  * judges — exactness is unaffected (same argument as the join).
  *
  * The candidate array rides the plan as a literal (k ≤ margin/minFreq
  * entries — KBs); the lookup set is built once per task, lazily.
  */
case class ShingleHashFilter(child: Expression, n: Int,
    candidates: Array[Long]) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  require(n >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_filter expects STRING, got ${child.dataType.simpleString}")

  override def nullable: Boolean = child.nullable

  @transient private lazy val candSet: java.util.HashSet[java.lang.Long] = {
    val s = new java.util.HashSet[java.lang.Long](candidates.length * 2)
    candidates.foreach(s.add(_))
    s
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    // same ' '-only trim as ShingleHashes (mirrors Spark's trim())
    val raw = v.asInstanceOf[UTF8String].toString
    var start = 0
    var end = raw.length
    while (start < end && raw.charAt(start) == ' ') start += 1
    while (end > start && raw.charAt(end - 1) == ' ') end -= 1
    val tokens = raw.substring(start, end).split("\\s+", -1)
    val count = tokens.length - n + 1
    if (count <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val out = new scala.collection.mutable.ArrayBuffer[Any](4)
    var i = 0
    while (i < count) {
      var h = 0L
      var j = 0
      while (j < n) {
        if (j > 0) h = (h * 31L + ' ') % RollingHash.P
        val t = tokens(i + j)
        var k = 0
        while (k < t.length) { h = (h * 31L + t.charAt(k)) % RollingHash.P; k += 1 }
        j += 1
      }
      if (candSet.contains(h)) {
        // string built ONLY for survivors
        if (n == 1) out += UTF8String.fromString(tokens(i))
        else {
          val sb = new java.lang.StringBuilder
          var j2 = 0
          while (j2 < n) {
            if (j2 > 0) sb.append(' ')
            sb.append(tokens(i + j2))
            j2 += 1
          }
          out += UTF8String.fromString(sb.toString)
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ShingleHashFilter =
    copy(child = newChild)
}

/** Session extension registering graft's native functions — apply via
  * `builder.withExtensions(GraftExtensions.inject)` (GraftSession does)
  * or `--conf spark.sql.extensions=graft.expressions.GraftExtensions`
  * on a cluster.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.inject(ext)
}

object GraftExtensions {
  def inject(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_rolling_hash"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_rolling_hash takes one argument")
        RollingHash(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_shingle_hashes takes (text, n literal)")
        val n = children(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException(
            "shingle width must be a literal")
        }
        ShingleHashes(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleStrings].getName, "graft_shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_shingles takes (text, n literal)")
        val n = children(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException(
            "shingle width must be a literal")
        }
        ShingleStrings(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_filter"),
      new ExpressionInfo(classOf[ShingleHashFilter].getName,
        "graft_shingle_filter"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_shingle_filter takes (text, n literal, hash array literal)")
        val n = children(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException(
            "shingle width must be a literal")
        }
        val cands = children(2) match {
          case e if e.foldable =>
            e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
              .toLongArray()
          case _ => throw new IllegalArgumentException(
            "candidate hashes must be a literal array")
        }
        ShingleHashFilter(children.head, n, cands)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_cdc_chunks"),
      new ExpressionInfo(classOf[CdcChunksExpr].getName, "graft_cdc_chunks"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_cdc_chunks takes (text, w literal, divisor literal)")
        def lit(e: Expression, what: String): Int = e match {
          case x if x.foldable => x.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException(s"$what must be a literal")
        }
        CdcChunksExpr(children.head,
          lit(children(1), "window width"), lit(children(2), "divisor"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_lndet"),
      new ExpressionInfo(classOf[LnDet].getName, "graft_lndet"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_lndet takes one double argument")
        LnDet(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_expdet"),
      new ExpressionInfo(classOf[ExpDet].getName, "graft_expdet"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_expdet takes one double argument")
        ExpDet(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_hilbert"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "graft_hilbert takes (x, y, bits literal)")
        val bits = children(2) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException(
            "hilbert bits must be a literal")
        }
        HilbertIndex(children(0), children(1), bits)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dot takes two array arguments")
        DotProduct(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_idot"),
      new ExpressionInfo(classOf[IntDotProduct].getName, "graft_idot"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_idot takes two array arguments")
        IntDotProduct(children(0), children(1))
      }))
    // graft_dist2q8 / graft_dist2 take float, double, int or long
    // arrays only (Dist2Base.elemType): narrower than the zip_with
    // chains they replaced, which cast any numeric element (byte,
    // short, decimal) to double. Other element types fail analysis.
    ext.injectFunction((
      new FunctionIdentifier("graft_dist2q8"),
      new ExpressionInfo(classOf[Dist2Decimal].getName, "graft_dist2q8"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "graft_dist2q8 takes two array arguments")
        Dist2Decimal(children(0), children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dist2"),
      new ExpressionInfo(classOf[Dist2Double].getName, "graft_dist2"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_dist2 takes two array arguments")
        Dist2Double(children(0), children(1))
      }))
  }
}
