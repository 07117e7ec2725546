package org.apache.spark.sql.graftshim

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd word-shingle hash set of a text: the fused form of
  * `explode(wordShingles(text, k))` → `uhashBase` → distinct, as ONE static
  * call per row. Returns the sorted, distinct `array<bigint>` of
  *
  *   `first 60 bits of md5(utf8(gram)) mod (2^31 − 1)`
  *
  * over every word k-gram, where the words are Spark's `split(text, ' ')`
  * (empty tokens kept: double, leading and trailing spaces make empty
  * words) and a gram is k consecutive words joined by one space. A text
  * with fewer than k words, and a null text, give the empty array, as the
  * composed form gives no rows.
  *
  * A gram joined by single spaces is exactly the byte range of the text
  * from its first word's start to its last word's end, so no gram string is
  * ever built: each gram is one `MessageDigest.update` over a slice of the
  * text's UTF-8 bytes. The bytes are those of the decoded text re-encoded,
  * as `split` produces them, so malformed UTF-8 hashes as Spark's own
  * split-and-join does. Bit-equality with the composed Column form is a
  * ScalaCheck property in PlanAuditSpec. */
case class ShingleHashesExpr(child: Expression, k: Int)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(k >= 1, s"k must be positive (got $k)")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_hashes"

  override def eval(input: InternalRow): Any =
    ShingleHashesExpr.computeArrayData(child.eval(input).asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val code =
      code"""
        |${c.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  org.apache.spark.sql.graftshim.ShingleHashesExpr.computeArrayData(
        |    ${c.isNull} ? null : ${c.value}, $k);
      """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashesExpr {
  /** 2^31 − 1, the universal-hash family's modulus
    * (`graft.functions.Portable.UHPrime`). */
  private val P = 2147483647L

  def computeArrayData(text: UTF8String, k: Int): ArrayData =
    new GenericArrayData(compute(text, k))

  /** The whole per-row computation; see the class doc for its semantics. */
  def compute(text: UTF8String, k: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val b = text.toString.getBytes(UTF_8)
    var words = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' ') words += 1; i += 1 }
    if (words < k) return Array.emptyLongArray
    // starts(w) / ends(w): byte range of word w
    val starts = new Array[Int](words)
    val ends = new Array[Int](words)
    var w = 0
    i = 0
    while (i < b.length) {
      if (b(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = b.length
    val n = words - k + 1
    val out = new Array[Long](n)
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = new Array[Byte](16)
    var g = 0
    while (g < n) {
      val lo = starts(g)
      md.update(b, lo, ends(g + k - 1) - lo)
      md.digest(d, 0, 16)
      var v = 0L
      var q = 0
      while (q < 8) { v = (v << 8) | (d(q) & 0xffL); q += 1 }
      out(g) = (v >>> 4) % P
      g += 1
    }
    java.util.Arrays.sort(out)
    var m = if (n == 0) 0 else 1
    g = 1
    while (g < n) { if (out(g) != out(m - 1)) { out(m) = out(g); m += 1 }; g += 1 }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }
}

/** MinHash signature of a shingle-hash array: element i is
  * `min over h of (a(i)·h + b(i)) mod p` — the universal-hash family of
  * `graft.functions.Portable.uhash` — in one pass over the array for all
  * members at once. Every h must be in [0, p) and every a(i), b(i) below
  * 2^31, so each product stays below 2^62, exact in a long. An empty array
  * gives an empty signature (it has no minimum). */
case class MinHashExpr(child: Expression, a: Seq[Long], b: Seq[Long], p: Long)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(a.nonEmpty && a.length == b.length, "a and b must be non-empty and of equal length")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash"

  @transient private lazy val aArr: Array[Long] = a.toArray
  @transient private lazy val bArr: Array[Long] = b.toArray

  override def nullSafeEval(v: Any): Any =
    MinHashExpr.computeArrayData(v.asInstanceOf[ArrayData], aArr, bArr, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("uhA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("uhB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftshim.MinHashExpr" +
        s".computeArrayData($c, $aRef, $bRef, ${p}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashExpr {
  def computeArrayData(hs: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val mins = Array.fill(a.length)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var i = 0
      while (i < a.length) {
        val v = (a(i) * h + b(i)) % p
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** An `array<bigint>` without the members of a fixed sorted set — the
  * document-frequency cap applied to a shingle-hash array, order kept.
  * One binary search per element, so its cost does not grow with the
  * size of the dropped set the way a per-row hash set built from it would. */
case class ExceptSortedExpr(child: Expression, drop: Seq[Long])
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "except_sorted"

  @transient private lazy val dropArr: Array[Long] = drop.toArray.sorted

  override def nullSafeEval(v: Any): Any =
    ExceptSortedExpr.computeArrayData(v.asInstanceOf[ArrayData], dropArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dropRef = ctx.addReferenceObj("dropped", dropArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = org.apache.spark.sql.graftshim.ExceptSortedExpr" +
        s".computeArrayData($c, $dropRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ExceptSortedExpr {
  def computeArrayData(hs: ArrayData, drop: Array[Long]): ArrayData = {
    val n = hs.numElements()
    val out = new Array[Long](n)
    var m = 0
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      if (java.util.Arrays.binarySearch(drop, h) < 0) { out(m) = h; m += 1 }
      j += 1
    }
    new GenericArrayData(if (m == n) out else java.util.Arrays.copyOf(out, m))
  }
}
