package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact integer counts of one (candidate, reference) pair, computed
  * inside its row — the kernels behind `TextStats.chrF`, `rougeL` and
  * `wer`. Every count stays within its pair, so a row-local loop
  * replaces what a relational form would shuffle or fold through
  * interpreted higher-order functions.
  */
object PairCountsImpl {

  /** Clipped character n-gram counts: element n−1 is
    * Σ_g min(count_c(g), count_r(g)) over the order-n grams g, for
    * n = 1..maxN. A gram is n consecutive code points — the unit of
    * Spark's `length` and `substring` — and is compared by its UTF-8
    * bytes, which identify it exactly.
    */
  def chrfClipped(c: UTF8String, r: UTF8String, maxN: Int): ArrayData = {
    val cb = c.getBytes; val rb = r.getBytes
    val co = codePointStarts(cb); val ro = codePointStarts(rb)
    val out = new Array[Long](maxN)
    val counts = new java.util.HashMap[Gram, Array[Int]]()
    var n = 1
    while (n <= maxN) {
      // co holds length + 1 offsets, so an order-n side has
      // co.length − n grams
      val nc = co.length - n; val nr = ro.length - n
      if (nc > 0 && nr > 0) {
        counts.clear()
        var p = 0
        while (p < nc) {
          val g = new Gram(cb, co(p), co(p + n))
          val k = counts.get(g)
          if (k == null) counts.put(g, Array(1)) else k(0) += 1
          p += 1
        }
        var clipped = 0L
        p = 0
        while (p < nr) {
          val k = counts.get(new Gram(rb, ro(p), ro(p + n)))
          if (k != null && k(0) > 0) { k(0) -= 1; clipped += 1 }
          p += 1
        }
        out(n - 1) = clipped
      }
      n += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Byte offset of every code point, then the end offset. */
  private def codePointStarts(b: Array[Byte]): Array[Int] = {
    val starts = new Array[Int](b.length + 1)
    var k = 0; var i = 0
    while (i < b.length) {
      starts(k) = i; k += 1
      i += UTF8String.numBytesForFirstByte(b(i))
    }
    starts(k) = b.length
    java.util.Arrays.copyOf(starts, k + 1)
  }

  /** The bytes [from, until) of one side's text, as a hash key. */
  private final class Gram(val bytes: Array[Byte], val from: Int, val until: Int) {
    override val hashCode: Int = {
      var h = 1; var i = from
      while (i < until) { h = 31 * h + bytes(i); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case g: Gram => java.util.Arrays.equals(bytes, from, until, g.bytes, g.from, g.until)
      case _ => false
    }
  }

  /** Length of the longest common token subsequence (row DP, O(m·n)). */
  def lcs(a: ArrayData, b: ArrayData): Long = {
    val x = tokens(a); val y = tokens(b)
    val row = new Array[Long](y.length + 1)
    for (xi <- x) {
      var diag = 0L // row(j − 1) of the previous row
      var j = 1
      while (j <= y.length) {
        val up = row(j)
        row(j) = if (same(xi, y(j - 1))) diag + 1 else math.max(up, row(j - 1))
        diag = up
        j += 1
      }
    }
    row(y.length)
  }

  /** Word-level Levenshtein distance (row DP, O(m·n)). */
  def edits(a: ArrayData, b: ArrayData): Long = {
    val x = tokens(a); val y = tokens(b)
    val row = Array.tabulate[Long](y.length + 1)(_.toLong)
    for (i <- x.indices) {
      var diag = row(0) // row(j − 1) of the previous row
      row(0) = i + 1L
      var j = 1
      while (j <= y.length) {
        val up = row(j)
        row(j) = math.min(math.min(up, row(j - 1)) + 1,
          diag + (if (same(x(i), y(j - 1))) 0 else 1))
        diag = up
        j += 1
      }
    }
    row(y.length)
  }

  private def tokens(a: ArrayData): Array[UTF8String] =
    Array.tabulate(a.numElements())(i => if (a.isNullAt(i)) null else a.getUTF8String(i))

  // a NULL token equals nothing, as SQL `=` inside a conditional
  private def same(u: UTF8String, v: UTF8String): Boolean = u != null && u == v
}

/** Shared shape of the three pair kernels: a null-intolerant binary
  * expression whose code is one static call into [[PairCountsImpl]].
  */
sealed trait PairKernel extends BinaryExpression {
  protected def accepts(t: DataType): Boolean
  protected def call(a: String, b: String): String
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (accepts(left.dataType) && accepts(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName does not accept " +
        s"(${left.dataType}, ${right.dataType})")
  protected def isTokenArray(t: DataType): Boolean = t match {
    case ArrayType(e, _) => e == StringType
    case _ => false
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PairCountsImpl.${call(a, b)}")
}

/** [[PairCountsImpl.chrfClipped]]: (string, string) → array<bigint> of length `maxN`. */
case class ChrFClipped(left: Expression, right: Expression, maxN: Int) extends PairKernel {
  require(maxN >= 1, s"ChrFClipped: maxN >= 1, got $maxN")
  protected def accepts(t: DataType): Boolean = t == StringType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  protected def call(a: String, b: String): String = s"chrfClipped($a, $b, $maxN)"
  override def nullSafeEval(a: Any, b: Any): Any =
    PairCountsImpl.chrfClipped(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxN)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[PairCountsImpl.lcs]]: (array<string>, array<string>) → bigint. */
case class TokenLcs(left: Expression, right: Expression) extends PairKernel {
  protected def accepts(t: DataType): Boolean = isTokenArray(t)
  override def dataType: DataType = LongType
  protected def call(a: String, b: String): String = s"lcs($a, $b)"
  override def nullSafeEval(a: Any, b: Any): Any =
    PairCountsImpl.lcs(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[PairCountsImpl.edits]]: (array<string>, array<string>) → bigint. */
case class TokenEdits(left: Expression, right: Expression) extends PairKernel {
  protected def accepts(t: DataType): Boolean = isTokenArray(t)
  override def dataType: DataType = LongType
  protected def call(a: String, b: String): String = s"edits($a, $b)"
  override def nullSafeEval(a: Any, b: Any): Any =
    PairCountsImpl.edits(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PairCounts {
  import org.apache.spark.sql.GraftBridge.{column, expression}
  def chrfClipped(c: Column, r: Column, maxN: Int): Column =
    column(ChrFClipped(expression(c), expression(r), maxN))
  def tokenLcs(c: Column, r: Column): Column =
    column(TokenLcs(expression(c), expression(r)))
  def tokenEdits(c: Column, r: Column): Column =
    column(TokenEdits(expression(c), expression(r)))
}
