package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * One word's BPE segmentation under a learned merge list (Sennrich et
 * al.) as a single Catalyst expression: the `array<string>` of symbols
 * after applying `merges` in list order, each one greedily from the
 * left — scan the symbols, and wherever the last kept symbol is `l` and
 * the next is `r`, fuse them into `l||r`. A fused symbol never re-fuses
 * under the same merge (`l||r` ≠ `l`, since `r` is nonempty), so an
 * `l = r` run fuses every other pair, left first.
 *
 * Merges are indexed by pair. From the current rank, the next merge
 * applied is the one of smallest higher rank whose pair is adjacent
 * now; when there is none the word is done. A merge whose pair is not
 * adjacent changes nothing, so this equals applying every merge in
 * turn, and a word costs the merges that fire on it, not the length of
 * the list.
 *
 * A NULL array is NULL; NULL elements pass through and never fuse. A
 * merge side that is NULL or empty raises `IllegalArgumentException`
 * when the expression is built.
 */
case class BpeMerge(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  private def bad(m: (String, String)) =
    m._1 == null || m._2 == null || m._1.isEmpty || m._2.isEmpty
  require(!merges.exists(bad),
    s"BPE merges need a non-NULL, nonempty lhs and rhs: ${merges.find(bad).orNull}")

  override def dataType: DataType = child.dataType
  override def prettyName: String = "bpe_merge"
  // explain shows the merge count, not the list
  override def stringArgs: Iterator[Any] = Iterator(child, s"${merges.size} merges")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }

  private def utf8(s: String) = UTF8String.fromString(s)
  @transient private lazy val lhs = merges.map(m => utf8(m._1)).toArray
  @transient private lazy val rhs = merges.map(m => utf8(m._2)).toArray
  @transient private lazy val fused = merges.map(m => utf8(m._1 + m._2)).toArray
  // pair -> its ranks, ascending (a pair may be learned more than once)
  @transient private lazy val ranks: Map[(UTF8String, UTF8String), Array[Int]] =
    lhs.indices.groupBy(k => (lhs(k), rhs(k))).view.mapValues(_.toArray).toMap

  /** Smallest rank above `cur` among the adjacent pairs of `syms(0 until n)`, or -1. */
  private def nextRank(syms: Array[UTF8String], n: Int, cur: Int): Int = {
    var best = -1
    var i = 0
    while (i + 1 < n) {
      ranks.get((syms(i), syms(i + 1))).foreach { rs =>
        val k = rs.indexWhere(_ > cur)
        if (k >= 0 && (best < 0 || rs(k) < best)) best = rs(k)
      }
      i += 1
    }
    best
  }

  def merge(word: ArrayData): ArrayData = {
    var n = word.numElements()
    val syms = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      syms(i) = word.getUTF8String(i) // NULL for a NULL element
      i += 1
    }
    var k = nextRank(syms, n, -1)
    while (k >= 0) {
      val (l, r) = (lhs(k), rhs(k))
      // one greedy-left pass, compacting in place (kept index j <= i)
      var j = 0
      i = 0
      while (i < n) {
        if (j > 0 && l == syms(j - 1) && r == syms(i)) syms(j - 1) = fused(k)
        else { syms(j) = syms(i); j += 1 }
        i += 1
      }
      n = j
      k = nextRank(syms, n, k)
    }
    val out = new Array[Any](n)
    System.arraycopy(syms, 0, out, 0, n)
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any =
    merge(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerge", this, classOf[BpeMerge].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.merge($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMerge =
    copy(child = newChild)
}
