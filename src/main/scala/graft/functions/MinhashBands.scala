package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * MinHash-LSH band keys of one shingle set (see
 * [[graft.operators.Dedup.minhashBandKeys]]) as a single Catalyst
 * expression: `array<string>` of `numBands` keys, in band order.
 *
 * Hash family: double hashing over ONE md5 per element. The digest's
 * first 8 bytes read big-endian as `hi`, the next 8 as `lo`; then
 * `x1 = hi >>> 12` and `x2 = ((hi & 0xfff) << 40) | (lo >>> 24)` — the
 * 52-bit values of hex digits 1–13 and 14–26 of `md5(sh)`, i.e. exactly
 * `conv(substring(md5(sh), 1, 13), 16, 10)` and
 * `conv(substring(md5(sh), 14, 13), 16, 10)`. Hash `h` of an element is
 * `(x1 + h·x2) % Prime` (BIGINT arithmetic, same order), the
 * signature keeps its minimum over the elements, and a band key is the
 * band's `rowsPerBand` minima joined by "," in hash order — the
 * `concat_ws` over per-hash `min` aggregates of the exploded-row form,
 * bit for bit, with no per-shingle rows and no aggregate.
 *
 * Degenerate inputs follow that aggregate form: NULL elements are
 * skipped (their md5 is NULL and `min` ignores it); an array with no
 * non-NULL element has no band keys (empty result — like a document
 * without shingle rows); a NULL array is NULL.
 */
case class MinhashBands(child: Expression, numBands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(numBands > 0 && rowsPerBand > 0,
    s"MinhashBands needs numBands > 0 and rowsPerBand > 0, got $numBands × $rowsPerBand")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }

  // MessageDigest is stateful; one per evaluating thread
  @transient private lazy val digest =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  def bands(shingles: ArrayData): ArrayData = {
    val numHashes = numBands * rowsPerBand
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = digest.get()
    var seen = false
    var i = 0
    while (i < shingles.numElements()) {
      if (!shingles.isNullAt(i)) {
        seen = true
        val d = md.digest(shingles.getUTF8String(i).getBytes)
        var hi = 0L
        var lo = 0L
        var j = 0
        while (j < 8) {
          hi = (hi << 8) | (d(j) & 0xffL)
          lo = (lo << 8) | (d(j + 8) & 0xffL)
          j += 1
        }
        val x1 = hi >>> 12
        val x2 = ((hi & 0xfffL) << 40) | (lo >>> 24)
        var h = 0
        while (h < numHashes) {
          val v = (x1 + h * x2) % MinhashBands.Prime
          if (v < mins(h)) mins(h) = v
          h += 1
        }
      }
      i += 1
    }
    if (!seen) return new GenericArrayData(Array.empty[Any])
    val keys = new Array[Any](numBands)
    var b = 0
    while (b < numBands) {
      val sb = new java.lang.StringBuilder()
      var r = 0
      while (r < rowsPerBand) {
        if (r > 0) sb.append(',')
        sb.append(mins(b * rowsPerBand + r))
        r += 1
      }
      keys(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(keys)
  }

  override protected def nullSafeEval(v: Any): Any =
    bands(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBands", this, classOf[MinhashBands].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.bands($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

object MinhashBands {
  /** Largest prime below 2^53: the double-hashing modulus. 53 bits keeps
    * every intermediate (x1 + 17·x2 < 2^57) inside BIGINT range in BOTH
    * engines — DuckDB raises on signed-64 overflow rather than wrapping. */
  val Prime: Long = 9007199254740881L
}
