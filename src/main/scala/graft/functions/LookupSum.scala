package graft.functions

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * A trained text model's score of one row as a single Catalyst
 * expression: the `array<bigint>` `init + Σ_w v(w)` over every window
 * `w` of `n` consecutive keys of the child array, where `v(w)` is the
 * vector of the FIRST backoff level that holds its key for `w`, else
 * `default`. Every vector has the same length L (one entry per label;
 * 1 for a language model).
 *
 * A level looks up the keys `w(from until until)`: one key is the
 * element itself, several are joined by single spaces (tokens come from
 * a space split, so the joined key is unambiguous). With `vocab` set,
 * each string key outside it is read as [[LookupSum.Oov]] first. Keys
 * are strings or, for a one-key level without `vocab`, longs (hashed
 * feature slots).
 *
 * A NULL array is NULL. No level holds a window whose keys there
 * include a NULL element. The model rides as a referenced object, so
 * generated code never holds it and a new model compiles no new class.
 */
case class LookupSum(child: Expression, model: LookupSum.Model)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lookup_sum"
  // explain shows the model's shape, not its tables
  override def stringArgs: Iterator[Any] = Iterator(child,
    s"n=${model.n}, levels=${model.levels.map(_.values.size).mkString("/")}, " +
      s"L=${model.default.size}")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) if model.vocab.isEmpty &&
        model.levels.forall(l => l.until - l.from == 1) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string> (or array<bigint> with one-key " +
        s"levels and no vocab), got ${other.simpleString}")
  }

  // tables keyed by the Catalyst value of each key (UTF8String, Long)
  @transient private lazy val tables: Array[java.util.HashMap[AnyRef, Array[Long]]] =
    model.levels.map { l =>
      val m = new java.util.HashMap[AnyRef, Array[Long]](l.values.size * 2)
      l.values.foreach { case (k, v) =>
        m.put(CatalystTypeConverters.convertToCatalyst(k).asInstanceOf[AnyRef], v.toArray)
      }
      m
    }.toArray
  @transient private lazy val from = model.levels.map(_.from).toArray
  @transient private lazy val until = model.levels.map(_.until).toArray
  @transient private lazy val default = model.default.toArray
  @transient private lazy val init = model.init.toArray
  @transient private lazy val vocab: Set[UTF8String] =
    model.vocab.map(_.map(UTF8String.fromString)).orNull
  @transient private lazy val oov = UTF8String.fromString(LookupSum.Oov)
  @transient private lazy val space = UTF8String.fromString(" ")
  @transient private lazy val keyType = child.dataType.asInstanceOf[ArrayType].elementType

  private def key(keys: Array[AnyRef], a: Int, b: Int): AnyRef = {
    if (b - a == 1) return keys(a)
    var i = a
    while (i < b) { if (keys(i) == null) return null; i += 1 }
    UTF8String.concatWs(space, keys.slice(a, b).map(_.asInstanceOf[UTF8String]): _*)
  }

  def score(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    val keys = new Array[AnyRef](len)
    var i = 0
    while (i < len) {
      val k = arr.get(i, keyType) // NULL stays null
      keys(i) = if (vocab != null && k != null &&
        !vocab.contains(k.asInstanceOf[UTF8String])) oov else k
      i += 1
    }
    val acc = init.clone()
    val n = model.n
    i = 0
    while (i + n <= len) {
      var v: Array[Long] = null
      var j = 0
      while (v == null && j < tables.length) {
        val k = key(keys, i + from(j), i + until(j))
        if (k != null) v = tables(j).get(k)
        j += 1
      }
      if (v == null) v = default
      var l = 0
      while (l < acc.length) { acc(l) += v(l); l += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }

  override protected def nullSafeEval(v: Any): Any =
    score(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lookupSum", this, classOf[LookupSum].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = $ref.score($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): LookupSum =
    copy(child = newChild)
}

object LookupSum {
  /** The token every string key outside a model's `vocab` reads as. */
  val Oov: String = "<oov>"

  /** One backoff level: the keys `w(from until until)` of a window,
    * looked up in `values`. */
  final case class Level(from: Int, until: Int, values: Map[_, Seq[Long]])

  /** A model as the kernel reads it: window length `n`, the optional
    * vocabulary, the backoff levels in order, the `default` vector of a
    * window no level holds and the `init` vector every row starts
    * from. */
  final case class Model(n: Int, vocab: Option[Set[String]], levels: Seq[Level],
                         default: Seq[Long], init: Seq[Long]) {
    require(n >= 1, s"lookup_sum needs n >= 1, got $n")
    require(default.size == init.size,
      s"lookup_sum vectors differ in length: default ${default.size}, init ${init.size}")
    levels.foreach { l =>
      require(0 <= l.from && l.from < l.until && l.until <= n,
        s"lookup_sum level [${l.from}, ${l.until}) outside a window of $n")
      require(l.values.valuesIterator.forall(_.size == init.size),
        s"lookup_sum level [${l.from}, ${l.until}) holds a vector not of length ${init.size}")
    }
  }
}
