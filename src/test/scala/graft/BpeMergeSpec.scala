package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.BpeMerge
import graft.operators.TextAnalysis

/** The one BPE merge kernel ([[graft.functions.BpeMerge]]) and the four
  * apply forms built on it, pinned to the sequential reference fold:
  * every merge applied in list order, greedily from the left. */
class BpeMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def refFold(syms: Seq[String], l: String, r: String): Seq[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, s) =>
      if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
      else acc :+ s
    }

  private def refMerge(syms: Seq[String], merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(syms) { case (s, (l, r)) => refFold(s, l, r) }

  /** The word's code points as symbols (the `(.)` symbolizer's split). */
  private def codePoints(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  private def refSegs(text: String, merges: Seq[(String, String)]): Seq[String] =
    Option(text).toSeq.flatMap(_.split(" ").filter(_.nonEmpty))
      .flatMap(w => refMerge(codePoints(w), merges))

  // "😀" is a surrogate pair: one code point, two UTF-16 chars
  private val alphabet = Vector("a", "b", "é", "日", "😀")

  /** A random merge list over `alphabet` and the symbols fused so far,
    * so later merges build on earlier ones; about one in eight repeats
    * an earlier pair, and `l = r` merges come up by chance. */
  private def randomMerges(rnd: scala.util.Random, n: Int): Seq[(String, String)] = {
    val pool = scala.collection.mutable.ArrayBuffer(alphabet: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (out.size < n) {
      if (out.nonEmpty && rnd.nextInt(8) == 0) out += out(rnd.nextInt(out.size))
      else {
        val m = (pool(rnd.nextInt(pool.size)), pool(rnd.nextInt(pool.size)))
        out += m
        pool += m._1 + m._2
      }
    }
    out.toSeq
  }

  /** A run-heavy random word: each drawn symbol repeated 1-4 times. */
  private def randomWord(rnd: scala.util.Random): Seq[String] =
    (1 to (1 + rnd.nextInt(5))).flatMap { _ =>
      Seq.fill(1 + rnd.nextInt(4))(alphabet(rnd.nextInt(alphabet.size)))
    }

  private def arrayOf(syms: Seq[String]): ArrayData =
    new GenericArrayData(syms.map(s => if (s == null) null else UTF8String.fromString(s)).toArray[Any])

  private def stringsOf(a: ArrayData): Seq[String] =
    a.toObjectArray(StringType).toSeq.map(v => if (v == null) null else v.toString)

  test("BpeMerge ≡ the sequential reference fold on random merge lists, " +
      "generated and interpreted") {
    val rnd = new scala.util.Random(29)
    val input = BoundReference(0, ArrayType(StringType), nullable = true)
    (1 to 60).foreach { t =>
      val merges = randomMerges(rnd, 1 + rnd.nextInt(12))
      val kernel = BpeMerge(input, merges)
      val generated = GenerateUnsafeProjection.generate(Seq(kernel))
      val words = Seq.fill(8)(randomWord(rnd)) ++ Seq(Seq("a", "a", "a", "a", "a"),
        Seq.empty, Seq("a", null, "a", "a"))
      words.foreach { w =>
        val want = refMerge(w, merges)
        val row = InternalRow(arrayOf(w))
        assert(stringsOf(kernel.eval(row).asInstanceOf[ArrayData]) === want,
          s"trial $t: eval of $w under $merges")
        assert(stringsOf(generated(row).getArray(0)) === want,
          s"trial $t: generated code of $w under $merges")
      }
      assert(kernel.eval(InternalRow(null)) == null)
      assert(generated(InternalRow(null)).isNullAt(0))
    }
    // an l = r run fuses every other pair, left first
    assert(stringsOf(BpeMerge(Literal.create(Seq("a", "a", "a", "a", "a"),
      ArrayType(StringType)), Seq(("a", "a"), ("aa", "aa"))).eval()
      .asInstanceOf[ArrayData]) === Seq("aaaa", "a"))
    // the merge list is a referenced object: neither the generated code
    // nor explain spells it out
    val marked = BpeMerge(input, Seq(("😀", "é"), ("a", "b")))
    val ctx = new CodegenContext
    val ev = marked.genCode(ctx)
    assert(!(ev.code.toString + ctx.declareAddedFunctions()).contains("😀"))
    assert(marked.toString.contains("2 merges") && !marked.toString.contains("😀"))
  }

  test("a 100-merge list through bpeTokenCountTrained, bpeSegmentsTrained, " +
      "bpeSegmentCount and bpeSegments matches the reference fold") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val merges = randomMerges(rnd, 100)
    assert(merges.size == 100)
    val texts = (1 to 40).map(i =>
      Seq.fill(rnd.nextInt(6))(randomWord(rnd).mkString).mkString(" ")) ++
      Seq("", "  ", null, "aaaaaaaaa bbbbbbbb 😀😀😀😀")
    val docs = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val want = texts.zipWithIndex.map { case (s, i) =>
      i.toLong -> refSegs(s, merges) }.toMap
    assert(want.values.flatten.count(s => s.codePointCount(0, s.length) > 1) > 10,
      "merges must fire")
    val segsTrained = docs.select(col("doc_id"),
        TextAnalysis.bpeSegmentsTrained("text", merges))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(segsTrained === want)
    val countTrained = docs.select(col("doc_id"),
        TextAnalysis.bpeTokenCountTrained("text", merges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(countTrained === want.map { case (i, s) => i -> s.size.toLong })
    val segs = TextAnalysis.bpeSegments(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(segs === want)
    val counts = TextAnalysis.bpeSegmentCount(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === want.map { case (i, s) => i -> s.size.toLong })
  }

  test("a merge with a NULL or empty side fails up front, before any Spark job") {
    import spark.implicits._
    val docs = Seq((1L, "ab ba")).toDF("doc_id", "text")
    val entries: Seq[(String, Seq[(String, String)] => Any)] = Seq(
      "BpeMerge" -> (m => BpeMerge(GraftShim.expression(col("syms")), m)),
      "bpeTokenCountTrained" -> (m => TextAnalysis.bpeTokenCountTrained("text", m)),
      "bpeSegmentsTrained" -> (m => TextAnalysis.bpeSegmentsTrained("text", m)),
      "bpeSegmentCount" -> (m => TextAnalysis.bpeSegmentCount(docs, "doc_id", "text", m)),
      "bpeSegments" -> (m => TextAnalysis.bpeSegments(docs, "doc_id", "text", m)))
    for {
      bad <- Seq(("a", null), (null, "b"), ("", "b"), ("a", ""))
      (name, entry) <- entries
    } {
      val jobs = TestSpark.jobs {
        val e = intercept[IllegalArgumentException](entry(Seq(("a", "b"), bad)))
        assert(e.getMessage.contains("nonempty lhs and rhs"), s"$name $bad")
      }
      assert(jobs == 0, s"$name $bad")
    }
  }

  test("job pins: bpeSegmentCount and bpeSegments are one projection job") {
    val docs: DataFrame = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"))
    assert(TestSpark.jobs(
      TextAnalysis.bpeSegmentCount(docs, "doc_id", "text", merges).collect(): Unit) == 1)
    assert(TestSpark.jobs(
      TextAnalysis.bpeSegments(docs, "doc_id", "text", merges).collect(): Unit) == 1)
  }
}
