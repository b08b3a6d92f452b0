package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.LookupSum
import graft.operators.TextAnalysis

/** The one text-model scorer: the [[graft.functions.LookupSum]] kernel,
  * the micro-nat helper it is fed by, the fail-fast argument checks of
  * the trainers and entries, and the Spark jobs each one launches. */
class TextModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def strings(xs: String*): ArrayData =
    new GenericArrayData(xs.map(x => if (x == null) null else UTF8String.fromString(x)).toArray)

  private def longsOf(a: Any): Seq[Long] =
    a.asInstanceOf[ArrayData].toLongArray().toSeq

  // bigram-shaped backoff: pair, then first token, then the default;
  // every row starts from `init`
  private val bigram = LookupSum.Model(2, Some(Set("a", "b", "日")), Seq(
    LookupSum.Level(0, 2, Map("a b" -> Seq(10L, 1L), "日 <oov>" -> Seq(20L, 2L))),
    LookupSum.Level(0, 1, Map("a" -> Seq(100L, 3L), "<oov>" -> Seq(200L, 4L)))),
    default = Seq(1000L, 5L), init = Seq(7L, 0L))

  test("lookup_sum: first level holding the window wins, else the default; " +
      "interpreted ≡ generated") {
    val input = BoundReference(0, ArrayType(StringType), nullable = true)
    val kernel = LookupSum(input, bigram)
    val generated = GenerateUnsafeProjection.generate(Seq(kernel))
    val cases = Seq(
      // "a b" pair; "b a" neither pair nor first token → default
      strings("a", "b", "a") -> Seq(7L + 10 + 1000, 0L + 1 + 5),
      // "x" reads as <oov>: "日 <oov>" pair, then "<oov> a" → level 2
      strings("日", "x", "a") -> Seq(7L + 20 + 200, 0L + 2 + 4),
      // "a" then <oov>: pair unseen → first token "a"
      strings("a", "zz") -> Seq(7L + 100, 3L),
      // fewer keys than n: no window, init only
      strings("a") -> Seq(7L, 0L),
      strings() -> Seq(7L, 0L),
      // no level holds a NULL key: (a, NULL) backs off to "a",
      // (NULL, b) to the default
      strings("a", null, "b") -> Seq(7L + 100 + 1000, 3L + 5))
    cases.foreach { case (arr, want) =>
      assert(longsOf(kernel.eval(InternalRow(arr))) === want)
      assert(longsOf(generated(InternalRow(arr)).getArray(0)) === want)
    }
    assert(kernel.eval(InternalRow(null)) == null)
    assert(generated(InternalRow(null)).isNullAt(0))
    // explain shows the model's shape, never its tables
    assert(kernel.toString.contains("n=2, levels=2/2, L=2"), kernel.toString)
    assert(!kernel.toString.contains("a b"), kernel.toString)
  }

  test("lookup_sum: bigint keys (hashed slots) sum per occurrence") {
    val m = LookupSum.Model(1, None,
      Seq(LookupSum.Level(0, 1, Map(3L -> Seq(5L)))), Seq(-1L), Seq(0L))
    val k = LookupSum(BoundReference(0, ArrayType(LongType), nullable = true), m)
    val arr = new GenericArrayData(Array[Any](3L, 3L, 4L))
    assert(longsOf(k.eval(InternalRow(arr))) === Seq(9L))
    // a vocabulary or a multi-key level needs string keys
    val bad = LookupSum(BoundReference(0, ArrayType(LongType), nullable = true),
      m.copy(vocab = Some(Set("a"))))
    assert(bad.checkInputDataTypes().isFailure)
    intercept[IllegalArgumentException](
      LookupSum.Model(1, None, Seq(LookupSum.Level(0, 2, Map.empty)), Seq(0L), Seq(0L)))
    intercept[IllegalArgumentException](
      LookupSum.Model(1, None, Nil, Seq(0L), Seq(0L, 0L)))
  }

  test("micro ≡ Spark's round(log(a / b) * 1e6) over a ratio sweep") {
    import spark.implicits._
    val pairs = (for (a <- 1L to 400L; b <- 1L to 400L) yield (a, b)) ++
      (1 to 20000).map { i =>
        val r = new scala.util.Random(i)
        (1L + r.nextInt(1 << 30), 1L + r.nextInt(1 << 30))
      }
    val spark4 = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        round(log(col("a").cast("double") / col("b").cast("double")) * 1e6)
          .cast("long"))
      .collect()
    assert(spark4.length === pairs.size)
    val bad = spark4.filter(r =>
      TextAnalysis.micro(r.getLong(0), r.getLong(1)) != r.getLong(2))
    assert(bad.isEmpty, s"${bad.length} ratios differ, e.g. ${bad.take(3).mkString}")
  }

  test("text-model arguments fail before any Spark job") {
    import spark.implicits._
    val docs = Seq((1L, "a b c", "x"), (2L, "a b", "y"))
      .toDF("doc_id", "text", "lang")
    for (v <- Seq(0, -1)) {
      val calls: Seq[() => Any] = Seq(
        () => TextAnalysis.unigramLogProb(docs, "doc_id", "text", v),
        () => TextAnalysis.bigramLogProb(docs, "doc_id", "text", v),
        () => TextAnalysis.bigramModel(docs, "text", v),
        () => TextAnalysis.nbTrain(docs, "text", "lang", v),
        () => TextAnalysis.nbClassify(docs, "doc_id", "text", "lang", v))
      calls.foreach { call =>
        assert(TestSpark.jobs(
          intercept[IllegalArgumentException](call())) === 0, s"vocabSize $v")
      }
    }
    val hl = TextAnalysis.hashedLinearTrain(docs, "text", "lang",
      buckets = 16)
    val sole = TextAnalysis.hashedLinearTrain(docs.filter(col("lang") === "x"),
      "text", "lang", buckets = 16)
    assert(TestSpark.jobs {
      val e = intercept[IllegalArgumentException](
        TextAnalysis.hashedLinearMargin(hl, docs, "doc_id", "text", "xx"))
      assert(e.getMessage.contains("not a model label"))
      val s = intercept[IllegalArgumentException](
        TextAnalysis.hashedLinearMargin(sole, docs, "doc_id", "text", "x"))
      assert(s.getMessage.contains("only label"))
    } === 0)
    // a NULL training label would score as a class of its own
    val nullLabel = Seq((1L, "a b", "x"), (2L, "a", null))
      .toDF("doc_id", "text", "lang")
    intercept[IllegalArgumentException](
      TextAnalysis.nbTrain(nullLabel, "text", "lang", 10))
    intercept[IllegalArgumentException](
      TextAnalysis.hashedLinearTrain(nullLabel, "text", "lang"))
  }

  test("job pins: a scoring Column builds with 0 jobs; registry text " +
      "entries launch a pinned number") {
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val text = col("text")
    val uni = TextAnalysis.unigramModel(docs, "text", 20)
    val bi = TextAnalysis.bigramModel(docs, "text", 20)
    val tri = TextAnalysis.trigramModel(docs, "text", 20)
    val nb = TextAnalysis.nbTrain(docs, "text", "lang", 20)
    val hl = TextAnalysis.hashedLinearTrain(docs, "text", "lang",
      buckets = 64)
    // trained models are driver-side values: scoring reads no table
    val build = TestSpark.jobs {
      Seq(uni, bi, tri, nb, hl).foreach(m => TextAnalysis.textScores(m, text))
      TextAnalysis.unigramLogProb(uni, docs, "doc_id", "text")
      TextAnalysis.bigramLogProb(bi, docs, "doc_id", "text")
      TextAnalysis.trigramStupidBackoff(tri, docs, "doc_id", "text")
      TextAnalysis.nbPredict(nb, docs, "doc_id", "text")
      TextAnalysis.hashedLinearPredict(hl, docs, "doc_id", "text")
      TextAnalysis.hashedLinearMargin(hl, docs, "doc_id", "text", "en")
    }
    assert(build === 0)

    // whole registry entries at sf0.01, documents cached: the training
    // collects, the scoring job and the entry's ORDER BY
    val dir = "/root/testdata/sf0.01"
    graft.queries.Registry.prepare(spark, dir)
    val cached = spark.table("documents").cache()
    try {
      cached.count()
      val jobs = Seq("text_unigram_lp", "text_bigram_lp", "text_trigram_sb",
        "text_nb_classify", "text_hashlin_classify").map { q =>
        val run = SparkEntry.queries(q)
        run(spark, dir).collect() // warm
        q -> TestSpark.jobs(run(spark, dir).collect())
      }.toMap
      assert(jobs === Map("text_unigram_lp" -> 7, "text_bigram_lp" -> 7,
        "text_trigram_sb" -> 7, "text_nb_classify" -> 9,
        "text_hashlin_classify" -> 7))
    } finally {
      cached.unpersist()
      graft.queries.Registry.prepare(spark, TestSpark.sfDir)
    }
  }
}
