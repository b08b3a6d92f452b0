package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Unit tests for the pipeline operators on tiny synthetic inputs with
  * hand-checkable answers. */
class OperatorsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s1"),
    (2L, "the quick brown fox jumps over the lazy dog", "en", "s1"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog today", "en", "s1"), // near dup
    (4L, "completely different content about spark engines and data", "en", "s2"),
    (5L, "one two", "en", "s2") // too short for 3-shingles
  ).toDF("doc_id", "text", "lang", "source")

  test("exactKeepFirst groups identical content and keeps the lowest id") {
    val r = Dedup.exactKeepFirst(docs, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(r.length == 4) // 1+2 collapse
    val dupRow = r.find(_.getLong(2) == 2L).get
    assert(dupRow.getLong(1) == 1L)
  }

  test("connectedComponents labels chains and islands with the min id") {
    // two components: a 4-node path {1,2,3,4} and an island pair {7,9}
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (9L, 7L)).toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents fails loudly when maxIter is too low") {
    // a 64-node path needs several large/small-star alternations
    // (O(log n)); one alternation provably cannot star it up
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, "a", "b", maxIter = 1)
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("hashedLinearMarginFold ≡ join-form margin for every target position") {
    // real corpus so slots collide; targets at the FIRST, middle and
    // LAST label index exercise both zero-length slice edges of the
    // max-over-others concat. The reference is the plain-Scala scorer.
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = TextModelReference.collect(real)
    val model = TextAnalysis.hashedLinearTrain(real, "text",
      "lang", buckets = 64)
    Seq("de", "es", "zh").foreach { target =>
      val joinForm = TextModelReference.hlMargin(corpus, 64, "hl",
        corpus.map(d => (d._1, d._2)), target)
      val foldForm = real.select(col("doc_id"),
          TextAnalysis.textScores(model, col("text")).as("s"))
        .select(col("doc_id"),
          TextAnalysis.scoreMargin(col("s"), model.labels, target).as("m"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(foldForm === joinForm, s"target $target fold != join")
      val entry = TextAnalysis.hashedLinearMargin(model, real, "doc_id",
          "text", target)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(entry === joinForm, s"target $target entry != reference")
    }
    // unknown target fails loudly at plan build
    val e = intercept[IllegalArgumentException](
      TextAnalysis.hashedLinearMargin(model, real, "doc_id", "text", "xx"))
    assert(e.getMessage.contains("not a model label"))
  }

  test("pickThreshold takes the smallest qualifying threshold, loud when none") {
    val sweep = Seq(
      (-100L, 900000L), (0L, 940000L), (100L, 960000L))
      .toDF("thr", "precision_micro")
    assert(TextAnalysis.pickThreshold(sweep, 940000L) === 0L)
    assert(TextAnalysis.pickThreshold(sweep, 900000L) === -100L)
    val e = intercept[IllegalArgumentException](
      TextAnalysis.pickThreshold(sweep, 990000L))
    assert(e.getMessage.contains("no candidate threshold"))
  }

  test("connectedComponents equals union-find on random graphs (property)") {
    // permanence insurance for the star alternation: labels must match a
    // driver-side union-find on arbitrary shapes — sparse random, dense
    // random, disconnected islands, self-pairs
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b): Unit
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    Seq(3, 19, 101).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 60 + rnd.nextInt(80)
      val pairs = (0 until n).map(_ =>
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)) :+ (7L, 7L)
      val got = Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === unionFind(pairs), s"seed $seed diverged from union-find")
    }
  }

  test("connectedComponents stars up a high-diameter path in O(log n) rounds") {
    // the shape min-label propagation CANNOT do in few rounds: a
    // 512-node shuffled path (diameter 511) must converge well inside
    // the default 25 alternations — the Kiveris large/small-star bound
    val rnd = new scala.util.Random(11)
    val perm = rnd.shuffle((0L until 512L).toVector)
    val pairs = perm.sliding(2).map(s => (s(0), s(1))).toSeq.toDF("a", "b")
    val comps = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length == 512 && comps.forall(_._2 == 0L))
  }

  test("minhashNearDups finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // exact dup, jac = 1.0
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L))) // near dup
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
  }

  test("MinHash operators reject non-positive bands, rows and shingle size") {
    val sh = Dedup.shingles(docs, "doc_id", "text")
    val calls: Seq[(String, () => Any)] = Seq(
      "shingles(n = 0)" -> (() => Dedup.shingles(docs, "doc_id", "text", 0)),
      "minhashBandKeys(0, 3)" -> (() => Dedup.minhashBandKeys(sh, 0, 3)),
      "minhashBandKeys(6, 0)" -> (() => Dedup.minhashBandKeys(sh, 6, 0))) ++
      Seq((0, 3, 3), (6, 0, 3), (6, 3, 0)).flatMap { case (b, r, n) => Seq(
        s"minhashNearDups($b, $r, $n)" -> (() => Dedup.minhashNearDups(docs,
          "doc_id", "text", numBands = b, rowsPerBand = r, shingleN = n)),
        s"minhashNearDupsAgainst($b, $r, $n)" -> (() =>
          Dedup.minhashNearDupsAgainst(docs, "doc_id", "text", docs, "doc_id",
            "text", numBands = b, rowsPerBand = r, shingleN = n)))
      }
    calls.foreach { case (name, call) =>
      intercept[IllegalArgumentException](call())
      info(s"$name rejected")
    }
  }

  test("MinhashBands equals the md5/conv/substring column formula") {
    import graft.functions.MinhashBands
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val rnd = new scala.util.Random(17)
    val pool = Seq("a", "b", "z", " ", "é", "ß", "日", "本", "🙂", "x y")
    def str() = Seq.fill(rnd.nextInt(10))(pool(rnd.nextInt(pool.size))).mkString
    val arrays: Seq[(Long, Seq[String])] =
      (0L until 40L).map(i => i -> Seq.fill(1 + rnd.nextInt(6))(str())) ++ Seq(
        100L -> Seq(""), 101L -> Seq("a", null, "b", null),
        102L -> Seq.empty[String], 103L -> Seq("naïve café", "日本語 テキスト", ""))
    val df = arrays.toDF("id", "arr")
    // the exploded-row signature: one md5 per shingle, 13-hex-digit
    // halves, per-hash min aggregate, band keys joined in hash order
    def formula(bands: Int, rows: Int) = {
      val k = bands * rows
      val mins = df.select(col("id"), explode(col("arr")).as("sh"))
        .withColumn("m", md5(col("sh")))
        .withColumn("x1", conv(substring(col("m"), 1, 13), 16, 10).cast("long"))
        .withColumn("x2", conv(substring(col("m"), 14, 13), 16, 10).cast("long"))
        .groupBy("id").agg(min(col("x1") % lit(Dedup.MinhashPrime)).as("h0"),
          (1 until k).map(h => min((col("x1") + lit(h.toLong) * col("x2")) %
            lit(Dedup.MinhashPrime)).as(s"h$h")): _*)
      mins.collect().flatMap { r =>
        (0 until bands).map(b => (r.getLong(0), b,
          (0 until rows).map(j => r.getLong(1 + b * rows + j)).mkString(",")))
      }.toSet
    }
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    for ((bands, rows) <- Seq((6, 3), (2, 5))) {
      val expected = formula(bands, rows)
      assert(expected.map(_._1) === (arrays.map(_._1).toSet - 102L))
      val kernel = df.select(col("id"), posexplode(GraftShim.column(MinhashBands(
        GraftShim.expression(col("arr")), bands, rows))).as(Seq("band", "band_key")))
      assert(rowsOf(kernel) === expected, s"kernel ($bands × $rows)")
      val public = Dedup.minhashBandKeys(
        df.select(col("id"), explode(col("arr")).as("sh")), bands, rows)
      assert(rowsOf(public) === expected, s"minhashBandKeys ($bands × $rows)")
      // the interpreted path agrees with the generated code
      arrays.foreach { case (id, arr) =>
        val got = MinhashBands(Literal.create(arr, ArrayType(StringType)), bands, rows)
          .eval().asInstanceOf[ArrayData].toObjectArray(StringType)
          .zipWithIndex.map { case (key, b) => (id, b, key.toString) }.toSet
        assert(got === expected.filter(_._1 == id), s"eval of doc $id")
      }
    }
    assert(MinhashBands(Literal.create(null, ArrayType(StringType)), 6, 3).eval() == null)
  }

  test("minhashNearDups and minhashNearDupsAgainst equal a driver-side brute force") {
    val rnd = new scala.util.Random(5)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "naïve", "café", "日本",
      "straße", "eta", "theta")
    val bases = Seq.fill(4)(Seq.fill(9)(vocab(rnd.nextInt(vocab.size))))
    // near-duplicates: one or two tokens of a base replaced
    val near = (0 until 24).map { _ =>
      val b = bases(rnd.nextInt(bases.size)).toArray
      (0 until 1 + rnd.nextInt(2)).foreach(_ => b(rnd.nextInt(b.length)) = vocab(rnd.nextInt(vocab.size)))
      b.mkString(" ")
    }
    val fixed = Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy dog", // exact-dup group of 3
      "the quick brown fox jumps over the lazy dog",
      "the quick  brown fox jumps over the lazy dog", // double space
      "The Quick brown fox jumps over the lazy dog", // same shingles, other text
      "the quick brown fox jumps over the lazy cat",
      "one two", "one two", // too-short duplicate pair
      null, "", "", "  ")
    val corpus = (fixed ++ near).zipWithIndex.map { case (t, i) => (i.toLong * 3 + 1, t) }
      .toDF("doc_id", "text")
    def keyed(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashBandKeys(Dedup.shingles(d, "doc_id", "text"), 6, 3).collect()
        .map(r => (r.getInt(1), r.getString(2)) -> r.getLong(0)).toSeq
    def jac(a: Set[String], b: Set[String]): Double = {
      val ni = (a & b).size
      BigDecimal(ni.toDouble / (a.size + b.size - ni).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def triples(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // shingle sets and band keys of the UNCOLLAPSED corpus
    val sh = Dedup.shingles(corpus, "doc_id", "text").collect()
      .groupMap(_.getLong(0))(_.getString(1)).map { case (id, s) => id -> s.toSet }
    val expected = (for {
      ids <- keyed(corpus).groupMap(_._1)(_._2).values.toSeq
      a <- ids; b <- ids if a < b
      j = jac(sh(a), sh(b)) if j >= 0.5
    } yield (a, b, j)).toSet
    assert(expected.exists(_._3 == 1.0) && expected.exists(_._3 < 1.0))
    assert(triples(Dedup.minhashNearDups(corpus, "doc_id", "text")) === expected)

    // cross-corpus: each side signed on its own, pairs share a bucket
    val left = corpus.filter(col("doc_id") % 2 === 1)
    val right = corpus.filter(col("doc_id") % 2 === 0)
    val rightBuckets = keyed(right).groupMap(_._1)(_._2)
    val expectedCross = (for {
      (key, l) <- keyed(left); r <- rightBuckets.getOrElse(key, Nil)
      j = jac(sh(l), sh(r)) if j >= 0.5
    } yield (l, r, j)).toSet
    assert(expectedCross.exists(_._3 == 1.0) && expectedCross.exists(_._3 < 1.0))
    assert(triples(Dedup.minhashNearDupsAgainst(left, "doc_id", "text",
      right, "doc_id", "text")) === expectedCross)
  }

  test("minhashNearDups over documents.parquet starts a pinned number of jobs") {
    val d = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    spark.catalog.clearCache()
    val n = TestSpark.jobs(Dedup.minhashNearDups(d, "doc_id", "text", numBands = 6,
      rowsPerBand = 3, shingleN = 3, threshold = 0.5).collect(): Unit)
    spark.catalog.clearCache()
    assert(n === 9, "minhashNearDups job count moved")
  }

  test("keepBestPerGroup: per-component argmax by score, ties to lowest id") {
    import spark.implicits._
    // two components: path {1,2,3} and pair {7,9}; scores favor 2 in
    // the first, tie between 7 and 9 in the second (lowest id wins)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a", "b")
    val scores = Seq((1L, 10L), (2L, 30L), (3L, 20L), (7L, 5L), (9L, 5L))
      .toDF("id", "s")
    val got = Dedup.keepBestPerGroup(pairs, "a", "b", scores, "id", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got === Seq((1L, 2L, 3L, 30L), (7L, 7L, 2L, 5L)))
  }

  test("substring dedup: keep-first spans, island merge, strip — hand-checked") {
    val d = Seq(
      (1L, "a b c d e f"), // globally-first copy of every shared window
      (2L, "x a b c d y"), // shares "a b c" (pos 2) and "b c d" (pos 3)
      (3L, "a b c d e f"), // exact copy of doc 1 — fully duplicated
      (4L, "p q")          // shorter than k — no windows
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 1 owns the first occurrence of every window -> no spans;
    // doc 2's two overlapping spans merge to [2,5]; doc 3 merges to [1,6]
    assert(spans === Set((2L, 2L, 5L), (3L, 1L, 6L)))
    val stats = Dedup.substringDupStats(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(stats === Set((1L, 6L, 0L), (2L, 6L, 4L), (3L, 6L, 6L), (4L, 2L, 0L)))
    val strip = Dedup.stripDuplicateSpans(d, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(strip === Set((1L, "a b c d e f"), (2L, "x y"), (3L, ""), (4L, "p q")))
  }

  test("simhash16 is equal for identical docs and in [0, 65536)") {
    val m = Dedup.simhash16(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    assert(m.values.forall(v => v >= 0 && v < 65536))
    assert(m(1L) != m(4L)) // different content → different fingerprint
  }

  test("blockedJaccard only pairs docs inside the same block") {
    val pairs = Dedup.blockedJaccard(docs, "doc_id", "text", Seq("lang", "source"),
        threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 4 and 5 share block s2 but 5 has no shingles; cross-block pairs absent
    assert(pairs.forall { case (a, b) => Set(1L, 2L, 3L).contains(a) == Set(1L, 2L, 3L).contains(b) })
  }

  test("cosineTopK ranks an identical vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close
      (3L, Array(-1.0f, 0.0f, 0.0f))   // opposite
    ).toDF("vec_id", "embedding")
    val r = Similarity.cosineTopK(emb, "vec_id", "embedding", col("id") === 0, k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(r.head == (1L, 1.0))
    assert(r(1)._1 == 2L && r(1)._2 > 0.99)
  }

  test("annSignLsh recall is 1.0 when buckets coincide") {
    val emb = Seq(
      (0L, Array(1.0f, 1.0f)), (1L, Array(0.9f, 0.8f)), (2L, Array(0.5f, 0.7f)))
      .toDF("vec_id", "embedding")
    val ann = Similarity.annSignLsh(emb, "vec_id", "embedding", col("id") === 0, 2, planes = 2)
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", col("id") === 0, 2)
    val rec = Similarity.recallAtK(ann, exact).collect()(0)
    assert(rec.getDouble(0) == 1.0)
  }

  test("text analysis columns compute expected values") {
    val one = Seq((1L, "the cat of the hat")).toDF("doc_id", "text")
    val r = one.select(
      TextAnalysis.tokenCount(col("text")).as("tc"),
      TextAnalysis.stopwordCount(col("text")).as("sc"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.langIdHeuristic(col("text")).as("lid")).collect()(0)
    assert(r.getInt(0) == 5)
    assert(r.getInt(1) == 3) // the, of, the
    assert(r.getString(2).length == 32)
    assert(r.getString(3) == "en")
  }

  test("rollingHash is order-sensitive") {
    val df = Seq(("a b c", "c b a")).toDF("t1", "t2")
    val r = df.select(TextAnalysis.rollingHash("t1").as("h1"),
      TextAnalysis.rollingHash("t2").as("h2")).collect()(0)
    assert(r.getLong(0) != r.getLong(1))
  }

  test("unigramLogProb matches hand-computed add-one-smoothed scores") {
    // corpus: a×3, b×1, c×1 → N=5; vocabSize=2 keeps {a, b} (tie on cnt
    // broken by token), so c is OOV; denominator = N + V + 1 = 8.
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val r = TextAnalysis.unigramLogProb(df, "doc_id", "text", vocabSize = 2)
      .orderBy("id").collect()
    val lpA = math.round(math.log(4.0 / 8.0) * 1e6) // -693147
    val lpB = math.round(math.log(2.0 / 8.0) * 1e6) // -1386294
    val lpC = math.round(math.log(1.0 / 8.0) * 1e6) // -2079442 (OOV, +1 smoothing)
    assert(r(0).getLong(1) == 3L && r(0).getLong(2) == 2 * lpA + lpB)
    assert(r(1).getLong(1) == 2L && r(1).getLong(2) == lpA + lpC)
    assert(math.abs(r(0).getDouble(3) - (2 * lpA + lpB) / 3.0 / 1e6) < 1e-9)
  }

  test("ivfTopK returns k in-cell neighbors with sane cosines") {
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val r = Similarity.ivfTopK(emb, "vec_id", "embedding", col("id") < 3,
      k = 5, nCells = 4).collect()
    val byQ = r.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    assert(byQ.values.forall(_.length == 5))
    assert(r.forall(row => math.abs(row.getDouble(2)) <= 1.0001))
    // IVF candidates ⊂ corpus ⇒ every IVF cosine ≤ the brute-force floor
    val brute = Similarity.cosineTopK(emb, "vec_id", "embedding",
      col("id") < 3, k = 5).collect()
    val bruteMin = brute.groupBy(_.getLong(0)).view.mapValues(_.map(_.getDouble(2)).min)
    assert(byQ.forall { case (q, rows) =>
      rows.map(_.getDouble(2)).max <= brute.filter(_.getLong(0) == q).map(_.getDouble(2)).max + 1e-9 })
    assert(bruteMin.nonEmpty)
  }

  test("kmeansCodebook: cells partition the corpus, deterministic, data-adaptive") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val total = emb.count()
    val out = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 4, iters = 2)
      .collect()
    assert(out.map(_.getLong(0)).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    assert(out.map(_.getLong(1)).sum === total, "every vector lands in exactly one cell")
    assert(out.length >= 2, "degenerate codebook: everything in one cell")
    // byte-for-byte deterministic: no RNG anywhere in seeds or updates
    val again = Similarity.kmeansCodebook(emb, "vec_id", "embedding", k = 4, iters = 2)
      .collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("semanticDedup: partition integrity, threshold monotonicity, keep-first") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val total = emb.count()
    def drops(tau: Double, iters: Int = 0): Long =
      Similarity.semanticDedup(emb, "vec_id", "embedding", k = 4,
        iters = iters, threshold = tau).filter(col("dropped")).count()
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      k = 4, iters = 0, threshold = 0.35).collect()
    assert(out.length === total, "every vector gets exactly one verdict row")
    // the LOWEST id of any cell can never be dropped (keep-first rule)
    val minIds = out.groupBy(_.getLong(1)).values.map(_.minBy(_.getLong(0)))
    assert(minIds.forall(!_.getBoolean(2)))
    // monotone: a stricter threshold never drops more
    val d35 = drops(0.35); val d50 = drops(0.50); val d101 = drops(1.01)
    assert(d35 >= d50 && d50 >= d101)
    assert(d101 === 0L, "threshold above 1 must drop nothing")
    assert(d35 > 0L, "0.35 must drop something on this corpus")
    // trained assignment composes (Lloyd path), verdicts stay a partition
    assert(Similarity.semanticDedup(emb, "vec_id", "embedding", k = 4,
      iters = 2, threshold = 0.35).count() === total)
  }

  test("every public top-k entry rejects k = 0") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.5f, 0.2f)), (1L, Array(0.9f, 0.1f, 0.4f, 0.3f)),
      (2L, Array(-1.0f, 0.3f, 0.0f, 0.1f)), (3L, Array(0.2f, -0.7f, 0.6f, 0.9f))
    ).toDF("vec_id", "embedding")
    val q = col("id") === 0L
    val cents = Similarity.buildIvfCentroids(emb, "vec_id", "embedding", 2)
    val queries = emb.filter(col("vec_id") === 0L)
    val entries: Seq[(String, () => Any)] = Seq(
      "cosineTopK" -> (() => Similarity.cosineTopK(emb, "vec_id", "embedding", q, 0)),
      "annSignLsh" -> (() => Similarity.annSignLsh(emb, "vec_id", "embedding", q, 0)),
      "ivfTopK(centroids)" -> (() =>
        Similarity.ivfTopK(emb, "vec_id", "embedding", q, 0, cents)),
      "ivfTopK(nCells)" -> (() =>
        Similarity.ivfTopK(emb, "vec_id", "embedding", q, 0, nCells = 2)),
      "pqTopK" -> (() =>
        Similarity.pqTopK(emb, "vec_id", "embedding", q, 0, m = 2, ksub = 2)),
      "pqRerankTopK" -> (() => Similarity.pqRerankTopK(emb, "vec_id",
        "embedding", q, 0, m = 2, ksub = 2, shortlist = 2)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        q, 0, nCells = 2, nprobe = 1, m = 2, ksub = 2)),
      "pqAnnEnrich" -> (() => Similarity.pqAnnEnrich(queries, "vec_id",
        "embedding", emb, "vec_id", "embedding", 0, m = 2, ksub = 2)),
      "sq8TopK" -> (() => Similarity.sq8TopK(emb, "vec_id", "embedding", q, 0)),
      "sq8RerankTopK" -> (() =>
        Similarity.sq8RerankTopK(emb, "vec_id", "embedding", q, 0, 2)),
      "sq8AnnEnrich" -> (() => Similarity.sq8AnnEnrich(queries, "vec_id",
        "embedding", emb, "vec_id", "embedding", 0)),
      "bqTopK" -> (() => Similarity.bqTopK(emb, "vec_id", "embedding", q, 0)),
      "bqRerankTopK" -> (() =>
        Similarity.bqRerankTopK(emb, "vec_id", "embedding", q, 0, 2)),
      "bqAnnEnrich" -> (() => Similarity.bqAnnEnrich(queries, "vec_id",
        "embedding", emb, "vec_id", "embedding", 0)),
      "matryoshkaTopK" -> (() => Similarity.matryoshkaTopK(emb, "vec_id",
        "embedding", q, 0, prefixDims = 2, shortlist = 2)))
    entries.foreach { case (name, call) =>
      val ex = intercept[IllegalArgumentException](call())
      assert(ex.getMessage.contains("k must be positive"), s"$name: ${ex.getMessage}")
    }
  }

  test("seeded pqTopK and semanticDedup(iters = 0) start a pinned number of jobs") {
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    import TestSpark.jobs
    // pqTopK: one codebook-seed collect shared by all 16 subspaces, then
    // the search (a builder that seeded per subspace would start 15
    // more); semanticDedup: one seed collect, then the dedup itself
    val pq = jobs(Similarity.pqTopK(emb, "vec_id", "embedding", col("id") < 8,
      k = 10, m = 16, ksub = 32).collect(): Unit)
    assert(pq === 4, "seeded pqTopK job count moved")
    val dedup = jobs(Similarity.semanticDedup(emb, "vec_id", "embedding",
      k = 8, iters = 0, threshold = 0.35).collect(): Unit)
    assert(dedup === 9, "semanticDedup(iters = 0) job count moved")
  }

  test("ivfTopK over a TRAINED k-means codebook: end-to-end composition") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val trained = Similarity.kmeansCentroidTable(emb, "vec_id", "embedding",
      k = 4, iters = 2)
    assert(trained.columns.toSeq === Seq("cell", "cv", "cnorm2"))
    val res = Similarity.ivfTopK(emb, "vec_id", "embedding",
      col("id") < 3, k = 5, centroids = trained).collect()
    assert(res.nonEmpty)
    // every query id returns <= k neighbors, none of them itself, and
    // cosines are valid (the cell-local search returned real candidates)
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.forall { case (q, rows) =>
      rows.length <= 5 && rows.forall(r => r.getLong(1) != q &&
        !r.getDouble(2).isNaN && math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
    })
  }

  test("ivfTopK multi-probe: candidates and recall grow monotonically with nprobe") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val trained = Similarity.kmeansCentroidTable(emb, "vec_id", "embedding",
      k = 8, iters = 2)
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", col("id") < 4, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(p: Int) = {
      val hits = Similarity.ivfTopK(emb, "vec_id", "embedding", col("id") < 4,
          5, trained, nprobe = p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cand = Similarity.ivfCandidateStats(emb, "vec_id", "embedding",
        col("id") < 4, trained, nprobe = p).collect().head.getDouble(0)
      (hits.count(exact), cand)
    }
    val (h1, c1) = run(1)
    val (h2, c2) = run(4)
    // probing a superset of cells can only add candidates; and any new
    // candidate out-ranking a true top-k member must itself be a true
    // top-k member, so recall@k never drops as nprobe grows
    assert(c2 > c1, s"nprobe=4 candidates $c2 not > nprobe=1 $c1")
    assert(h2 >= h1, s"nprobe=4 hits $h2 < nprobe=1 hits $h1")
    // nprobe = all cells ≡ brute force: recall must be exactly 1
    val (hAll, _) = run(8)
    assert(hAll === exact.size, "probing every cell must equal the exact result")
  }

  test("sq8TopK: 8-bit scalar quantization is near-exact; rerank only helps") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", col("id") < 4, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8TopK(emb, "vec_id", "embedding", col("id") < 4, k = 10)
    val rows = sq.collect()
    assert(rows.length === 40) // 4 queries x 10
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ds = rs.map(_.getLong(2)).toSeq
      assert(ds == ds.sorted) // exact BIGINTs, ascending per query
    }
    // 255 levels per dimension distort distances far less than PQ's 32
    // codewords per 4-dim subspace — recall should be near-perfect
    // (unit-norm testdata, so cosineTopK is valid ground truth)
    val hits = rows.map(r => (r.getLong(0), r.getLong(1))).toSet.count(exact)
    assert(hits >= 35, s"SQ8 recall too low: $hits/40 exact top-10 pairs")
    // determinism under repartitioning (bounds agg + pure projections)
    val again = Similarity.sq8TopK(emb.repartition(7), "vec_id", "embedding",
        col("id") < 4, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // exact re-rank over the SQ8 shortlist can only improve recall
    val rr = Similarity.sq8RerankTopK(emb, "vec_id", "embedding",
        col("id") < 4, k = 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrHits = rr.count(exact)
    assert(rrHits >= hits, s"re-rank recall $rrHits below raw SQ8 $hits")
  }

  test("sq8TopK: degenerate (constant) dimensions code to 0 and reconstruct exactly") {
    val s = TestSpark.spark
    import s.implicits._
    // dim 2 is constant across the corpus (rng = 0); distances must
    // ignore it exactly rather than divide by zero
    val emb = Seq(
      (0L, Array(0.0, 0.1, 7.0)), (1L, Array(0.2, 0.3, 7.0)),
      (2L, Array(0.9, 0.8, 7.0)), (3L, Array(1.0, 1.0, 7.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.sq8TopK(emb, "vec_id", "embedding", col("id") === 0L, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(r.map(_._1).toSeq === Seq(1L, 2L, 3L)) // nearest first
  }

  test("pqTopK: ADC recall is real, finer quantization never hurts much") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", col("id") < 4, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", col("id") < 4,
      k = 10, m = 16, ksub = 32)
    val rows = pq.collect()
    assert(rows.length === 40) // 4 queries x 10
    // approximate distances are exact BIGINTs, ascending per query
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ds = rs.map(_.getLong(2)).toSeq
      assert(ds == ds.sorted)
    }
    // the testdata embeddings are UNIT-NORM, so exact squared L2 ranks
    // identically to exact cosine — cosineTopK is a valid ground truth
    val hits = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      .count(exact)
    // seed (untrained) 32-word codebooks over near-random unit vectors:
    // measured ~17/40; random 10-of-499 overlap would average ~0.8
    assert(hits >= 10, s"PQ recall too low: $hits/40 exact top-10 pairs")
    // determinism under repartitioning (seeded codebooks, no RNG)
    val again = Similarity.pqTopK(emb.repartition(7), "vec_id", "embedding",
        col("id") < 4, k = 10, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again === rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // exact re-rank over an ADC shortlist can only improve recall: any
    // true top-10 member IN the shortlist is ranked exactly
    val rr = Similarity.pqRerankTopK(emb, "vec_id", "embedding",
        col("id") < 4, k = 10, m = 16, ksub = 32, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rrHits = rr.count(exact)
    assert(rrHits >= hits, s"re-rank recall $rrHits below raw ADC $hits")
    assert(rrHits >= 25, s"re-ranked recall too low: $rrHits/40")
    // IVF+PQ: every result must come from a probed cell — a full-probe
    // run (nprobe = nCells) must equal raw ADC exactly (cell filtering
    // is a no-op when every cell is probed)
    val full = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        col("id") < 4, k = 10, nCells = 8, nprobe = 8, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full === rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // the broadcast-fold enrich form is BIT-EQUAL to the join form
    // (same arithmetic, same ordering) — it's the stream-safe twin
    val enr = Similarity.pqAnnEnrich(
        emb.filter(col("vec_id") < 4), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10, m = 16, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(enr === rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // scale shape: encoding + search must not shuffle the corpus — the
    // query side broadcasts
    val plan = pq.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"))
  }

  test("pqTopK(iters = 1): per-subspace Lloyd beats the seed codebooks") {
    val emb = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding",
        col("id") < 8, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Int =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet.count(exact)
    val seed = recall(Similarity.pqTopK(emb, "vec_id", "embedding",
      col("id") < 8, 10, m = 16, ksub = 32))
    val trained = recall(Similarity.pqTopK(emb, "vec_id", "embedding",
      col("id") < 8, 10, m = 16, ksub = 32, iters = 1))
    // fully deterministic path (exact-integer Lloyd, md5 seeds): on this
    // corpus the measured values are 34 vs 40 of 80 — adapting each
    // subquantizer to its marginal must never LOSE to the raw seeds
    assert(trained >= seed, s"trained recall $trained < seed recall $seed")
    assert(trained >= 38, s"trained recall regressed: $trained/80")
    // trained shortlist + exact re-rank composes; the exact second
    // stage can only improve on the raw trained ADC
    val trainedRr = recall(Similarity.pqRerankTopK(emb, "vec_id",
      "embedding", col("id") < 8, 10, m = 16, ksub = 32, shortlist = 50,
      iters = 1))
    assert(trainedRr >= trained,
      s"trained re-rank recall $trainedRr below raw trained $trained")
    // the trained broadcast-fold enrich is BIT-EQUAL to the trained join
    // form (same codebooks, same arithmetic, same ordering)
    val trainedRows = Similarity.pqTopK(emb, "vec_id", "embedding",
        col("id") < 8, 10, m = 16, ksub = 32, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val trainedEnr = Similarity.pqAnnEnrich(
        emb.filter(col("vec_id") < 8), "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 10, m = 16, ksub = 32, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(trainedEnr === trainedRows)
    // trained IVF+PQ at full probe must equal trained raw ADC exactly
    // (cell filtering is a no-op when every cell is probed)
    val trainedIvf = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        col("id") < 8, 10, nCells = 8, nprobe = 8, m = 16, ksub = 32,
        iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(trainedIvf === trainedRows)
    // ...and at a REAL probe budget the trained cells+codes still beat
    // the seed ADC's recall floor while scanning a fraction of the corpus
    val trainedIvf2 = recall(Similarity.ivfPqTopK(emb, "vec_id",
      "embedding", col("id") < 8, 10, nCells = 8, nprobe = 4, m = 16,
      ksub = 32, iters = 1))
    assert(trainedIvf2 >= 20, s"trained IVF+PQ nprobe=4 recall: $trainedIvf2/80")
    // ---- TRAINED COARSE quantizer (coarseIters > 0): the full
    // IVFx(trained),PQy(trained) build ----
    // At full probe the coarse form is irrelevant by construction: every
    // cell is probed, so trained-coarse IVF+PQ ≡ the trained raw ADC
    // bit-for-bit (the strongest structural check available).
    val trainedBoth = Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        col("id") < 8, 10, nCells = 8, nprobe = 8, m = 16, ksub = 32,
        iters = 1, coarseIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(trainedBoth === trainedRows)
    // At a real probe budget the path is deterministic (exact-integer
    // Lloyd on both stages): measured 31/80 at nprobe=4 vs 40/80 for the
    // seed coarse — the KNOWN corpus artifact from embed_ivf_recall_trained
    // (sf0.001 queries id<8 ARE the seed centroids, so seed cells contain
    // their queries perfectly; on real data the trained cells win). Pin a
    // floor + probe monotonicity, not superiority.
    val tc4 = recall(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      col("id") < 8, 10, nCells = 8, nprobe = 4, m = 16, ksub = 32,
      iters = 1, coarseIters = 2))
    val tc2 = recall(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
      col("id") < 8, 10, nCells = 8, nprobe = 2, m = 16, ksub = 32,
      iters = 1, coarseIters = 2))
    assert(tc4 >= 28, s"trained-coarse IVF+PQ nprobe=4 recall: $tc4/80")
    assert(tc4 >= tc2,
      s"recall must not drop as nprobe grows: nprobe=4 $tc4 < nprobe=2 $tc2")
  }

  test("trained coarse >= seed coarse on a clustered corpus (non-centroid queries)") {
    // The testdata embeddings fight the queries-ARE-seed-centroids
    // artifact (CLAUDE notes, embed_ivf_recall_trained); this fixture
    // has REAL cluster structure and queries that are ordinary members:
    // 8 well-separated centers, 50 members each (center + small
    // deterministic jitter). The seed coarse quantizer picks the 8
    // lowest-md5 corpus ids — by the birthday bound several land in the
    // SAME cluster, leaving clusters uncovered; Lloyd iterations spread
    // the centroids back out, so the trained coarse must not lose.
    val s = TestSpark.spark
    import s.implicits._
    val d = 16
    def vec(c: Int, member: Int): Seq[Float] = {
      (0 until d).map { j =>
        val base = (math.floorMod(c * 37 + j * 11, 23) - 11).toFloat
        base + (math.floorMod(member * 7919 + j * 104729, 25) - 12) * 0.5f
      }
    }
    val rows = (0 until 8).flatMap { c =>
      (0 until 50).map(mi => (100L + c * 50 + mi, vec(c, mi + 8)))
    } ++ (0 until 8).map(c => (c.toLong, vec(c, c)))
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("id", col("vec_id"))
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding",
        col("id") < 8, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Int =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet.count(exact)
    def run(coarseIters: Int, nprobe: Int): Int =
      recall(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        col("id") < 8, 10, nCells = 8, nprobe = nprobe, m = 8, ksub = 32,
        iters = 1, coarseIters = coarseIters))
    // measured on this deterministic fixture: 76/80 everywhere (the PQ
    // resolution is the remaining 4) — the md5-lowest seeds leave two
    // clusters uncovered and double-cover two, but the mapping stays
    // locality-preserving, so seed matches trained HERE; the assertions
    // pin the ordering, the ceiling property, and an absolute floor
    val seed1 = run(coarseIters = 0, nprobe = 1)
    val trained1 = run(coarseIters = 2, nprobe = 1)
    assert(trained1 >= seed1,
      s"trained coarse $trained1 < seed coarse $seed1 at nprobe=1")
    val seed2 = run(coarseIters = 0, nprobe = 2)
    val trained2 = run(coarseIters = 2, nprobe = 2)
    assert(trained2 >= seed2,
      s"trained coarse $trained2 < seed coarse $seed2 at nprobe=2")
    // THE clustered-corpus property: with a trained coarse quantizer,
    // ONE probe already reaches the full-probe ceiling — the cell
    // structure recovers the true clusters, so probing 1/8 of the
    // corpus loses zero recall (scan cost drops 8x for free)
    val ceiling = run(coarseIters = 2, nprobe = 8)
    assert(trained1 === ceiling,
      s"1-probe trained recall $trained1 below full-probe ceiling $ceiling")
    assert(trained1 >= 70, s"trained 1-probe recall too low: $trained1/80")
  }

  test("imageDHash: identical images hash equal, one-pixel edits stay near") {
    val s = TestSpark.spark
    import s.implicits._
    val docs = (0L until 8L).map(i => Tuple1(i)).toDF("doc_id")
    val media = Multimodal.nearDupImageMedia(docs, half = 4, format = "png")
    val hashes = Multimodal.imageDHash(media)
    val rows = hashes.collect().map(h => h.media_id -> (h.dhash_hi, h.dhash_lo)).toMap
    assert(rows.size === 8)
    // a one-pixel red bump moves at most the two bits touching the
    // perturbed cell
    (0L until 4L).foreach { k =>
      val (ah, al) = rows(k); val (bh, bl) = rows(k + 4)
      val ham = java.lang.Long.bitCount(ah ^ bh) + java.lang.Long.bitCount(al ^ bl)
      assert(ham <= 2, s"pair ($k, ${k + 4}) hamming $ham")
    }
    // banded pairs find every partner at the guaranteed radius
    val pairs = Multimodal.dhashNearPairs(hashes, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 4L).foreach(k => assert(pairs.contains((k, k + 4))))
    // beyond the pigeonhole guarantee the API refuses
    val e = intercept[IllegalArgumentException](
      Multimodal.dhashNearPairs(hashes, maxHamming = 4))
    assert(e.getMessage.contains("Hamming 3"))
  }

  test("audioFingerprint: discriminates clips, one-sample edits stay near") {
    val s = TestSpark.spark
    import s.implicits._
    val docs = (0L until 8L).map(i => Tuple1(i)).toDF("doc_id")
    val fps = Multimodal.audioFingerprint(
      Multimodal.nearDupWavMedia(docs, half = 4))
    val rows = fps.collect().map(f => f.media_id -> (f.fp_hi, f.fp_lo)).toMap
    assert(rows.size === 8)
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // partner pairs are near; DISTINCT base clips are far (the chirp
    // fixture scrambles energy contours per id — a fingerprint that
    // thinks everything is a duplicate is useless)
    (0L until 4L).foreach(k => assert(ham(rows(k), rows(k + 4)) <= 2))
    val distinctPairs = for (a <- 0L until 4L; b <- (a + 1) until 4L)
      yield ham(rows(a), rows(b))
    assert(distinctPairs.count(_ > 10) >= 4,
      s"fingerprints barely discriminate: $distinctPairs")
    val pairs = Multimodal.audioNearPairs(fps, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 4L).foreach(k => assert(pairs.contains((k, k + 4))))
  }

  test("frameSample chunks payloads and keeps every Nth frame") {
    import graft.operators.Multimodal
    val docsDf = Seq((1L, "abcdefghij", "en", "s1")).toDF("doc_id", "text", "lang", "source")
    val frames = Multimodal.frameSample(Multimodal.fromDocuments(docsDf),
      frameSize = 3, everyNth = 2).collect().sortBy(_.frame_idx)
    // chunks: abc def ghi j → frames 0, 2 kept
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(new String(frames(0).frame_bytes) == "abc")
    assert(new String(frames(1).frame_bytes) == "ghi")
  }

  test("resizeStub truncates payload and keeps metadata consistent") {
    import graft.operators.Multimodal
    val docsDf = Seq((1L, "abcdefghij", "en", "s1")).toDF("doc_id", "text", "lang", "source")
    val resized = Multimodal.resizeStub(Multimodal.fromDocuments(docsDf), 4).collect()(0)
    assert(resized.n_bytes == 4 && new String(resized.content) == "abcd")
  }

  test("decodeImages round-trips synthetic PNGs through the real JDK codec") {
    import graft.operators.Multimodal
    // local truth: decode one id's PNG bytes directly and replay the
    // closed form — proves the codec path, not just the Spark plumbing
    val id = 13L
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.syntheticPng(id)))
    assert(img.getWidth == (8 + id % 16).toInt && img.getHeight == (8 + id % 12).toInt)
    val expectedR = (for { y <- 0 until img.getHeight; x <- 0 until img.getWidth }
      yield (id * 31 + x * 7 + y * 13) % 256).sum
    val gotR = (for { y <- 0 until img.getHeight; x <- 0 until img.getWidth }
      yield ((img.getRGB(x, y) >> 16) & 0xff).toLong).sum
    assert(gotR == expectedR, "PNG encode->decode must be lossless on the red channel")

    // distributed path: features via mapPartitions over a small id table
    val docsDf = Seq((3L, "t", "en", "s"), (13L, "t", "en", "s"), (64L, "t", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val feats = Multimodal.decodeImages(Multimodal.pngMedia(docsDf, maxId = 64))
      .collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(3L, 13L)) // 64 filtered out
    assert(feats.forall(_.n_channels == 3L))
    assert(feats.find(_.media_id == 13L).get.sum_r == expectedR)
  }

  test("bqTopK: packed Hamming == direct sign-count; rerank recovers recall") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // packed-word distances must equal the direct per-dimension sign
    // count — in particular for pairs whose XOR word is NEGATIVE (the
    // bit_count sign-extension regression: +32 phantom bits)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val got = Similarity.bqTopK(emb, "vec_id", "embedding", col("id") < 8, 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    got.foreach { case ((q, n), hd) =>
      val direct = vecs(q).zip(vecs(n)).count { case (a, b) => (a > 0) != (b > 0) }
      assert(hd === direct.toLong, s"pair ($q, $n)")
    }
    // recall: raw 1-bit-per-dim is weak on near-random vectors; the
    // exact re-rank over a Hamming shortlist recovers it (floors from a
    // deterministic sf0.001 measurement: raw 20/80, @50 51/80, @100
    // 68/80 — pinned loosely against testdata regeneration)
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", col("id") < 8, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(df: org.apache.spark.sql.DataFrame): Int =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        .intersect(exact).size
    val raw = hits(Similarity.bqTopK(emb, "vec_id", "embedding", col("id") < 8, 10))
    val r50 = hits(Similarity.bqRerankTopK(emb, "vec_id", "embedding", col("id") < 8, 10, 50))
    val r100 = hits(Similarity.bqRerankTopK(emb, "vec_id", "embedding", col("id") < 8, 10, 100))
    assert(raw >= 14, s"raw bq recall $raw/80")
    assert(r50 >= 40 && r50 >= raw, s"rerank@50 recall $r50/80")
    assert(r100 >= 55 && r100 >= r50, s"rerank@100 recall $r100/80")
  }

  test("minhashNearDupsAgainst: cross-side only; maxBucket bounds floods") {
    import spark.implicits._
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = "the quick brown fox jumps over the lazy dog again and again tonight"
    val other = "completely different words about spark iceberg parquet shuffles"
    // left: a near-dup of an eval doc + noise + a WITHIN-LEFT dup pair
    val left = Seq((1L, near), (2L, other), (3L, other))
      .toDF("doc_id", "text")
    val right = Seq((10L, base), (11L, "unrelated eval text goes here nine ten"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupsAgainst(left, "doc_id", "text",
        right, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cross hit found; the within-left dup pair (2,3) NEVER surfaces
    assert(pairs === Set((1L, 10L)))

    // a flood of identical left docs (UNRELATED text) explodes its own
    // buckets; the cap excludes exactly those, while the near-dup doc's
    // small buckets keep matching — the documented recall trade: only
    // pairs that can ONLY be reached through an oversized bucket are lost
    val floodRight = Seq((10L, base), (12L, other)).toDF("doc_id", "text")
    val flood = (100L to 140L).map(i => (i, other)).toDF("doc_id", "text")
      .unionByName(Seq((1L, near)).toDF("doc_id", "text"))
    val uncapped = Dedup.minhashNearDupsAgainst(flood, "doc_id", "text",
        floodRight, "doc_id", "text", threshold = 0.5).count()
    assert(uncapped === 42L, s"flood + near pairs expected, got $uncapped")
    val capped = Dedup.minhashNearDupsAgainst(flood, "doc_id", "text",
        floodRight, "doc_id", "text", threshold = 0.5, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 10L)), s"got $capped")
  }

  test("matryoshkaTopK: full prefix is shortlist-invariant; prefix-16 recall") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // prefixDims = d makes stage 1 the exact search — the result must
    // not depend on the shortlist width
    val full10 = Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
        col("id") < 8, k = 10, prefixDims = 64, shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full50 = Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
        col("id") < 8, k = 10, prefixDims = 64, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full10 === full50)
    // unit-norm corpus: exact L2 ranking == exact cosine ranking
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", col("id") < 8, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full10.map(t => (t._1, t._2)) === exact)
    // prefix-16 shortlist-50: these embeddings are NOT matryoshka-
    // trained (near-random), so the prefix is a random 16-dim
    // projection — recall is the JL-style baseline, pinned loosely
    val m16 = Similarity.matryoshkaTopK(emb, "vec_id", "embedding",
        col("id") < 8, k = 10, prefixDims = 16, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = m16.intersect(exact).size
    assert(rec >= 25, s"prefix-16 recall $rec/80")
  }

  test("resizeImages: NN sampling exact, re-encoded PNG decodes to same stats") {
    import graft.operators.Multimodal
    val docsDf = Seq((3L, "t", "en", "s"), (13L, "t", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val media = Multimodal.pngMedia(docsDf, maxId = 64)
    val resized = Multimodal.resizeImages(media, 5, 6).collect().sortBy(_.media_id)
    assert(resized.map(_.media_id).toSeq == Seq(3L, 13L))
    assert(resized.forall(r => r.width == 5L && r.height == 6L))
    // local truth for id 13: replay the NN index math on the closed form
    val id = 13L
    val (w, h) = ((8 + id % 16).toInt, (8 + id % 12).toInt)
    val expR = (for { y <- 0 until 6; x <- 0 until 5 } yield {
      val (sx, sy) = (x * w / 5, y * h / 6)
      (id * 31 + sx * 7 + sy * 13) % 256
    }).sum
    assert(resized.find(_.media_id == 13L).get.sum_r == expR)
    // the emitted content is a REAL lossless PNG of the resized frame:
    // re-decoding it reproduces the emitted stats exactly
    resized.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.content))
      assert(img.getWidth == 5 && img.getHeight == 6)
      val sums = (for { y <- 0 until 6; x <- 0 until 5 } yield img.getRGB(x, y))
        .foldLeft((0L, 0L, 0L)) { case ((a, b, c), rgb) =>
          (a + ((rgb >> 16) & 0xff), b + ((rgb >> 8) & 0xff), c + (rgb & 0xff))
        }
      assert(sums == ((r.sum_r, r.sum_g, r.sum_b)),
        s"re-decoded stats diverge for ${r.media_id}")
    }
    // UPSCALE (dst > src) uses the same index math — pixel replication
    val up = Multimodal.resizeImages(media, 40, 3).collect().sortBy(_.media_id)
    val expUp = (for { y <- 0 until 3; x <- 0 until 40 } yield {
      val (sx, sy) = (x * w / 40, y * h / 3)
      (id * 31 + sx * 7 + sy * 13) % 256
    }).sum
    assert(up.find(_.media_id == 13L).get.sum_r == expUp)
  }

  test("resampleAudio: NN indices exact, re-encoded WAV decodes to same stats") {
    import graft.operators.{MediaRecord, Multimodal}
    val docsDf = Seq((5L, "t", "en", "s"), (13L, "t", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val media = Multimodal.wavMedia(docsDf, maxId = 64)
    val up = Multimodal.resampleAudio(media, 16000).collect().sortBy(_.media_id)
    assert(up.map(_.media_id).toSeq == Seq(5L, 13L))
    // local truth for id 13: n = 64 + 13 % 64 samples, m = 2n, j reads j/2
    val id = 13L
    val n = (64 + id % 64).toInt
    def smp(i: Int): Long = (id * 31 + i * 17) % 65536 - 32768
    val expSum = (0 until 2 * n).map(j => smp(j / 2)).sum
    val got13 = up.find(_.media_id == 13L).get
    assert(got13.n_samples == 2L * n && got13.sum_samples == expSum)
    assert(got13.src_rate == 8000L && got13.dst_rate == 16000L)
    // the emitted content is a REAL WAV at the target rate: re-decoding
    // through decodeAudio reproduces the emitted stats exactly
    import spark.implicits._
    val reDecoded = Multimodal.decodeAudio(
      spark.createDataset(up.map(r => MediaRecord(
        r.media_id, "audio", r.content, "resampled", r.content.length.toLong)).toSeq))
      .collect().map(f => f.media_id -> f).toMap
    up.foreach { r =>
      val f = reDecoded(r.media_id)
      assert(f.sample_rate == 16000L && f.n_samples == r.n_samples &&
        f.sum_samples == r.sum_samples && f.min_sample == r.min_sample &&
        f.max_sample == r.max_sample, s"round-trip diverges for ${r.media_id}")
    }
    // DOWNSAMPLE: 8 kHz -> 2 kHz keeps every 4th sample
    val down = Multimodal.resampleAudio(media, 2000).collect()
      .find(_.media_id == 13L).get
    val expDown = (0 until n / 4).map(j => smp(j * 4)).sum
    assert(down.n_samples == (n / 4).toLong && down.sum_samples == expDown)
  }

  test("decodeImages handles LOSSY JPEG through the codec-generic path") {
    import graft.operators.Multimodal
    // dims survive exactly; channel sums land near the closed form —
    // JPEG is lossy so the PNG-style exact oracle cannot apply, but a
    // decode that mangles layout or channels misses by far more than
    // compression noise on a ~150-pixel tile
    val docsDf = Seq((13L, "t", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val feats = Multimodal.decodeImages(
      Multimodal.imageMedia(docsDf, maxId = 64, format = "jpg")).collect()
    assert(feats.length === 1)
    val f = feats.head
    val (w, h) = ((8 + 13 % 16), (8 + 13 % 12))
    assert(f.width === w.toLong && f.height === h.toLong && f.n_channels === 3L)
    val expR = (for { y <- 0 until h; x <- 0 until w }
      yield (13L * 31 + x * 7 + y * 13) % 256).sum
    assert(math.abs(f.sum_r - expR).toDouble / expR < 0.15,
      s"JPEG red-channel sum ${f.sum_r} too far from $expR")
  }

  test("decodeAudio round-trips synthetic WAVs through the real JDK parser") {
    import graft.operators.Multimodal
    // local truth: decode one id's WAV bytes directly and replay the
    // closed form — proves the RIFF/PCM path, not just the Spark plumbing
    val id = 13L
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(Multimodal.syntheticWav(id)))
    val fmt = ais.getFormat
    assert(fmt.getSampleRate == 8000f && fmt.getChannels == 1 &&
      fmt.getSampleSizeInBits == 16)
    val n = (64 + id % 64).toInt
    val expectedSum = (0 until n).map(i => (id * 31 + i * 17) % 65536 - 32768).sum

    // distributed path
    val docsDf = Seq((3L, "t", "en", "s"), (13L, "t", "en", "s"), (64L, "t", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val feats = Multimodal.decodeAudio(Multimodal.wavMedia(docsDf, maxId = 64))
      .collect().sortBy(_.media_id)
    assert(feats.map(_.media_id).toSeq == Seq(3L, 13L)) // 64 filtered out
    val f13 = feats.find(_.media_id == 13L).get
    assert(f13.n_samples == n.toLong)
    assert(f13.sum_samples == expectedSum,
      "WAV encode->decode must reproduce every PCM sample")
    assert(f13.bits_per_sample == 16L && f13.n_channels == 1L)

    // non-audio bytes fail loudly, naming the media id
    import spark.implicits._
    val junk = Seq(graft.operators.MediaRecord(99L, "audio",
      Array[Byte](1, 2, 3, 4), "junk", 4L)).toDS()
    val e = intercept[org.apache.spark.SparkException](
      Multimodal.decodeAudio(junk).collect())
    assert(e.getMessage.contains("media_id=99") ||
      Option(e.getCause).exists(_.getMessage.contains("media_id=99")))
  }

  test("decodeFrames walks every animated-GIF frame losslessly") {
    import graft.operators.Multimodal
    val id = 13L
    val (nf, w, h) = ((2 + id % 4).toInt, (8 + id % 8).toInt, (8 + id % 6).toInt)
    def gray(f: Int, x: Int, y: Int) = (id * 31 + f * 59 + x * 7 + y * 13) % 256
    val docsDf = Seq((13L, "t", "en", "s"), (32L, "t", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val frames = Multimodal.decodeFrames(Multimodal.gifMedia(docsDf, maxId = 32))
      .collect().sortBy(f => (f.media_id, f.frame_idx))
    assert(frames.map(_.media_id).distinct.toSeq == Seq(13L)) // 32 filtered out
    assert(frames.length == nf, "every animation frame must surface as a row")
    frames.zipWithIndex.foreach { case (fr, i) =>
      assert(fr.frame_idx == i.toLong && fr.width == w.toLong && fr.height == h.toLong)
      val expected = (for { y <- 0 until h; x <- 0 until w } yield gray(i, x, y)).sum
      assert(fr.sum_gray == expected, s"frame $i gray sum must round-trip exactly")
    }
  }

  test("multimodal extractFeatures computes deterministic stub features") {
    val docsDf = Seq((7L, "abc", "en", "s1")).toDF("doc_id", "text", "lang", "source")
    val feats = Multimodal.extractFeatures(Multimodal.fromDocuments(docsDf)).collect()
    assert(feats.length == 1)
    val f = feats(0)
    assert(f.media_id == 7L && f.n_bytes == 3L)
    assert(f.head_byte == 'a'.toInt && f.tail_byte == 'c'.toInt)
    assert(f.byte_checksum == ('a' + 'b' + 'c').toLong)
  }

  test("pplBuckets: exact per-lang terciles; thresholds+assign reproduce " +
      "rank buckets on distinct scores; NULL score raises") {
    // constructed langs with distinct scores: n = 10, 5, 2, 1
    val rows = (1L to 10L).map(i => (i, "a", -1000L * i)) ++
      (1L to 5L).map(i => (100L + i, "b", -2000L * i)) ++
      Seq((201L, "c", -5L), (202L, "c", -9L), (301L, "d", -7L))
    val scored = rows.toDF("id", "lang", "score_micro")
    val b = TextAnalysis.pplBuckets(scored, "id", "lang", "score_micro")
    val counts = b.groupBy("lang", "bucket").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // n=10: head ⟺ 3r ≤ 10 → 3; middle ⟺ 3r ≤ 20 → r ≤ 6 → 3; tail 4
    assert(counts(("a", "head")) === 3L && counts(("a", "middle")) === 3L
      && counts(("a", "tail")) === 4L)
    // n=5: head 1, middle 2, tail 2
    assert(counts(("b", "head")) === 1L && counts(("b", "middle")) === 2L
      && counts(("b", "tail")) === 2L)
    // n=2: no head (3r > 2 ∀r), middle 1, tail 1
    assert(!counts.contains(("c", "head")) && counts(("c", "middle")) === 1L
      && counts(("c", "tail")) === 1L)
    // n=1: tail only
    assert(counts.filter(_._1._1 == "d") === Map(("d", "tail") -> 1L))
    // rank order: best score (least negative) = rank 1 = head
    val a1 = b.filter(col("lang") === "a" && col("rk") === 1L)
      .collect().head
    assert(a1.getAs[Long]("id") === 1L && a1.getAs[String]("bucket") === "head")
    // frozen thresholds + per-row assign reproduce the rank buckets
    // exactly (scores are distinct, so no boundary ties)
    val thr = TextAnalysis.pplThresholds(b)
    val mismatches = b.join(thr, Seq("lang"))
      .filter(TextAnalysis.pplAssign(col("score_micro"),
        col("head_min_micro"), col("middle_min_micro")) =!= col("bucket"))
      .count()
    assert(mismatches === 0L)
    // n<3 langs freeze NULL head cutoffs
    val thrC = thr.filter(col("lang") === "c").collect().head
    assert(thrC.isNullAt(1) && !thrC.isNullAt(2))
    // NULL score raises loudly
    val bad = Seq((1L, "a", Some(1L)), (2L, "a", None))
      .toDF("id", "lang", "score_micro")
    val e = intercept[Exception](
      TextAnalysis.pplBuckets(bad, "id", "lang", "score_micro").collect())
    assert(e.getMessage.contains("NULL score"), e.getMessage)
  }

  test("rocAuc: exact Mann-Whitney with average-rank ties, per-group, " +
      "degenerate groups, ≡ naive pair count") {
    // hand-checked: pos scores {3, 2}, neg {2, 1}: pairs (3,2)+(3,1)+
    // (2,1) concordant = 3, tie (2,2) = 1 → AUC = (3 + 0.5)/4 = 0.875
    val hand = Seq((3L, true), (2L, true), (2L, false), (1L, false))
      .toDF("s", "pos")
    val r = TextAnalysis.rocAuc(hand, "s", "pos").collect().head
    assert((r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
      r.getAs[Long]("auc_num"), r.getAs[Long]("auc_den"),
      r.getAs[Long]("auc_micro")) === ((2L, 2L, 7L, 8L, 875000L)))
    // perfect separation = 1.0; anti-separation = 0.0; one-class NULL
    val grouped = (Seq(("sep", 10L, true), ("sep", 9L, true),
      ("sep", 1L, false),
      ("anti", 1L, true), ("anti", 9L, false),
      ("mono", 5L, true), ("mono", 4L, true)))
      .toDF("grp", "s", "pos")
    val byG = TextAnalysis.rocAuc(grouped, "s", "pos", byCols = Seq("grp"))
      .collect().map { r =>
        val i = r.fieldIndex("auc_micro")
        r.getString(0) -> (if (r.isNullAt(i)) None else Some(r.getLong(i)))
      }.toMap
    assert(byG("sep") === Some(1000000L))
    assert(byG("anti") === Some(0L))
    assert(byG("mono") === None) // no negatives: den 0, AUC undefined
    // randomized equivalence vs the naive O(n^2) pair count, with a
    // tiny partSpan so scores straddle many parts (the two-phase prefix
    // sum is what's under test); negative scores exercise the
    // truncating-div monotonicity argument
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map(_ =>
      (rnd.nextInt(41).toLong - 20L, rnd.nextBoolean()))
    val naive = {
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      val num = (for (p <- pos; n <- neg) yield
        if (p > n) 2L else if (p == n) 1L else 0L).sum
      (num, 2L * pos.size * neg.size)
    }
    val got = TextAnalysis.rocAuc(rows.toDF("s", "pos"), "s", "pos",
      partSpan = 8L).collect().head
    assert((got.getAs[Long]("auc_num"), got.getAs[Long]("auc_den"))
      === naive)
    // NULL label raises
    val e = intercept[Exception](TextAnalysis.rocAuc(
      Seq((1L, Some(true)), (2L, None)).toDF("s", "pos"), "s", "pos")
      .collect())
    assert(e.getMessage.contains("NULL label"), e.getMessage)
  }

  test("averagePrecision: exact terms under the pinned total order, " +
      "per-group, zero-positive groups, ≡ naive replay") {
    // hand-checked, ties included: rows (id, score, pos) ordered by
    // (score desc, id asc): (1,5,T) r=1 i=1; (2,5,F) r=2; (3,4,T) r=3
    // i=2; (4,4,T) r=4 i=3 → AP = (1/1 + 2/3 + 3/4)/3
    // terms: 1000000 + 666666 + 750000 = 2416666; ap = 805555
    val hand = Seq((1L, 5L, true), (2L, 5L, false), (3L, 4L, true),
      (4L, 4L, true)).toDF("id", "s", "pos")
    val r = TextAnalysis.averagePrecision(hand, "s", "pos", "id")
      .collect().head
    assert((r.getAs[Long]("n_pos"), r.getAs[Long]("n"),
      r.getAs[Long]("sum_term_micro"), r.getAs[Long]("ap_micro"))
      === ((3L, 4L, 2416666L, 805555L)))
    // per-group + a zero-positive group surfaces NULL ap_micro; a
    // byCols name colliding with an internal ("g") is refused loudly
    intercept[IllegalArgumentException](TextAnalysis.averagePrecision(
      hand.withColumnRenamed("id", "g"), "s", "pos", "g",
      byCols = Seq("g")))
    val grouped = Seq(("a", 1L, 9L, true), ("a", 2L, 1L, false),
      ("z", 1L, 5L, false), ("z", 2L, 3L, false))
      .toDF("grp", "id", "s", "pos")
    val byG = TextAnalysis.averagePrecision(grouped, "s", "pos", "id",
      byCols = Seq("grp")).collect().map { row =>
      val i = row.fieldIndex("ap_micro")
      row.getString(0) -> (if (row.isNullAt(i)) None else Some(row.getLong(i)))
    }.toMap
    assert(byG("a") === Some(1000000L)) // perfect: the positive ranks 1st
    assert(byG("z") === None)
    // randomized equivalence vs a naive single-threaded replay, tiny
    // partSpan so scores straddle many parts (two-phase ranks under
    // test), negative scores included
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(31).toLong - 15L, rnd.nextBoolean()))
    val naive = {
      val ordered = rows.sortBy(t => (-t._2, t._1))
      var i = 0L; var sum = 0L; var r0 = 0L
      ordered.foreach { case (_, _, pos) =>
        r0 += 1; if (pos) { i += 1; sum += (i * 1000000L) / r0 }
      }
      (i, sum)
    }
    val got = TextAnalysis.averagePrecision(rows.toDF("id", "s", "pos"),
      "s", "pos", "id", partSpan = 8L).collect().head
    assert((got.getAs[Long]("n_pos"), got.getAs[Long]("sum_term_micro"))
      === naive)
  }

  test("bigramScoreColumns fold ≡ batch bigramLogProb on the training " +
      "corpus; bigram-less docs fold to (0, 0)") {
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = TextModelReference.collect(docsDf).map(d => (d._1, d._2))
    val m = TextAnalysis.bigramModel(docsDf, "text", 20)
    // the per-row Column: windows = tokens - 1, sum = the scorer's one entry
    val nBg = size(TextAnalysis.tokens(col("text"))).cast("long") - 1L
    val lpSum = element_at(TextAnalysis.textScores(m, col("text")), 1)
    val fold = docsDf
      .select(col("doc_id"), nBg.as("n"), lpSum.as("s"))
      .unionByName(Seq((999999L, "solo")).toDF("doc_id", "text")
        .select(col("doc_id"), nBg.as("n"), lpSum.as("s")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = TextModelReference.bigram(corpus, 20, corpus)
    assert(batch.nonEmpty)
    batch.foreach { case (id, v) => assert(fold(id) === v,
      s"doc $id: fold ${fold(id)} != batch $v") }
    // the single-token doc has no bigram: absent from batch, (0,0) fold
    assert(fold(999999L) === ((0L, 0L)))
    assert(TextAnalysis.bigramLogProb(docsDf, "doc_id", "text", 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap === batch)
    // exact floor-mean helper: NULL on 0 bigrams, floor on negatives
    val means = Seq(((-7L), 2L), (0L, 0L)).toDF("s", "n")
      .select(TextAnalysis.avgLpMicro(col("s"), col("n")).as("m"))
      .collect()
    assert(means(0).getLong(0) === -4L) // floor(-3.5) = -4, not -3
    assert(means(1).isNullAt(0))
  }

  test("trigramScoreColumns fold ≡ batch trigramStupidBackoff on the " +
      "training corpus; trigram-less docs fold to (0, 0)") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = TextModelReference.collect(docsDf).map(d => (d._1, d._2))
    val m = TextAnalysis.trigramModel(docsDf, "text", 20)
    val n3 = greatest(size(TextAnalysis.tokens(col("text"))).cast("long") - 2L,
      lit(0L))
    val lpSum = element_at(TextAnalysis.textScores(m, col("text")), 1)
    val fold = docsDf
      .select(col("doc_id"), n3.as("n"), lpSum.as("s"))
      .unionByName(Seq((999999L, "just two")).toDF("doc_id", "text")
        .select(col("doc_id"), n3.as("n"), lpSum.as("s")))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val batch = TextModelReference.trigram(corpus, 20, corpus)
    assert(batch.nonEmpty)
    batch.foreach { case (id, v) => assert(fold(id) === v,
      s"doc $id: fold ${fold(id)} != batch $v") }
    assert(fold(999999L) === ((0L, 0L)))
    assert(TextAnalysis.trigramStupidBackoff(docsDf, "doc_id", "text", 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap === batch)
  }

  test("c4Clean: line rules (terminal punct, min words), doc-grain drops " +
      "(bad phrase, curly, min kept), flags and cleaned text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon.\nshort one.\n" +
        "no terminal punct here at all\nsecond good line stays here!\n" +
        "third fine line is long enough?\n" +
        "fourth \"quoted line has five words\""),
      (2L, "lorem ipsum dolor sit amet here.\ngood line with five words."),
      (3L, "code line { with brace here.\nanother good line right here."),
      (4L, "only one good line here today.\ntiny.\nbad")
    ).toDF("id", "text")
    val out = TextAnalysis.c4Clean(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: 6 lines; kept = 1 (.), 4 (!), 5 (?), 6 (") — 2 fails min
    // words, 3 has no terminal punct; no doc-grain flag
    assert(out(1L).getLong(1) === 6L && out(1L).getLong(2) === 4L)
    assert(!out(1L).getBoolean(3) && !out(1L).getBoolean(4) &&
      !out(1L).getBoolean(5))
    assert(out(1L).getString(6) ===
      "alpha beta gamma delta epsilon.\nsecond good line stays here!\n" +
        "third fine line is long enough?\n" +
        "fourth \"quoted line has five words\"")
    // doc 2: both lines keep line-grain, but the bad phrase drops the doc
    assert(out(2L).getLong(2) === 2L && out(2L).getBoolean(3) &&
      out(2L).getBoolean(5))
    // doc 3: curly brace drops the doc (line-grain still keeps both)
    assert(out(3L).getLong(2) === 2L && out(3L).getBoolean(4) &&
      out(3L).getBoolean(5))
    // doc 4: only 1 kept line < minKeptLines=3 — dropped with no flags
    assert(out(4L).getLong(2) === 1L && !out(4L).getBoolean(3) &&
      !out(4L).getBoolean(4) && out(4L).getBoolean(5))
    // guards
    intercept[IllegalArgumentException](
      TextAnalysis.c4Clean(docs, "id", "text", minLineWords = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.c4Clean(docs, "id", "text", badPhrases = Seq("")))
  }

  test("trigramStupidBackoff ≡ naive replay; all three backoff branches " +
      "reachable; OOV mapping under a small vocab") {
    import spark.implicits._
    val raw = Seq(1L -> "a b c a b c", 2L -> "x y z w", 3L -> "p q r",
      4L -> "s q r")
    val docs = raw.toDF("doc_id", "text")
    // exact scala replay of the operator's contract (HALF_UP micro-nat
    // rounding matches Spark round-on-double)
    def naive(vocabSize: Int): (Map[Long, (Long, Long)], (Int, Int, Int)) = {
      val toks = raw.map { case (id, t) => id -> t.toLowerCase.split(" ").toSeq }
      val cnt = toks.flatMap(_._2).groupBy(identity)
        .map { case (k, v) => k -> v.size }
      val vocab = cnt.toSeq.sortBy { case (t, c) => (-c, t) }
        .take(vocabSize).map(_._1).toSet
      val mapped = toks.map { case (id, ws) =>
        id -> ws.map(w => if (vocab(w)) w else "<oov>") }
      val uni = mapped.flatMap(_._2).groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      val bi = mapped.flatMap { case (_, ws) =>
        ws.sliding(2).filter(_.size == 2).map(s => (s(0), s(1))) }
        .toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val tri = mapped.flatMap { case (_, ws) =>
        ws.sliding(3).filter(_.size == 3).map(s => (s(0), s(1), s(2))) }
        .toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val n = mapped.map(_._2.size).sum.toLong
      def lnM(a: Long, b: Long): Long =
        BigDecimal(math.log(a.toDouble / b.toDouble) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      var b1 = 0; var b2 = 0; var b3 = 0
      val agg = scala.collection.mutable.Map[Long, (Long, Long)]()
      mapped.foreach { case (id, ws) =>
        ws.sliding(3).filter(_.size == 3).foreach { s =>
          val t3 = (s(0), s(1), s(2))
          val lp =
            if (tri(t3) >= 2L) { b1 += 1; lnM(tri(t3), bi((s(0), s(1)))) }
            else if (bi.getOrElse((s(1), s(2)), 0L) >= 2L) {
              b2 += 1; -916291L + lnM(bi((s(1), s(2))), uni(s(1)))
            } else { b3 += 1; -1832582L + lnM(uni(s(2)), n) }
          val (c, t) = agg.getOrElse(id, (0L, 0L)); agg(id) = (c + 1, t + lp)
        } }
      (agg.toMap, (b1, b2, b3))
    }
    for (v <- Seq(20, 4)) {
      val (want, branches) = naive(v)
      val got = TextAnalysis.trigramStupidBackoff(docs, "doc_id", "text", v)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got === want, s"vocabSize $v")
      if (v == 20)
        assert(branches._1 > 0 && branches._2 > 0 && branches._3 > 0,
          s"fixture must exercise all three backoff branches: $branches")
    }
    // the penalty constant is round(1e6 ln 0.4) — pin it against libm
    assert(TextAnalysis.StupidBackoffPenaltyMicro ===
      BigDecimal(math.log(0.4) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    intercept[IllegalArgumentException](
      TextAnalysis.trigramStupidBackoff(docs, "doc_id", "text", 300))
    intercept[IllegalArgumentException](
      TextAnalysis.trigramStupidBackoff(docs, "doc_id", "text", 20,
        trigramMin = 0L))
  }
}
