package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{RangeJoin, TemporalJoin}

/** Semantics of the as-of and range join operators on hand-built frames
  * (the registry queries pin them against DuckDB's native ASOF JOIN /
  * theta join at sf0.01; these cover the edge semantics directly). */
class AdvancedOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TemporalJoin.{Backward, Forward}

  private def frames = {
    import spark.implicits._
    val left = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 100L, "r_at_100"), (1L, 150L, "r_at_150"),
      (3L, 10L, "r_other_key")).toDF("k", "rt", "rv")
    (left, right)
  }

  test("asof backward: greatest rt <= t, equality inclusive, null when none") {
    val (l, r) = frames
    val out = TemporalJoin.asofJoin(l, r, Seq("k"), "t", "rt")
      .orderBy("k", "t").collect()
    // t=100 matches rt=100 (inclusive), t=200 matches rt=150
    assert(out(0).getAs[String]("rv") == "r_at_100")
    assert(out(1).getAs[String]("rv") == "r_at_150")
    // key 2 has no right rows at all -> left kept, right fields null
    assert(out(2).getAs[String]("tag") == "p3" && out(2).isNullAt(out(2).fieldIndex("rv")))
  }

  test("asof forward: smallest rt >= t") {
    val (l, r) = frames
    val out = TemporalJoin.asofJoin(l, r, Seq("k"), "t", "rt", direction = Forward)
      .orderBy("k", "t").collect()
    assert(out(0).getAs[String]("rv") == "r_at_100") // rt=100 >= t=100
    assert(out(1).isNullAt(out(1).fieldIndex("rv"))) // nothing after t=200
  }

  test("asof tolerance: too-distant matches nulled, left row kept") {
    val (l, r) = frames
    val out = TemporalJoin.asofJoin(l, r, Seq("k"), "t", "rt",
        direction = Backward, toleranceUs = Some(10L))
      .orderBy("k", "t").collect()
    assert(out(0).getAs[String]("rv") == "r_at_100") // gap 0 <= 10
    assert(out(1).isNullAt(out(1).fieldIndex("rv"))) // gap 50 > 10
    assert(out.length == 3)
  }

  test("range join: inclusive bounds, bin-spanning intervals, negatives") {
    import spark.implicits._
    val points = Seq(-5L, 0L, 3L, 4L, 9L, 10L, 11L).toDF("p")
    val ivs = Seq((-6L, -5L, "neg"), (0L, 10L, "wide"), (4L, 4L, "point"))
      .toDF("lo", "hi", "name")
    // an inverted interval matches nothing and must not crash sequence()
    val ivsWithInverted = ivs.union(Seq((9L, 2L, "inverted")).toDF("lo", "hi", "name"))
    // binWidth 4 forces "wide" [0,10] across bins 0,4,8 and "neg" below 0
    val out = RangeJoin.pointInterval(points, "p", ivsWithInverted, "lo", "hi", 4L)
      .select("p", "name").as[(Long, String)].collect().toSet
    assert(out == Set(
      (-5L, "neg"),
      (0L, "wide"), (3L, "wide"), (4L, "wide"), (9L, "wide"), (10L, "wide"),
      (4L, "point")))
  }

  test("asof rejects overlapping left/right names and reserved __ columns") {
    import spark.implicits._
    val (l, r) = frames
    // right payload column sharing a left name -> duplicate output column
    val rClash = r.withColumnRenamed("rv", "tag")
    val e1 = intercept[IllegalArgumentException](
      TemporalJoin.asofJoin(l, rClash, Seq("k"), "t", "rt"))
    assert(e1.getMessage.contains("tag"))
    // reserved internal name on an input
    val lRes = l.withColumn("__side", lit(1))
    val e2 = intercept[IllegalArgumentException](
      TemporalJoin.asofJoin(lRes, r, Seq("k"), "t", "rt"))
    assert(e2.getMessage.contains("__side"))
  }

  test("range join rejects shared column names across inputs") {
    import spark.implicits._
    val points = Seq(1L).toDF("p").withColumn("name", lit("x"))
    val ivs = Seq((0L, 2L, "iv")).toDF("lo", "hi", "name")
    val e = intercept[IllegalArgumentException](
      RangeJoin.pointInterval(points, "p", ivs, "lo", "hi", 4L))
    assert(e.getMessage.contains("name"))
  }

  test("SpaceSaving sketch finds the heavy hitter with capacity << cardinality") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // one hot token dominating a 200-item tail; capacity far below the
    // distinct count forces eviction on every partition
    val data = (Seq.fill(500)("hot") ++ (1 to 200).map(i => f"tail_$i%03d") ++
      Seq.fill(500)("hot")).toDF("tok").repartition(8)
    val out = TextAnalysis.approxTopK(data, "tok", k = 1, capacity = 16).collect()
    assert(out.length == 1 && out(0).getString(0) == "hot")
    val est = out(0).getLong(1)
    assert(est >= 1000L && est <= 1200L,
      s"count must overestimate (never undercount) within the merge bound, got $est")
  }

  test("SpaceSaving sketch is exact when capacity covers the vocabulary") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val data = Seq("a", "a", "a", "b", "b", "c").toDF("tok").repartition(3)
    val out = TextAnalysis.approxTopK(data, "tok", k = 3, capacity = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("trainBpeMerges: frequency-greedy merges, exact greedy-left fusion") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "low lower lowest low"),
      (2L, "low lowest aaaa aaaaa"),
      (3L, "newer new aaaa")).toDF("doc_id", "text")
    // pair weights: (a,a) = 3*2 + 4 = 10 beats (l,o) = (o,w) = 7; after
    // fusing aa the runs collapse, so (l,o) then (lo,w) follow
    val merges = TextAnalysis.collectMerges(
      TextAnalysis.trainBpeMerges(docs, "text", 3))
    assert(merges === Seq(("a", "a"), ("l", "o"), ("lo", "w")))
    // greedy-left on runs: aaaa -> [aa, aa], aaaaa -> [aa, aa, a] —
    // the pathological case a string replace CANNOT express (it misses
    // alternate occurrences sharing a delimiter)
    val counts = TextAnalysis.bpeSegmentCount(docs, "doc_id", "text", merges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // doc1: low(1)+lower(3)+lowest(4)+low(1) = 9
    // doc2: low(1)+lowest(4)+aaaa(2)+aaaaa(3) = 10
    // doc3: newer(5)+new(3)+aaaa(2) = 10
    assert(counts === Seq((1L, 9L), (2L, 10L), (3L, 10L)))
    // applying to UNSEEN words folds them with the same merges (OOV-safe)
    val oov = TextAnalysis.bpeSegmentCount(
      Seq((9L, "lowaa zzz")).toDF("doc_id", "text"), "doc_id", "text", merges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // lowaa -> [low, aa] = 2; zzz -> [z,z,z] = 3
    assert(oov === Seq((9L, 5L)))
    // wordless documents keep a 0 row; quote-bearing symbols merge
    // like any other
    val edge = TextAnalysis.bpeSegmentCount(
      Seq((1L, ""), (2L, "d'or d'or")).toDF("doc_id", "text"),
      "doc_id", "text", Seq(("d", "'"), ("d'", "o")))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // d'or -> chars d,',o,r -> d' -> d'o -> [d'o, r] = 2 per word
    assert(edge === Seq((1L, 0L), (2L, 4L)))
    // asking for more merges than the corpus can yield fails loudly
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      TextAnalysis.trainBpeMerges(tiny, "text", 3))
    assert(e.getMessage.contains("exhausted"))
    // a longer merge list still matches a sequential reference
    // application
    def refFold(syms: Seq[String], l: String, r: String): Seq[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    val chain = Seq(("a", "b"), ("ab", "a"), ("aba", "b"), ("a", "a"),
      ("aa", "a"), ("b", "b"), ("bb", "a"), ("b", "a"), ("ba", "b"),
      ("aa", "bb"), ("ab", "ab"), ("abab", "a"), ("aaa", "b"),
      ("bab", "a"), ("aab", "b"), ("bba", "a"), ("a", "bab"),
      ("abab", "abab"), ("b", "aa"), ("baa", "b"))
    val corpus = Seq((1L, "abababa bbbaaa"), (2L, "aaaa babab"))
      .toDF("doc_id", "text")
    val gotChain = TextAnalysis
      .bpeSegmentCount(corpus, "doc_id", "text", chain)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def refCount(text: String): Long = text.split(" ").filter(_.nonEmpty)
      .map(w => chain.foldLeft(w.map(_.toString): Seq[String]) {
        case (s, (l, r)) => refFold(s, l, r)
      }.size.toLong).sum
    assert(gotChain === Seq(1L -> refCount("abababa bbbaaa"),
      2L -> refCount("aaaa babab")))
  }

  test("bpeSegments: per-doc streams match the reference fold in word " +
      "order; size ≡ bpeSegmentCount; wordless docs keep an empty array") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "low lower lowest low"),
      (2L, "low lowest aaaa aaaaa"),
      (3L, ""),
      (4L, "newer new aaaa")).toDF("doc_id", "text")
    val merges = Seq(("a", "a"), ("l", "o"), ("lo", "w"))
    def refFold(syms: Seq[String], l: String, r: String): Seq[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    def refSegs(text: String): Seq[String] = text.split(" ")
      .filter(_.nonEmpty).toSeq.flatMap(w =>
        merges.foldLeft(w.map(_.toString): Seq[String]) {
          case (s, (l, r)) => refFold(s, l, r)
        })
    val got = TextAnalysis.bpeSegments(docs, "doc_id", "text", merges)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    val want = docs.collect().map(r => (r.getLong(0),
      refSegs(r.getString(1)))).sortBy(_._1).toSeq
    assert(got === want)
    assert(got.find(_._1 == 3L).get._2 === Seq.empty[String])
    // size(segs) is bit-equal to the counting form
    val counts = TextAnalysis.bpeSegmentCount(docs, "doc_id", "text", merges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.map { case (i, s) => (i, s.size.toLong) } === counts)
    // a longer merge list on the segments form too
    val chain = Seq(("a", "b"), ("ab", "a"), ("aba", "b"), ("a", "a"),
      ("aa", "a"), ("b", "b"), ("bb", "a"), ("b", "a"), ("ba", "b"),
      ("aa", "bb"), ("ab", "ab"), ("abab", "a"), ("aaa", "b"),
      ("bab", "a"), ("aab", "b"), ("bba", "a"), ("a", "bab"))
    val corpus = Seq((1L, "abababa bbbaaa"), (2L, "aaaa babab"))
      .toDF("doc_id", "text")
    val gotChain = TextAnalysis.bpeSegments(corpus, "doc_id", "text", chain)
      .orderBy("id").collect().map(_.getSeq[String](1)).toSeq
    def refChain(text: String): Seq[String] = text.split(" ")
      .filter(_.nonEmpty).toSeq.flatMap(w =>
        chain.foldLeft(w.map(_.toString): Seq[String]) {
          case (s, (l, r)) => refFold(s, l, r)
        })
    assert(gotChain === Seq(refChain("abababa bbbaaa"),
      refChain("aaaa babab")))
    // the per-row Column form (streaming-safe serving path) is
    // bit-equal to the batch form — including the wordless-doc empty
    // array
    val inline = docs.select(col("doc_id").as("id"),
        TextAnalysis.bpeSegmentsTrained("text", merges).as("segs"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(inline === got)
  }

  test("BPE greedy fold ≡ chain-parity window selection (the oracle's " +
      "form) on random runs") {
    // The oracle replays greedy-left fusion as a gaps-and-islands window
    // (select every other site within a chain of overlapping occurrence
    // positions). The real corpus never learns an lhs==rhs merge — the
    // only case where chains exist — so pin the equivalence on random
    // run-heavy words instead, against the fold the Spark side executes.
    def fold(syms: Seq[String], l: String, r: String): Seq[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, s) =>
        if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ (l + r)
        else acc :+ s
      }
    def islands(syms: Seq[String], l: String, r: String): Seq[String] = {
      val n = syms.size
      val isp = (0 until n).map(i =>
        i + 1 < n && syms(i) == l && syms(i + 1) == r)
      val sel = Array.fill(n)(false)
      var i = 0
      while (i < n) {
        if (isp(i)) { // chain of consecutive occurrence sites
          var j = i; var k = 0
          while (j < n && isp(j)) { sel(j) = k % 2 == 0; j += 1; k += 1 }
          i = j
        } else i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var p = 0
      while (p < n) {
        if (sel(p)) { out += (l + r); p += 2 } else { out += syms(p); p += 1 }
      }
      out.toSeq
    }
    val rnd = new scala.util.Random(19)
    val alphabet = Vector("a", "b")
    val pairs = Seq(("a", "a"), ("b", "b"), ("a", "b"), ("aa", "a"),
      ("aa", "aa"), ("ab", "ab"))
    (1 to 500).foreach { t =>
      // run-heavy random word: repeat each drawn symbol 1-4 times
      val word = (1 to (1 + rnd.nextInt(6))).flatMap { _ =>
        Seq.fill(1 + rnd.nextInt(4))(alphabet(rnd.nextInt(2)))
      }
      // apply 3 random merges sequentially through both formulations
      var a = word; var b = word
      (1 to 3).foreach { _ =>
        val (l, r) = pairs(rnd.nextInt(pairs.size))
        a = fold(a, l, r).toIndexedSeq
        b = islands(b, l, r).toIndexedSeq
        assert(a === b, s"trial $t: fold $a != islands $b on $word ($l,$r)")
      }
    }
    // ...and the merge kernel the operator executes agrees with
    // the Scala fold on a run-heavy corpus through REAL training
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "aaaa aabb abab bbbb"), (2L, "aaaaa bbb aab"))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.collectMerges(
      TextAnalysis.trainBpeMerges(docs, "text", 3))
    val got = TextAnalysis.bpeSegmentCount(docs, "doc_id", "text", merges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def countRef(text: String): Long = text.split(" ").filter(_.nonEmpty)
      .map { w =>
        merges.foldLeft(w.map(_.toString): Seq[String]) {
          case (s, (l, r)) => fold(s, l, r)
        }.size.toLong
      }.sum
    assert(got === Seq(1L -> countRef("aaaa aabb abab bbbb"),
      2L -> countRef("aaaaa bbb aab")))
    // tokenizer persistence: the saved/loaded merge list applies
    // bit-equal (order restored by rank — BPE is order-sensitive)
    val mdir = s"/tmp/graft_bpe_model_${java.util.UUID.randomUUID().toString.take(8)}"
    TextAnalysis.saveBpeMerges(spark, merges, mdir)
    val loaded = TextAnalysis.loadBpeMerges(spark, mdir)
    assert(loaded === merges)
    val got2 = TextAnalysis.bpeSegmentCount(docs, "doc_id", "text", loaded)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 === got)
  }

  test("nbPredictFold: broadcast-fold serving is bit-equal to the join form") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = TextModelReference.collect(docs)
    // vocabSize 20 < distinct tokens, so the OOV fallback is exercised
    val model = TextAnalysis.nbTrain(docs, "text", "lang", 20)
    // the reference is the plain-Scala scorer over the collected corpus
    val join = TextModelReference.nb(corpus, 20, corpus.map(d => (d._1, d._2)))
    val fold = TextAnalysis.nbPredict(model, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(join.nonEmpty && fold.keySet === join.keySet)
    // exact integer micro-nat equality — label AND score, every doc
    fold.foreach { case (id, p) => assert(p === join(id),
      s"doc $id: fold $p != join ${join(id)}") }
    // every label's score, not only the argmax
    val (labels, scores) = TextModelReference.nbScores(corpus, 20,
      corpus.map(d => (d._1, d._2)))
    assert(model.labels === labels)
    assert(docs.select(col("doc_id"),
        TextAnalysis.textScores(model, col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap === scores)
    // NOTE: no accuracy assertion on this corpus — the synthetic `lang`
    // labels are independent of token content, so self-accuracy is
    // chance-level by construction. Learning is asserted on the
    // signal-bearing corpus in the next test.
  }

  test("nbClassify learns a separable corpus (per-class token signal)") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // two classes with disjoint content words + shared filler
    val rnd = new scala.util.Random(7)
    val sports = Seq("goal", "match", "team", "score", "league")
    val cooking = Seq("recipe", "oven", "flour", "simmer", "garlic")
    val filler = Seq("the", "a", "and", "of", "it")
    def doc(words: Seq[String]) = (0 until 12).map { _ =>
      if (rnd.nextInt(3) == 0) filler(rnd.nextInt(filler.size))
      else words(rnd.nextInt(words.size))
    }.mkString(" ")
    val docs = ((0 until 40).map(i => (i.toLong, doc(sports), "sports")) ++
      (40 until 80).map(i => (i.toLong, doc(cooking), "cooking")))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.nbClassify(docs, "doc_id", "text", "lang", 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val truth = docs.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val acc = out.count { case (id, p) => truth(id) == p }
    assert(acc === 80, s"separable corpus must classify perfectly, got $acc/80")
  }

  test("NB model save/load round-trip: predictions bit-equal") {
    import graft.operators.TextAnalysis
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = TextAnalysis.nbTrain(docs, "text", "lang", 20)
    val dir = s"/tmp/graft_nb_model_${java.util.UUID.randomUUID().toString.take(8)}"
    TextAnalysis.saveNbModel(model, dir)
    val loaded = TextAnalysis.loadNbModel(spark, dir)
    assert(loaded.vSize === model.vSize)
    val orig = TextAnalysis.nbPredict(model, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val fromDisk = TextAnalysis.nbPredict(loaded, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(fromDisk === orig)
    // and both agree with the plain-Scala scorer
    val corpus = TextModelReference.collect(docs)
    val foldDisk = TextModelReference.nb(corpus, 20,
      corpus.map(d => (d._1, d._2)))
    assert(foldDisk === orig)
    // re-save (from the in-memory model) overwrites cleanly; NOTE:
    // saving a LOADED model onto its own source dir is the standard
    // Spark self-overwrite trap (inputs deleted mid-plan) — don't
    TextAnalysis.saveNbModel(model, dir)
    assert(TextAnalysis.loadNbModel(spark, dir).vSize === model.vSize)
  }

  test("nbPredict: argmax ties break to the smallest label; null text drops") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // two perfectly symmetric classes -> every score ties; argmax must
    // pick the lexicographically smallest label in both serving forms
    val train = Seq((1L, "x x y", "b"), (2L, "x x y", "a")).toDF("doc_id", "text", "lang")
    val model = TextAnalysis.nbTrain(train, "text", "lang", 10)
    val apply = Seq((5L, "x y"), (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val j = TextAnalysis.nbPredict(model, apply, "doc_id", "text").collect()
    val f = TextModelReference.nb(
      Seq((1L, "x x y", "b"), (2L, "x x y", "a")), 10,
      Seq((5L, "x y"), (6L, null))).toSeq
    assert(j.map(_.getLong(0)).toSeq === Seq(5L) && j.head.getString(1) === "a")
    assert(f.map(_._1) === Seq(5L) && f.head._2._1 === "a")
    assert(j.head.getLong(2) === f.head._2._2)
  }

  test("range join matches a plain theta join on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val points = (1 to 500).map(_ => rnd.nextLong() % 1000).toDF("p")
    val ivs = (1 to 50).map { i =>
      val lo = rnd.nextLong() % 1000
      (lo, lo + rnd.nextInt(30), i)
    }.toDF("lo", "hi", "iv")
    val binned = RangeJoin.pointInterval(points, "p", ivs, "lo", "hi", 16L)
      .select("p", "iv").as[(Long, Int)].collect().sorted.toSeq
    val theta = points.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("p", "iv").as[(Long, Int)].collect().sorted.toSeq
    assert(binned == theta)
  }

  test("interval-overlap join matches a theta join exactly — no dup pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // negative bounds, touch-points, long spans crossing many bins,
    // and inverted intervals (must match nothing) all mixed in
    def ivs(n: Int, tag: String) = (1 to n).map { i =>
      val lo = rnd.nextLong() % 500
      val hi = if (i % 11 == 0) lo - 1 else lo + rnd.nextInt(60)
      (lo, hi, i)
    }.toDF(s"${tag}_lo", s"${tag}_hi", s"${tag}_id")
    val a = ivs(80, "a")
    val b = ivs(120, "b")
    val binned = RangeJoin.intervalOverlap(a, "a_lo", "a_hi", b, "b_lo", "b_hi", 16L)
      .select("a_id", "b_id").as[(Int, Int)].collect().sorted.toSeq
    val theta = a.join(b, col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
      .filter(col("a_lo") <= col("a_hi") && col("b_lo") <= col("b_hi"))
      .select("a_id", "b_id").as[(Int, Int)].collect().sorted.toSeq
    assert(binned == theta)
    // EXACT equality of sorted multisets above also proves emit-once:
    // a duplicated pair would surface as a longer list
    assert(binned.distinct.size == binned.size)
  }

  test("hashedLinear learns a separable corpus; fold/save-load bit-equal") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // same separable fixture as NB's learning assert: disjoint content
    // words + shared filler — bigram features and hashed buckets must
    // still carry the signal through collisions (64 slots, 35 distinct
    // unigrams + bigrams hashed into them)
    val rnd = new scala.util.Random(7)
    val sports = Seq("goal", "match", "team", "score", "league")
    val cooking = Seq("recipe", "oven", "flour", "simmer", "garlic")
    val filler = Seq("the", "a", "and", "of", "it")
    def doc(words: Seq[String]) = (0 until 12).map { _ =>
      if (rnd.nextInt(3) == 0) filler(rnd.nextInt(filler.size))
      else words(rnd.nextInt(words.size))
    }.mkString(" ")
    val docs = ((0 until 40).map(i => (i.toLong, doc(sports), "sports")) ++
      (40 until 80).map(i => (i.toLong, doc(cooking), "cooking")))
      .toDF("doc_id", "text", "lang")
    val model = TextAnalysis.hashedLinearTrain(docs, "text",
      "lang", buckets = 64, seed = "hl")
    val join = TextAnalysis.hashedLinearPredict(model, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val truth = docs.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val acc = join.count { case (id, (p, _)) => truth(id) == p }
    assert(acc === 80, s"separable corpus must classify perfectly, got $acc/80")

    // the plain-Scala scorer over the collected corpus: bit-equal
    val corpus = TextModelReference.collect(docs)
    val fold = TextModelReference.hl(corpus, 64, "hl",
      corpus.map(d => (d._1, d._2)))
    assert(fold === join)

    // persistence: the loaded model predicts bit-equal
    val dir = s"/tmp/graft_hl_model_${java.util.UUID.randomUUID().toString.take(8)}"
    TextAnalysis.saveHashedLinear(model, dir)
    val loaded = TextAnalysis.loadHashedLinear(spark, dir)
    assert(loaded.buckets === 64 && loaded.seed === "hl")
    val reloaded = TextAnalysis
      .hashedLinearPredict(loaded, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(reloaded === join)
  }
}
