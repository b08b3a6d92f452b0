package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamingOps

/** End-to-end Structured Streaming tests over a file source: stream the
  * events table through the ops and compare against the batch answer. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** events.parquet with its TIMESTAMP_NTZ ts cast to TIMESTAMP (UTC
    * session), staged into a temp dir the file-streaming source can
    * watch. */
  private lazy val staged: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
      .select(expr("CAST(ts AS TIMESTAMP)").as("ts"),
        col("event_type"), col("value"), col("event_id"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private def streamingEvents = spark.readStream
    .schema("ts TIMESTAMP, event_type STRING, value DOUBLE, event_id BIGINT")
    .parquet(staged)

  test("watermarked tumbling-window agg matches the batch answer") {
    val agg = StreamingOps.tumblingAgg(streamingEvents, "ts", "event_type",
      "value", "1 hour", "10 minutes")
    StreamingOps.runToMemory(agg, "win_agg", OutputMode.Append())
    val streamed = spark.table("win_agg")
      .select("win_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = spark.read.parquet(staged)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    // append mode only emits windows the watermark closed; everything
    // emitted must match the batch answer and be non-trivial
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
  }

  test("session-window agg matches the batch session answer") {
    val sess = StreamingOps.sessionAgg(streamingEvents, "ts", "event_type",
      "30 minutes", "10 minutes")
    StreamingOps.runToMemory(sess, "sess_agg", OutputMode.Append())
    val streamed = spark.table("sess_agg")
      .select("sess_start", "event_type", "n_events").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = spark.read.parquet(staged)
      .groupBy(session_window(col("ts"), "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start"), col("event_type"), col("n"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch))
  }

  test("streaming dedup emits one row per key") {
    val dd = StreamingOps.streamingDedup(streamingEvents, "ts",
      Seq("event_type"), "10 minutes")
    StreamingOps.runToMemory(dd, "dedup_stream", OutputMode.Append())
    val rows = spark.table("dedup_stream").select("event_type").collect()
    assert(rows.length == 5) // one per event_type
  }

  test("streaming line dedup: first arrival wins within and across batches") {
    import spark.implicits._
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // one batch: doc 2 repeats doc 1's "c d" line — dropped in-batch
    in.addData((1L, t0, "a b c d"), (2L, t0, "c d e f"))
    val out = StreamingOps.lineDedupStream(
      in.toDS().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      lineTokens = 2, watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("line_dedup_s")
      .outputMode(OutputMode.Append()).start()
    def got(): Seq[(Long, String)] = spark.table("line_dedup_s")
      .select("id", "line").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    try {
      q.processAllAvailable()
      assert(got() === Seq((1L, "a b"), (1L, "c d"), (2L, "e f")))
      // next batch: "a b" already seen (cross-batch state) — dropped
      in.addData((3L, t0, "a b x y"))
      q.processAllAvailable()
      assert(got() === Seq((1L, "a b"), (1L, "c d"), (2L, "e f"),
        (3L, "x y")))
    } finally q.stop()
  }

  // One enrich-vs-batch body, one registered test per quantizer: (test
  // name, memory-sink name, batch top-k over the queries `q`, the same
  // search as an enrich over a query stream `s`). Ids 0..3 are in-corpus,
  // so the self-exclusion matches the batch semantics exactly.
  private type Df = org.apache.spark.sql.DataFrame
  private val annEnrichForms: Seq[(String, String,
      (Df, org.apache.spark.sql.Column) => Df, (Df, Df) => Df)] = {
    import graft.operators.Similarity
    Seq(
      ("streaming PQ ANN enrich: append-mode top-k equals the batch result", "pq",
        (emb, q) => Similarity.pqTopK(emb, "vec_id", "embedding", q, k = 5,
          m = 16, ksub = 32),
        (emb, s) => Similarity.pqAnnEnrich(s, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 5, m = 16, ksub = 32)),
      ("streaming trained PQ ANN enrich (iters = 1): append-mode top-k equals the batch result",
        "pq_trained",
        (emb, q) => Similarity.pqTopK(emb, "vec_id", "embedding", q, k = 5,
          m = 16, ksub = 32, iters = 1),
        (emb, s) => Similarity.pqAnnEnrich(s, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 5, m = 16, ksub = 32, iters = 1)),
      ("streaming SQ8 ANN enrich: append-mode top-k equals the batch result", "sq8",
        (emb, q) => Similarity.sq8TopK(emb, "vec_id", "embedding", q, k = 5),
        (emb, s) => Similarity.sq8AnnEnrich(s, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 5)),
      ("streaming BQ ANN enrich: append-mode Hamming top-k equals batch", "bq",
        (emb, q) => Similarity.bqTopK(emb, "vec_id", "embedding", q, k = 5),
        (emb, s) => Similarity.bqAnnEnrich(s, "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 5)))
  }

  annEnrichForms.foreach { case (testName, name, batchTopK, enrich) =>
    test(testName) {
      import spark.implicits._
      val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
      def triples(df: Df): Set[(Long, Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = triples(batchTopK(emb, col("id") < 4))
      val queryRows: Seq[(Long, Seq[Float])] = emb
        .filter("vec_id < 4").select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])](spark)
      in.addData(queryRows.take(2))
      val enriched = enrich(emb, in.toDS().toDF("vec_id", "embedding"))
      assert(enriched.isStreaming)
      val sq = enriched.writeStream.format("memory").queryName(s"${name}_enrich")
        .outputMode(OutputMode.Append()).start()
      try {
        sq.processAllAvailable()
        in.addData(queryRows.drop(2)) // state-free: later batches just work
        sq.processAllAvailable()
      } finally sq.stop()
      assert(triples(spark.table(s"${name}_enrich")) === batch)
    }
  }

  test("gopher quality flags run unchanged on an append-mode stream") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = docsDf.select("doc_id", "text").limit(40).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    in.addData(rows.toIndexedSeq)
    // the SAME operator — a pure per-row projection — on the stream
    val flagged = graft.operators.TextAnalysis.gopherQualityFlags(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text",
      minWords = 30, maxWords = 90, minMeanLen = 4, maxMeanLen = 10)
    assert(flagged.isStreaming)
    StreamingOps.runToMemory(flagged, "gopher_stream", OutputMode.Append())
    val streamed = spark.table("gopher_stream").collect()
      .map(r => r.getLong(0) -> r.getInt(9)).toMap
    val batch = graft.operators.TextAnalysis.gopherQualityFlags(
        docsDf, "doc_id", "text",
        minWords = 30, maxWords = 90, minMeanLen = 4, maxMeanLen = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(9)).toMap
    assert(streamed.size === 40)
    streamed.foreach { case (id, k) => assert(k === batch(id), s"doc $id") }
  }

  test("streaming decontamination gate matches a pure-Scala fingerprint replay") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 8
    // eval = the tail of the corpus; its distinct window fingerprints
    // collect batch-side (benchmarks are small by definition)
    val evalFps = graft.operators.Curation.evalFingerprints(
        docsDf.filter("doc_id >= 400"), "doc_id", "text", k)
      .collect().map(_.getString(0)).toSeq
    assert(evalFps.nonEmpty)

    // independent truth: tokenize + window + md5 in plain Scala
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def fps(text: String): Set[String] = {
      val w = text.toLowerCase.split(" ", -1)
      if (w.length < k) Set.empty
      else (0 to w.length - k).map(i => md5hex(w.slice(i, i + k).mkString(" "))).toSet
    }
    val evalSet = evalFps.toSet
    val train = docsDf.filter("doc_id < 100").select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = train.map { case (id, t) =>
      id -> fps(t).intersect(evalSet).size
    }.filter(_._2 == 0).map(_._1).toSet
    assert(expected.size < train.length,
      "fixture must contain at least one contaminated train doc")

    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    in.addData(train.toIndexedSeq)
    val gated = StreamingOps.decontaminateStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", evalFps, k)
    assert(gated.isStreaming)
    StreamingOps.runToMemory(gated, "decontam_stream", OutputMode.Append())
    val got = spark.table("decontam_stream").collect().map(_.getLong(0)).toSet
    assert(got === expected)
    // the contamination COUNT matches the replay too (distinct
    // fingerprints, not window positions)
    val counted = StreamingOps.decontaminateStream(
      spark.createDataFrame(train.toSeq).toDF("doc_id", "text"),
      "doc_id", "text", evalFps, k, maxContamWindows = Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    train.foreach { case (id, t) =>
      assert(counted(id) === fps(t).intersect(evalSet).size, s"doc $id") }
  }

  test("curateStream bloomDecontam ≡ batch bloom fold; bloom drops ⊇ exact drops") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 8; val bits = 1L << 18; val hk = 5; val seed = "sbl"
    // eval blocklist built batch-side, collected into a literal filter
    val evalFp = Curation.evalFingerprints(
      docsDf.filter("doc_id >= 400"), "doc_id", "text", k)
    val bf = Curation.collectBloom(
      Curation.bloomBuild(evalFp, "h", bits, hk, seed), bits, hk, seed)
    // one doc per content fingerprint so the stream's keyed dedup is a no-op
    val fpw = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val uniq = docsDf
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(fpw))
      .filter(col("__rn") === 1).filter("doc_id < 200")
    val ts = new java.sql.Timestamp(1704067200000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    in.addData(uniq.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), ts, r.getString(1))).toIndexedSeq)
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.0, watermarkDelay = "10 seconds",
      bloomDecontam = Some((bf, k, 0)))
    StreamingOps.runToMemory(curated, "bloom_stream", OutputMode.Append())
    val streamed = spark.table("bloom_stream").collect()
      .map(_.getLong(0)).toSet

    // batch twin: the same base gates + the same per-row bloom fold
    val base = uniq.filter(
      TextAnalysis.langIdHeuristic(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= 0.0)
    val kept = base.filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.filter(
          Curation.windowFingerprintArray(col("text"), k),
          h => Curation.bloomMaybeContains(h, bf))) <= 0)
      .collect().map(_.getLong(0)).toSet
    assert(streamed === kept && streamed.nonEmpty)
    // one-sidedness: a bloom false positive only OVER-drops — every doc
    // the exact gate drops, the bloom gate drops too
    val exactKept = base.filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_intersect(
          Curation.windowFingerprintArray(col("text"), k),
          org.apache.spark.sql.functions.typedLit(
            evalFp.collect().map(_.getString(0)).toSeq))) <= 0)
      .collect().map(_.getLong(0)).toSet
    assert(streamed.subsetOf(exactKept))
    // the gate discriminates on this corpus (contaminated docs exist)
    assert(base.count() > kept.size)
  }

  test("curateStream c4 stage ≡ batch c4Clean: dropped docs vanish, " +
      "survivors carry cleaned text") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter("doc_id < 150")
    // synthesize punctuated pages (the corpus has no line structure)
    val pages = docsDf.select("doc_id", "text").collect().map { r =>
      val id = r.getLong(0); val w = r.getString(1).toLowerCase.split(" ")
      val lines = w.grouped(6).zipWithIndex.map { case (g, j) =>
        g.mkString(" ") + (if ((id + j) % 3 == 0) "" else ".") }.toSeq
      val extra =
        (if (id % 37 == 0) Seq("lorem ipsum dolor sit amet consectetur.")
         else Nil) ++
          (if (id % 41 == 0) Seq("function f() { return 0 }.") else Nil)
      (id, (lines ++ extra).mkString("\n"))
    }.toSeq
    val rules = TextAnalysis.C4Rules()
    val pagesDf = pages.toDF("doc_id", "page")
    val verdicts = TextAnalysis.c4Clean(pagesDf, "doc_id", "page").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(5), r.getString(6)))).toMap
    // keep one doc per distinct CLEANED text so the stream's keyed dedup
    // is a no-op on the survivors (dropped docs never reach it)
    val keepIds = verdicts.toSeq.filterNot(_._2._1)
      .groupBy(_._2._2).map(_._2.map(_._1).min).toSet
    val inputIds = keepIds ++ verdicts.filter(_._2._1).keys
    val ts = new java.sql.Timestamp(1704067200000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    in.addData(pages.filter(p => inputIds(p._1))
      .map { case (id, p) => (id, ts, p) }.toIndexedSeq)
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.0, watermarkDelay = "10 seconds", c4 = Some(rules))
    StreamingOps.runToMemory(curated, "c4_stream", OutputMode.Append())
    val streamed = spark.table("c4_stream").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("text")).toMap
    // batch twin: c4Clean survivors -> base gates on the CLEANED text
    val batch = pagesDf.filter(col("doc_id").isin(keepIds.toSeq: _*))
      .join(TextAnalysis.c4Clean(pagesDf, "doc_id", "page")
        .select(col("id").as("doc_id"), col("text_clean")), Seq("doc_id"))
      .filter(TextAnalysis.langIdHeuristic(col("text_clean")) === "en" &&
        TextAnalysis.qualityScore(col("text_clean")) >= 0.0)
      .select(col("doc_id"),
        Curation.piiRedact(col("text_clean")).as("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed === batch && streamed.nonEmpty)
    // every rule-dropped doc vanished from the stream
    verdicts.filter(_._2._1).keys.foreach(id => assert(!streamed.contains(id)))
    // and cleaning is real: some survivor lost at least one line
    assert(streamed.exists { case (id, t) =>
      t.length < pages.find(_._1 == id).get._2.length })
  }

  test("streaming asof enrich applies latest per-key reference state") {
    import spark.implicits._
    import StreamingOps.EnrichInput
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EnrichInput](spark)
    // batch 1: event at ts=5 precedes the ref at ts=10 (within-batch
    // event-time order) → unenriched; event at ts=15 sees ref value 1.0
    in.addData(EnrichInput("a", 10, isRef = true, 1.0),
      EnrichInput("a", 15, isRef = false, 100.0),
      EnrichInput("a", 5, isRef = false, 50.0))
    val q = StreamingOps.asofEnrich(in.toDS()).writeStream
      .format("memory").queryName("asof_enrich")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // batch 2: state persists across batches; key b has no ref
      in.addData(EnrichInput("a", 20, isRef = false, 200.0),
        EnrichInput("b", 20, isRef = false, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("asof_enrich").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows(("a", 5L)).isEmpty)
    assert(rows(("a", 15L)).contains(1.0))
    assert(rows(("a", 20L)).contains(1.0))
    assert(rows(("b", 20L)).isEmpty)
  }

  test("streaming asof enrich: tolerance nulls too-distant refs, keeps events") {
    import spark.implicits._
    import StreamingOps.EnrichInput
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EnrichInput](spark)
    in.addData(
      EnrichInput("a", 100, isRef = true, 1.0),
      EnrichInput("a", 105, isRef = false, 10.0), // gap 5  <= 20 → enriched
      EnrichInput("a", 150, isRef = false, 20.0)) // gap 50 > 20 → nulled
    val q = StreamingOps.asofEnrich(in.toDS(), tolerance = Some(20L)).writeStream
      .format("memory").queryName("asof_tol")
      .outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("asof_tol").collect()
      .map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows(105L).contains(1.0))
    assert(rows(150L).isEmpty)
    assert(rows.size == 2) // both events kept
  }

  test("streaming asof enrich: multi-batch out-of-order state evolution") {
    import spark.implicits._
    import StreamingOps.EnrichInput
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EnrichInput](spark)
    val q = StreamingOps.asofEnrich(in.toDS()).writeStream
      .format("memory").queryName("asof_ooo")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: ref at ts=10
      in.addData(EnrichInput("k", 10, isRef = true, 1.0))
      q.processAllAvailable()
      // batch 2: ref at ts=30 arrives FIRST; then an out-of-order event at
      // ts=20 in batch 3 — streaming contract: the event sees the latest
      // ARRIVED ref (2.0), not the event-time-correct 1.0 (documented
      // processing-order semantics across batches)
      in.addData(EnrichInput("k", 30, isRef = true, 2.0))
      q.processAllAvailable()
      in.addData(EnrichInput("k", 20, isRef = false, 100.0))
      q.processAllAvailable()
      // batch 4: within-batch event-time re-ordering still applies — an
      // event at ts=25 BEFORE the batch's own ref at ts=40 reads 2.0; an
      // event at ts=45 after it reads 3.0
      in.addData(
        EnrichInput("k", 45, isRef = false, 300.0),
        EnrichInput("k", 40, isRef = true, 3.0),
        EnrichInput("k", 25, isRef = false, 200.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("asof_ooo").collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(rows(20L) == 2.0)
    assert(rows(25L) == 2.0)
    assert(rows(45L) == 3.0)
  }

  test("stream-stream interval join matches clicks within the delay window") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    val imps = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp, String)](spark)
    val clicks = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp, Double)](spark)
    val joined = StreamingOps.intervalJoin(
      imps.toDS().toDF("ad_id", "imp_ts", "campaign"), "imp_ts",
      clicks.toDS().toDF("ad_id", "click_ts", "cost"), "click_ts",
      keyCol = "ad_id", maxDelay = "10 SECONDS", watermarkDelay = "1 MINUTE")
    val q = joined.writeStream.format("memory").queryName("attrib")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      imps.addData(("a", ts(0), "camp1"), ("b", ts(5), "camp2"))
      clicks.addData(
        ("a", ts(4), 0.5),   // within 10s of a's impression → match
        ("a", ts(20), 0.7),  // 20s later → outside window
        ("b", ts(3), 0.9),   // BEFORE b's impression → no match
        ("c", ts(1), 0.1))   // no impression at all
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attrib")
      .select("ad_id", "campaign", "cost").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows === Set(("a", "camp1", 0.5)))
  }

  test("streaming SpaceSaving top-k: sketch state accumulates across batches") {
    import spark.implicits._
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)](spark)
    val q = StreamingOps.streamingTopK(in.toDS(), k = 2, capacity = 8)
      .writeStream.format("memory").queryName("stream_topk")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(("en", "the"), ("en", "the"), ("en", "cat"), ("de", "der"))
      q.processAllAvailable()
      in.addData(("en", "cat"), ("en", "cat"), ("en", "dog"))
      q.processAllAvailable()
    } finally q.stop()
    // last Update-mode snapshot for "en": cat=3 > the=2 (state carried
    // across batches), k=2 truncates dog
    val last = spark.table("stream_topk").collect()
      .filter(_.getString(0) == "en").last
    val items = last.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getLong(1)))
    assert(items === Seq(("cat", 3L), ("the", 2L)))
  }

  test("mapGroupsWithState running counts accumulate per key") {
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)](spark)
    input.addData(("a", 1L), ("a", 2L), ("b", 1L))
    val counts = StreamingOps.runningCounts(input.toDS())
    val q = counts.writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      input.addData(("a", 3L))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("running").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
    assert(last("a") == 3L && last("b") == 1L)
  }

  test("streaming unigram scoring matches the batch scorer doc-for-doc") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // train the model BATCH-side
    val model = graft.operators.TextAnalysis
      .unigramModel(docsDf, "text", 20)

    // stream the SAME documents through the batch entry
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val batch1 = docsDf.select("doc_id", "text").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    in.addData(batch1.toIndexedSeq)
    val scored = graft.operators.TextAnalysis.unigramLogProb(model,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    assert(scored.isStreaming)
    StreamingOps.runToMemory(scored, "stream_scores", OutputMode.Append())

    val streamed = spark.table("stream_scores").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.operators.TextAnalysis
      .unigramLogProb(docsDf, "doc_id", "text", 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.nonEmpty && streamed.keySet.subsetOf(batch.keySet))
    // exact integer micro-nat equality: deploy-time streaming scores are
    // bit-identical to the training-time batch scores
    streamed.foreach { case (id, s) => assert(s === batch(id),
      s"doc $id: streaming $s != batch ${batch(id)}") }
  }

  test("streaming curation: dedup + language/quality gates + PII redaction") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(1704067200000L)
    val good = "the cat sat on the mat and it is happy"
    val good2 = "a dog runs in the park and it is fast"
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    in.addData(Seq(
      (1L, ts, good), (2L, ts, good),   // exact dup pair — one survives
      (3L, ts, good2), (4L, ts, good2), // second dup pair
      (5L, ts, "xyzzy qwerty"),         // no stopwords -> lang 'unk', dropped
      (6L, ts, "contact me at bob@example.com and the info is here")))
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"),
      "doc_id", "ts", "text", minQuality = 0.05, watermarkDelay = "10 seconds")
    StreamingOps.runToMemory(curated, "curated", OutputMode.Append())

    val out = spark.table("curated").collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    // one survivor per dup pair, the PII doc kept, the 'unk' doc dropped
    assert(out.size === 3, s"got ${out.keySet}")
    assert(out.keySet.count(Set(1L, 2L)) === 1)
    assert(out.keySet.count(Set(3L, 4L)) === 1)
    assert(out.contains(6L) && !out.contains(5L))
    // PII is redacted in the emitted text
    assert(out(6L).contains("<EMAIL>") && !out(6L).contains("@"),
      s"text not redacted: ${out(6L)}")
    // batch parity: the same gates computed batch-side agree
    val batchQ = Seq((6L, "contact me at bob@example.com and the info is here"))
      .toDF("doc_id", "text")
      .select(graft.operators.TextAnalysis.qualityScore(col("text")).as("q"),
        graft.operators.Curation.piiRedact(col("text")).as("t")).head()
    assert(batchQ.getString(1) === out(6L))
  }

  test("iceberg snapshot stream with rowLineage: stable ids ride the stream") {
    import org.apache.spark.sql.types._
    import graft.sources.{IcebergIO, IcebergWrite}
    val dir = s"/tmp/graft_stream_rowlin_${java.util.UUID.randomUUID().toString.take(8)}"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = true)))
    def rowsDf(xs: (Long, String)*) = {
      val l = new java.util.ArrayList[org.apache.spark.sql.Row]()
      xs.foreach(x => l.add(org.apache.spark.sql.Row(x._1, x._2)))
      spark.createDataFrame(l, schema)
    }
    IcebergWrite.create(spark, dir, schema, formatVersion = 3)
    IcebergWrite.append(rowsDf((1L, "a"), (2L, "b"), (3L, "c")).coalesce(1), dir)
    val stream = StreamingOps.icebergSnapshotStream(spark, dir,
      rowLineage = true)
    assert(stream.schema.fieldNames.toSeq ===
      Seq("id", "name", "_row_id", "_last_updated_sequence_number"))
    val q = stream.writeStream.format("memory").queryName("rowlin_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      IcebergWrite.append(rowsDf((4L, "d"), (5L, "e")).coalesce(1), dir)
      q.processAllAvailable()
      val streamed = spark.table("rowlin_stream").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      // stream rows carry exactly the batch lineage read's values
      val batch = IcebergIO.readWithRowId(spark, dir).collect()
        .map(r => (r.getLong(0), r.getAs[Long]("_row_id"),
          r.getAs[Long]("_last_updated_sequence_number"))).toSet
      assert(streamed === batch && streamed.size === 5)
      assert(streamed.map(_._2) === Set(0L, 1L, 2L, 3L, 4L))
    } finally q.stop()
    // v2 tables refuse the option loudly at stream construction
    val v2 = s"$dir-v2"
    IcebergWrite.create(spark, v2, schema)
    IcebergWrite.append(rowsDf((1L, "a")), v2)
    val e = intercept[Exception] {
      StreamingOps.icebergSnapshotStream(spark, v2, rowLineage = true)
        .writeStream.format("memory").queryName("rowlin_v2")
        .outputMode("append").start()
    }
    assert(e.getMessage.contains("format v3"), e.getMessage)
  }

  test("resampleByWeight + splitByHash lift to a stream bit-equal to batch") {
    import spark.implicits._
    import graft.operators.Curation
    // pure per-row md5 decisions: the SAME Columns run on an append
    // stream and must reproduce the batch sample + split exactly
    val rows = (0L until 500L).map(i => (i, 100000L + (i % 9) * 100000L))
    val batchDf = rows.toDF("id", "w")
    val batchKept = Curation.splitByHash(
        Curation.resampleByWeight(batchDf, "id", "w"), "id",
        Seq("train" -> 900000L, "val" -> 100000L))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)](spark)
    in.addData(rows.toIndexedSeq)
    val streamed = Curation.splitByHash(
      Curation.resampleByWeight(in.toDF().toDF("id", "w"), "id", "w"),
      "id", Seq("train" -> 900000L, "val" -> 100000L))
    StreamingOps.runToMemory(streamed, "resample_split_stream",
      OutputMode.Append())
    val got = spark.table("resample_split_stream").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got === batchKept && got.nonEmpty && got.size < 500)
  }

  test("curateStream html/resample/split stages ≡ the batch pipeline tail") {
    import spark.implicits._
    import graft.operators.{Curation, HtmlExtract, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // docs arrive as synthetic HTML pages with a per-doc quality weight;
    // every stage of the one-call streaming tail (extract → lang/quality
    // → gopher → resample → split) is a pure per-row projection, so the
    // stream must reproduce the batch composition EXACTLY
    val rules = TextAnalysis.GopherRules(minWords = 30, maxWords = 90,
      minMeanLen = 4, maxMeanLen = 10, minStopwords = 2)
    val fractions = Seq("train" -> 800000L, "val" -> 100000L,
      "test" -> 100000L)
    // one doc per content fingerprint so the stream's keyed dedup is a
    // no-op and the batch replay needs no arrival-order modeling
    val fpw = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val uniq = docsDf
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(fpw))
      .filter(col("__rn") === 1)
    val withHtml = uniq.select(col("doc_id"),
      HtmlExtract.syntheticHtml(col("doc_id"), col("text")).as("html"),
      (pmod(col("doc_id"), lit(10L)) * 100000L).as("w"))
    val ts = new java.sql.Timestamp(1704067200000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String, Long)](spark)
    in.addData(withHtml.collect()
      .map(r => (r.getLong(0), ts, r.getString(1), r.getLong(2)))
      .toIndexedSeq)
    // eval set for the decontamination stage: the extracted text of two
    // docs — they (and near-copies) must drop from the curated stream
    val evalFps = Curation.evalFingerprints(
        HtmlExtract.extractHtmlText(withHtml.limit(2), "doc_id", "html"),
        "id", "text", k = 8)
      .collect().map(_.getString(0)).toSeq
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "html", "w"), "doc_id", "ts", "html",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      gopher = Some(rules), html = Some(HtmlExtract.HtmlRules()),
      decontam = Some((evalFps, 8, 0)),
      resample = Some(("w", "rs16")), split = Some(fractions))
    StreamingOps.runToMemory(curated, "curate_html_tail", OutputMode.Append())
    val streamed = spark.table("curate_html_tail").collect()
      .map(r => (r.getLong(0), r.getString(4), r.getString(5))).toSet

    // batch replay through the batch operators
    val extracted = HtmlExtract
      .extractHtmlText(withHtml, "doc_id", "html")
      .join(withHtml.select(col("doc_id").as("id"), col("w")), Seq("id"))
      .filter(TextAnalysis.langIdHeuristic(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= 0.05 &&
        TextAnalysis.gopherKeep(col("text"), rules))
    val decontamed = extracted.filter(
      org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.array_intersect(
          Curation.windowFingerprintArray(col("text"), 8),
          org.apache.spark.sql.functions.typedLit(evalFps))) <= 0)
    val batch = Curation.splitByHash(
        Curation.resampleByWeight(decontamed, "id", "w", "rs16"),
        "id", fractions)
      .select(col("id"), Curation.piiRedact(col("text")).as("text"),
        col("split"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(streamed === batch && streamed.nonEmpty)
    // every stage discriminates on this corpus (none vacuous)
    assert(batch.size < 500)
    assert(streamed.map(_._3).size > 1 || batch.size < 5) // splits present
  }

  test("curateStream hlGate ≡ batch hashed-linear filter (and excludes nbGate)") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fpw = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val uniq = docsDf
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(fpw))
      .filter(col("__rn") === 1).select("doc_id", "text")
    val model = TextAnalysis.hashedLinearTrain(docsDf, "text",
      "lang", buckets = 64)
    val keepLabels = Set("en", "de")
    val ts = new java.sql.Timestamp(1704067200000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    in.addData(uniq.collect().map(r => (r.getLong(0), ts, r.getString(1)))
      .toIndexedSeq)
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      hlGate = Some((model, keepLabels)))
    StreamingOps.runToMemory(curated, "curate_hl", OutputMode.Append())
    val streamed = spark.table("curate_hl").collect()
      .map(r => (r.getLong(0), r.getString(4), r.getString(5))).toSet
    // batch replay: lang/quality gates then the hashed-linear argmax
    val base = uniq.filter(
      TextAnalysis.langIdHeuristic(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= 0.05)
    val preds = TextAnalysis.hashedLinearPredict(model, base, "doc_id", "text")
      .filter(col("pred").isin(keepLabels.toSeq.sorted: _*))
      .select(col("id").as("doc_id"), col("pred"))
    val batch = base.join(preds, Seq("doc_id"))
      .select(col("doc_id"), col("pred"),
        Curation.piiRedact(col("text")).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(streamed === batch && streamed.nonEmpty)
    assert(batch.size < base.count(), "hl label gate dropped nothing")
    // the two classifier gates are mutually exclusive (both emit pred)
    val nb = TextAnalysis.nbTrain(docsDf, "text", "lang", 20)
    val e = intercept[IllegalArgumentException](StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      nbGate = Some((nb, keepLabels)), hlGate = Some((model, keepLabels))))
    assert(e.getMessage.contains("at most one"), e.getMessage)
  }

  test("curateStream hlMargin gate ≡ batch calibrated-margin filter") {
    // the CALIBRATED selection gate: a batch-side sweep picks the
    // operating threshold, the stream keeps docs whose per-row margin
    // clears it — bit-equal to the batch margin filter, and
    // mutually exclusive with the argmax gates
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fpw = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val uniq = docsDf
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(fpw))
      .filter(col("__rn") === 1).select("doc_id", "text")
    val model = TextAnalysis.hashedLinearTrain(docsDf, "text",
      "lang", buckets = 64)
    // operating point from the batch calibration workflow
    val marg = TextAnalysis.hashedLinearMargin(model, docsDf, "doc_id",
      "text", target = "en")
    val scored = marg.join(docsDf.select(col("doc_id").as("id"),
      (col("lang") === "en").as("pos")), Seq("id"))
    val sweep = TextAnalysis.calibrationSweep(scored, "margin", "pos",
      Seq(-1000000L, 0L, 1000000L))
    val thr = TextAnalysis.pickThreshold(sweep, minPrecisionMicro = 500000L)

    val ts = new java.sql.Timestamp(1704067200000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    in.addData(uniq.collect().map(r => (r.getLong(0), ts, r.getString(1)))
      .toIndexedSeq)
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      hlMargin = Some((model, "en", thr)))
    StreamingOps.runToMemory(curated, "curate_hlm", OutputMode.Append())
    val streamed = spark.table("curate_hlm").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getString(5))).toSet
    // batch replay: lang/quality gates then the margin filter
    val base = uniq.filter(
      TextAnalysis.langIdHeuristic(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= 0.05)
    val batch = base
      .join(TextAnalysis.hashedLinearMargin(model, base, "doc_id", "text", "en")
        .select(col("id").as("doc_id"), col("margin").as("m")), Seq("doc_id"))
      .filter(col("m") >= thr)
      .select(col("doc_id"), col("m"),
        Curation.piiRedact(col("text")).as("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(streamed === batch && streamed.nonEmpty)
    assert(batch.size < base.count(), "margin gate dropped nothing")
    // the sweep's PREDICTED operating point is exactly REALIZED by the
    // stream: recompute the sweep over the gated population the stream
    // actually scores, then reconcile the selected set's tp/fp against
    // the sweep row at the picked threshold — this closes the
    // sweep→pick→gate COMPOSITION, not just the gate
    val gatedScored = base
      .join(TextAnalysis.hashedLinearMargin(model, base, "doc_id", "text", "en")
        .select(col("id").as("doc_id"), col("margin").as("m")), Seq("doc_id"))
      .join(docsDf.select(col("doc_id"),
        (col("lang") === "en").as("pos")), Seq("doc_id"))
    val gatedSweep = TextAnalysis.calibrationSweep(gatedScored, "m", "pos",
      (Seq(-1000000L, 0L, 1000000L) :+ thr).distinct.sorted)
    val predicted = gatedSweep.filter(col("thr") === thr).collect().head
    val posIds = docsDf.filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val realizedTp = streamed.count(t => posIds.contains(t._1)).toLong
    val realizedFp = streamed.size.toLong - realizedTp
    assert(realizedTp === predicted.getAs[Long]("tp") &&
      realizedFp === predicted.getAs[Long]("fp"),
      s"stream selection (tp=$realizedTp, fp=$realizedFp) != sweep " +
        s"prediction (tp=${predicted.getAs[Long]("tp")}, " +
        s"fp=${predicted.getAs[Long]("fp")})")
    // margin gate excludes the argmax gates
    val e = intercept[IllegalArgumentException](StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      hlGate = Some((model, Set("en"))),
      hlMargin = Some((model, "en", thr))))
    assert(e.getMessage.contains("at most one"), e.getMessage)
  }

  test("curateStream lmGate ≡ batch CCNet perplexity filter with frozen " +
      "tercile cutoffs") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fpw = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val uniq = docsDf
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(fpw))
      .filter(col("__rn") === 1).select("doc_id", "text")
    // calibration: train the LM batch-side, score the gated population
    // with the SAME per-row scorer the stream uses, freeze the en tercile
    // boundary (keep head+middle — the CCNet operating point)
    val model = TextAnalysis.bigramModel(docsDf, "text", 20)
    val base = uniq.filter(
      TextAnalysis.langIdHeuristic(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= 0.05)
    val calScored = TextAnalysis.bigramLogProb(model, base, "doc_id", "text")
      .select(col("id"), lit("en").as("lang"),
        TextAnalysis.avgLpMicro(col("lp_sum_micro"), col("n_bigrams"))
          .as("score_micro"))
      .filter(col("score_micro").isNotNull)
    val thr = TextAnalysis.pplThresholds(
      TextAnalysis.pplBuckets(calScored, "id", "lang", "score_micro"))
      .collect().head
    val cutoff = thr.getLong(2) // middle_min_micro: head+middle pass

    val ts = new java.sql.Timestamp(1704067200000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    in.addData(uniq.collect().map(r => (r.getLong(0), ts, r.getString(1)))
      .toIndexedSeq)
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      lmGate = Some((model, Map("en" -> cutoff))))
    StreamingOps.runToMemory(curated, "curate_lm", OutputMode.Append())
    val streamed = spark.table("curate_lm").collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getString(5))).toSet
    // batch replay: same gates, same scorer, same cutoff
    val batch = base
      .join(calScored.select(col("id").as("doc_id"), col("score_micro").as("m")),
        Seq("doc_id"))
      .filter(col("m") >= cutoff)
      .select(col("doc_id"), col("m"),
        Curation.piiRedact(col("text")).as("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(streamed === batch && streamed.nonEmpty)
    // the gate genuinely cut the tail tercile
    assert(batch.size < base.count(), "lm gate dropped nothing")
    // roughly two thirds survive (exact tercile boundary semantics:
    // every doc scoring >= the frozen middle boundary passes)
    val n = calScored.count()
    assert(batch.size >= n / 3, s"gate kept ${batch.size} of $n")
    // a language with no cutoff never passes
    val in2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    in2.addData(uniq.limit(5).collect()
      .map(r => (r.getLong(0), ts, r.getString(1))).toIndexedSeq)
    val gatedOut = StreamingOps.curateStream(
      in2.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      lmGate = Some((model, Map("fr" -> Long.MinValue))))
    StreamingOps.runToMemory(gatedOut, "curate_lm_nolang",
      OutputMode.Append())
    assert(spark.table("curate_lm_nolang").count() === 0L)
  }

  test("curateStream upsample stage ≡ batch epoching; copies share split") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fpw = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val uniq = docsDf
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(fpw))
      .filter(col("__rn") === 1).select("doc_id", "text")
    // per-doc epoch weights: 1.5 / 2.2 / 2.9 epochs — whole copies AND
    // the fractional draw both exercised on every weight
    val weighted = uniq.withColumn("w",
      lit(1500000L) + pmod(col("doc_id"), lit(3L)) * 700000L)
    val fractions = Seq("train" -> 900000L, "val" -> 100000L)
    val ts = new java.sql.Timestamp(1704067200000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String, Long)](spark)
    in.addData(weighted.collect()
      .map(r => (r.getLong(0), ts, r.getString(1), r.getLong(2)))
      .toIndexedSeq)
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text", "w"), "doc_id", "ts", "text",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      split = Some(fractions), upsample = Some(("w", "us17")))
    StreamingOps.runToMemory(curated, "curate_epoch", OutputMode.Append())
    val streamed = spark.table("curate_epoch").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("split"),
        r.getAs[Long]("copy"))).toSet
    // batch replay: lang/quality gates, then epoching, split on the id
    val survivors = weighted.filter(
      TextAnalysis.langIdHeuristic(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= 0.05)
    val batch = Curation
      .upsampleByWeight(survivors, "doc_id", "w", "us17")
      .withColumn("split", Curation.splitLabel(col("doc_id"), fractions))
      .select("doc_id", "split", "copy")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed === batch && streamed.nonEmpty)
    // epoching produced real multi-copy docs, and every doc's copies
    // carry ONE split label (the label hashes the id alone)
    assert(streamed.exists(_._3 >= 2))
    assert(streamed.groupBy(_._1).forall(_._2.map(_._2).size == 1))
  }

  test("streaming curation with Gopher + NB gates matches the batch composition") {
    import spark.implicits._
    import graft.operators.{Curation, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // one doc per content fingerprint so the stream's keyed dedup is a
    // no-op and the batch replay needs no arrival-order modeling
    val fpw = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val uniq = docsDf
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(fpw))
      .filter(col("__rn") === 1).select("doc_id", "lang", "text")
    val model = TextAnalysis.nbTrain(docsDf, "text", "lang", 20)
    val rules = TextAnalysis.GopherRules(minWords = 30, maxWords = 90,
      minMeanLen = 4, maxMeanLen = 10, minStopwords = 2)
    val keepLabels = Set("en", "de")
    val weights = Map("en" -> 3, "de" -> 1)

    val ts = new java.sql.Timestamp(1704067200000L)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    in.addData(uniq.collect().map(r => (r.getLong(0), ts, r.getString(2)))
      .toIndexedSeq)
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "text"), "doc_id", "ts", "text",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      gopher = Some(rules), nbGate = Some((model, keepLabels)))
    StreamingOps.runToMemory(curated, "curated_gates", OutputMode.Append())
    val streamed = spark.table("curated_gates").collect()
      .map(r => (r.getLong(0), r.getString(4), r.getString(5))).toSet

    // batch replay of the same chain through the batch operators
    val base = uniq.filter(
      TextAnalysis.langIdHeuristic(col("text")) === "en" &&
        TextAnalysis.qualityScore(col("text")) >= 0.05)
    val gKept = base.join(
      TextAnalysis.gopherQualityFlags(base, "doc_id", "text",
          minWords = 30, maxWords = 90, minMeanLen = 4, maxMeanLen = 10,
          minStopwords = 2)
        .filter(col("keep") === 1).select(col("id").as("doc_id")),
      Seq("doc_id"))
    val preds = TextAnalysis.nbPredict(model, gKept, "doc_id", "text")
      .filter(col("pred").isin(keepLabels.toSeq.sorted: _*))
      .select(col("id").as("doc_id"), col("pred"))
    val batchKept = gKept.join(preds, Seq("doc_id"))
      .select(col("doc_id"), col("pred"),
        Curation.piiRedact(col("text")).as("text"))
    val batch = batchKept.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(streamed.nonEmpty && streamed === batch)
    // each optional gate is discriminative on this corpus (not vacuous)
    assert(gKept.count() < base.count(), "gopher gate dropped nothing")
    assert(batch.size < gKept.count(), "NB label gate dropped nothing")

    // composed with the batch mixer: the streamed survivors feed
    // mixDomains to the SAME mixture the batch pipeline computes
    // materialize survivors into a fresh frame — the memory-sink view
    // self-joins inside mixDomains (group counts vs rows) and the View
    // node resurfaces the same attribute ids on both sides
    val survivors = spark.table("curated_gates")
      .collect().map(r => (r.getLong(0), r.getString(4))).toSeq
      .toDF("doc_id", "pred")
    val mixS = Curation.mixDomains(survivors, "pred", "doc_id", weights)
      .select("pred", "doc_id").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSet
    val mixB = Curation.mixDomains(batchKept.select("doc_id", "pred"),
        "pred", "doc_id", weights)
      .select("pred", "doc_id").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSet
    assert(mixS === mixB && mixS.nonEmpty)
  }

  test("streaming bigram scoring matches the batch scorer doc-for-doc") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = graft.operators.TextAnalysis
      .bigramModel(docsDf, "text", vocabSize = 20)

    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val batch1 = docsDf.select("doc_id", "text").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    in.addData(batch1.toIndexedSeq)
    val scored = graft.operators.TextAnalysis.bigramLogProb(model,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    assert(scored.isStreaming)
    StreamingOps.runToMemory(scored, "stream_bigram", OutputMode.Append())

    val streamed = spark.table("stream_bigram").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.operators.TextAnalysis
      .bigramLogProb(docsDf, "doc_id", "text", 20)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.nonEmpty && streamed.keySet.subsetOf(batch.keySet))
    // exact integer micro-nat equality: deploy-time streaming scores are
    // bit-identical to the training-time batch scores
    streamed.foreach { case (id, s) => assert(s === batch(id),
      s"doc $id: streaming $s != batch ${batch(id)}") }
  }

  test("streaming trigram stupid-backoff scoring matches batch doc-for-doc") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = graft.operators.TextAnalysis
      .trigramModel(docsDf, "text", vocabSize = 20)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    in.addData(docsDf.select("doc_id", "text").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq)
    val scored = graft.operators.TextAnalysis.trigramStupidBackoff(model,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    assert(scored.isStreaming)
    StreamingOps.runToMemory(scored, "stream_trigram", OutputMode.Append())
    val streamed = spark.table("stream_trigram").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = graft.operators.TextAnalysis
      .trigramStupidBackoff(docsDf, "doc_id", "text", 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (id, s) =>
      assert(s === batch.getOrElse(id, (0L, 0L)),
        s"doc $id: streaming $s != batch ${batch.get(id)}") }
  }

  test("streaming BPE token counting matches the batch segmenter doc-for-doc") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // train once batch-side, meter the stream with the frozen merges
    val merges = graft.operators.TextAnalysis.collectMerges(
      graft.operators.TextAnalysis
        .trainBpeMerges(docsDf, "text", nMerges = 3))
    assert(merges.size === 3)

    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val rows = docsDf.select("doc_id", "text").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // a NULL-text doc must meter as 0, like the batch form's
    // wordless-doc row (not NULL — a downstream sum would drop the doc)
    in.addData(rows.toIndexedSeq :+ (999999L, null.asInstanceOf[String]))
    val counted = StreamingOps.bpeCountStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", merges)
    assert(counted.isStreaming)
    StreamingOps.runToMemory(counted, "stream_bpe", OutputMode.Append())

    val streamed = spark.table("stream_bpe").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.operators.TextAnalysis
      .bpeSegmentCount(docsDf, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.size === 31)
    assert(streamed(999999L) === 0L)
    val streamedDocs = streamed - 999999L
    assert(streamedDocs.size === 30)
    // the batch counter is the same per-row Column — counts are
    // bit-equal
    streamedDocs.foreach { case (id, n) => assert(n === batch(id),
      s"doc $id: streaming $n != batch ${batch(id)}") }
  }

  test("streaming NB classification matches the batch argmax doc-for-doc") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // train BATCH-side on the corpus's own lang labels (vocab 20 < the
    // distinct-token count, so streamed docs hit the OOV fallback too)
    val model = graft.operators.TextAnalysis
      .nbTrain(docsDf, "text", "lang", 20)

    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val rows = docsDf.select("doc_id", "text").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    in.addData(rows.toIndexedSeq)
    val preds = graft.operators.TextAnalysis.nbPredict(model,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    assert(preds.isStreaming)
    StreamingOps.runToMemory(preds, "stream_nb", OutputMode.Append())

    val streamed = spark.table("stream_nb").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val batch = graft.operators.TextAnalysis
      .nbPredict(model, docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(streamed.size === 30)
    // deploy-time streaming predictions are bit-identical to the batch
    // argmax: same label, same integer micro-nat score
    streamed.foreach { case (id, p) => assert(p === batch(id),
      s"doc $id: streaming $p != batch ${batch(id)}") }
  }

  test("streaming hashed-linear classification matches the batch argmax") {
    import spark.implicits._
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = graft.operators.TextAnalysis
      .hashedLinearTrain(docsDf, "text", "lang", buckets = 64)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    val rows = docsDf.select("doc_id", "text").limit(30).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    in.addData(rows.toIndexedSeq)
    val preds = graft.operators.TextAnalysis.hashedLinearPredict(model,
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    assert(preds.isStreaming)
    StreamingOps.runToMemory(preds, "stream_hl", OutputMode.Append())
    val streamed = spark.table("stream_hl").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val batch = graft.operators.TextAnalysis
      .hashedLinearPredict(model, docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(streamed.size === 30)
    streamed.foreach { case (id, p) => assert(p === batch(id),
      s"doc $id: streaming $p != batch ${batch(id)}") }
  }

  test("Iceberg append stream picks up files committed after the stream starts") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = s"/tmp/graft_ice_stream_${java.util.UUID.randomUUID().toString.take(8)}"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def rows(xs: (Long, String)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    val w = new graft.sources.IcebergFixture.Writer(spark, dir, st)
    w.append(rows(1L -> "a", 2L -> "b"))
    val stream = StreamingOps.icebergAppendStream(spark, dir)
    assert(stream.isStreaming)
    val q = stream.writeStream.format("memory").queryName("ice_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("ice_stream").count() === 2)
      // a commit AFTER the stream started lands in the next micro-batch
      w.append(rows(3L -> "c"))
      q.processAllAvailable()
      assert(spark.table("ice_stream").select("id")
        .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
      // a delete FILE appearing in data/ mid-stream (what a later delete
      // commit writes) must NOT stream as phantom rows — the glob filter
      // admits only data files
      val delBytes = java.nio.file.Files.readAllBytes(
        new java.io.File(s"$dir/data").listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/data/eqdelete-99999.parquet"), delBytes)
      q.processAllAvailable()
      assert(spark.table("ice_stream").count() === 3)
    } finally q.stop()
    // non-append history fails fast (file-grain stream can't delete rows)
    w.deleteEquality(rows(1L -> "a").select("id"), Seq(1))
    val e = intercept[UnsupportedOperationException](
      StreamingOps.icebergAppendStream(spark, dir))
    assert(e.getMessage.contains("append-only"))
  }

  test("iceberg snapshot stream: metadata-planned batches, loud mid-stream delete") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = s"/tmp/graft_stream_ice_snap_${java.util.UUID.randomUUID().toString.take(8)}"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def rows(xs: (Long, String)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    val w = new graft.sources.IcebergFixture.Writer(spark, dir, st)
    w.append(rows(1L -> "a", 2L -> "b"))
    // uuid-style file name: the file-grain glob stream would need manual
    // configuration for this; the snapshot source reads the manifests
    val stream = StreamingOps.icebergSnapshotStream(spark, dir)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq === Seq("id", "v"))
    val q = stream.writeStream.format("memory").queryName("ice_snap_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("ice_snap_stream").count() === 2)
      // commits after stream start land in the next micro-batch
      w.append(rows(3L -> "c"))
      w.append(rows(4L -> "d"))
      q.processAllAvailable()
      assert(spark.table("ice_snap_stream").select("id")
        .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L))
      // a DELETE commit mid-stream must fail the query loudly — the
      // planned (from, to] range contains a non-append snapshot. The
      // file-grain stream could only filter the delete FILE out by name;
      // this source refuses to advance past the commit.
      w.deleteEquality(rows(1L -> "a").select("id"), Seq(1))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        q.awaitTermination(30000)
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c =>
        c.isInstanceOf[UnsupportedOperationException] &&
          c.getMessage.contains("are not appends")), s"got: $e")
    } finally q.stop()
  }

  test("iceberg snapshot stream over a HIVE-IMPORTED table: injected " +
      "columns stream (stream-static broadcast shape)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.IcebergWrite
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"/tmp/graft_stream_ice_hive_$tag"
    val src = s"/tmp/graft_stream_ice_hive_src_$tag"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("grp", StringType, nullable = true)))
    def rows(xs: (Long, String)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    rows(1L -> "a", 2L -> "b").write.partitionBy("grp").parquet(src)
    IcebergWrite.create(spark, dir, st,
      partitionCols = Seq("grp"), fieldIds = false)
    IcebergWrite.addFiles(spark, dir, src)
    val q = StreamingOps.icebergSnapshotStream(spark, dir)
      .writeStream.format("memory").queryName("ice_hive_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // imported rows stream WITH the injected partition column
      assert(spark.table("ice_hive_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
        Seq(1L -> "a", 2L -> "b"))
      // a later append (files carry the column physically) streams too,
      // read through the same injection
      IcebergWrite.append(rows(3L -> "a").coalesce(1), dir)
      q.processAllAvailable()
      assert(spark.table("ice_hive_stream").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ===
        Seq(1L -> "a", 2L -> "b", 3L -> "a"))
    } finally q.stop()
  }

  test("file-grain append stream REFUSES an addFiles-imported table even " +
      "under a permissive glob (silent-row-loss guard)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.sources.IcebergWrite
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"/tmp/graft_stream_ice_imp_$tag"
    val src = s"/tmp/graft_stream_ice_imp_src_$tag"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    def rows(xs: (Long, String)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    rows(1L -> "a", 2L -> "b").coalesce(1).write.parquet(src)
    IcebergWrite.create(spark, dir, st, fieldIds = false)
    IcebergWrite.addFiles(spark, dir, src)
    // Imported files are committed IN PLACE under the source dir —
    // `*.parquet` matches their NAMES, but the data/-scoped scan would
    // never visit them: the stream must refuse at construction, not
    // start empty. (Before this guard, the name-glob check alone passed
    // and the imported rows silently vanished.)
    val e = intercept[IllegalArgumentException](
      StreamingOps.icebergAppendStream(spark, dir, dataFileGlob = "*.parquet"))
    assert(e.getMessage.contains("icebergSnapshotStream"), e.getMessage)
    assert(e.getMessage.contains("outside"), e.getMessage)
    // the default glob fails too (location guard runs first)
    intercept[IllegalArgumentException](
      StreamingOps.icebergAppendStream(spark, dir))
    // the snapshot stream the error points to DOES stream the imported rows
    val q = StreamingOps.icebergSnapshotStream(spark, dir)
      .writeStream.format("memory").queryName("ice_imp_stream")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("ice_imp_stream").select("id")
        .collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    } finally q.stop()
  }

  test("iceberg changelog stream composes with rowLineage: update pair shares one id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.IcebergWrite
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"/tmp/graft_stream_cdclin_$tag"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    def rows(xs: (Long, Double)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    IcebergWrite.create(spark, dir, st, formatVersion = 3)
    IcebergWrite.append(rows(1L -> 1.0, 2L -> 2.0).coalesce(1), dir)
    val stream = StreamingOps.icebergChangelogStream(spark, dir,
      rowLineage = true)
    assert(stream.schema.fieldNames.toSeq === Seq("id", "v", "_row_id",
      "_last_updated_sequence_number", "_change_type", "_change_ordinal",
      "_commit_snapshot_id"))
    val q = stream.writeStream.format("memory").queryName(s"cdclin_$tag")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      IcebergWrite.updateWhere(spark, dir, col("id") === 2L,
        Map("v" -> lit(99.0)))
      q.processAllAvailable()
      val got = spark.table(s"cdclin_$tag")
        .select("_change_type", "id", "_row_id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got === Set(("insert", 1L, 0L, 1.0), ("insert", 2L, 1L, 2.0),
        ("delete", 2L, 1L, 2.0), ("insert", 2L, 1L, 99.0)))
    } finally q.stop()
  }

  test("iceberg changelog stream: delete/upsert/compact commits stream as CDC") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    import graft.sources.{IcebergIO, IcebergWrite}
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"/tmp/graft_stream_ice_cdc_$tag"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    def rows(xs: (Long, Double)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    IcebergWrite.create(spark, dir, st)
    IcebergWrite.append(rows(1L -> 1.0, 2L -> 2.0, 3L -> 3.0), dir)
    val stream = StreamingOps.icebergChangelogStream(spark, dir)
    assert(stream.isStreaming)
    assert(stream.schema.fieldNames.toSeq ===
      Seq("id", "v", "_change_type", "_change_ordinal", "_commit_snapshot_id"))
    val q = stream.writeStream.format("memory").queryName(s"ice_cdc_$tag")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    def got(): Seq[(String, Long, Long)] =
      spark.table(s"ice_cdc_$tag")
        .select("_change_type", "_commit_snapshot_id", "id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    try {
      q.processAllAvailable()
      assert(got() === Seq(("insert", 1L, 1L), ("insert", 1L, 2L),
        ("insert", 1L, 3L)))
      // a DELETE commit streams a typed delete row — the append-mode
      // source fails loudly here, CDC mode is what makes it streamable
      IcebergWrite.deleteWhere(spark, dir, col("id") === 2L)
      q.processAllAvailable()
      assert(got().contains(("delete", 2L, 2L)))
      // an upsert streams its delete+insert pair in one commit
      IcebergWrite.upsert(rows(1L -> 10.0, 9L -> 9.0), dir, Seq("id"))
      q.processAllAvailable()
      assert(got().filter(_._2 == 3L) === Seq(
        ("delete", 3L, 1L), ("insert", 3L, 1L), ("insert", 3L, 9L)))
      // data-preserving maintenance streams NOTHING, and the stream
      // keeps going across it — including the delete-maintenance verbs
      // (their replace snapshots carry the rewritten-manifests marker)
      val before = got().size
      IcebergWrite.deleteWhere(spark, dir, col("id") === 9L)
      q.processAllAvailable()
      val afterDelete = got().size
      assert(afterDelete === before + 1) // the delete row itself streams
      IcebergWrite.convertEqualityDeletes(spark, dir) // no-op path here
      IcebergWrite.rewritePositionDeletes(spark, dir)
      IcebergWrite.compact(spark, dir)
      IcebergWrite.rewriteManifests(spark, dir)
      q.processAllAvailable()
      assert(got().size === afterDelete)
      IcebergWrite.append(rows(5L -> 5.0), dir)
      q.processAllAvailable()
      val lastSnap = IcebergIO.snapshotIds(dir).last
      assert(got().contains(("insert", lastSnap, 5L)))
    } finally q.stop()
  }

  test("iceberg changelog stream over a v3 table: DV commits stream as CDC") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    import graft.sources.IcebergWrite
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"/tmp/graft_stream_ice_dv_$tag"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    def rows(xs: (Long, Double)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    IcebergWrite.create(spark, dir, st, formatVersion = 3)
    IcebergWrite.append(rows(1L -> 1.0, 2L -> 2.0, 3L -> 3.0), dir)
    val stream = StreamingOps.icebergChangelogStream(spark, dir)
    val q = stream.writeStream.format("memory").queryName(s"ice_dv_$tag")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    def got(): Seq[(String, Long)] =
      spark.table(s"ice_dv_$tag").select("_change_type", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    try {
      q.processAllAvailable()
      assert(got() === Seq(("insert", 1L), ("insert", 2L), ("insert", 3L)))
      // two overlapping DV commits: each streams exactly ITS delete row
      // (the second DV CONTAINS the first's position — the diff must
      // not replay it)
      IcebergWrite.deleteWhere(spark, dir, col("id") === 2L)
      q.processAllAvailable()
      IcebergWrite.deleteWhere(spark, dir, col("id") <= 2L)
      q.processAllAvailable()
      assert(got() === Seq(("delete", 1L), ("delete", 2L),
        ("insert", 1L), ("insert", 2L), ("insert", 3L)))
      // DV consolidation is data-preserving maintenance: streams nothing
      IcebergWrite.rewritePositionDeletes(spark, dir)
      q.processAllAvailable()
      assert(got().size === 5)
    } finally q.stop()
  }

  test("KEYLESS CDC replication: _row_id is the replica key (lineage stream)") {
    // a source table with NO natural key (duplicate content rows) still
    // replicates exactly: the lineage stream puts the permanent _row_id
    // on every change row and the ordinary apply sink keys on it
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.{IcebergIO, IcebergWrite}
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val src = s"/tmp/graft_cdclin_src_$tag"
    val dst = s"/tmp/graft_cdclin_dst_$tag"
    val ckpt = s"/tmp/graft_cdclin_ckpt_$tag"
    val st = StructType(Seq(
      StructField("payload", StringType, nullable = true),
      StructField("v", DoubleType, nullable = true)))
    def rows(xs: (String, Double)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    IcebergWrite.create(spark, src, st, formatVersion = 3)
    // the replica stores the lineage pair as ordinary columns — the
    // _row_id is ITS key, last-updated rides as replica metadata
    IcebergWrite.create(spark, dst, StructType(st.fields.toSeq ++ Seq(
      StructField("_row_id", LongType, nullable = true),
      StructField("_last_updated_sequence_number", LongType,
        nullable = true))))
    // duplicate payloads: no column combination identifies a row
    IcebergWrite.append(rows("x" -> 1.0, "x" -> 1.0, "y" -> 2.0)
      .coalesce(1), src)
    val q = StreamingOps.icebergCdcApplySink(
      StreamingOps.icebergChangelogStream(spark, src, rowLineage = true),
      dst, Seq("_row_id"), ckpt)
    def replica(): Set[(String, Double, Long)] =
      IcebergIO.read(spark, dst).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    try {
      q.processAllAvailable()
      assert(replica() === Set(("x", 1.0, 0L), ("x", 1.0, 1L),
        ("y", 2.0, 2L)))
      // update ONE of the duplicate rows (predicate reaches both "x"
      // rows is wrong — use v-based update touching all x's, then check
      // ids distinguish them); delete by content kills both x rows
      IcebergWrite.updateWhere(spark, src, col("payload") === "y",
        Map("v" -> lit(20.0)))
      q.processAllAvailable()
      assert(replica() === Set(("x", 1.0, 0L), ("x", 1.0, 1L),
        ("y", 20.0, 2L)))
      IcebergWrite.deleteWhere(spark, src, col("payload") === "x")
      q.processAllAvailable()
      assert(replica() === Set(("y", 20.0, 2L)))
      // an identity-PRESERVING upsert updates the replica in place: the
      // matched row keeps its replica key (_row_id) across the upsert
      IcebergWrite.upsert(rows("y" -> 200.0), src, Seq("payload"),
        preserveLineage = true)
      q.processAllAvailable()
      assert(replica() === Set(("y", 200.0, 2L)))
      // the PLAIN upsert churns identity: same content, NEW replica key
      // — exactly the weakness preserveLineage closes
      IcebergWrite.upsert(rows("y" -> 2000.0), src, Seq("payload"))
      q.processAllAvailable()
      val r = replica()
      assert(r.size === 1 && r.head._2 == 2000.0 && r.head._3 != 2L)
    } finally q.stop()
  }

  test("iceberg CDC replication: changelog stream + apply sink keep a replica") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    import graft.sources.{IcebergIO, IcebergWrite}
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val src = s"/tmp/graft_cdc_src_$tag"
    val dst = s"/tmp/graft_cdc_dst_$tag"
    val ckpt = s"/tmp/graft_cdc_ckpt_$tag"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", DoubleType, nullable = true)))
    def rows(xs: (Long, Double)*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(x => Row(x._1, x._2)): _*)), st)
    IcebergWrite.create(spark, src, st)
    IcebergWrite.create(spark, dst, st)
    IcebergWrite.append(rows(1L -> 1.0, 2L -> 2.0, 3L -> 3.0), src)
    def state(dir: String): Seq[(Long, Double)] =
      IcebergIO.read(spark, dir).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    val q = StreamingOps.icebergCdcApplySink(
      StreamingOps.icebergChangelogStream(spark, src), dst, Seq("id"), ckpt)
    try {
      q.processAllAvailable()
      assert(state(dst) === state(src))
      // a burst of commits (update, delete, upsert, maintenance) may land
      // in ONE micro-batch — the net-effect application must converge
      IcebergWrite.updateWhere(spark, src, col("id") === 2L,
        Map("v" -> org.apache.spark.sql.functions.lit(20.0)))
      IcebergWrite.deleteWhere(spark, src, col("id") === 1L)
      IcebergWrite.upsert(rows(3L -> 30.0, 7L -> 7.0), src, Seq("id"))
      IcebergWrite.compact(spark, src)
      q.processAllAvailable()
      assert(state(dst) === state(src))
      assert(state(dst) === Seq((2L, 20.0), (3L, 30.0), (7L, 7.0)))
      // delete + re-insert of the same key across commits in one batch
      IcebergWrite.deleteWhere(spark, src, col("id") === 7L)
      IcebergWrite.append(rows(7L -> 70.0), src)
      q.processAllAvailable()
      assert(state(dst) === state(src))
    } finally q.stop()
  }

  test("iceberg snapshot stream: maxSnapshotsPerTrigger paces the backlog") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"/tmp/graft_stream_ice_rate_$tag"
    val st = StructType(Seq(StructField("id", LongType, nullable = false)))
    def rows(xs: Long*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(Row(_)): _*)), st)
    val w = new graft.sources.IcebergFixture.Writer(spark, dir, st)
    // a 3-snapshot BACKLOG before the stream starts
    w.append(rows(1L, 2L))
    w.append(rows(3L))
    w.append(rows(4L, 5L))
    val q = StreamingOps
      .icebergSnapshotStream(spark, dir, maxSnapshotsPerTrigger = Some(1))
      .writeStream.format("memory").queryName(s"ice_rate_$tag")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // everything arrives...
      assert(spark.table(s"ice_rate_$tag").select("id")
        .collect().map(_.getLong(0)).sorted === Array(1L, 2L, 3L, 4L, 5L))
      // ...but paced: one snapshot per micro-batch, so the three-commit
      // backlog takes exactly three non-empty batches (batch row counts
      // are the per-snapshot row counts, in commit order)
      val batches = q.recentProgress.toSeq
        .map(_.numInputRows).filter(_ > 0)
      assert(batches === Seq(2L, 1L, 2L),
        s"expected one snapshot per batch, got $batches")
      // an uncapped stream would have drained the same backlog in ONE
      w.append(rows(6L))
      q.processAllAvailable()
      assert(spark.table(s"ice_rate_$tag").count() === 6)
    } finally q.stop()
    intercept[IllegalArgumentException] {
      StreamingOps.icebergSnapshotStream(spark, dir,
        maxSnapshotsPerTrigger = Some(0)) // validated synchronously at load()
    }
  }

  test("iceberg snapshot stream survives a mid-stream manifest rewrite") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"/tmp/graft_stream_ice_rw_$tag"
    graft.sources.IcebergFixture.deleteRecursively(dir)
    val st = StructType(Seq(StructField("id", LongType, nullable = false)))
    def rows(xs: Long*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(Row(_)): _*)), st)
    graft.sources.IcebergWrite.create(spark, dir, st)
    graft.sources.IcebergWrite.append(rows(1L, 2L), dir)
    val q = StreamingOps.icebergSnapshotStream(spark, dir)
      .writeStream.format("memory").queryName(s"ice_rw_$tag")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table(s"ice_rw_$tag").count() === 2)
      // a manifest rewrite adds NO data — the stream must ride across
      // it (a compact, which rewrites data, still fails the stream)
      graft.sources.IcebergWrite.rewriteManifests(spark, dir)
      graft.sources.IcebergWrite.append(rows(3L), dir)
      q.processAllAvailable()
      assert(spark.table(s"ice_rw_$tag").select("id").collect()
        .map(_.getLong(0)).sorted === Array(1L, 2L, 3L))
    } finally q.stop()
  }

  test("iceberg snapshot stream: restart resumes from the checkpointed offset") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val dir = s"/tmp/graft_stream_ice_restart_$tag"
    val ckpt = s"/tmp/graft_stream_ice_ckpt_$tag"
    val st = StructType(Seq(StructField("id", LongType, nullable = false)))
    def rows(xs: Long*) = spark.createDataFrame(
      new java.util.ArrayList[Row](
        java.util.Arrays.asList(xs.map(Row(_)): _*)), st)
    val out = s"/tmp/graft_stream_ice_out_$tag"
    val w = new graft.sources.IcebergFixture.Writer(spark, dir, st)
    w.append(rows(1L, 2L))
    // file sink (memory sink does not support checkpoint recovery)
    def run(): Unit = {
      val q = StreamingOps.icebergSnapshotStream(spark, dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() === 2)
    // rows appended while the query is DOWN are exactly what the
    // restarted query reads (offsets recover as SerializedOffset json
    // from the checkpoint — the sequence number round-trips)
    w.append(rows(3L))
    run()
    assert(spark.read.parquet(out).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }
  test("iceberg sink: exactly-once across replays and restarts") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_ice_sink").toString
    val table = s"$root/t"
    val ckpt = s"$root/ckpt"
    val st = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    graft.sources.IcebergWrite.create(spark, table, st)

    // direct idempotence on a SEPARATE table (its batch ids would
    // otherwise collide with the real stream's, which start at 0)
    def mk(xs: (String, Long)*) = xs.toDF("k", "v")
    val t2 = s"$root/t2"
    graft.sources.IcebergWrite.create(spark, t2, st)
    assert(StreamingOps.commitStreamBatch(mk("a" -> 1L), t2, 0L))
    assert(!StreamingOps.commitStreamBatch(mk("a" -> 1L), t2, 0L),
      "replay of batch 0 must be skipped")
    assert(StreamingOps.lastStreamBatchId(t2).contains(0L))
    assert(graft.sources.IcebergIO.read(spark, t2).count() === 1L)

    // end-to-end: memory stream -> sink; then STOP and RESTART on the
    // same checkpoint — rows must not duplicate
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)](spark)
    in.addData(("b", 2L), ("c", 3L))
    val q = StreamingOps.icebergAppendSink(in.toDF().toDF("k", "v"), table, ckpt)
    try q.processAllAvailable() finally q.stop()
    val after1 = graft.sources.IcebergIO.read(spark, table)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(after1 === Seq(("b", 2L), ("c", 3L)))

    in.addData(("d", 4L))
    val q2 = StreamingOps.icebergAppendSink(in.toDF().toDF("k", "v"), table, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val after2 = graft.sources.IcebergIO.read(spark, table)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(after2 === Seq(("b", 2L), ("c", 3L), ("d", 4L)),
      "restart on the same checkpoint must not duplicate rows")

    // the sink's snapshots carry their batch ids in the summary
    assert(StreamingOps.lastStreamBatchId(table).exists(_ >= 1L))
    // wiring against a missing table fails at construction
    intercept[IllegalArgumentException](
      StreamingOps.icebergAppendSink(in.toDF().toDF("k", "v"),
        s"$root/nope", s"$root/ckpt2"))
  }

  test("expectations audit sink: per-batch verdict rows land in the " +
      "audit table; empty input verdicts zero violations") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.Expectations
    val root = java.nio.file.Files
      .createTempDirectory("graft_exp_sink").toString
    val table = s"$root/audit"; val ckpt = s"$root/ckpt"
    val st = StructType(Seq(
      StructField("check", StringType, nullable = true),
      StructField("kind", StringType, nullable = true),
      StructField("n_rows", LongType, nullable = true),
      StructField("n_violations", LongType, nullable = true),
      StructField("pass", BooleanType, nullable = true),
      StructField("batch_id", LongType, nullable = true)))
    graft.sources.IcebergWrite.create(spark, table, st)
    val checks = Seq(
      Expectations.NotNull("k_nn", "k"),
      Expectations.InRange("v_rng", "v", lit(0L), lit(10L)),
      Expectations.Unique("k_uniq", Seq("k")))
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)](spark)
    in.addData(("a", 1L), ("b", 20L)) // one range violation
    val q = StreamingOps.expectationsAuditSink(
      in.toDF().toDF("k", "v"), checks, table, ckpt)
    try {
      q.processAllAvailable()
      in.addData(("c", 2L), ("c", 3L)) // duplicate key
      q.processAllAvailable()
    } finally q.stop()
    val rows = graft.sources.IcebergIO.read(spark, table).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("check")) ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_violations"),
          r.getAs[Boolean]("pass")))).toMap
    assert(rows.size === 6) // 3 checks x 2 batches
    assert(rows((0L, "v_rng")) === ((2L, 1L, false)))
    assert(rows((0L, "k_uniq")) === ((2L, 0L, true)))
    assert(rows((1L, "v_rng")) === ((2L, 0L, true)))
    assert(rows((1L, "k_uniq")) === ((2L, 1L, false)))
    assert(rows((1L, "k_nn")) === ((2L, 0L, true)))
    // an empty relation verdicts as zero rows, zero violations, pass
    val ev = Expectations.validate(
      Seq.empty[(String, Long)].toDF("k", "v"), checks).collect()
    assert(ev.length === 3)
    ev.foreach(r => assert(r.getLong(2) === 0L && r.getLong(3) === 0L &&
      r.getBoolean(4), r.toString))
  }

  test("iceberg upsert sink: keyed merge, exactly-once across restarts") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_ice_upsink").toString
    val table = s"$root/t"
    val ckpt = s"$root/ckpt"
    val st = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    graft.sources.IcebergWrite.create(spark, table, st)
    def read() = graft.sources.IcebergIO.read(spark, table)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq

    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)](spark)
    in.addData(("a", 1L), ("b", 2L))
    val q = StreamingOps.icebergUpsertSink(in.toDF().toDF("k", "v"),
      table, Seq("k"), ckpt)
    try q.processAllAvailable() finally q.stop()
    assert(read() === Seq(("a", 1L), ("b", 2L)))

    // restart on the SAME checkpoint: 'a' is UPDATED (not duplicated),
    // 'c' inserts — streaming ingestion + keyed dedup in one operator
    in.addData(("a", 10L), ("c", 3L))
    val q2 = StreamingOps.icebergUpsertSink(in.toDF().toDF("k", "v"),
      table, Seq("k"), ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(read() === Seq(("a", 10L), ("b", 2L), ("c", 3L)))

    // replay of an absorbed batch id is skipped
    def mk(xs: (String, Long)*) = xs.toDF("k", "v")
    assert(!StreamingOps.commitStreamBatchUpsert(mk("a" -> 99L), table, Seq("k"), 0L))
    assert(read() === Seq(("a", 10L), ("b", 2L), ("c", 3L)))
    // duplicate keys within one batch fail loudly, table untouched
    intercept[IllegalArgumentException](
      StreamingOps.commitStreamBatchUpsert(
        mk("d" -> 1L, "d" -> 2L), table, Seq("k"), 99L))
    assert(read() === Seq(("a", 10L), ("b", 2L), ("c", 3L)))
  }

  test("iceberg upsert sink preserveLineage: streamed updates keep _row_id") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_ice_upslin").toString
    val table = s"$root/t"
    val st = StructType(Seq(
      StructField("k", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    graft.sources.IcebergWrite.create(spark, table, st, formatVersion = 3)
    def lineage() = graft.sources.IcebergIO.readWithRowId(spark, table)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("_row_id")).toMap

    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)](spark)
    in.addData(("a", 1L), ("b", 2L))
    val q = StreamingOps.icebergUpsertSink(in.toDF().toDF("k", "v"),
      table, Seq("k"), s"$root/ckpt", preserveLineage = true)
    try {
      q.processAllAvailable()
      val ids0 = lineage()
      // a second micro-batch UPDATES 'a' and inserts 'c': the streamed
      // update must keep a's _row_id across its whole streamed life
      in.addData(("a", 10L), ("c", 3L))
      q.processAllAvailable()
      val ids1 = lineage()
      assert(ids1("a") === ids0("a") && ids1("b") === ids0("b"))
      assert(!ids0.values.toSet.contains(ids1("c")))
    } finally q.stop()
    // v2 tables refuse the flag at wiring time
    val v2 = s"$root/v2"
    graft.sources.IcebergWrite.create(spark, v2, st)
    val e = intercept[IllegalArgumentException](
      StreamingOps.icebergUpsertSink(in.toDF().toDF("k", "v"),
        v2, Seq("k"), s"$root/ckpt2", preserveLineage = true))
    assert(e.getMessage.contains("format v3"), e.getMessage)
  }

  test("crash-restart fuzz: CDC replica converges across kills and mid-commit crashes") {
    // VERDICT-r16 #2: a seeded kill/resume fuzz over
    // icebergChangelogStream → icebergCdcApplySink. The query is KILLED
    // at random batch boundaries (stop + fresh query on the same
    // checkpoint) and twice the test plants the exact half-state a
    // crash BETWEEN the sink's two commits leaves behind (net deletes
    // eq-deleted on the replica, NO batch stamp — the documented
    // last-commit-stamp design), before the restart replays the batch.
    // The replica must converge to the source model exactly after
    // every resync, with no duplicate keys ever.
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.sources.{IcebergIO, IcebergWrite}
    Seq(41, 59).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_crash_cdc_$seed").toString
      val src = s"$root/src"; val rep = s"$root/rep"
      val st = StructType(Seq(
        StructField("k", LongType, nullable = true),
        StructField("v", LongType, nullable = true)))
      IcebergWrite.create(spark, src, st, formatVersion = 3)
      IcebergWrite.create(spark, rep, st, formatVersion = 3)
      val model = scala.collection.mutable.Map[Long, Long]()
      val deletedSinceSync = scala.collection.mutable.Set[Long]()
      def burst(): Unit = (0 until 1 + rnd.nextInt(2)).foreach { _ =>
        if (rnd.nextBoolean() || model.isEmpty) {
          val rows = (0 until 1 + rnd.nextInt(4))
            .map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(1000).toLong))
            .distinctBy(_._1)
          IcebergWrite.upsert(rows.toDF("k", "v"), src, Seq("k")): Unit
          rows.foreach { case (k, v) =>
            model(k) = v; deletedSinceSync.remove(k): Unit }
        } else {
          val ks = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(3))
          IcebergWrite.deleteWhere(spark, src,
            col("k").isin(ks: _*)): Unit
          ks.foreach { k => model.remove(k): Unit; deletedSinceSync += k }
        }
      }
      def runSink(): Unit = {
        val q = StreamingOps.icebergCdcApplySink(
          StreamingOps.icebergChangelogStream(spark, src), rep, Seq("k"),
          s"$root/ckpt")
        try q.processAllAvailable() finally q.stop()
        deletedSinceSync.clear()
        val got = IcebergIO.read(spark, rep).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
        assert(got.map(_._1).distinct.size === got.size,
          s"seed $seed: replica carries duplicate keys")
        assert(got === model.toSeq.sorted,
          s"seed $seed: replica diverged from the source model")
      }
      (1 to 10).foreach { i =>
        burst()
        if ((i == 4 || i == 7) && deletedSinceSync.nonEmpty) {
          // mid-commit crash: a strict subset (possibly all) of the
          // pending batch's net deletes already applied, unstamped
          val half = rnd.shuffle(deletedSinceSync.toSeq)
            .take(1 + rnd.nextInt(deletedSinceSync.size))
          IcebergWrite.deleteEquality(half.toDF("k"), rep): Unit
        }
        if (rnd.nextBoolean() || i == 10) runSink()
      }
    }
  }

  test("crash-restart fuzz: preserveLineage upsert replica keeps ids across kills") {
    // the identity-preserving twin: keyed bursts through
    // icebergUpsertSink(preserveLineage) with kills at random batch
    // boundaries. The preserving path commits ONE atomic merge snapshot
    // (no mid-commit window to crash into); the fuzz pins exactly-once
    // content AND that a key's _row_id from its FIRST appearance
    // survives every later update and restart.
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.sources.{IcebergIO, IcebergWrite}
    Seq(17, 73).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_crash_ups_$seed").toString
      val table = s"$root/t"
      val st = StructType(Seq(
        StructField("k", LongType, nullable = true),
        StructField("v", LongType, nullable = true)))
      IcebergWrite.create(spark, table, st, formatVersion = 3)
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)](spark)
      val model = scala.collection.mutable.Map[Long, Long]()
      val firstRid = scala.collection.mutable.Map[Long, Long]()
      // bursts pending between sink runs drain as ONE micro-batch after
      // a restart — keep them key-disjoint (the sink's duplicate-key
      // guard is a loud contract, deduping upstream is the caller's job)
      val pending = scala.collection.mutable.Set[Long]()
      def runSink(): Unit = {
        val q = StreamingOps.icebergUpsertSink(in.toDF().toDF("k", "v"),
          table, Seq("k"), s"$root/ckpt", preserveLineage = true)
        try q.processAllAvailable() finally q.stop()
        pending.clear()
        val rows = IcebergIO.readWithRowId(spark, table).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("_row_id")))
        assert(rows.map(_._3).distinct.length === rows.length,
          s"seed $seed: duplicate _row_id in the replica")
        assert(rows.map(r => (r._1, r._2)).sorted.toSeq ===
          model.toSeq.sorted, s"seed $seed: replica content diverged")
        rows.foreach { case (k, _, rid) =>
          firstRid.get(k) match {
            case Some(r0) => assert(r0 === rid,
              s"seed $seed: key $k lost its _row_id ($r0 -> $rid)")
            case None => firstRid(k) = rid
          }
        }
      }
      (1 to 8).foreach { i =>
        val batch = (0 until 1 + rnd.nextInt(4))
          .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
          .distinctBy(_._1).filterNot(p => pending(p._1))
        if (batch.nonEmpty) {
          in.addData(batch.toIndexedSeq)
          pending ++= batch.map(_._1)
          batch.foreach { case (k, v) => model(k) = v }
        }
        if (rnd.nextBoolean() || i == 8) runSink()
      }
    }
  }

  test("crawl streaming twin: curateStream → preserveLineage upsert replica") {
    // the streaming twin of the pipe_crawl_iceberg entry: the COMPLETE
    // one-call curation tail (html extract → lang/quality → gopher →
    // hashed-linear gate → decontam → resample → split) feeding the
    // identity-preserving Iceberg upsert sink — a second burst
    // re-sending modified pages UPDATES the replica rows IN PLACE
    // (matched keys keep _row_id), untouched rows coexist unchanged
    import spark.implicits._
    import graft.operators.{Curation, HtmlExtract, TextAnalysis}
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fpw = org.apache.spark.sql.expressions.Window
      .partitionBy("__fp").orderBy("doc_id")
    val uniq = docsDf
      .withColumn("__fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(fpw))
      .filter(col("__rn") === 1).select("doc_id", "text")
    val model = TextAnalysis.hashedLinearTrain(docsDf, "text",
      "lang", buckets = 64)
    val rules = TextAnalysis.GopherRules(minWords = 30, maxWords = 90,
      minMeanLen = 4, maxMeanLen = 10, minStopwords = 2)
    val fractions = Seq("train" -> 900000L, "val" -> 100000L)
    val evalFps = Curation.evalFingerprints(
        HtmlExtract.extractHtmlText(
          uniq.limit(2).withColumn("html",
            HtmlExtract.syntheticHtml(col("doc_id"), col("text"))),
          "doc_id", "html"),
        "id", "text", k = 8)
      .collect().map(_.getString(0)).toSeq

    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String, Long)](spark)
    val curated = StreamingOps.curateStream(
      in.toDF().toDF("doc_id", "ts", "html", "w"), "doc_id", "ts", "html",
      minQuality = 0.05, watermarkDelay = "10 seconds",
      gopher = Some(rules), html = Some(HtmlExtract.HtmlRules()),
      hlGate = Some((model, Set("en", "de"))),
      decontam = Some((evalFps, 8, 0)),
      resample = Some(("w", "rs17")), split = Some(fractions))

    val root = java.nio.file.Files.createTempDirectory("graft_crawl_twin")
      .toString
    val table = s"$root/t"
    graft.sources.IcebergWrite.create(spark, table,
      org.apache.spark.sql.types.StructType(
        curated.schema.fields.map(_.copy(nullable = true))),
      formatVersion = 3)
    def snap() = graft.sources.IcebergIO.readWithRowId(spark, table)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("_row_id"), r.getAs[String]("text")))
      .toMap

    val ts1 = new java.sql.Timestamp(1704067200000L)
    val pages = uniq.collect().map(r => (r.getLong(0), r.getString(1)))
    def page(id: Long, text: String, ts: java.sql.Timestamp) = {
      val html = docsDf.sparkSession.range(1)
        .select(HtmlExtract.syntheticHtml(lit(id), lit(text)))
        .head().getString(0)
      (id, ts, html, (id % 10) * 100000L)
    }
    val q = StreamingOps.icebergUpsertSink(curated, table, Seq("id"),
      s"$root/ckpt", preserveLineage = true)
    try {
      in.addData(pages.map(p => page(p._1, p._2, ts1)).toIndexedSeq)
      q.processAllAvailable()
      val s1 = snap()
      assert(s1.nonEmpty, "burst 1 produced no survivors")

      // burst 2: re-send a slice of the SURVIVORS with the first two
      // words swapped (same gopher counts; new fingerprint so the keyed
      // dedup passes) — whichever of them re-survive the gates must
      // UPDATE their replica row in place
      val ts2 = new java.sql.Timestamp(1704067260000L)
      val resend = pages.filter(p => s1.contains(p._1)).take(12).map {
        case (id, text) =>
          val w = text.split(" ")
          val swapped =
            if (w.length >= 2) (Seq(w(1), w(0)) ++ w.drop(2)).mkString(" ")
            else text
          page(id, swapped, ts2)
      }
      in.addData(resend.toIndexedSeq)
      q.processAllAvailable()
      val s2 = snap()

      // no row ever disappears from an upsert replica, ids stay unique
      assert(s1.keySet.subsetOf(s2.keySet))
      assert(s2.values.map(_._1).toSet.size === s2.size)
      // EVERY pre-existing key keeps its _row_id — updated or not
      s1.foreach { case (id, (rid, _)) => assert(s2(id)._1 === rid,
        s"doc $id lost its _row_id across the update burst") }
      val updated = s1.keySet.filter(id => s2(id)._2 != s1(id)._2)
      assert(updated.nonEmpty, "no re-sent page survived the gates")
      assert(s1.keySet.exists(id => !updated(id)), "all rows updated")
      // updated rows carry exactly the re-sent page's curated text
      val resentById = resend.map(t => t._1 -> t._3).toMap
      updated.foreach { id =>
        val expect = docsDf.sparkSession.range(1)
          .select(Curation.piiRedact(HtmlExtract.extractedHtmlText(
            lit(resentById(id)), HtmlExtract.HtmlRules())))
          .head().getString(0)
        assert(s2(id)._2 === expect, s"doc $id text not the updated page")
      }
    } finally q.stop()
  }

}
