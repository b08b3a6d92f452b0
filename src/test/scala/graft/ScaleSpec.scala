package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.SkewJoin

/** Scale-pattern tests: bucketed co-located joins (no exchange on either
  * side) and skew-salted joins (correctness under salting). */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed tables join without a shuffle exchange") {
    val li = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    val or = spark.read.parquet(s"${TestSpark.sfDir}/orders.parquet")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS or_b")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", "/tmp/graft_bucketed/li_b").mode("overwrite").saveAsTable("li_b")
    or.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", "/tmp/graft_bucketed/or_b").mode("overwrite").saveAsTable("or_b")

    val joined = spark.table("li_b")
      .join(spark.table("or_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").count()
    val plan = joined.queryExecution.executedPlan.toString
    // co-located bucket join: no shuffle before the join itself — the only
    // exchange allowed is the one for the groupBy.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"expected bucket-local join, plan:\n$plan")
    assert(joined.collect().map(_.getLong(1)).sum ==
      li.join(or, col("l_orderkey") === col("o_orderkey")).count())
    spark.sql("DROP TABLE li_b")
    spark.sql("DROP TABLE or_b")
  }

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString

  test("tpch_q1 plan: pushed filter, pruned columns, two-phase agg, one hash exchange") {
    val p = planOf("tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(p.contains("partial_sum"))
    assert(!p.contains("l_orderkey"), "projection should prune unused columns")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1)
  }

  test("tpch_q3 plan: dimension sides broadcast, fact side never shuffled for joins") {
    val p = planOf("tpch_q3")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2)
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"))
  }

  test("embed_knn_brute plan: top-k pushed below the shuffle, query side broadcast") {
    val p = planOf("embed_knn_brute")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("Partial"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("embed_ann_lsh plan: candidates come from a hash join on the bucket key") {
    val p = planOf("embed_ann_lsh")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "bucketed ANN must not degenerate to a nested-loop join")
  }

  // ---- per-query plan pins for the heaviest bench queries: a future
  // edit must not silently trade a broadcast for a shuffle or reintroduce
  // a single-partition funnel (VERDICT r2 "Next round" #7). ----

  test("tpch_q18 plan: top-k distributed, shuffles only for l_orderkey aggs") {
    val p = planOf("tpch_q18")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "dims must broadcast at test SF")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"expected ≤3 exchanges (HAVING agg ×2 + final agg), plan:\n$p")
  }

  test("tpch_q5 plan: all five joins broadcast, single agg exchange") {
    val p = planOf("tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 5, s"plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"plan:\n$p")
  }

  test("tpch_q9 plan: all four joins broadcast, single agg exchange") {
    val p = planOf("tpch_q9")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 4, s"plan:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"plan:\n$p")
  }

  test("dedup_minhash plan: candidates bucket-local, no cartesian/NL join") {
    val p = planOf("dedup_minhash")
    assert(p.contains("band_key"), "candidate join must use the LSH band key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must never be all-pairs, plan:\n$p")
  }

  test("win_frame_range plan: one partitioned window, one exchange") {
    val p = planOf("win_frame_range")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"plan:\n$p")
    assert(p.contains("windowspecdefinition(l_orderkey"),
      "window must be partitioned (no global ordering)")
    assert(!p.contains("Exchange SinglePartition"), s"plan:\n$p")
  }

  test("dedup_embedding plan: global top-N is TakeOrderedAndProject, not a single-partition window") {
    val p = planOf("dedup_embedding")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"plan:\n$p")
  }

  test("embed_ivf_topk plan: prebuilt codebook attach is map-side, top-k pushed down") {
    val p = planOf("embed_ivf_topk")
    // centroid array attaches via a 1-row broadcast cross join (map-side)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Cross"), s"plan:\n$p")
    // candidate generation is a hash join on the cell id, never all-pairs
    assert("BroadcastHashJoin \\[cell".r.findAllIn(p).nonEmpty, s"plan:\n$p")
    // per-query top-k pushed below the shuffle
    assert(p.contains("WindowGroupLimit"), s"plan:\n$p")
    // deterministic seed codebook: a distributed top-nCells scan, no KMeans
    assert(p.contains("TakeOrderedAndProject(limit=16"), s"plan:\n$p")
  }

  test("text_bigram_lp plan: one lookup_sum projection, no join, window or hash exchange") {
    val p = planOf("text_bigram_lp")
    // the trained model rides the kernel as a referenced object: scoring
    // is one per-row projection — no model join, no doc-keyed window
    // (the only exchange left is the entry's ORDER BY range sort)
    assert(p.contains("lookup_sum("), s"plan:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), s"plan:\n$p")
    assert(!p.contains("hashpartitioning"), s"plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"found a single-partition stage (global funnel):\n$p")
  }

  test("cur_ppl_buckets plan: scorer joins broadcast, tercile windows " +
      "lang-partitioned, no global funnel") {
    val p = planOf("cur_ppl_buckets")
    // the bigram scorer is one per-row kernel with no model join; the
    // one join left, the doc-grain lang attach, broadcasts at this size
    assert("lookup_sum\\(".r.findAllIn(p).size == 1, s"plan:\n$p")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"plan:\n$p")
    // rank + count windows both partition by lang — the per-language
    // CCNet sort, never a corpus-global window
    assert(p.contains("row_number"), s"plan:\n$p")
    assert(!p.contains("SinglePartition"),
      s"found a single-partition stage (global funnel):\n$p")
  }

  test("cur_bloom_gate plan: filter + truth tables broadcast, no cartesian") {
    val p = planOf("cur_bloom_gate")
    // the bits/32-row filter table and the eval truth set both ride
    // broadcasts; the fingerprint-keyed joins may legitimately shuffle
    // (corpus × corpus on h)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected >=2 broadcast joins (filter words + truth set), plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("text_trigram_sb plan: one lookup_sum projection, no join or cartesian") {
    val p = planOf("text_trigram_sb")
    // the three backoff levels are ONE kernel's tables — no trigram,
    // bigram or unigram table reaches the documents as a join
    assert(p.contains("lookup_sum("), s"plan:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"plan:\n$p")
    assert(!p.contains("hashpartitioning"), s"plan:\n$p")
  }

  test("kmeans assignment plan: centroid argmin is a pure projection, no join") {
    // the codebook query's OUTPUT is a LocalTableScan (stats collected
    // during training) — inspect the per-iteration assignment job itself
    val emb = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val p = graft.operators.Similarity
      .kmeansAssignmentForPlan(emb, "vec_id", "embedding", 4)
      .queryExecution.executedPlan.toString
    // r20: the centroid table is a flat literal inside the native
    // PqEncode expression — the corpus-by-k argmin is a map-side
    // projection with NO join of any kind and no exchange (the old
    // shape was a 1-row broadcast crossJoin + interpreted fold)
    assert(!p.contains("Join"), s"centroid attach grew a join:\n$p")
    assert(!p.contains("Exchange"), s"assignment must stay map-side:\n$p")
    assert(p.contains("pqencode") || p.contains("PqEncode"),
      s"expected the native encode expression in the plan:\n$p")
  }

  test("partitioned write prunes partitions at read (lang=en only)") {
    val dir = "/tmp/graft_part_docs_test"
    spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("lang") === "en")
      .select("doc_id", "lang")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters:") && scan.contains("isnotnull(lang"),
      s"scan must carry partition filters:\n$scan")
    // pruning proof via execution metrics: the filtered scan reads
    // strictly fewer files than the unfiltered one (1 of 5 lang dirs)
    def filesRead(d: org.apache.spark.sql.DataFrame): Long = {
      d.collect()
      d.queryExecution.executedPlan.collectLeaves().head.metrics("numFiles").value
    }
    val filtered = filesRead(df)
    val unfiltered = filesRead(spark.read.parquet(dir).select("doc_id", "lang"))
    assert(filtered > 0 && filtered < unfiltered,
      s"expected pruned scan ($filtered) to read fewer files than full scan ($unfiltered)")
  }

  test("join_asof plan: union+window shape — one key shuffle, no join explosion") {
    val p = planOf("join_asof")
    // the as-of is NOT planned as any join operator (union + carry-forward
    // window) — no per-pair explosion to begin with
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin")
      && !p.contains("CartesianProduct"), s"plan:\n$p")
    assert(p.contains("windowspecdefinition(user_id"), s"plan:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"plan:\n$p")
  }

  test("join_range plan: binned equi-join, never a nested-loop/cartesian") {
    val p = planOf("join_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"keyless interval join must bin, plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"plan:\n$p")
  }

  /** Set confs, run the body, restore previous values — session is shared
    * across suites, so every conf change must be undone. */
  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Execute THIS DataFrame's own QueryExecution (a .write/.count creates
    * a fresh one, leaving this instance's AQE plan unfinalized). */
  private def execute(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(
      (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // at 100 TB a selective dim filter should semi-join-reduce the fact
    // scan; Spark's runtime bloom filter does exactly that — pin that our
    // session shape lets it inject (no broadcast, file-source both sides)
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val dir = "/tmp/graft_bloom_test"
      spark.range(0, 200000).selectExpr("id AS k", "id % 1000 AS v")
        .write.mode("overwrite").parquet(s"$dir/big")
      spark.range(0, 200000, 400).selectExpr("id AS k", "'x' AS name")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val j = spark.read.parquet(s"$dir/big")
        .join(spark.read.parquet(s"$dir/dim").filter(col("name") === "x"), "k")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the probe side, plan:\n$plan")
    }
  }

  test("AQE splits a skewed join partition (skew=true in the final plan)") {
    withConfs(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB") {
      val dir = "/tmp/graft_skew_test"
      // 90% of rows share key 0 — one shuffle partition dwarfs the rest
      spark.range(0, 500000)
        .selectExpr("IF(id % 10 < 9, 0L, id) AS k", "id AS payload")
        .write.mode("overwrite").parquet(s"$dir/skewed")
      spark.range(0, 1000).selectExpr("id AS k", "id AS r")
        .write.mode("overwrite").parquet(s"$dir/right")
      val sj = spark.read.parquet(s"$dir/skewed")
        .join(spark.read.parquet(s"$dir/right").hint("merge"), "k")
      execute(sj) // AQE decides skew handling at runtime — must execute
      val plan = sj.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the join skewed, plan:\n$plan")
    }
  }

  test("salted join matches the plain join exactly") {
    import spark.implicits._
    // one hot key (0) with many rows + a tail
    val skewed = (Seq.fill(1000)(0L) ++ (1L to 50L)).map(k => (k, k * 2))
      .toDF("k", "v")
    val small = (0L to 50L).map(k => (k, s"name_$k")).toDF("k", "name")
    val salted = SkewJoin.saltedInnerJoin(skewed, small, "k", buckets = 8)
    val plain = skewed.join(small, "k")
    assert(salted.count() == plain.count())
    assert(salted.groupBy("k").count().orderBy("k").collect().toSeq ==
      plain.groupBy("k").count().orderBy("k").collect().toSeq)
  }

  test("cur_line_dedup plan: keep-first is a line-keyed window, no cartesian") {
    val p = planOf("cur_line_dedup")
    // the keep-first window partitions BY LINE (never a corpus-wide sort)
    assert("Window .*partitionBy|Window \\[row_number".r.findAllIn(p).nonEmpty,
      s"plan:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("cur_mix_domains plan: keep counts broadcast back, rank per group") {
    val p = planOf("cur_mix_domains")
    // the per-group keep table attaches via broadcast, docs never
    // shuffle for the join
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    // (the tiny counts agg legitimately passes one single-partition
    // exchange — min over #groups rows; the doc-side rank is group-keyed)
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("embed_pq_adc plan: encode map-side, queries broadcast to the corpus") {
    val p = planOf("embed_pq_adc")
    // the search join broadcasts the (tiny) query+LUT side; the encoded
    // corpus streams — never a shuffle of the corpus for the join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("dedup_substring plan: one hash-keyed rank window, no cartesian") {
    val p = planOf("dedup_substring")
    // the corpus-wide stage is ONE row_number window keyed on the
    // window hash; island merge and stats are doc-keyed — nothing may
    // collapse to a single partition or cross-join
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(!p.contains("Exchange SinglePartition"), s"plan:\n$p")
  }

  test("dedup_substring_strip plan: coverage join is id-keyed, never nested-loop") {
    val p = planOf("dedup_substring_strip")
    // the token-coverage anti-join carries the doc id as an EQUI key
    // (the range on pos is a residual) — a nested-loop/cartesian here
    // would be tokens x islands
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
  }

  test("text_nb_classify plan: one lookup_sum projection, no join or argmax window") {
    val p = planOf("text_nb_classify")
    // V×L label scores come from one per-row kernel and the argmax is
    // array arithmetic — no tokens × labels fan-out, no per-doc window
    assert(p.contains("lookup_sum("), s"plan:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), s"plan:\n$p")
    assert(!p.contains("hashpartitioning"), s"plan:\n$p")
  }

  test("text_html_extract plan: pure per-row projection, zero exchange before the sort") {
    val p = planOf("text_html_extract")
    // the whole extraction is regex + list arithmetic on one row — the
    // ONLY wide stage allowed is the entry's final ORDER BY (a range
    // exchange); any join/aggregate exchange means the operator stopped
    // being the zero-exchange projection it is designed to be
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"plan:\n$p")
    assert(!p.contains("hashpartitioning"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("text_hashlin_classify plan: one lookup_sum projection, no join or argmax window") {
    val p = planOf("text_hashlin_classify")
    // hashed-slot model is O(buckets × labels) inside one per-row
    // kernel — same contract as NB
    assert(p.contains("lookup_sum("), s"plan:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"), s"plan:\n$p")
    assert(!p.contains("hashpartitioning"), s"plan:\n$p")
  }

  test("hashedLinearMarginFold plan: pure per-row projection, zero exchange") {
    // the margin (the streaming hlMargin gate's body) must stay a
    // single codegen'd projection — model as a referenced object, one
    // kernel, no join/aggregate exchange anywhere
    val spark = TestSpark.spark
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = graft.operators.TextAnalysis.hashedLinearTrain(
      docs, "text", "lang", buckets = 64)
    val p = graft.operators.TextAnalysis
      .hashedLinearMargin(model, docs, "doc_id", "text", "en")
      .queryExecution.executedPlan.toString
    assert(p.contains("lookup_sum("), s"plan:\n$p")
    assert(!p.contains("Exchange"), s"plan:\n$p")
    assert(!p.contains("Join"), s"plan:\n$p")
  }

  test("cur_pack_shuffled plan: corpus window part-partitioned, single " +
      "partition only over the per-part totals") {
    val p = planOf("cur_pack_shuffled")
    // the scale-killer this two-phase form exists to avoid is a GLOBAL
    // unpartitioned running sum over corpus rows; the one allowed
    // SinglePartition exchange is the per-part-totals cumsum (one row
    // per hash span), whose offsets broadcast back map-side
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, s"plan:\n$p")
    // the row-grain running sum is partitioned by the hash span and
    // ordered by (hk, id, copy)
    assert("""\], \[part#\d+L\], \[hk#""".r.findFirstIn(p).isDefined,
      s"plan:\n$p")
    assert(p.contains("BroadcastExchange"), s"plan:\n$p")
  }

  test("cur_pack_bins plan: bin agg combines map-side, no cartesian") {
    val p = planOf("cur_pack_bins")
    // fragment reassembly is ONE shuffle keyed on bin with map-side
    // partial collect_list (per-bin state capped at binTokens); the
    // placement→tokens join must never degrade to a nested loop
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(p.contains("partial_collect_list"), s"plan:\n$p")
    assert("""Exchange hashpartitioning\(bin#""".r.findAllIn(p).size == 1,
      s"plan:\n$p")
  }

  test("cur_pack_bins_bpe plan: BPE-grain bin agg combines map-side, " +
      "one bin-keyed exchange, no cartesian") {
    // the REGISTRY entry materializes its bin aggregate locally (the
    // cache-release pattern — r19), so the pin inspects the OPERATOR'S
    // distributed plan directly: the same bpeSegments →
    // packShuffledBinsSegs chain the entry runs before collecting
    import graft.operators.{Curation, TextAnalysis}
    val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val ms = TextAnalysis.collectMerges(
      TextAnalysis.trainBpeMerges(docs, "text", 3))
    val segs = TextAnalysis.bpeSegments(docs, "doc_id", "text", ms)
      .withColumn("cp", org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(2L)))
    val p = Curation.packShuffledBinsSegs(segs, "id", "cp", "segs",
        binTokens = 128L, partSpan = 1L << 55)
      .orderBy("bin").queryExecution.executedPlan.toString
    // same contract as the whitespace form: the BPE segmentation is a
    // per-row projection, the bin reassembly stays ONE bin-keyed
    // shuffle with map-side partial collect_list, and no join anywhere
    // degrades to a nested loop
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(p.contains("partial_collect_list"), s"plan:\n$p")
    assert("""Exchange hashpartitioning\(bin#""".r.findAllIn(p).size == 1,
      s"plan:\n$p")
  }

  test("text_tfidf_keywords plan: df joins tf without a second corpus pass") {
    val p = planOf("text_tfidf_keywords")
    // corpus size attaches as a BROADCAST 1-row aggregate (its final
    // single-partition exchange holds one row per upstream partition —
    // benign); the tf/df join and the per-doc top-k window are the only
    // wide stages — never a cartesian
    assert(p.contains("IdentityBroadcastMode"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("embed_bq_hamming plan: packed queries broadcast, corpus streams") {
    val p = planOf("embed_bq_hamming")
    // the code table streams map-side against the broadcast query side
    // (the point of an 8-byte code: the scan is cheap and linear); a
    // corpus shuffle or cartesian here defeats the index
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("DDL type normalization maps reference types to Spark types") {
    import graft.ExternalTableDdl.normalizeTypes
    assert(normalizeTypes("(a VARCHAR, b VARCHAR(10), c TEXT)")
      == "(a STRING, b VARCHAR(10), c STRING)")
    assert(normalizeTypes("(u INT UNSIGNED, v BIGINT UNSIGNED, w REAL)")
      == "(u BIGINT, v DECIMAL(20,0), w FLOAT)")
    // column NAMES colliding with type keywords stay untouched
    assert(normalizeTypes("(text VARCHAR, real DOUBLE, n DECIMAL(10,2))")
      == "(text STRING, real DOUBLE, n DECIMAL(10,2))")
    assert(normalizeTypes("(a INT COMMENT 'use REAL text', b REAL)")
      == "(a INT COMMENT 'use REAL text', b FLOAT)")
    // end-to-end through the translator
    val out = ExternalTableDdl.translate(
      "CREATE EXTERNAL TABLE t (a VARCHAR, n INT UNSIGNED) STORED AS CSV LOCATION '/tmp/x'").get
    assert(out.contains("(a STRING, n BIGINT)"))
  }
}
