package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * 10× scale stress harness: derives a ~sf1-equivalent dataset from sf0.1
 * (union of `copies` perturbed copies), times the heaviest registry
 * queries at both scales in one process, and writes `BENCH_SCALE.json`
 * with per-query ratios. The point: the "designed for 100 TB" claims are
 * plan-shape-verified in ScaleSpec; this adds one order of magnitude of
 * EMPIRICAL scaling evidence — a query whose time grows ~quadratically
 * (ratio ≈ copies²) has a pair explosion the plan pins missed.
 *
 * Perturbations keep join/dedup semantics honest at 10×:
 *  - `lineitem`/`orders` copies share an orderkey offset so the join
 *    relationship is preserved (customers/parts/suppliers stay 1× — at
 *    scale, fact tables grow faster than dimensions);
 *  - `documents` text is vowel-rotated per copy so copies are NOT
 *    near-duplicates of each other (otherwise minhash candidate groups
 *    grow quadratically in the copy count BY CONSTRUCTION — a data
 *    artifact, not an engine cost);
 *  - `embeddings`/`events` ids are offset per copy.
 *
 * Usage: tools/run.sh graft.ScaleStress [copies] (default 10)
 */
object ScaleStress {

  private val heavyQueries = Seq(
    "dedup_minhash", "dedup_ngram_jaccard", "dedup_simhash",
    "dedup_exact_keep", "text_quality", "text_unigram_lp", "text_bigram_lp",
    "embed_kmeans_codebook",
    "h2o_q10", "h2o_q8", "h2o_join_q5", "agg_cube", "agg_distinct",
    "tpch_q1", "tpch_q18", "win_frame_range", "fn_weighted_percentile",
    "join_asof", "embed_knn_brute",
    "cur_decontaminate", "cur_pack", "cur_repetition",
    "cur_pii", "cur_domain_filter",
    // round-12 fourth session: line-grain dedup (window keyed on the
    // line value), domain mixture (per-group rank window), hashing-trick
    // scorer (explode + agg) and PQ-ADC search (encode map-side, search
    // linear in corpus) — all must scale ~linearly
    "cur_line_dedup", "cur_mix_domains", "text_hashed_score",
    "embed_pq_adc",
    // round-14: BPE training (vocab-grain merge loop — the vocab grows
    // sublinearly in corpus size, so the per-iteration aggregates must
    // too) and segmentation (one per-row projection through the merge
    // kernel — linear in corpus size)
    "text_bpe_train", "text_bpe_apply",
    // round-14: substring dedup (one corpus-wide shuffle on the window
    // hash + per-doc island windows) and SQ8 ADC (bounds agg + linear
    // scan) — both must scale ~linearly in corpus size
    "dedup_substring", "embed_sq8_adc",
    // round-14 third session: NB classify (token-grain shuffle + V×L
    // broadcast model), TF-IDF (two token-grain aggregates + per-doc
    // window), BQ Hamming (8 broadcast queries × linear corpus scan) —
    // all must scale ~linearly in corpus rows
    "text_nb_classify", "text_tfidf_keywords", "embed_bq_hamming",
    // round-16: HTML extraction (pure per-row regex + list arithmetic —
    // the canonical zero-exchange projection, must scale ~linearly)
    "text_html_extract",
    // round-17: the COMPOSED crawl head — extract → hashed-linear
    // classify (trained on the extracted corpus) → exact mixture; every
    // stage is row- or model-bound, so the composition must too
    "pipe_html_classify_mix",
    // round-17: epoch-shuffled packing — the hash-span two-phase prefix
    // sum (phase 1 over one row per hash span, phase 2 windowed within
    // spans) must scale ~linearly; a naive global-window form would
    // funnel the whole corpus through one partition and blow up here
    "cur_pack_shuffled",
    // round-17: bin materialization — one bounded explode + ONE shuffle
    // keyed on bin with per-bin collect_list state capped at binTokens;
    // bin count grows with the corpus, per-bin state does not
    "cur_pack_bins",
    // round-19: CCNet perplexity bucketing (bigram scorer + windows
    // PARTITIONED by lang — per-language sorts, never a corpus-global
    // window) and exact Mann-Whitney AUC (score-grain aggregate + the
    // packOffsets-style two-phase prefix sum; micro-nat margins are
    // ~all-distinct so the score-grain table IS corpus-sized — the
    // two-phase shape is exactly what this sweep pins)
    "cur_ppl_buckets", "text_classify_auc",
    // round-19 continuation: the Bloom decontamination gate (filter
    // build is one aggregate bounded by bits/32 rows regardless of key
    // cardinality; the probe is one distinct + broadcast join + per-key
    // agg — all corpus-linear) and the trigram stupid-backoff scorer
    // (one LAG shuffle keyed on doc id + (V+1)^arity-bounded broadcast
    // model joins)
    "cur_bloom_gate", "text_trigram_sb",
    // round-19 continuation: C4 line-grain cleaning — a pure per-row
    // projection (synthetic page build + one filtered line lambda),
    // the zero-exchange class that must scale ~linearly
    "text_c4_clean",
    // round-19 continuation: corpus datasheet — exact per-group
    // percentiles pay one (lang, source)-partitioned sort; group count
    // is fixed, so the per-group n log n must stay near-linear overall
    "cur_corpus_report")

  /** Queries whose shuffle keys include `user_id` — the ones a skewed key
    * distribution can break (single hot reducer / exploding join
    * partition). Timed on the skew fixture, same TOTAL row count. */
  private val skewQueries = Seq("join_asof", "ev_sessionize")

  /** Skewed time may exceed balanced time — one user owning half the
    * events serializes that key's window — but it must stay a bounded
    * constant factor (AQE skew split, no pair explosion), not a blowup. */
  private val skewThreshold = 5.0

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = s"/tmp/graft_scale${copies}x"
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SCALE.json")

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadStart = loadavg

    buildScaled(spark, src, dst, copies)

    // Time each query at both scales; all of one scale first so the
    // Registry's per-session view registration switches dirs exactly once.
    val qs = queries.Registry.all.filter(q => heavyQueries.contains(q.name))
    def time(dir: String, quers: Seq[queries.Q]): Map[String, Double] = quers.map { q =>
      val times = (1 to 2).map { _ =>
        try {
          val t0 = System.nanoTime()
          q.run(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } finally spark.catalog.clearCache()
      }
      q.name -> times.min
    }.toMap
    val base = time(src, qs)
    val scaled = time(dst, qs)

    // Skew stress: same tables, same row counts, but one user owns ~50%
    // of events — times the user_id-keyed queries against the balanced
    // baseline.
    val skewDst = s"/tmp/graft_skew"
    buildSkewed(spark, src, skewDst)
    val skewQs = queries.Registry.all.filter(q => skewQueries.contains(q.name))
    val skewBase = time(src, skewQs)
    val skewed = time(skewDst, skewQs)

    def jnum(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val rows = qs.map(_.name).sorted.map { n =>
      val r = scaled(n) / math.max(base(n), 1e-3)
      s""""$n":{"base_sec":${jnum(base(n))},"x${copies}_sec":${jnum(scaled(n))},"ratio":${jnum(r)}}"""
    }
    // Sub-quadratic check with a floor: queries under ~0.5 s are
    // scheduler-overhead-bound at BOTH scales and their ratio is noise.
    val quadratic = copies.toDouble * copies
    val suspects = qs.map(_.name)
      .filter(n => scaled(n) > 0.5 && scaled(n) / math.max(base(n), 1e-3) >= quadratic)
    val skewRows = skewQs.map(_.name).sorted.map { n =>
      val r = skewed(n) / math.max(skewBase(n), 1e-3)
      s""""$n":{"base_sec":${jnum(skewBase(n))},"skew_sec":${jnum(skewed(n))},"ratio":${jnum(r)}}"""
    }
    // same 0.5 s noise floor as the quadratic check
    val skewSuspects = skewQs.map(_.name)
      .filter(n => skewed(n) > 0.5 &&
        skewed(n) / math.max(skewBase(n), 1e-3) >= skewThreshold)

    // Iceberg planning scale: metadata-only planning (manifest parse +
    // pruning structures, no data file opened) must grow ~linearly in
    // the live-file count. 10× the files with 3× headroom; floor guards
    // sub-100ms noise.
    def planningFixture(buckets: Int): String = {
      val dir = s"/tmp/graft_scale_ice_$buckets"
      graft.sources.IcebergFixture.deleteRecursively(dir)
      val sdf = spark.read.parquet(s"$src/orders.parquet")
        .select(col("o_orderkey"),
          pmod(col("o_orderkey"), lit(buckets.toLong)).cast("int").as("o_bucket"))
      val w = new graft.sources.IcebergFixture.Writer(spark, dir, sdf.schema,
        partitionCols = Seq("o_bucket"))
      w.appendFast(sdf.filter("o_orderkey % 2 = 0"))
      w.appendFast(sdf.filter("o_orderkey % 2 = 1"))
      dir
    }
    def planTime(dir: String): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.sources.IcebergIO.files(spark, dir).count(): Unit
        (System.nanoTime() - t0) / 1e9
      }.min
    // NOTE file counts: the even/odd key split against an EVEN modulus
    // populates only half the residues per append — each append writes
    // buckets/2 files, so the tables hold exactly `buckets` files total.
    val planSmallDir = planningFixture(20)  // 20 data files
    val planLargeDir = planningFixture(200) // 200 data files
    val planSmall = planTime(planSmallDir)
    val planLarge = planTime(planLargeDir)
    val planRatio = planLarge / math.max(planSmall, 1e-3)
    val planThreshold = 30.0 // 10x files, 3x headroom
    val planSuspect = planLarge > 0.5 && planRatio >= planThreshold

    // Changelog diff scale: a delete commit touching ONE partition must
    // diff only that partition's files in readChangelog — candidate
    // selection (position-delete targets, partition-scoped eq deletes)
    // keeps the before/after scan bounded by AFFECTED files while only
    // manifest planning grows with the table. 10x the files with 3x
    // headroom, same floor as the planning gate. Runs on the planning
    // fixtures (the delete commit lands AFTER their planning timings).
    def cdcTime(dir: String): Double = {
      graft.sources.IcebergWrite.deleteWhere(spark, dir,
        col("o_bucket") === 7 && pmod(col("o_orderkey"), lit(10L)) === 0L): Unit
      val from = graft.sources.IcebergIO.snapshotIds(dir).takeRight(2).head
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.sources.IcebergIO.readChangelog(spark, dir, Some(from))
          .count(): Unit
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val cdcSmall = cdcTime(planSmallDir)
    val cdcLarge = cdcTime(planLargeDir)
    val cdcRatio = cdcLarge / math.max(cdcSmall, 1e-3)
    val cdcThreshold = 30.0 // 10x files, 3x headroom
    val cdcSuspect = cdcLarge > 0.5 && cdcRatio >= cdcThreshold

    // Iceberg WRITE scale: same row volume into 10x the partitions
    // (20 vs 200 identity buckets) — the data job is row-bound and the
    // commit is O(files) manifest serialization, so wall time must grow
    // far sub-linearly in the partition count. Fresh dir per trial so
    // every timing covers create + one full append.
    def writeTime(buckets: Int): Double =
      (1 to 2).map { trial =>
        val dir = s"/tmp/graft_scale_icew_${buckets}_$trial"
        graft.sources.IcebergFixture.deleteRecursively(dir)
        val sdf = spark.read.parquet(s"$src/orders.parquet")
          .select(col("o_orderkey"),
            pmod(col("o_orderkey"), lit(buckets.toLong)).cast("int").as("o_bucket"))
        val t0 = System.nanoTime()
        graft.sources.IcebergWrite.create(spark, dir, sdf.schema,
          partitionCols = Seq("o_bucket"))
        graft.sources.IcebergWrite.append(sdf, dir): Unit
        (System.nanoTime() - t0) / 1e9
      }.min
    val wSmall = writeTime(20)
    val wLarge = writeTime(200)
    val wRatio = wLarge / math.max(wSmall, 1e-3)
    // Profiled (round 13, warm JVM): at 200 partitions the append
    // decomposes as ~2.4 s raw Spark partitionBy parquet write + ~0.6 s
    // stats read-back + <0.1 s rename/manifest/commit; the SAME raw
    // partitionBy write alone grows ~4x from 20 to 200 files (Spark's
    // per-small-file committer cost), so the growth is the engine's
    // intrinsic many-files write cost, not graft metadata overhead —
    // which stays flat. 6x holds that intrinsic 4x plus timing noise.
    val wThreshold = 6.0 // 10x files, same rows; O(files) commit + headroom
    val wSuspect = wLarge > 0.5 && wRatio >= wThreshold

    // v3 DELETION-VECTOR delete scale: the same keyed DELETE over the
    // same row volume spread across 10x the data files — the per-file
    // roaring-bitmap build (groupByKey in executors) and the delete-side
    // manifest-list rebuild are both O(files), and the scan is
    // row-bound, so wall time must grow far sub-linearly in the file
    // count. Fresh table per trial (deleteWhere mutates); only the
    // delete commit is timed.
    // Returns (min wall time, the LAST trial's table dir) — the dir is
    // handed to the lineage-read block explicitly so that block can
    // never silently time a stale /tmp table from a previous run.
    def dvDeleteTime(buckets: Int): (Double, String) = {
      val trials = (1 to 2).map { trial =>
        val dir = s"/tmp/graft_scale_dv_${buckets}_$trial"
        graft.sources.IcebergFixture.deleteRecursively(dir)
        val sdf = spark.read.parquet(s"$src/orders.parquet")
          .select(col("o_orderkey"),
            pmod(col("o_orderkey"), lit(buckets.toLong)).cast("int").as("o_bucket"))
        graft.sources.IcebergWrite.create(spark, dir, sdf.schema,
          partitionCols = Seq("o_bucket"), formatVersion = 3)
        graft.sources.IcebergWrite.append(sdf, dir): Unit
        val t0 = System.nanoTime()
        graft.sources.IcebergWrite.deleteWhere(spark, dir,
          pmod(col("o_orderkey"), lit(10L)) === 0L): Unit
        ((System.nanoTime() - t0) / 1e9, dir)
      }
      (trials.map(_._1).min, trials.last._2)
    }
    val (dvSmall, dvSmallDir) = dvDeleteTime(20)
    val (dvLarge, dvLargeDir) = dvDeleteTime(200)
    val dvRatio = dvLarge / math.max(dvSmall, 1e-3)
    val dvThreshold = 6.0 // 10x files, same rows; O(files) bitmap+manifest
    val dvSuspect = dvLarge > 0.5 && dvRatio >= dvThreshold

    // v3 ROW-LINEAGE READ scale: readWithRowId adds one per-file
    // (first_row_id, seq) broadcast map join and the materialized/
    // derived coalesce on top of the ordinary scan — both O(files),
    // while the scan stays row-bound. Reuses the dv_delete trial-2
    // tables (20 vs 200 files holding the SAME rows, one DV each), so
    // the lineage read also pays the DV anti-join exactly as a live
    // table would. The agg forces both lineage columns to materialize.
    // Dirs come FROM the dv block's return value (created this run),
    // never re-derived by name.
    def lineageReadTime(dir: String): Double = {
      require(new java.io.File(dir, "metadata").isDirectory,
        s"lineage-read block handed a non-table dir: $dir")
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.sources.IcebergIO.readWithRowId(spark, dir)
          .agg(sum(col("_row_id")),
            sum(col("_last_updated_sequence_number")))
          .collect(): Unit
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val lrSmall = lineageReadTime(dvSmallDir)
    val lrLarge = lineageReadTime(dvLargeDir)
    val lrRatio = lrLarge / math.max(lrSmall, 1e-3)
    val lrThreshold = 6.0 // 10x files, same rows; O(files) map + open cost
    val lrSuspect = lrLarge > 0.5 && lrRatio >= lrThreshold

    // Semantic-dedup scale: k grows WITH the corpus (the SemDeDup
    // scaling discipline — cells stay ~constant size), so the in-cell
    // pairwise work grows linearly in the row count, not quadratically.
    // A fixed k here would measure a data-shape artifact (10x rows in
    // the same 8 cells = 100x pairs by construction), not engine cost.
    def semTime(dir: String, k: Int): Double =
      (1 to 2).map { _ =>
        try {
          val t0 = System.nanoTime()
          graft.operators.Similarity.semanticDedup(
              spark.read.parquet(s"$dir/embeddings.parquet"),
              "vec_id", "embedding", k = k, iters = 0, threshold = 0.35)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } finally spark.catalog.clearCache()
      }.min
    val semSmall = semTime(src, 8)
    val semLarge = semTime(dst, 8 * copies)
    val semRatio = semLarge / math.max(semSmall, 1e-3)
    val semThreshold = 30.0 // 10x rows at constant cell size, 3x headroom
    val semSuspect = semLarge > 0.5 && semRatio >= semThreshold

    // Whole-history metadata scale: all_files walks EVERY distinct
    // manifest of every snapshot — rows build in executors past the
    // parallel threshold, so 10x the manifests (and snapshots) must cost
    // ~10x, not O(snapshots x manifests) (the pre-r13 per-snapshot walk
    // re-parsed a carried manifest once per referencing snapshot —
    // quadratic in history length).
    def allFilesFixture(n: Int): String = {
      val dir = s"/tmp/graft_scale_allf_$n"
      graft.sources.IcebergFixture.deleteRecursively(dir)
      val one = spark.range(1).select(col("id"))
      val w = new graft.sources.IcebergFixture.Writer(spark, dir, one.schema)
      (1 to n).foreach(i =>
        w.append(spark.range(i.toLong, i.toLong + 1).select(col("id"))))
      dir
    }
    def allFilesTime(dir: String): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.sources.IcebergIO.allFiles(spark, dir).count(): Unit
        (System.nanoTime() - t0) / 1e9
      }.min
    val afSmallDir = allFilesFixture(12)  // both above the ||-threshold
    val afLargeDir = allFilesFixture(120)
    val afSmall = allFilesTime(afSmallDir)
    val afLarge = allFilesTime(afLargeDir)
    val afRatio = afLarge / math.max(afSmall, 1e-3)
    val afThreshold = 30.0 // 10x manifests+snapshots, 3x headroom
    val afSuspect = afLarge > 0.5 && afRatio >= afThreshold

    // Domain-mixing skew: one domain holding 90% of the corpus funnels
    // mixDomains' exact rank through ONE window reducer; the opt-in
    // skew-cutover path pre-cuts the dominant group map-side (bit-equal
    // results — CurationSpec pins it). Timed on the 10x corpus: the
    // cutover path on the skewed grouping must stay within the skew
    // threshold of itself on a balanced grouping of the SAME rows
    // (plain-on-skewed is recorded alongside as the evidence of what
    // the cutover buys).
    def mixTime(grouped: DataFrame, weights: Map[String, Int],
                cutover: Option[Long]): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.Curation.mixDomains(grouped, "g", "doc_id",
            weights, cutover)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    val mixDocs = spark.read.parquet(s"$dst/documents.parquet")
      .select(col("doc_id"))
    val mixBalanced = mixDocs.withColumn("g",
      concat(lit("g"), pmod(col("doc_id"), lit(10L)).cast("string")))
    // 90% of rows in "dom", the rest spread over g1..g9 (~1.1% each)
    val mixSkewed = mixDocs.withColumn("g",
      when(pmod(col("doc_id"), lit(10L)) < 9, lit("dom"))
        .otherwise(concat(lit("g"),
          (pmod(col("doc_id"), lit(9L)) + 1).cast("string"))))
    val mixW = (Seq("dom") ++ (1 to 9).map(i => s"g$i")).map(_ -> 1).toMap
    val mixBalW = (0 until 10).map(i => s"g$i" -> 1).toMap
    val cutAt = Some(100000L)
    val mixPlainSkew = mixTime(mixSkewed, mixW, None)
    val mixCutSkew = mixTime(mixSkewed, mixW, cutAt)
    val mixCutBal = mixTime(mixBalanced, mixBalW, cutAt)
    val mixRatio = mixCutSkew / math.max(mixCutBal, 1e-3)
    val mixThreshold = skewThreshold // same bar as the other skew gates
    val mixSuspect = mixCutSkew > 0.5 && mixRatio >= mixThreshold

    // TOKEN-budget mixing under the same 90%-dominant skew: the token
    // variant's prefix-sum window serializes on one reducer exactly like
    // the rank window; its cutover pre-cuts on the same md5 prefix with
    // a token-mass-derived fraction (bit-equal — CurationSpec pins it).
    def mixTokTime(grouped: DataFrame, weights: Map[String, Int],
                   cutover: Option[Long]): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.Curation.mixDomainsByTokens(grouped, "g", "doc_id",
            "text", weights, cutover)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    val mixTokDocs = spark.read.parquet(s"$dst/documents.parquet")
      .select(col("doc_id"), col("text"))
    val mixTokBalanced = mixTokDocs.withColumn("g",
      concat(lit("g"), pmod(col("doc_id"), lit(10L)).cast("string")))
    val mixTokSkewed = mixTokDocs.withColumn("g",
      when(pmod(col("doc_id"), lit(10L)) < 9, lit("dom"))
        .otherwise(concat(lit("g"),
          (pmod(col("doc_id"), lit(9L)) + 1).cast("string"))))
    val mtPlainSkew = mixTokTime(mixTokSkewed, mixW, None)
    val mtCutSkew = mixTokTime(mixTokSkewed, mixW, cutAt)
    val mtCutBal = mixTokTime(mixTokBalanced, mixBalW, cutAt)
    val mtRatio = mtCutSkew / math.max(mtCutBal, 1e-3)
    val mtThreshold = skewThreshold
    val mtSuspect = mtCutSkew > 0.5 && mtRatio >= mtThreshold

    // Connected-components DIAMETER stress: a shuffled path graph is the
    // adversarial shape for component labeling (diameter = n-1; plain
    // min-label propagation needs O(n) rounds). The large/small-star
    // alternation must converge in O(log n) ALTERNATIONS — 10x the
    // nodes may add only ~log(10)≈3-4 alternations, never 10x. Rounds
    // are the gated quantity (wall time recorded as evidence; per-round
    // cost is edge-bound and machine-noisy at this tiny edge count).
    def ccPath(n: Int): (Double, Int) = {
      val rnd = new scala.util.Random(13)
      val perm = rnd.shuffle((0L until n.toLong).toVector)
      import spark.implicits._
      val pairs = perm.sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("a", "b").repartition(32)
      val t0 = System.nanoTime()
      graft.operators.Dedup.connectedComponents(pairs, "a", "b")
        .write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9,
        graft.operators.Dedup.lastCcRounds.get())
    }
    val (ccSmallSec, ccSmallRounds) = ccPath(2000)
    val (ccLargeSec, ccLargeRounds) = ccPath(20000)
    val ccRoundSlack = 4 // log2(10x) + headroom
    val ccSuspect = ccLargeRounds > ccSmallRounds + ccRoundSlack

    // Pack-layout skew: packShuffled's coarse parts are HASH spans —
    // uniform by construction — so a corpus whose ids all cluster
    // inside ONE packOffsets id-range part (the raw 10x corpus: its
    // ids span < 2^20, so packOffsets funnels every row through one
    // within-part window partition) must cost the same as the same
    // rows with ids spread over ~1000 parts. THE GATE is that
    // invariance; packOffsets on the clustered ids is recorded as
    // CONTEXT only — at this corpus size its single-partition window
    // is not yet the bottleneck (it can even run faster, having no md5
    // to compute), the degradation is a row-count effect that bites at
    // the scales the two-phase design targets.
    def packTime(docs: DataFrame, shuffled: Boolean): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        (if (shuffled)
          graft.operators.Curation.packShuffled(docs, "doc_id", "cp",
            "text", binTokens = 512L)
        else
          graft.operators.Curation.packOffsets(docs, "doc_id", "text",
            binTokens = 512L))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    val packDocs = spark.read.parquet(s"$dst/documents.parquet")
      .select(col("doc_id"), col("text")).withColumn("cp", lit(0L))
    // clustered: the corpus's own dense ids (every one in id-part 0);
    // spread: the same rows strided so packOffsets would see ~1000
    // id-range parts — packShuffled must not care which it gets
    val packSpread = packDocs.withColumn("doc_id", col("doc_id") * 2048L)
    val packShufClustered = packTime(packDocs, shuffled = true)
    val packShufSpread = packTime(packSpread, shuffled = true)
    val packOffsetsClustered = packTime(packDocs, shuffled = false)
    val packRatio = packShufClustered / math.max(packShufSpread, 1e-3)
    val packThreshold = skewThreshold
    val packSuspect = packShufClustered > 0.5 && packRatio >= packThreshold

    val json =
      s"""{"copies":$copies,"base_dir":"$src","queries":{${rows.mkString(",")}},""" +
      s""""quadratic_threshold":${jnum(quadratic)},"suspect_quadratic":[${suspects.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""skew":{"queries":{${skewRows.mkString(",")}},"threshold":${jnum(skewThreshold)},""" +
      s""""suspect_skew":[${skewSuspects.map("\"" + _ + "\"").mkString(",")}]},""" +
      s""""iceberg_planning":{"files_small":20,"files_large":200,""" +
      s""""sec_small":${jnum(planSmall)},"sec_large":${jnum(planLarge)},""" +
      s""""ratio":${jnum(planRatio)},"threshold":${jnum(planThreshold)},""" +
      s""""suspect":${planSuspect}},""" +
      s""""iceberg_changelog":{"files_small":20,"files_large":200,""" +
      s""""sec_small":${jnum(cdcSmall)},"sec_large":${jnum(cdcLarge)},""" +
      s""""ratio":${jnum(cdcRatio)},"threshold":${jnum(cdcThreshold)},""" +
      s""""suspect":${cdcSuspect}},""" +
      s""""iceberg_write":{"parts_small":20,"parts_large":200,""" +
      s""""sec_small":${jnum(wSmall)},"sec_large":${jnum(wLarge)},""" +
      s""""ratio":${jnum(wRatio)},"threshold":${jnum(wThreshold)},""" +
      s""""suspect":${wSuspect}},""" +
      s""""dv_delete":{"files_small":20,"files_large":200,""" +
      s""""sec_small":${jnum(dvSmall)},"sec_large":${jnum(dvLarge)},""" +
      s""""ratio":${jnum(dvRatio)},"threshold":${jnum(dvThreshold)},""" +
      s""""suspect":${dvSuspect}},""" +
      s""""lineage_read":{"files_small":20,"files_large":200,""" +
      s""""sec_small":${jnum(lrSmall)},"sec_large":${jnum(lrLarge)},""" +
      s""""ratio":${jnum(lrRatio)},"threshold":${jnum(lrThreshold)},""" +
      s""""suspect":${lrSuspect}},""" +
      s""""semantic_dedup":{"k_small":8,"k_large":${8 * copies},""" +
      s""""sec_small":${jnum(semSmall)},"sec_large":${jnum(semLarge)},""" +
      s""""ratio":${jnum(semRatio)},"threshold":${jnum(semThreshold)},""" +
      s""""suspect":${semSuspect}},""" +
      s""""iceberg_all_files":{"manifests_small":12,"manifests_large":120,""" +
      s""""sec_small":${jnum(afSmall)},"sec_large":${jnum(afLarge)},""" +
      s""""ratio":${jnum(afRatio)},"threshold":${jnum(afThreshold)},""" +
      s""""suspect":${afSuspect}},""" +
      s""""mix_skew":{"plain_skew_sec":${jnum(mixPlainSkew)},""" +
      s""""cut_skew_sec":${jnum(mixCutSkew)},"cut_balanced_sec":${jnum(mixCutBal)},""" +
      s""""ratio":${jnum(mixRatio)},"threshold":${jnum(mixThreshold)},""" +
      s""""suspect":${mixSuspect}},""" +
      s""""mix_tokens_skew":{"plain_skew_sec":${jnum(mtPlainSkew)},""" +
      s""""cut_skew_sec":${jnum(mtCutSkew)},"cut_balanced_sec":${jnum(mtCutBal)},""" +
      s""""ratio":${jnum(mtRatio)},"threshold":${jnum(mtThreshold)},""" +
      s""""suspect":${mtSuspect}},""" +
      s""""cc_path":{"nodes_small":2000,"nodes_large":20000,""" +
      s""""sec_small":${jnum(ccSmallSec)},"sec_large":${jnum(ccLargeSec)},""" +
      s""""rounds_small":$ccSmallRounds,"rounds_large":$ccLargeRounds,""" +
      s""""round_slack":$ccRoundSlack,"suspect":${ccSuspect}},""" +
      s""""pack_skew":{"offsets_clustered_sec":${jnum(packOffsetsClustered)},""" +
      s""""shuffled_clustered_sec":${jnum(packShufClustered)},""" +
      s""""shuffled_spread_sec":${jnum(packShufSpread)},""" +
      s""""ratio":${jnum(packRatio)},"threshold":${jnum(packThreshold)},""" +
      s""""suspect":${packSuspect}},""" +
      s""""loadavg_start":${jnum(loadStart)},"loadavg_end":${jnum(loadavg)}}"""
    // trailing newline: the committed artifact is a text file (POSIX
    // convention; VERDICT-r18 hygiene — fix the emitter, not the file)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    println(json)
  }

  /** Union `copies` perturbed copies of each sf0.1 table into `dst`.
    * Key offsets use a round power of 10 above the observed max so scaled
    * keys stay disjoint and debuggable. */
  def buildScaled(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    def unionCopies(one: Int => DataFrame): DataFrame =
      (0 until copies).map(one).reduce(_ unionByName _)

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val ord = spark.read.parquet(s"$src/orders.parquet")
    val okOff = math.max(offsetFor(li, "l_orderkey"), offsetFor(ord, "o_orderkey"))
    unionCopies(i => li.withColumn("l_orderkey", col("l_orderkey") + lit(i * okOff)))
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    unionCopies(i => ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * okOff)))
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dOff = offsetFor(docs, "doc_id")
    // vowel rotation per copy: copy 0 is the original; other copies have
    // most shingles changed, so cross-copy Jaccard falls below near-dup
    // thresholds while length/word statistics stay realistic
    val vowels = "aeiou"
    unionCopies { i =>
      val rot = (vowels.drop(i % 5) + vowels.take(i % 5))
      docs.withColumn("doc_id", col("doc_id") + lit(i * dOff))
        .withColumn("text",
          if (i == 0) col("text") else translate(col("text"), vowels, rot))
    }.write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vOff = offsetFor(emb, "vec_id")
    unionCopies(i => emb.withColumn("vec_id", col("vec_id") + lit(i * vOff)))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    val ev = spark.read.parquet(s"$src/events.parquet")
    val eOff = offsetFor(ev, "event_id")
    val uOff = offsetFor(ev, "user_id")
    unionCopies(i => ev
      .withColumn("event_id", col("event_id") + lit(i * eOff))
      .withColumn("user_id", col("user_id") + lit(i * uOff)))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    // dimensions stay 1×: facts outgrow dimensions at scale
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  /** Skew fixture: identical tables except `events`, where every
    * even-event_id row is reassigned to ONE hot user — that user then
    * owns ~50% of all events while total row count, timestamps and event
    * payloads stay identical to the source. The worst realistic key-skew
    * shape for user_id-keyed shuffles (windows, as-of joins). */
  def buildSkewed(spark: SparkSession, src: String, dst: String): Unit = {
    val ev = spark.read.parquet(s"$src/events.parquet")
    val hot = offsetFor(ev, "user_id") // above every real id: unambiguous
    ev.withColumn("user_id",
        when(pmod(col("event_id"), lit(2)) === 0, lit(hot))
          .otherwise(col("user_id")))
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  private def offsetFor(df: DataFrame, col0: String): Long = {
    val mx = df.agg(max(col(col0))).head.getLong(0)
    var off = 1L
    while (off <= mx) off *= 10
    off
  }
}
