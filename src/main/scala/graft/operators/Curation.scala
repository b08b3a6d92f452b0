package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Corpus-curation operators for LLM training-data pipelines, beyond the
 * dedup/similarity families in [[Dedup]] / [[Similarity]]: benchmark
 * decontamination, fixed-token chunking, sequence packing, PII redaction,
 * repetition-based quality stats (Gopher-style), and domain blocklist
 * filtering.
 *
 * All operators are declarative DataFrame transforms built from codegen'd
 * built-ins; the hashing/ratio math mirrors the engine-portable idioms the
 * dedup family uses so every operator carries a bit-exact DuckDB oracle.
 *
 * Scale notes are per-operator; the one non-obvious pattern is the
 * two-phase distributed prefix sum in [[packOffsets]] — a naive
 * `Window.orderBy` running sum funnels the whole corpus through ONE
 * partition, which is exactly the round-2 scale-killer class this repo
 * plan-pins against.
 */
object Curation {

  // ---- benchmark decontamination -------------------------------------

  /**
   * Training docs that share at least one word n-gram with the eval set:
   * (id, n_hits) with n_hits = number of distinct contaminated shingles.
   *
   * Scale shape: the eval side of the join is an eval-set shingle set —
   * tiny relative to a 100 TB train corpus by construction (eval
   * benchmarks are KBs–MBs) — so it is broadcast explicitly; the train
   * side streams map-side through the broadcast hash join and only the
   * hit rows reach the per-doc count shuffle. No all-pairs anywhere.
   */
  def contaminationHits(docs: DataFrame, idCol: String, textCol: String,
                        isEval: Column, n: Int = 8): DataFrame = {
    val evalSh = Dedup.shingles(docs.filter(isEval), idCol, textCol, n)
      .select(col("sh")).distinct()
    val trainSh = Dedup.shingles(docs.filter(!isEval), idCol, textCol, n)
    trainSh.join(broadcast(evalSh), "sh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /**
   * SPAN-grain decontamination (the surgical upgrade of
   * [[contaminationHits]]' doc-grain flagging): any k-token window of a
   * TRAIN doc whose fingerprint appears anywhere in the EVAL set marks
   * its span; overlapping marked spans merge per doc
   * (gaps-and-islands), covered tokens are counted AND excised, the
   * rest reassemble in order. Removing only the leaked benchmark
   * material — instead of dropping whole documents — is what a training
   * pipeline actually wants when a long document quotes one benchmark
   * item. Returns (id, n_toks, n_contam_toks, text_clean) for every
   * TRAIN doc ('' when fully contaminated).
   *
   * Scale shape: the eval window-fingerprint set is benchmark-sized
   * (KBs–MBs) — broadcast; the train windows stream map-side through
   * the broadcast semi-join, and only marked spans reach the per-doc
   * island windows. One reassembly shuffle on doc id. No all-pairs.
   *
   * CACHE HYGIENE (caller obligation, same contract as
   * [[graft.operators.Dedup.minhashNearDups]] and its persisted
   * per-distinct-text group frame): the merged-islands frame persists
   * MEMORY_AND_DISK (it feeds both the contamination
   * aggregate and the strip anti-join) and the returned frame depends
   * on it, so it cannot be unpersisted here — repeated invocations in
   * one long-lived session accumulate span-scale cache entries until
   * the caller clears them (`spark.catalog.clearCache()` or unpersist
   * after materializing), as Bench/Verify do between queries.
   */
  /** The distinct k-token window fingerprints of a corpus (the broadcast
    * side of span decontamination): one row per distinct md5 over any
    * doc's k-token window. Eval/benchmark sets are small by definition —
    * collect this for [[graft.streaming.StreamingOps.decontaminateStream]]
    * or let [[decontaminateSpans]] broadcast it internally. */
  def evalFingerprints(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 8): DataFrame =
    Dedup.windowFingerprints(docs, idCol, textCol, k)
      .select(col("h")).distinct()

  /** PER-ROW window-fingerprint array of one document — the streaming
    * form of [[Dedup.windowFingerprints]]: same md5-over-k-token-window
    * hashes as a single projection (no explode, no shuffle), so a
    * contamination check against a broadcast fingerprint set stays
    * append-mode-safe. Docs shorter than k tokens fingerprint to an
    * empty array (GOTCHA: Spark `sequence(1, 0)` DESCENDS — the size
    * gate is mandatory, not defensive). */
  def windowFingerprintArray(text: Column, k: Int): Column = {
    require(k >= 2, "window size k must be at least 2 tokens")
    val w = split(lower(text), " ")
    when(size(w) >= k,
      transform(sequence(lit(1), size(w) - lit(k - 1)),
        pos => md5(array_join(slice(w, pos, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** DOC-grain near-dup decontamination: drop every training document
    * whose shingle Jaccard with ANY eval document reaches `threshold`
    * (the whole-doc companion of [[decontaminateSpans]], which excises
    * sub-document overlaps; this one removes documents that are
    * near-COPIES of an eval item). Candidates come from
    * [[Dedup.minhashNearDupsAgainst]] — LEFT×RIGHT bucket-local LSH,
    * never all-pairs — and the filter is one anti-join on the training
    * id. Returns the surviving training docs unchanged. */
  def decontaminateNearDups(train: DataFrame, idCol: String,
                            textCol: String, eval: DataFrame,
                            evalIdCol: String, evalTextCol: String,
                            threshold: Double = 0.5): DataFrame = {
    val hits = Dedup.minhashNearDupsAgainst(train, idCol, textCol,
        eval, evalIdCol, evalTextCol, threshold = threshold)
      .select(col("left_id").as(idCol)).distinct()
    train.join(hits, Seq(idCol), "left_anti")
  }

  def decontaminateSpans(docs: DataFrame, idCol: String, textCol: String,
                         isEval: Column, k: Int = 8): DataFrame = {
    val train = docs.filter(!isEval)
    val evalH = Dedup.windowFingerprints(docs.filter(isEval), idCol,
      textCol, k).select(col("h")).distinct()
    val marked = Dedup.windowFingerprints(train, idCol, textCol, k)
      .join(broadcast(evalH), "h")
      .select(col("id"), col("pos").cast("long").as("s"),
        (col("pos") + (k - 1)).cast("long").as("e"))
    // r19: islands feed BOTH the contaminated-token aggregate and the
    // strip-reassembly anti-join; without a persist each consumer
    // re-ran the whole train window-fingerprint explode + md5 chain.
    // The frame is span-scale (only contaminated intervals — bounded
    // by eval-set overlap, far below the corpus), so the cache is tiny;
    // Bench/Verify clear it between runs.
    val islands = Dedup.mergeIslands(marked)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lens = train.select(col(idCol).cast("long").as("id"),
      size(split(lower(col(textCol)), " ")).cast("long").as("n_toks"))
    val contam = islands.groupBy("id")
      .agg(sum(col("e") - col("s") + 1).as("n_contam"))
    // r20: islands are eval-bounded here (only train∩eval overlap spans
    // exist) — hint the broadcast so the strip's token explosion streams
    // map-side instead of shuffling the token stream on doc id (§3)
    val cleaned = Dedup.stripBySpans(train, idCol, textCol, islands,
      "text_clean", broadcastIslands = true)
    lens.join(contam, Seq("id"), "left")
      .join(cleaned, Seq("id"))
      .select(col("id"), col("n_toks"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam_toks"),
        col("text_clean"))
  }

  // ---- Bloom-filter membership (scalable decontamination gates) -------

  /** A built Bloom filter small enough to ship as a broadcast literal:
    * `words` maps 32-bit-word index → word value (absent index = all
    * zero), plus the (bits, k, seed) parameters that built it. Produced
    * by [[collectBloom]]; consumed by the per-row [[bloomMaybeContains]]
    * fold (the streaming-gate form). */
  final case class BloomFilter(words: Map[Long, Long], bits: Long, k: Int,
                               seed: String)

  private def requireBloom(bits: Long, k: Int): Unit = {
    require(bits >= 32 && bits % 32 == 0,
      s"bloom bits must be a positive multiple of 32, got $bits")
    require(k >= 1 && k <= 16,
      s"bloom hash count k must be in [1, 16], got $k (keeps the " +
        "double-hashing intermediate h1 + k*h2 < 2^57, BIGINT-safe in " +
        "both engines)")
  }

  /**
   * The `k` bit positions of one key in a `bits`-bit Bloom filter, as an
   * array<long> Column. Double hashing from ONE md5 (Kirsch–Mitzenmacher,
   * the same engine-portable idiom the minhash family uses): the md5 hex
   * splits into two 52-bit halves h1/h2 and position_i = (h1 + i·h2) mod
   * bits — every intermediate stays < 2^57, exact BIGINT in Spark AND
   * DuckDB. The md5 is bound to a lambda variable so it evaluates once
   * per key, not once per position. NULL keys raise (loud posture — a
   * silent skip would under-build the filter and silently pass
   * contaminated members).
   */
  def bloomPositions(key: Column, bits: Long, k: Int,
                     seed: String): Column = {
    requireBloom(bits, k)
    val guarded = when(key.isNull,
      raise_error(lit("bloomPositions: NULL key"))).otherwise(key)
    element_at(
      transform(array(md5(concat(lit(seed), lit("_"), guarded))), hh => {
        val h1 = conv(substring(hh, 1, 13), 16, 10).cast("long")
        val h2 = conv(substring(hh, 14, 13), 16, 10).cast("long")
        transform(sequence(lit(0), lit(k - 1)),
          i => pmod(h1 + i.cast("long") * h2, lit(bits)))
      }), 1)
  }

  private[graft] def bloomWordIdx(p: Column): Column = shiftright(p, 5)
  private[graft] def bloomMask(p: Column): Column =
    call_function("shiftleft", lit(1L), pmod(p, lit(32L)).cast("int"))

  /**
   * Build a `bits`-bit Bloom filter over `keys(keyCol)` as a compact
   * (word_idx, word) DataFrame — word = bitwise OR of the 32-bit masks
   * landing in that word (values < 2^32, so the sign bit is never
   * touched and a DuckDB replay's `<<` cannot overflow).
   *
   * THE 100-TB decontamination shape: an exact broadcast membership set
   * over a large blocklist (URLs seen, fingerprints already ingested,
   * previously-trained shards) stops fitting executors long before the
   * corpus stops growing; the Bloom filter caps the gate's memory at
   * bits/8 bytes with a bounded, tunable false-positive rate — and for
   * decontamination/dedup gates a false POSITIVE only over-drops (never
   * leaks), so correctness is one-sided by construction.
   *
   * Scale shape: one explode (k rows per key) into ONE aggregate shuffle
   * bounded by bits/32 rows — never by key cardinality. Nothing
   * key-scale ever sits on the driver.
   */
  def bloomBuild(keys: DataFrame, keyCol: String, bits: Long, k: Int,
                 seed: String): DataFrame = {
    requireBloom(bits, k)
    keys.select(explode(bloomPositions(col(keyCol), bits, k, seed)).as("p"))
      .select(bloomWordIdx(col("p")).as("word_idx"),
        bloomMask(col("p")).as("m"))
      .groupBy("word_idx")
      .agg(expr("bit_or(m)").as("word"))
  }

  /**
   * Probe: one row per DISTINCT key of `keys(keyCol)` with
   * `bloom_hit` = true iff ALL k bits are set (the standard maybe-member
   * verdict; false is definitive non-membership). The filter table
   * (≤ bits/32 rows) is broadcast; the probe side needs one distinct +
   * one per-key aggregate, both keyed on the probed value — no
   * key×filter product anywhere.
   */
  def bloomProbe(keys: DataFrame, keyCol: String, filter: DataFrame,
                 bits: Long, k: Int, seed: String): DataFrame = {
    requireBloom(bits, k)
    keys.select(col(keyCol)).distinct()
      .select(col(keyCol),
        explode(bloomPositions(col(keyCol), bits, k, seed)).as("p"))
      .select(col(keyCol), bloomWordIdx(col("p")).as("word_idx"),
        bloomMask(col("p")).as("m"))
      .join(broadcast(filter), Seq("word_idx"), "left")
      .groupBy(col(keyCol))
      .agg((sum(when(col("word").isNotNull &&
          (col("word").bitwiseAND(col("m")) === col("m")), 1L)
        .otherwise(0L)) === lit(k.toLong)).as("bloom_hit"))
  }

  /** Collect a built filter into a [[BloomFilter]] literal for the
    * per-row fold form. Bounded by construction at bits/32 entries;
    * capped at 2^28 bits (32 MiB of set bits, ≤ 8.4 M map entries) —
    * beyond that, stay on the join-form [[bloomProbe]]. */
  def collectBloom(filter: DataFrame, bits: Long, k: Int,
                   seed: String): BloomFilter = {
    requireBloom(bits, k)
    require(bits <= (1L << 28),
      s"collectBloom caps at 2^28 bits; got $bits — use the join-form " +
        "bloomProbe for larger filters")
    val words = filter.collect()
      .map(r => r.getAs[Long]("word_idx") -> r.getAs[Long]("word")).toMap
    BloomFilter(words, bits, k, seed)
  }

  /** Persist a [[BloomFilter]] as parquet — the nightly-loop artifact
    * (today's ingest probes yesterday's filter): one row per set word
    * plus the (bits, k, seed) parameters stamped on every row, so a
    * load with mismatched parameters fails loudly instead of silently
    * probing the wrong positions. */
  def saveBloom(spark: org.apache.spark.sql.SparkSession, f: BloomFilter,
                dir: String): Unit = {
    import spark.implicits._
    f.words.toSeq.map { case (i, w) => (i, w, f.bits, f.k, f.seed) }
      .toDF("word_idx", "word", "bits", "k", "seed")
      .write.mode("overwrite").parquet(dir)
  }

  /** Load a filter persisted by [[saveBloom]]; probing the loaded
    * filter is bit-equal to the in-memory one (longs round-trip parquet
    * unchanged). An empty filter (no member ever inserted) is legal and
    * loads as refuse-all — but parameterless (the empty parquet has no
    * stamped rows), so loading requires at least one word; build-time
    * keys are never empty in practice and the loud error beats a
    * silently parameter-less filter. */
  def loadBloom(spark: org.apache.spark.sql.SparkSession,
                dir: String): BloomFilter = {
    val rows = spark.read.parquet(dir).collect()
    require(rows.nonEmpty,
      s"loadBloom: no rows in $dir — an empty filter carries no " +
        "(bits, k, seed) parameters to validate against")
    val params = rows.map(r => (r.getAs[Long]("bits"), r.getAs[Int]("k"),
      r.getAs[String]("seed"))).distinct
    require(params.length == 1,
      s"loadBloom: inconsistent parameter stamps in $dir: " +
        params.mkString(", "))
    val (bits, k, seed) = params.head
    requireBloom(bits, k)
    BloomFilter(rows.map(r => r.getAs[Long]("word_idx") ->
      r.getAs[Long]("word")).toMap, bits, k, seed)
  }

  /** Merge two filters built with IDENTICAL (bits, k, seed) — bitwise OR
    * per word, so `merge(build(A), build(B)) == build(A ∪ B)` exactly
    * (OR is associative/commutative/idempotent): the nightly loop folds
    * yesterday's filter with today's increment instead of rebuilding
    * over the whole history. Mismatched parameters raise. */
  def mergeBloom(a: BloomFilter, b: BloomFilter): BloomFilter = {
    require(a.bits == b.bits && a.k == b.k && a.seed == b.seed,
      s"mergeBloom: parameter mismatch ((${a.bits},${a.k},${a.seed}) vs " +
        s"(${b.bits},${b.k},${b.seed}))")
    BloomFilter((a.words.keySet ++ b.words.keySet).map(i =>
      i -> (a.words.getOrElse(i, 0L) | b.words.getOrElse(i, 0L))).toMap,
      a.bits, a.k, a.seed)
  }

  /** Saturation diagnostics of a built filter table: (n_words,
    * n_set_bits, fill_micro, fp_rate_est) — fill = set-bits/bits in
    * exact micro units; fp_rate_est = (fill)^k as a DOUBLE (the
    * standard (1 - e^{-kn/m})^k once bits are set — diagnostic only,
    * not oracle-grade). Word values stay under 2^32 so Spark's
    * `bit_count` sign-extension trap (CLAUDE r14) cannot fire. */
  def bloomStats(filter: DataFrame, bits: Long, k: Int): DataFrame = {
    requireBloom(bits, k)
    filter.agg(count(lit(1)).cast("long").as("n_words"),
        coalesce(sum(bit_count(col("word"))), lit(0L)).cast("long")
          .as("n_set_bits"))
      .withColumn("fill_micro",
        call_function("div", col("n_set_bits") * lit(1000000L), lit(bits)))
      .withColumn("fp_rate_est",
        pow(col("n_set_bits").cast("double") / lit(bits.toDouble), k))
  }

  /** Per-row maybe-member fold under a broadcast-literal [[BloomFilter]]
    * — the streaming-gate twin of [[bloomProbe]] (pure projection: no
    * join, no aggregate, append-mode safe) and bit-equal to it on every
    * key both evaluate. NULL keys raise via [[bloomPositions]]. */
  def bloomMaybeContains(key: Column, f: BloomFilter): Column = {
    val words = typedLit(f.words)
    forall(bloomPositions(key, f.bits, f.k, f.seed), p => {
      val w = element_at(words, bloomWordIdx(p))
      w.isNotNull && (w.bitwiseAND(bloomMask(p)) === bloomMask(p))
    })
  }

  // ---- corpus datasheet -----------------------------------------------

  /**
   * Per-group corpus DATASHEET ("datasheets for datasets" shape): one
   * row per `groupCols` tuple with exact integer statistics a corpus
   * audit publishes — doc/token totals, EXACT nearest-rank token-count
   * percentiles (p50/p95 over the total order (token_count, id), so
   * ties are deterministic), the exact micro-unit mean, and the exact
   * duplicate-text fraction (by content fingerprint).
   *
   * Percentile definition: value at 1-indexed rank `ceil(p·n/100)` =
   * `(p·n + 99) div 100` — pure integer arithmetic, replayable
   * bit-for-bit cross-engine (no interpolating `percentile_cont`).
   *
   * Scale shape: one per-row token-count projection, ONE window shuffle
   * partitioned by the group (the per-group sort IS the price of exact
   * percentiles — a 100 TB datasheet that can tolerate error should use
   * `approx_percentile` instead; this operator is the exact audit), and
   * one final aggregate. Nothing global, nothing driver-side.
   */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String,
                   groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "corpusReport needs at least one group column")
    val gcols = groupCols.map(col)
    val base = docs.select(gcols :+
      col(idCol).cast("long").as("__id") :+
      size(split(lower(col(textCol)), " ")).cast("long").as("__nt") :+
      md5(lower(regexp_replace(col(textCol), " +", " "))).as("__fp"): _*)
    val w = Window.partitionBy(gcols: _*).orderBy(col("__nt"), col("__id"))
    val cw = Window.partitionBy(gcols: _*)
    val ranked = base
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(cw))
    def atRank(p: Int): Column =
      max(when(col("__rn") ===
        call_function("div", col("__cnt") * p + lit(99L), lit(100L)),
        col("__nt")))
    ranked.groupBy(gcols: _*)
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("__nt")).as("n_tokens"),
        min(col("__nt")).as("tok_min"),
        atRank(50).as("tok_p50"),
        atRank(95).as("tok_p95"),
        max(col("__nt")).as("tok_max"),
        call_function("div", sum(col("__nt")) * lit(1000000L),
          count(lit(1))).as("mean_tok_micro"),
        countDistinct(col("__fp")).cast("long").as("n_distinct_texts"))
      .withColumn("dup_frac_micro",
        call_function("div",
          (col("n_docs") - col("n_distinct_texts")) * lit(1000000L),
          col("n_docs")))
  }

  // ---- fixed-token chunking -------------------------------------------

  /**
   * Split each document's token stream into chunks of `chunkSize` tokens
   * every `stride` tokens (stride < chunkSize ⇒ overlapping chunks; the
   * final chunk may be short). Returns
   * (id, chunk_idx, n_toks, chunk_hash).
   *
   * Pure per-row projection + explode — embarrassingly parallel, no
   * shuffle at all; chunk contents never leave the row they came from.
   */
  def chunkFixed(docs: DataFrame, idCol: String, textCol: String,
                 chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be > 0")
    docs
      .select(col(idCol).as("id"), split(lower(col(textCol)), " ").as("w"))
      .filter(size(col("w")) > 0)
      .select(col("id"), col("w"),
        explode(expr(s"sequence(0, size(w) - 1, $stride)")).as("s"))
      .select(
        col("id"),
        expr(s"s div $stride").cast("int").as("chunk_idx"),
        expr(s"slice(w, s + 1, $chunkSize)").as("c"))
      .select(
        col("id"), col("chunk_idx"),
        size(col("c")).as("n_toks"),
        md5(concat_ws(" ", col("c"))).as("chunk_hash"))
  }

  // ---- sequence packing (concat-and-split) ----------------------------

  /**
   * Concat-and-split sequence packing: documents are laid out end-to-end
   * in `idCol` order and the stream is cut every `binTokens` tokens —
   * the standard LLM pre-training pack. Returns per-doc placement:
   * (id, n_toks, offset, bin, bin_end, spans) where `offset` is the
   * exclusive prefix sum of token counts, `bin` = offset / binTokens,
   * and `spans` counts how many bins the doc straddles.
   *
   * The prefix sum is TWO-PHASE so it distributes: docs are grouped into
   * coarse ranges (`part` = id / partRange), per-part token totals are
   * aggregated (#parts rows — tiny), the part-level exclusive cumsum runs
   * over that tiny aggregate (the only unpartitioned window, deliberately
   * bounded at #parts rows), and each doc's offset = its part's offset +
   * a within-part running sum (window PARTITIONED by part). A plain
   * `Window.orderBy(id)` would funnel 100 TB through one partition.
   */
  def packOffsets(docs: DataFrame, idCol: String, textCol: String,
                  binTokens: Long, partRange: Long = 1L << 20,
                  maxPartRows: Long = 1L << 27): DataFrame = {
    require(binTokens > 0 && partRange > 0, "binTokens/partRange must be > 0")
    val base = docs.select(
      col(idCol).cast("long").as("id"),
      size(split(lower(col(textCol)), " ")).cast("long").as("n_toks"),
      // integral `div`, not `/`: long/long Column division is DOUBLE and
      // silently loses precision above 2^53 (repo invariant).
      expr(s"CAST($idCol AS BIGINT) div ${partRange}L").as("part"))
    // packOffsets' coarse ranges are ID ranges — on a clustered id
    // space (the raw-crawl shape: every id inside one partRange span)
    // they silently collapse into ONE part and the "distributed" phase-2
    // window degenerates to the global sort this operator exists to
    // avoid. The guard raises at `maxPartRows` rows in a single part
    // (the skew is only knowable at execution) instead of quietly
    // funneling a corpus through one partition; packShuffled's
    // hash-span parts are uniform by construction and need no guard.
    binOffsets(base, binTokens,
      orderCols = Seq("id"), keepCols = Seq("id", "n_toks"),
      maxPartRows = maxPartRows,
      guardHint = "ids cluster into one partRange span — raise " +
        "partRange-granularity (lower partRange), or use packShuffled " +
        "(hash-uniform parts)")
  }

  /** THE two-phase distributed bin-offset scaffolding [[packOffsets]]
    * and [[packShuffled]] share — one definition so the documented
    * "identical to the naive global window" contract cannot drift
    * between the id-ordered and hash-ordered forms. `base` carries a
    * `part` column (coarse ranges of the global order), `n_toks`, and
    * the order/keep columns. Phase 1: per-part totals, then an
    * exclusive cumsum over the TINY per-part table (the only
    * unpartitioned window, bounded at #parts rows). Phase 2: a
    * within-part running sum, window partitioned by part — `part` must
    * be a monotone function of `orderCols`' total order so ascending
    * (part, orderCols) IS the ascending global order. */
  private def binOffsets(base: DataFrame, binTokens: Long,
                         orderCols: Seq[String],
                         keepCols: Seq[String],
                         maxPartRows: Long = Long.MaxValue,
                         guardHint: String = ""): DataFrame = {
    val partTotals = base.groupBy("part")
      .agg(sum(col("n_toks")).as("pt"), count(lit(1)).as("__prows"))
    val partOffsets = partTotals.select(
      col("part"), col("__prows"),
      coalesce(
        sum(col("pt")).over(
          Window.orderBy("part").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("__po"))
      .select(
        col("part"),
        // the skew guard rides the TINY per-part aggregate: a part
        // whose row count exceeds the cap would make phase 2's
        // partitioned window effectively global — fail loudly with the
        // caller's hint instead of silently degrading (the skew is only
        // knowable at execution)
        when(col("__prows") > maxPartRows,
            raise_error(concat(
              lit(s"binOffsets: a single part holds more than " +
                s"$maxPartRows rows ("),
              col("__prows").cast("string"),
              lit(s") — $guardHint"))).cast("long"))
          .otherwise(col("__po")).as("part_off"))
    val within = Window.partitionBy("part").orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .join(broadcast(partOffsets), "part")
      .select(keepCols.map(col) :+
        (col("part_off") + coalesce(sum(col("n_toks")).over(within), lit(0L)))
          .as("offset"): _*)
      .select(keepCols.map(col) ++ Seq(col("offset"),
        expr(s"offset div ${binTokens}L").as("bin"),
        expr(s"greatest(offset, offset + n_toks - 1) div ${binTokens}L")
          .as("bin_end")): _*)
      .withColumn("spans", (col("bin_end") - col("bin") + 1).cast("long"))
  }

  /**
   * Epoch-SHUFFLED sequence packing — [[packOffsets]] over a
   * deterministic global shuffle order instead of id order: the
   * assembly step after [[upsampleByWeight]], where a doc's copies must
   * scatter across the epoch instead of sitting adjacent (adjacent
   * copies of the same document in one training bin are the classic
   * epoching bug). The order key is the 60-bit md5 prefix of
   * (salt, id, copy) — a pure function of the row, so the layout is
   * reproducible across runs, partitionings and engines, and a new
   * `salt` draws an independent shuffle. Ties (hash collisions) break
   * on (id, copy), so the order is TOTAL and deterministic even when
   * two rows share a prefix.
   *
   * Returns (id, copy, n_toks, offset, bin, bin_end, spans) exactly like
   * [[packOffsets]].
   *
   * Scale shape: the same two-phase distributed prefix sum — but the
   * coarse ranges are HASH spans (`part` = hash div partSpan), which are
   * uniform by construction, so the parts stay balanced no matter how
   * skewed the id space is (packOffsets' id-range parts degrade when ids
   * cluster). Phase 1's unpartitioned window runs over one row per part
   * (2^60 / partSpan rows max); phase 2 windows within a part. No
   * corpus-sized window, no driver participation.
   */
  def packShuffled(docs: DataFrame, idCol: String, copyCol: String,
                   textCol: String, binTokens: Long,
                   salt: String = "ep",
                   partSpan: Long = 1L << 50): DataFrame =
    packShuffledCore(docs, idCol, copyCol,
      size(split(lower(col(textCol)), " ")).cast("long"),
      binTokens, salt, partSpan)

  /** [[packShuffled]] by a PRECOMPUTED per-row token count instead of
    * whitespace tokenization — the production form when bins are
    * budgeted in REAL tokenizer units (e.g.
    * [[TextAnalysis.bpeSegmentCount]]'s BPE counts): same deterministic
    * md5(salt, id, copy) layout, same hash-span two-phase prefix sum.
    * NULL or negative counts raise; a zero-count row keeps a placement
    * row (its bin) but occupies no tokens. */
  def packShuffledByCount(docs: DataFrame, idCol: String, copyCol: String,
                          nToksCol: String, binTokens: Long,
                          salt: String = "ep",
                          partSpan: Long = 1L << 50): DataFrame = {
    val n = col(nToksCol)
    // the integrality check blocks the cast-truncation trap a DOUBLE
    // count column would hit (3.7 silently packing as 3 — the same
    // guard resampleKeep carries for its weights); coalesce keeps the
    // diagnostic readable when n itself is NULL
    val guarded = when(n.isNull || n < 0 ||
        n.cast("double") =!= n.cast("long").cast("double"),
      raise_error(concat(lit("packShuffledByCount: token counts must be "),
        lit("non-null integral >= 0: "),
        coalesce(n.cast("string"), lit("NULL")))).cast("long"))
      .otherwise(n.cast("long"))
    packShuffledCore(docs, idCol, copyCol, guarded, binTokens, salt, partSpan)
  }

  private def packShuffledCore(docs: DataFrame, idCol: String,
                               copyCol: String, nToks: Column,
                               binTokens: Long, salt: String,
                               partSpan: Long,
                               // extra payload columns carried verbatim
                               // through phase 2 into the output —
                               // [[packShuffledBinsSegs]] threads its
                               // segment arrays here so the placement
                               // never joins back against the (possibly
                               // expensive) input a second time
                               extraKeep: Seq[String] = Nil): DataFrame = {
    require(binTokens > 0 && partSpan > 0, "binTokens/partSpan must be > 0")
    val base = docs.select(Seq(
      col(idCol).cast("long").as("id"),
      col(copyCol).cast("long").as("copy"),
      nToks.as("n_toks"),
      hash60(col(idCol), col(copyCol), salt, "packShuffled").as("hk"))
      ++ extraKeep.map(col): _*)
      .withColumn("part", expr(s"hk div ${partSpan}L"))
    // parts are hk ranges, so ascending (part, hk, id, copy) IS the
    // ascending global (hk, id, copy) order — same-hk rows can't straddle
    // a part boundary because part is a pure function of hk
    binOffsets(base, binTokens,
      orderCols = Seq("hk", "id", "copy"),
      keepCols = Seq("id", "copy", "n_toks") ++ extraKeep)
  }

  /**
   * Materialize [[packShuffled]]'s layout into the actual per-bin token
   * streams a dataloader would consume: each document's token range is
   * cut at the bin boundaries it straddles, the fragments shuffle ONCE
   * on the bin id, and each bin reassembles its exact `binTokens`-token
   * stream in global offset order. Returns
   * (bin, n_frags, n_toks, bin_md5) — the content hash pins the full
   * reassembled stream without materializing corpus-sized strings in
   * the result (the last bin may be short; every other bin carries
   * exactly `binTokens` tokens).
   *
   * Scale shape: one bounded explode (a doc emits one row per bin it
   * touches — ceil(n_toks/binTokens)+1 rows) + ONE shuffle keyed on
   * `bin`; per-bin state is bounded by `binTokens` tokens regardless of
   * corpus size, so the collect_list aggregate can never blow up a
   * reducer.
   */
  def packShuffledBins(docs: DataFrame, idCol: String, copyCol: String,
                       textCol: String, binTokens: Long,
                       salt: String = "ep",
                       partSpan: Long = 1L << 50): DataFrame =
    packShuffledBinsSegs(
      docs.select(col(idCol).cast("long").as("id"),
        col(copyCol).cast("long").as("copy"),
        split(lower(col(textCol)), " ").as("segs")),
      "id", "copy", "segs", binTokens, salt, partSpan)

  /**
   * [[packShuffledBins]] over PRECOMPUTED per-row segment arrays
   * instead of whitespace tokenization — the production form when bins
   * are budgeted AND materialized in real tokenizer units: feed
   * [[graft.operators.TextAnalysis.bpeSegments]]' streams and both the
   * placement (counts = `size(segs)`, exactly what
   * [[packShuffledByCount]] over [[graft.operators.TextAnalysis
   * .bpeSegmentCount]] budgets — the two apply the same merge kernel,
   * [[graft.functions.BpeMerge]]) and the bin contents are cut at
   * BPE-segment grain.
   * This closes the gap between "bins are budgeted right" and "the
   * dataloader reads the right bytes".
   *
   * Same output contract as [[packShuffledBins]]:
   * (bin, n_frags, n_toks, bin_md5). NULL segment arrays raise (the
   * [[packShuffledByCount]] guard). A ZERO-length segment array keeps
   * its placement row but contributes no fragment to any bin — n_frags
   * counts only non-empty fragments, so a bin's hash is a pure function
   * of its token stream (an empty fragment carries no tokens and must
   * not perturb the count an auditor reconciles against n_toks).
   *
   * Scale shape: identical to [[packShuffledBins]] — one bounded
   * explode + ONE shuffle keyed on `bin`, per-bin state capped at
   * `binTokens` regardless of corpus size. The segment arrays ride
   * THROUGH the prefix-sum scaffolding as a carried payload column
   * (never joined back), so `docs` is referenced exactly twice: the
   * per-part totals aggregate and the phase-2 running sum. CALLER
   * CACHE OBLIGATION (the convention of
   * [[graft.operators.Dedup.minhashNearDupsAgainst]], whose per-side
   * shingle-set frames persist for the caller to clear): when the
   * segment input is itself expensive to compute (e.g.
   * [[graft.operators.TextAnalysis.bpeSegments]]' per-word merges over
   * a large corpus), persist `docs` around the action or it evaluates
   * twice.
   */
  def packShuffledBinsSegs(docs: DataFrame, idCol: String, copyCol: String,
                           segsCol: String, binTokens: Long,
                           salt: String = "ep",
                           partSpan: Long = 1L << 50): DataFrame = {
    val base = docs.select(
      col(idCol).cast("long").as("id"),
      col(copyCol).cast("long").as("copy"),
      col(segsCol).as("segs"))
    val placement = packShuffledCore(base, "id", "copy",
      when(col("segs").isNull,
          raise_error(lit("packShuffledBinsSegs: NULL segment array"))
            .cast("long"))
        .otherwise(size(col("segs")).cast("long")),
      binTokens, salt, partSpan, extraKeep = Seq("segs"))
    placement
      .filter(col("n_toks") > 0)
      .withColumn("b", explode(expr("sequence(bin, bin_end)")))
      .select(
        col("b").as("bin"),
        // the fragment's global token position — max(offset, b·B): the
        // doc either starts inside the bin or is cut at its left edge
        greatest(col("offset"), col("b") * binTokens).as("gpos"),
        expr(s"slice(segs, CAST(greatest(0L, b * ${binTokens}L - offset) AS INT) + 1," +
          s" CAST(least(n_toks, (b + 1) * ${binTokens}L - offset)" +
          s" - greatest(0L, b * ${binTokens}L - offset) AS INT))").as("frag"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n_frags"),
        sum(size(col("frag"))).cast("long").as("n_toks"),
        md5(concat_ws(" ", flatten(transform(
          array_sort(collect_list(struct(col("gpos"), col("frag")))),
          p => p.getField("frag"))))).as("bin_md5"))
  }

  /** 60-bit salted md5 prefix over (id, copy) — [[packShuffled]]'s
    * shuffle-order key (15 hex chars < 2^63, overflow-safe in both
    * engines; DuckDB twin `CAST('0x' || substring(md5(...), 1, 15) AS
    * BIGINT)`). Shares [[saltedHashLong]] with [[hash40]]. */
  private def hash60(id: Column, copy: Column, salt: String,
                     opName: String): Column =
    saltedHashLong(Seq(id -> "id", copy -> "copy"), salt, opName,
      hexChars = 15)

  // ---- PII redaction ----------------------------------------------------

  /** Redaction patterns, applied in this order (emails first — they
    * contain dots and digits that the later patterns could clip). The
    * regex subset is common to Java regex (Spark) and RE2 (DuckDB). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** text with emails/IPv4s/phone numbers masked by typed placeholders. */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Per-row match counts for one pattern (0 when no match). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  // ---- repetition stats (Gopher-style quality signals) -----------------

  /**
   * Per-document repetition metrics used as quality filters in the
   * Gopher/MassiveText cleaning rules:
   *   - dup_word_frac: 1 − distinct/total tokens
   *   - top_gram_frac: (count × chars) of the most repeated word 2-gram,
   *     as a fraction of total characters
   * Returns (id, n_toks, dup_word_frac, top_gram_frac, flagged).
   *
   * Shape: one explode + groupBy per metric, all partitioned by doc id —
   * per-doc state only, scales linearly with corpus size.
   */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      dupThreshold: Double = 0.9,
                      gramThreshold: Double = 0.2): DataFrame = {
    // r19 optimization (guide §2.4): the 2-gram metric used to explode
    // every adjacent pair corpus-wide and aggregate it in TWO shuffles
    // ((id, gram) counts, then per-id max). The most-repeated-2-gram
    // mass is a PER-DOCUMENT statistic, so it folds per row instead:
    // sort the doc's gram array, then one pass tracking the current
    // run length and the best cnt·len(gram) seen. max over
    // {cnt_i·len_i / n_chars} equals (max cnt_i·len_i) / n_chars
    // because double division by a positive constant is monotone —
    // bit-identical to the grouped form. The whole operator is now a
    // pure projection: ZERO exchanges (the before plan had 2), nothing
    // corpus-wide ever shuffles.
    val toks = docs.select(col(idCol).as("id"),
      split(lower(col(textCol)), " ").as("w"),
      length(col(textCol)).cast("double").as("n_chars"))
    val bestMass = expr(
      """aggregate(
        |  array_sort(transform(sequence(0, size(w) - 2),
        |    i -> concat_ws(' ', w[i], w[i + 1]))),
        |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
        |  (acc, g) -> CASE WHEN acc.prev IS NOT NULL AND g = acc.prev
        |    THEN named_struct('prev', g, 'run', acc.run + 1L,
        |      'best', GREATEST(acc.best, (acc.run + 1L) * length(g)))
        |    ELSE named_struct('prev', g, 'run', 1L,
        |      'best', GREATEST(acc.best, CAST(length(g) AS BIGINT))) END,
        |  acc -> acc.best)""".stripMargin)
    val withTop = toks.select(col("id"),
      size(col("w")).cast("long").as("n_toks"),
      (lit(1.0) - size(array_distinct(col("w"))).cast("double") /
        size(col("w")).cast("double")).as("dup_word_frac"),
      when(size(col("w")) >= 2,
        bestMass.cast("double") / col("n_chars")).otherwise(lit(0.0))
        .as("top_gram_frac"))
    withTop.select(col("id"), col("n_toks"),
      round(col("dup_word_frac"), 6).as("dup_word_frac"),
      round(col("top_gram_frac"), 6).as("top_gram_frac"),
      (col("dup_word_frac") > dupThreshold ||
        col("top_gram_frac") > gramThreshold).as("flagged"))
  }

  // ---- domain blocklist filtering ---------------------------------------

  /**
   * Drop rows whose URL host is on a blocklist; the blocklist is
   * broadcast (curation blocklists are thousands of domains — always
   * small relative to the corpus). Returns the surviving rows with a
   * `host` column appended.
   */
  def domainFilter(docs: DataFrame, urlCol: String,
                   blocked: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bl = blocked.toDF("host")
    docs
      .withColumn("host", expr(s"parse_url($urlCol, 'HOST')"))
      .join(broadcast(bl), Seq("host"), "left_anti")
  }

  /**
   * URL CANONICALIZATION — the normalization a crawl pipeline applies
   * before URL-grain dedup (the same page arrives as
   * `HTTPS://Site.com/p/1?utm_source=x#frag` and
   * `https://site.com/p/1`): strip the fragment, strip tracking query
   * params (`utm_*`, `fbclid`, `gclid` — then repair dangling `?`/`&`
   * separators), lowercase the scheme+host prefix (paths stay
   * case-sensitive per the URL spec), and drop explicit default ports
   * (`:80` for http, `:443` for https). Pure per-row string ops —
   * regexp_replace / regexp_extract / substring — so the whole
   * canonicalization replays exactly in SQL.
   */
  def canonicalizeUrl(url: Column): Column = {
    // 1. fragment off first (params before it stay intact)
    val noFrag = regexp_replace(url, "#.*$", "")
    // 2. tracking params out; a leading '?utm=..&id=1' leaves '&id=1' —
    //    repair '?&'/'&&' and a trailing '?'/'&'
    val noTrack = regexp_replace(noFrag,
      "[?&](utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*", "")
    // the FIRST leftover '&' with no '?' before it becomes the '?' (the
    // char class excludes both, so greediness can't skip past it)
    val repaired = regexp_replace(
      regexp_replace(noTrack, "^([^?&]*)&", "$1?"), "[?&]$", "")
    // 3. lowercase exactly the scheme://host[:port] prefix
    val prefix = regexp_extract(repaired, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val lowered = concat(lower(prefix),
      substring(repaired, length(prefix) + 1, lit(1000000)))
    // 4. default ports off the (now lowercase) prefix. NO lookahead —
    //    DuckDB's RE2 has none; capture the tail instead (an unmatched
    //    optional group substitutes empty in BOTH engines)
    regexp_replace(regexp_replace(lowered,
      "^(https://[^/:?#]+):443([/?#].*)?$", "$1$2"),
      "^(http://[^/:?#]+):80([/?#].*)?$", "$1$2")
  }

  // ---- corpus-wide line-grain dedup ----------------------------------

  /**
   * Corpus-wide LINE-grain exact dedup — the C4/RefinedWeb recipe one
   * grain below document dedup: boilerplate repeated ACROSS documents
   * (headers, footers, licence blocks) survives whole-doc dedup but
   * falls out here. Documents split into consecutive `lineTokens`-token
   * lines; each distinct line is kept ONLY at its first corpus
   * occurrence (ordered by (id, line index) — deterministic on any
   * partitioning); each document is reassembled from its surviving
   * lines in order. (Real corpora with newline structure would split on
   * the newline instead; the fixed-token grouping is the
   * separator-free form and exercises the identical plan.)
   * Returns (id, n_lines, n_kept, text).
   *
   * Scale shape: keep-first is a window PARTITIONED BY LINE (one
   * shuffle on the line value — the same key class as exact dedup's
   * content hash, no corpus-wide ordering anywhere); reassembly is one
   * per-doc aggregate. A pathologically hot line (one string repeated
   * billions of times) makes one window partition hot — the standard
   * salting escape applies, but boilerplate lines are exactly the rows
   * the operator deletes, so the hot key carries no payload worth
   * preserving.
   */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                lineTokens: Int): DataFrame = {
    require(lineTokens > 0, "lineTokens must be > 0")
    val lines = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) > 0)
      .select(col("id"),
        posexplode(expr(
          s"transform(sequence(0, CAST((size(w) + $lineTokens - 1) " +
            s"div $lineTokens AS INT) - 1), " +
            s"i -> array_join(slice(w, i * $lineTokens + 1, $lineTokens), ' '))"))
          .as(Seq("line_idx", "line")))
    val first = Window.partitionBy("line").orderBy(col("id"), col("line_idx"))
    lines.withColumn("__rn", row_number().over(first))
      .groupBy("id")
      .agg(
        count(lit(1)).cast("long").as("n_lines"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).cast("long").as("n_kept"),
        // surviving lines back in document order (collect_list skips the
        // CASE's nulls; array_sort on the struct orders by line_idx)
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN __rn = 1 THEN struct(line_idx, line) END)), " +
          "s -> s.line), ' ')").as("text"))
  }

  // ---- domain-weighted mixture sampling ------------------------------

  /**
   * Deterministic domain-weighted MIXTURE sampling — the data-mixing
   * step of a training pipeline ("train on 50% en, 20% de, ..."),
   * expressed EXACTLY: integer weights per group, the largest total T
   * such that every group can supply its share (`T = min_g
   * floor(n_g·W/w_g)`, W = Σw), then the group keeps `floor(T·w_g/W)`
   * rows — its lowest-(md5(id), id)-ranked ones, so the selection is
   * reproducible on any engine and any partitioning. Groups absent from
   * `weights` are excluded. All arithmetic is positive-integer
   * truncating division (Spark `div` ≡ DuckDB `//`), so the result is
   * bit-replayable as SQL.
   *
   * Scale shape: group sizes are ONE aggregate; weights/keep-counts are
   * a per-group table broadcast back; the rank is a per-group window —
   * one shuffle on the group key, the same cost class as any stratified
   * sample. Skew note: a group holding most of the corpus makes one
   * window partition hot; rank-exactness inherently needs the per-group
   * ordering, and the hash-ordered rank spills sequentially rather than
   * collecting (same tradeoff `sample_stratified` documents).
   */
  /**
   * [[mixDomains]] by TOKEN budget instead of row count — the form a
   * training mixture actually targets ("30% of TOKENS from web, …"):
   * per-group token totals set the bottleneck-capped budget
   * (`T = min_g floor(tok_g·W/w_g)`, group budget `floor(T·w_g/W)`
   * tokens), and each group keeps its lowest-(md5(id), id)-ranked rows
   * while the EXCLUSIVE running token sum stays under budget — so the
   * boundary document is included (budgets are met or minimally
   * overshot, never undershot by a whole document), deterministically
   * on any engine. Same scale shape as [[mixDomains]]: one totals
   * aggregate, broadcast budgets, one per-group window.
   */
  def mixDomainsByTokens(docs: DataFrame, groupCol: String, idCol: String,
                         textCol: String,
                         weights: Map[String, Int]): DataFrame =
    mixDomainsByTokens(docs, groupCol, idCol, textCol, weights,
      skewCutover = None)

  /** [[mixDomainsByTokens]] with the same opt-in SKEW path as the row
    * variant: groups with more than `skewCutover` ROWS are pre-cut by a
    * distributed md5-prefix filter before the per-group window. The kept
    * set is the hash-order prefix whose exclusive token prefix-sum stays
    * under the budget — also a hash-prefix — so cutting at a fraction of
    * hash space comfortably above the boundary (`(2·budget +
    * 1000·avg_doc_tokens) / group_tokens`) keeps every kept row and the
    * survivors' prefix sums equal the global ones: BIT-IDENTICAL output.
    * The loud guard is exact, not probabilistic: if a kept row were cut,
    * the survivors' total token mass would be STRICTLY below the budget
    * (every kept row's exclusive prefix sum is < budget, and survivors
    * precede any cut row in hash order), so `survivor mass >= budget` ⇒
    * no kept row was lost; underflow raises instead of silently
    * shrinking the mixture. */
  def mixDomainsByTokens(docs: DataFrame, groupCol: String, idCol: String,
                         textCol: String, weights: Map[String, Int],
                         skewCutover: Option[Long]): DataFrame = {
    require(weights.nonEmpty, "mixDomainsByTokens needs a weighted group")
    require(weights.values.forall(_ > 0), "weights must be positive integers")
    val spark = docs.sparkSession
    import spark.implicits._
    val totalW = weights.values.map(_.toLong).sum
    val w = weights.toSeq.sortBy(_._1).toDF(groupCol, "__gf_w")
    val withTok = docs.withColumn("__gf_tok",
      size(split(col(textCol), " ")).cast("long"))
    val totals = withTok.groupBy(groupCol)
      .agg(sum(col("__gf_tok")).as("__gf_n"),
        count(lit(1)).as("__gf_rows"))
      .join(broadcast(w), Seq(groupCol))
    val t = totals.agg(min(expr(s"__gf_n * ${totalW}L div __gf_w")).as("__gf_T"))
    val budget = totals.crossJoin(broadcast(t))
      .select(col(groupCol), col("__gf_n"), col("__gf_rows"),
        expr(s"__gf_T * __gf_w div ${totalW}L").as("__gf_budget"))
    val byHash = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val joined = withTok.join(broadcast(budget), Seq(groupCol))
    val prefiltered = skewCutover match {
      case None => joined
      case Some(cut) =>
        // the token boundary sits near hash fraction budget/group_tokens;
        // cut at 2× that plus ~1000 average-sized documents of slack —
        // bottleneck-capped budgets mean budget <= group_tokens, so the
        // fraction is meaningful
        val avgTok = expr("(__gf_n + __gf_rows - 1L) div __gf_rows")
        hashPrefixCut(joined, idCol, col("__gf_rows"), cut,
          col("__gf_budget") * 2 + lit(1000L) * avgTok, col("__gf_n"))
    }
    val withCum = prefiltered
      // exclusive prefix sum: the row that CROSSES the budget is kept
      .withColumn("__gf_cum",
        coalesce(sum(col("__gf_tok")).over(
          byHash.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val checked = skewCutover match {
      case None => withCum
      case Some(_) =>
        // exact loud guard (see scaladoc): survivor token mass < budget
        // ⟺ some kept row was cut — hard stop, never a silent shrink
        cutUnderflowGuard(withCum, groupCol, col("__gf_tok"),
          col("__gf_budget"), "mixDomainsByTokens")
    }
    checked
      .filter(col("__gf_cum") < col("__gf_budget"))
      .drop("__gf_cum", "__gf_budget", "__gf_tok", "__gf_n", "__gf_rows")
  }

  /** Per-row KEEP decision for [[resampleByWeight]] as one boolean
    * Column — deterministic importance sampling with zero RNG state:
    * keep ⟺ the 40-bit prefix of md5(salt || "_" || id) falls below the
    * row's weight fraction of the hash space. Exact integers
    * end-to-end: weight in MICRO units (0..1,000,000 = probability
    * 0..1) and `hash40 · 10^6 < weight_micro · 2^40` — both sides stay
    * under 2^61, so the comparison is overflow-free in BOTH engines
    * (the DuckDB twin is the same cross-multiplication over
    * `CAST('0x' || substring(md5(...), 1, 10) AS BIGINT)`). A 40-bit
    * hash gives ~1e-12 probability resolution — far finer than the
    * micro-unit weights it gates. Out-of-range or NULL weights raise
    * loudly (a silently clamped weight would skew the mixture). Pure
    * per-row projection: use as a batch filter or unchanged on an
    * append-mode stream. */
  def resampleKeep(id: Column, weightMicro: Column,
                   salt: String = "rs"): Column = {
    // the integrality check catches a 0..1 PROBABILITY column passed
    // where micro units are expected (0.85 would cast("long") to 0 and
    // silently drop the whole corpus)
    val w = when(weightMicro.isNull ||
        weightMicro < 0 || weightMicro > 1000000L ||
        weightMicro.cast("double") =!= weightMicro.cast("long").cast("double"),
      raise_error(concat(lit("resampleByWeight: weight_micro must be an "),
        lit("integral micro-unit in [0, 1000000]: "),
        weightMicro.cast("string"))).cast("long"))
      .otherwise(weightMicro.cast("long"))
    hash40(id, salt, "resampleByWeight") * lit(1000000L) < w * lit(Max40)
  }

  /** 2^40 — the hash-space size both md5-threshold ops compare against. */
  private val Max40 = 1099511627776L

  /** THE salted 40-bit md5 prefix both [[resampleKeep]] and
    * [[splitLabel]] decide on — one definition so the documented
    * "same exact cross-multiplication" contract (and its DuckDB twins)
    * can never drift between them. A NULL id would hash NULL and make
    * every comparison silently three-valued (a resample would drop the
    * row, a split would dump it in the LAST label) — raise instead. */
  private def hash40(id: Column, salt: String, opName: String): Column =
    saltedHashLong(Seq(id -> "id"), salt, opName, hexChars = 10)

  /** THE salted md5-prefix long both hash widths derive from: md5 over
    * `salt` + ("_" + value) per input column, first `hexChars` hex
    * digits as a BIGINT (4·hexChars bits; callers keep every
    * cross-multiplication under 2^63 in both engines). NULL inputs
    * raise — a NULL would hash NULL and make every downstream
    * comparison silently three-valued. */
  private def saltedHashLong(parts: Seq[(Column, String)], salt: String,
                             opName: String, hexChars: Int): Column = {
    val pieces = parts.flatMap { case (c, what) =>
      Seq(lit("_"), when(c.isNull,
        raise_error(lit(s"$opName: NULL $what — hash-keyed decisions need " +
          s"a non-null $what column")).cast("string"))
        .otherwise(c.cast("string")))
    }
    conv(substring(md5(concat(lit(salt) +: pieces: _*)), 1, hexChars),
      16, 10).cast("long")
  }

  /** Deterministic importance RESAMPLING — the quality-weighted
    * downsampling step of a training-data pipeline (keep each document
    * with probability proportional to a quality/classifier score, the
    * DCLM/FineWeb shape) with no RNG state anywhere: every row decides
    * its own fate from md5(salt, id), so the sample is reproducible
    * across runs, partitionings and engines, and a re-run with a new
    * `salt` draws an independent sample. Keeps the input columns of
    * surviving rows. Scale shape: one codegen'd per-row filter — no
    * shuffle, no state, no driver participation at any corpus size. */
  def resampleByWeight(docs: DataFrame, idCol: String,
                       weightMicroCol: String,
                       salt: String = "rs"): DataFrame =
    docs.filter(resampleKeep(col(idCol), col(weightMicroCol), salt))

  /** Deterministic importance UPSAMPLING — the EPOCHING twin of
    * [[resampleByWeight]] for weights above one: a document with
    * `weight_micro = w` emits `w div 1e6` whole copies plus one more
    * with probability `(w mod 1e6)/1e6`, decided by the SAME salted
    * 40-bit md5 cross-multiplication as [[resampleKeep]] — "2.5 epochs
    * of wiki" is two copies of every doc and a deterministic,
    * reproducible half getting a third. Weights below 1e6 degrade to
    * exactly [[resampleByWeight]]'s draw (zero whole copies + the
    * fractional keep); expected emitted mass equals the weight, and
    * per-row output is MONOTONE in the weight (raising a doc's weight
    * never removes a copy). Each emitted row carries a 0-based `copy`
    * index so downstream keys on (id, copy) never collide. NULL,
    * negative, fractional, or absurd (> 1e6 epochs) weights raise
    * loudly. Pure per-row explode — no shuffle, no state, no driver
    * participation at any corpus size. */
  def upsampleByWeight(docs: DataFrame, idCol: String,
                       weightMicroCol: String,
                       salt: String = "us"): DataFrame = {
    require(!docs.columns.contains("copy"),
      "upsampleByWeight adds a 'copy' column; the input already has " +
        "one — rename it first (withColumn would silently overwrite it)")
    val wm = col(weightMicroCol)
    val w = when(wm.isNull || wm < 0 || wm > 1000000000000L ||
        wm.cast("double") =!= wm.cast("long").cast("double"),
      raise_error(concat(lit("upsampleByWeight: weight_micro must be "),
        lit("an integral micro-unit in [0, 1e12]: "),
        wm.cast("string"))).cast("long"))
      .otherwise(wm.cast("long"))
    // whole copies: exact — the numerator is a multiple of 1e6 and the
    // guard caps w below 2^53, so the double division cannot round
    val whole = ((w - pmod(w, lit(1000000L))) / lit(1000000L)).cast("long")
    val frac = pmod(w, lit(1000000L))
    val extra = when(
      hash40(col(idCol), salt, "upsampleByWeight") * lit(1000000L) <
        frac * lit(Max40), 1L).otherwise(0L)
    docs.withColumn("__gf_copies", whole + extra)
      .filter(col("__gf_copies") > 0)
      .withColumn("copy",
        explode(sequence(lit(0L), col("__gf_copies") - 1)))
      .drop("__gf_copies")
  }

  /** Per-row SPLIT label for [[splitByHash]] as one Column: the row's
    * 40-bit md5 fraction walks the cumulative weight intervals (same
    * exact cross-multiplication as [[resampleKeep]] — `hash40 · 10^6 <
    * cum_micro · 2^40`, overflow-free both engines), first interval
    * containing the hash wins. */
  def splitLabel(id: Column, fractions: Seq[(String, Long)],
                 salt: String = "split"): Column = {
    require(fractions.nonEmpty, "splitByHash needs at least one fraction")
    require(fractions.forall(_._2 > 0), "split weights must be positive")
    require(fractions.map(_._2).sum == 1000000L,
      s"split weights must sum to 1000000 micro-units, got " +
        fractions.map(_._2).sum)
    val h = hash40(id, salt, "splitByHash")
    val cums = fractions.scanLeft(0L)(_ + _._2).tail
    // first-match CASE chain over the cumulative bounds; the final
    // interval is the unconditional fallback (hash < 2^40 always)
    fractions.init.zip(cums.init)
      .foldRight(lit(fractions.last._1): Column) { case (((label, _), cum), acc) =>
        when(h * lit(1000000L) < lit(cum) * lit(Max40), lit(label))
          .otherwise(acc)
      }
  }

  /** Deterministic HASH-BASED dataset split — the train/val/test
    * assignment step of a training-data pipeline, with the property
    * that matters at 100 TB: a row's split is a pure function of
    * (salt, id), so it NEVER changes when the corpus grows, shrinks,
    * repartitions or re-runs — no eval example ever leaks into
    * training because yesterday's split was drawn differently.
    * `fractions` are (label, micro-weight) pairs summing to 1,000,000;
    * proportions are binomial-exact in expectation (use [[mixDomains]]
    * when EXACT counts per stratum matter more than stability). Adds a
    * `split` column. Pure per-row projection — batch or append-mode
    * stream alike. */
  def splitByHash(docs: DataFrame, idCol: String,
                  fractions: Seq[(String, Long)],
                  salt: String = "split"): DataFrame = {
    require(!docs.columns.contains("split"),
      "splitByHash adds a 'split' column; the input already has one — " +
        "rename it first (withColumn would silently overwrite it)")
    docs.withColumn("split", splitLabel(col(idCol), fractions, salt))
  }

  /** The distributed pre-cut both skew-cutover mixing variants share:
    * keep rows of small groups (`rowsCol <= cut`) untouched, and in
    * larger groups keep only rows whose 60-bit prefix of the SAME md5
    * the downstream window orders by falls below
    * `fractionNum / fractionDen` of the hash space (capped at the whole
    * space). A row below the window's keep boundary has a strictly
    * smaller (md5, id) than the boundary row, hence an md5 prefix <= the
    * boundary row's — so any cutoff strictly above the boundary prefix
    * preserves the whole kept set, and the callers' fractions leave wide
    * slack above their expected boundaries. */
  private def hashPrefixCut(joined: DataFrame, idCol: String,
                            rowsCol: Column, cut: Long,
                            fractionNum: Column,
                            fractionDen: Column): DataFrame = {
    require(cut > 0, "skewCutover must be positive")
    val max60 = 1152921504606846976L // 2^60
    val hv = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val cutoff = least(lit(max60),
      ceil(lit(max60).cast("double") * fractionNum / fractionDen)
        .cast("long"))
    joined.filter(rowsCol <= cut || hv < cutoff)
  }

  /** The loud post-cut guard both variants share: the surviving mass of
    * each group (rows for the row variant, tokens for the token variant)
    * must cover its budget — below it, some kept row was provably cut
    * (survivors precede any cut row in hash order, so their mass bounds
    * the cut row's exclusive prefix sum, which is < budget for kept
    * rows) and the mixture would silently shrink: hard stop instead. */
  private def cutUnderflowGuard(df: DataFrame, groupCol: String,
                                massExpr: Column, budgetCol: Column,
                                opName: String): DataFrame =
    df.withColumn("__gf_smass",
        sum(massExpr).over(Window.partitionBy(groupCol)))
      .filter(when(col("__gf_smass") < budgetCol,
        raise_error(concat(
          lit(s"$opName skew-cutover underflow in group "),
          col(groupCol).cast("string"))).cast("boolean"))
        .otherwise(lit(true)))
      .drop("__gf_smass")

  def mixDomains(docs: DataFrame, groupCol: String, idCol: String,
                 weights: Map[String, Int]): DataFrame =
    mixDomains(docs, groupCol, idCol, weights, skewCutover = None)

  /** [[mixDomains]] with an opt-in SKEW path: the exact rank funnels each
    * group through one window partition — correct, but a dominant group
    * (90% of a 100 TB corpus in one domain) serializes on a single
    * reducer. With `skewCutover = Some(t)`, groups LARGER than `t` rows
    * are pre-cut by a DISTRIBUTED md5-prefix filter before the window:
    * the keep-rank boundary lives near hash-fraction keep/n, so rows
    * hashing above `(2·keep + 1000)/n` of the hash space provably cannot
    * make the top-keep and are dropped map-side; the surviving ~2·keep
    * rows then rank exactly as before. Results are BIT-IDENTICAL to the
    * unbounded path (the cut is above the boundary by construction), and
    * the astronomically-unlikely underflow (a group retaining fewer than
    * `keep` survivors under a uniform 60-bit hash) raises loudly rather
    * than silently shrinking the mixture. */
  def mixDomains(docs: DataFrame, groupCol: String, idCol: String,
                 weights: Map[String, Int],
                 skewCutover: Option[Long]): DataFrame = {
    require(weights.nonEmpty, "mixDomains needs at least one weighted group")
    require(weights.values.forall(_ > 0), "weights must be positive integers")
    val spark = docs.sparkSession
    import spark.implicits._
    val totalW = weights.values.map(_.toLong).sum
    val w = weights.toSeq.sortBy(_._1).toDF(groupCol, "__gf_w")
    // group sizes (one agg), inner-joined to weights: unweighted drop
    val counts = docs.groupBy(groupCol).agg(count(lit(1)).as("__gf_n"))
      .join(broadcast(w), Seq(groupCol))
    val t = counts.agg(min(expr(s"__gf_n * ${totalW}L div __gf_w")).as("__gf_T"))
    val keep = counts.crossJoin(broadcast(t))
      .select(col(groupCol), col("__gf_n"),
        expr(s"__gf_T * __gf_w div ${totalW}L").as("__gf_keep"))
    val byHash = Window.partitionBy(groupCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val joined = docs.join(broadcast(keep), Seq(groupCol))
    val prefiltered = skewCutover match {
      case None => joined
      case Some(cut) =>
        // the rank boundary sits near hash fraction keep/n; fraction
        // (2*keep + 1000)/n leaves huge slack over it while still
        // cutting a dominant group to ~2*keep rows before the shuffle
        hashPrefixCut(joined, idCol, col("__gf_n"), cut,
          col("__gf_keep") * 2 + lit(1000L), col("__gf_n"))
    }
    val ranked = prefiltered
      .withColumn("__gf_rn", row_number().over(byHash))
    val checked = skewCutover match {
      case None => ranked
      case Some(_) =>
        // loud underflow guard: fewer than `keep` survivors in some
        // group would silently shrink the mixture — hard stop instead
        cutUnderflowGuard(ranked, groupCol, lit(1L), col("__gf_keep"),
          "mixDomains")
    }
    checked
      .filter(col("__gf_rn") <= col("__gf_keep"))
      .drop("__gf_rn", "__gf_keep", "__gf_n")
  }
}
