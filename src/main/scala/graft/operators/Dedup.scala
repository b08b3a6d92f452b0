package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.functions._

import graft.functions.MinhashBands

/**
 * Document deduplication operators for large-scale training-data
 * pipelines. All are expressed as declarative DataFrame transforms so
 * Catalyst plans the shuffles:
 *
 *  - exact dedup: hash-partition on a content hash; one shuffle.
 *  - MinHash+LSH near-dedup: one row per document carrying its shingle
 *    set as an array; shuffle on (band, band-signature) buckets and
 *    generate candidate pairs ONLY within buckets — never all-pairs — then
 *    verify candidates with exact array Jaccard. Scales as
 *    O(docs × shingles × hashes) map-side plus bucket-local joins, which
 *    survives a 100× scale-up as long as bucket cardinality does (the
 *    band signature keys are ~uniform md5 strings, so it does).
 *  - blocked exact-Jaccard: all-pairs restricted to explicit small blocks
 *    (e.g. (lang, source)), for recall evaluation at bounded cost.
 *
 * The minhash family is double hashing over one md5 per shingle —
 * deliberately engine-portable so the DuckDB oracle can reproduce
 * signatures bit-for-bit; the one implementation is the native
 * [[graft.functions.MinhashBands]] kernel (see `minhashBandKeys`).
 */
object Dedup {

  /** Exact dedup: keep the lowest id per identical content. */
  def exactKeepFirst(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Rows of `df` whose `textCol` has at least `n` tokens, with the
    * token array `__gf_w` added. Tokens are `split(lower(text), " ")`,
    * so runs of spaces yield empty tokens. */
  private def tokenized(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.withColumn("__gf_w", split(lower(col(textCol)), " "))
      .filter(size(col("__gf_w")) >= n)

  /** The distinct `n`-grams of [[tokenized]]'s token array, in first-
    * occurrence order: the per-document shingle set every MinHash
    * operator works on — no row per shingle, no distinct shuffle. Use it
    * as an expression (select it, or explode it directly): a Generate
    * over a column holding it makes the optimizer infer a non-empty
    * filter and push it, with this whole expression inlined, below the
    * projection that computes it. */
  private def shingleSet(n: Int): Column =
    expr(s"array_distinct(${ngrams("__gf_w", n)})")

  /** SQL for the array of every `n`-token window of array column `w`,
    * tokens joined by ' ' (callers gate on `size(w) >= n`). */
  private def ngrams(w: String, n: Int): String =
    s"transform(sequence(0, size($w) - $n), i -> concat_ws(' ', ${
      (0 until n).map(j => s"$w[i + $j]").mkString(", ")}))"

  /** Distinct word n-gram shingles per document: (id, sh) — the
    * exploded [[shingleSet]]. The final distinct keeps the pairs
    * distinct even when `idCol` is not a key. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    require(n > 0, s"shingle size n must be positive, got $n")
    tokenized(docs.select(col(idCol).as("id"), col(textCol)), textCol, n)
      .select(col("id"), explode(shingleSet(n)).as("sh"))
      .distinct()
  }

  /** Largest prime below 2^53: the double-hashing modulus (see
    * [[graft.functions.MinhashBands]]). */
  val MinhashPrime: Long = MinhashBands.Prime

  /** (id, band, band_key) rows of a per-document shingle-set frame
    * (id, ss) — the one signature implementation, the native
    * [[graft.functions.MinhashBands]] kernel. Rows without a shingle
    * set produce none. */
  private def bandKeys(sets: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame =
    sets.select(col("id"), posexplode(GraftShim.column(MinhashBands(
        GraftShim.expression(col("ss")), numBands, rowsPerBand)))
      .as(Seq("band", "band_key")))

  /**
   * MinHash signatures: `numBands` bands × `rowsPerBand` min-hashes over
   * (id, sh) shingle rows. The hash family is double hashing
   * (Kirsch–Mitzenmacher 2006): ONE md5 per shingle, split into two
   * 13-hex-digit (52-bit) halves x1/x2, and hash h ∈ [0, bands·rows) is
   * (x1 + h·x2) mod P — engine-portable bit-for-bit (DuckDB:
   * CAST('0x'||substring(md5,…) AS BIGINT)). Band key = the band's
   * min-hashes joined in hash order. The rows are collected per id and
   * signed by the [[graft.functions.MinhashBands]] kernel.
   * Returns (id, band, band_key).
   */
  def minhashBandKeys(sh: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    require(numBands > 0 && rowsPerBand > 0,
      s"numBands and rowsPerBand must be positive, got $numBands × $rowsPerBand")
    bandKeys(sh.groupBy("id").agg(collect_list(col("sh")).as("ss")),
      numBands, rowsPerBand)
  }

  /** Band keys of buckets holding at most `maxBucket` ids (all of them
    * at the default). The bucket-size window shares the (band,
    * band_key) partitioning a bucket join needs anyway — one extra sort
    * within partitions, no shuffle. */
  private def capBuckets(bandKeys: DataFrame, maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) bandKeys
    else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "band_key")
      bandKeys.withColumn("__bucket_n", count(lit(1)).over(w))
        .filter(col("__bucket_n") <= maxBucket)
        .drop("__bucket_n")
    }

  /** Candidate pairs = distinct (a < b) sharing any band bucket. The join
    * is bucket-local: shuffle on (band, band_key), never all-pairs.
    *
    * `maxBucket` is a safety valve against mega-buckets: a bucket holding
    * B ids yields B·(B-1)/2 candidate pairs, so one flood of
    * near-identical (but not byte-identical — those are collapsed
    * upstream, see `minhashNearDups`) documents can go quadratic. When
    * set, buckets with more than `maxBucket` ids are EXCLUDED from
    * candidate generation — a recall trade the caller opts into; audit
    * exactly what was dropped with `lshOversizeBuckets` (same threshold).
    * The default keeps exact all-pairs-within-bucket semantics and the
    * original plan shape (no window inserted). */
  def lshCandidates(bandKeys: DataFrame, maxBucket: Int = Int.MaxValue): DataFrame = {
    // the (capped) band keys feed BOTH sides of the self-join below;
    // persisted so whatever computes them (the signature aggregate of
    // `minhashBandKeys`, the bucket-size window) runs once, not once
    // per side. Rows are (id, band, band_key) — docs×bands scale, small;
    // spills rather than OOMs. Caller clears the cache between runs
    // (same convention as minhashNearDups).
    val src = capBuckets(bandKeys, maxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = src.select(col("band"), col("band_key"), col("id").as("a"))
    val b = src.select(col("band"), col("band_key"), col("id").as("b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** The loud-accounting side of `lshCandidates(maxBucket)`: every bucket
    * the cap would drop, with its size — run (and log/persist) this
    * whenever a cap is in force so dropped recall is visible, never
    * silent. */
  def lshOversizeBuckets(bandKeys: DataFrame, maxBucket: Int): DataFrame =
    bandKeys.groupBy("band", "band_key").agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)

  /** Exact-duplicate collapse: one representative (lowest id) per
    * distinct text, as (id, txt). Byte-identical texts share every band
    * key, so collapsing BEFORE shingling keeps duplicate groups from
    * forming quadratic LSH buckets (see `minhashNearDups`). */
  def collapseExact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("ch"))
      // texts within a group are identical; min() just picks one
      .agg(min(col(idCol)).as("id"), min(col(textCol)).as("txt"))
      .select("id", "txt")

  /** (rep, member) mapping from every doc id to its exact-dup group's
    * representative (lowest id; rep == member for unique texts). */
  def exactDupMembers(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withHash = docs.select(md5(col(textCol)).as("ch"), col(idCol).as("member"))
    val reps = withHash.groupBy("ch").agg(min(col("member")).as("rep"))
    withHash.join(reps, "ch").select("rep", "member")
  }

  /** Exact shingle-set Jaccard of candidate pairs (a, b), kept at
    * jac ≥ threshold — the one verification of the MinHash family.
    * `sa` is (a, sa, …) and `sb` is (b, sb, …): shingle-set frames keyed
    * by each side's id; their other columns ride along, the sets do
    * not. jac = |sa ∩ sb| / (|sa| + |sb| − |sa ∩ sb|) as a double. */
  private def verified(cands: DataFrame, sa: DataFrame, sb: DataFrame,
                       threshold: Double): DataFrame =
    cands.join(sa, "a").join(sb, "b")
      .withColumn("__ni", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac", col("__ni").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("__ni")).cast("double"))
      .filter(col("jac") >= threshold)
      .drop("sa", "sb", "__ni")

  /** Full MinHash-LSH near-dup pipeline: verified pairs (a_id < b_id,
    * jac) with jac ≥ threshold. `idCol` must be a key.
    *
    * Per-document plan: ONE aggregate on md5(text) yields a group row
    * per distinct text — rep = min(id), the sorted member ids and the
    * text's shingle set as an array; texts with fewer than `shingleN`
    * tokens have none and drop out (they pair with nothing, not even
    * their exact duplicates). Byte-identical texts share EVERY band key, so
    * a duplicate-heavy corpus (the norm in web-scale training data)
    * would otherwise put each whole duplicate group into single LSH
    * buckets and the candidate join would go quadratic in the group
    * size; instead signatures (the native
    * [[graft.functions.MinhashBands]] kernel, one row per group), the
    * bucket join and the Jaccard verification run over DISTINCT texts
    * only. Verified representative pairs fan out through the two
    * groups' member arrays; intra-group pairs (jac = 1.0 by definition,
    * only for texts long enough to shingle) come from the same group
    * rows — each member paired with its larger members, so no row holds
    * more than one group's member list. The output is exactly the
    * uncollapsed all-pairs semantics (members share their
    * representative's shingle set), but COMPUTE is linear in distinct
    * texts: 1000 copies of one doc cost the same as one. Output
    * cardinality is still inherently quadratic in dup-group size — the
    * price of asking for all pairs, paid only at emission.
    *
    * Cache hygiene: the group frame persists MEMORY_AND_DISK (it feeds
    * the signatures, both verification sides and the intra-group
    * pairs), as do the band keys inside [[lshCandidates]]; the returned
    * frame depends on both, so they cannot be unpersisted here —
    * repeated invocations in one session should clear between runs
    * (`spark.catalog.clearCache()`), as Bench does.
    *
    * `maxBucket` (opt-in) additionally caps candidate generation for
    * near-identical-but-not-byte-identical floods; see `lshCandidates`
    * and audit drops with `lshOversizeBuckets`. */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      numBands: Int = 6, rowsPerBand: Int = 3,
                      shingleN: Int = 3, threshold: Double = 0.5,
                      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(numBands > 0 && rowsPerBand > 0 && shingleN > 0,
      s"numBands, rowsPerBand and shingleN must be positive, got " +
        s"$numBands, $rowsPerBand, $shingleN")
    // the text crosses the md5 exchange once, as one value per group
    // (texts within a group are identical; first() picks one), and is
    // shingled after it — once per distinct text
    val groups = tokenized(
        docs.groupBy(md5(col(textCol)).as("ch"))
          .agg(min(col(idCol)).as("rep"),
            array_sort(collect_list(col(idCol))).as("members"),
            first(col(textCol)).as("txt")),
        "txt", shingleN)
      .select(col("rep"), col("members"), shingleSet(shingleN).as("ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidates(
      bandKeys(groups.select(col("rep").as("id"), col("ss")), numBands, rowsPerBand),
      maxBucket)
    def side(k: String) = groups.select(col("rep").as(k), col("ss").as(s"s$k"),
      col("members").as(s"m$k"))
    // cross-group pairs: every member of one group × every member of
    // the other; member ids may order differently than rep ids, so
    // re-normalize with least/greatest
    val cross = verified(cands, side("a"), side("b"), threshold)
      .select(explode(col("ma")).as("ma"), col("mb"), col("jac"))
      .select(col("ma"), explode(col("mb")).as("mb"), col("jac"))
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"), col("jac"))
    // intra-group pairs: member i (0-based, sorted) × members i+1..
    val intra = groups.filter(size(col("members")) > 1 && lit(1.0) >= threshold)
      .select(posexplode(col("members")).as(Seq("i", "a")), col("members"))
      .select(col("a"), explode(slice(col("members"), col("i") + 2,
        size(col("members")) - col("i") - 1)).as("b"), lit(1.0).as("jac"))
    cross.unionByName(intra)
      .select(col("a").as("a_id"), col("b").as("b_id"), round(col("jac"), 6).as("jac"))
  }

  /** CROSS-CORPUS MinHash near-dup detection — dedupe corpus A AGAINST
    * corpus B at document grain (the train-vs-benchmark decontamination
    * shape: which training docs near-duplicate an eval doc; the
    * substring-grain companion is
    * [[graft.operators.Curation.decontaminateSpans]]). Same per-document
    * machinery as [[minhashNearDups]] — one shingle-set row per doc,
    * signatures from the [[graft.functions.MinhashBands]] kernel, array
    * Jaccard verification — but candidates come from a LEFT-keys ×
    * RIGHT-keys bucket join: only cross-side pairs are ever generated,
    * and within-side duplicates are never compared. Returns
    * (left_id, right_id, jac) at jac ≥ threshold; ids may collide across
    * corpora (they are independent keyspaces), and each side's id column
    * must be a key. Scale note: a flood of byte-identical docs on ONE
    * side makes its buckets large — run [[collapseExact]] per side first
    * when that is a real shape (the same discipline minhashNearDups
    * bakes in), or cap with `maxBucket` (per-side bucket exclusion,
    * audited by [[lshOversizeBuckets]] — a recall trade the caller opts
    * into).
    * Cache hygiene (same contract as [[minhashNearDups]]): both sides'
    * shingle-set frames persist MEMORY_AND_DISK and the returned frame
    * depends on them, so they cannot be unpersisted here — repeated
    * invocations in one session accumulate corpus-sized cache entries
    * until the caller clears them (`spark.catalog.clearCache()` or
    * unpersist after materializing), as Bench does between queries. */
  def minhashNearDupsAgainst(left: DataFrame, leftIdCol: String,
                             leftTextCol: String,
                             right: DataFrame, rightIdCol: String,
                             rightTextCol: String,
                             numBands: Int = 6, rowsPerBand: Int = 3,
                             shingleN: Int = 3,
                             threshold: Double = 0.5,
                             maxBucket: Int = Int.MaxValue): DataFrame = {
    require(numBands > 0 && rowsPerBand > 0 && shingleN > 0,
      s"numBands, rowsPerBand and shingleN must be positive, got " +
        s"$numBands, $rowsPerBand, $shingleN")
    // each side's (id, ss) frame feeds its band keys and its
    // verification side — persisted, so it is shingled once
    def sets(df: DataFrame, idCol: String, textCol: String) =
      tokenized(df.select(col(idCol).as("id"), col(textCol).as("txt")),
          "txt", shingleN)
        .select(col("id"), shingleSet(shingleN).as("ss"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sL = sets(left, leftIdCol, leftTextCol)
    val sR = sets(right, rightIdCol, rightTextCol)
    // `maxBucket` is the same safety valve as the self form's: a bucket
    // holding B_l left ids and B_r right ids yields B_l·B_r candidate
    // pairs, so a flood of near-identical docs on EITHER side can go
    // quadratic. The cap applies PER SIDE; audit the drops with
    // [[lshOversizeBuckets]] on each side's band keys.
    val kL = capBuckets(bandKeys(sL, numBands, rowsPerBand), maxBucket)
      .select(col("band"), col("band_key"), col("id").as("a"))
    val kR = capBuckets(bandKeys(sR, numBands, rowsPerBand), maxBucket)
      .select(col("band"), col("band_key"), col("id").as("b"))
    val cands = kL.join(kR, Seq("band", "band_key"))
      .select("a", "b").distinct()
    verified(cands, sL.select(col("id").as("a"), col("ss").as("sa")),
        sR.select(col("id").as("b"), col("ss").as("sb")), threshold)
      .select(col("a").as("left_id"), col("b").as("right_id"),
        round(col("jac"), 6).as("jac"))
  }

  /** SimHash: 16-bit fingerprint; bit i is the sign of the token-weighted
    * sum of bit i of md5(token) (high bit of hex nibble i). Identical
    * duplicates collide; near-duplicates land within small Hamming
    * distance. Portable across engines by construction. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(split(lower(col(textCol)), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val hi = Seq("8", "9", "a", "b", "c", "d", "e", "f")
    val sums = (0 until 16).map { i =>
      sum(when(substring(col("h"), i + 1, 1).isin(hi: _*), 1).otherwise(-1)).as(s"s$i")
    }
    val agg = toks.groupBy("id").agg(sums.head, sums.tail: _*)
    val fp = (0 until 16).map(i =>
      when(col(s"s$i") >= 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("id"), fp.as("simhash"))
  }

  /** Exact Jaccard over all pairs inside explicit small blocks (bounded
    * all-pairs — the block columns cap the quadratic term). */
  def blockedJaccard(docs: DataFrame, idCol: String, textCol: String,
                     blockCols: Seq[String], shingleN: Int = 3,
                     threshold: Double = 0.3): DataFrame = {
    // r20: the block tuple is functionally dependent on the doc id, so
    // it rides THROUGH the shingle distinct instead of being attached by
    // an id-keyed join afterwards — the old `sh ⋈ base` block-attach
    // evaluated once per self-join side (two extra id shuffles plus two
    // base scans in the plan). Same (id, sh) distinct cardinality, one
    // persisted frame feeding all three consumers.
    val toks = docs.select(col(idCol).as("id"),
      struct(blockCols.map(col): _*).as("blk"),
      split(lower(col(textCol)), " ").as("w"))
    val sh = toks.filter(size(col("w")) >= shingleN)
      .select(col("id"), col("blk"), explode(expr(ngrams("w", shingleN))).as("sh"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shingle-first co-occurrence join: only shingles two block-mates share
    // generate rows — never the pairs×shingles cross product
    val inter = sh.select(col("blk"), col("sh"), col("id").as("a"))
      .join(sh.select(col("blk"), col("sh"), col("id").as("b")), Seq("blk", "sh"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_inter"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    inter
      .join(sizes.select(col("id").as("a"), col("n_sh").as("n_a")), "a")
      .join(sizes.select(col("id").as("b"), col("n_sh").as("n_b")), "b")
      .select(col("a"), col("b"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("a").as("a_id"), col("b").as("b_id"), round(col("jac"), 6).as("jac"))
  }

  /** Connected components over an undirected pair list — the canonical
    * final step of fuzzy dedup: near-dup PAIRS (from `minhashNearDups`,
    * `blockedJaccard`, embedding buckets, …) become dedup GROUPS, each
    * labeled by its minimum member id, so a keep-one-representative
    * filter is a single `id === comp` predicate.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond"). Each round rewires the EDGE SET toward a star per
    * component rooted at the component's minimum id: large-star hangs
    * every neighbor LARGER than a node off the minimum of the node's
    * closed neighborhood, small-star does the same for the smaller
    * neighbors. Both operations provably preserve connectivity, the
    * component minimum is a fixpoint, and the alternation converges in
    * O(log n) rounds on ANY graph shape — a path/chain graph (the
    * worst case that forces min-label propagation into O(diameter)
    * rounds) stars up exponentially fast. Each round is one groupBy
    * aggregate + one join, all distributed; the driver sees only
    * per-round scalar counts, never row data. The per-round frame is
    * persisted and the previous round unpersisted, so peak footprint
    * is two edge frames.
    *
    * Converged = one full (large, small) alternation leaves the edge
    * set a fixpoint of BOTH phases (every node's neighborhood already
    * hangs off its minimum); at that point the edges ARE the stars and
    * the labels read off as `min(id, min neighbor)`. Fails loudly
    * (rather than returning a partial labeling) if `maxIter`
    * alternations don't converge.
    *
    * Returns (id, comp): every id that appears in `pairs`, labeled with
    * the minimum id reachable from it — identical labels to min-label
    * propagation (both compute the component minimum), in
    * exponentially fewer rounds on high-diameter graphs. Reference
    * semantics analog: duplicate-cluster grouping in web-scale dedup
    * pipelines (the reference engine has no graph surface; this is the
    * Spark-native completion of its dedup story). */
  /** Diagnostic hook (scale harness / specs only, NOT operator
    * contract): number of (large, small) alternations the most recent
    * [[connectedComponents]] call on this JVM took to converge. */
  private[graft] val lastCcRounds =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 25): DataFrame = {
    // ONE evaluation of the (possibly expensive, unpersisted) pair
    // pipeline: canonicalize straight to (u >= v) and checkpoint.
    // canonical(symmetrized set) == canonical(pairs) — the old
    // symmetrize-then-distinct pass doubled the distinct's input for
    // nothing, and the separate node-set persist + count cost two more
    // jobs; the node set now derives lazily from this same checkpointed
    // base in the final labeling job (r19 optimization: at bench scale
    // the CC loop is job-count-bound — every removed action is wall
    // time). Self-pairs stay in `base` so their nodes surface in the
    // labeling even though the star rounds drop them.
    val base = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .distinct()
      .localCheckpoint(true)

    // one star phase over the SYMMETRIZED current edges: hang each
    // neighbor on `side` of u off m(u) = min of u's CLOSED neighborhood;
    // the small phase also emits u's own (u, m(u)) edge — the paper's
    // Γ⁺ includes u, and dropping it would lose a leaf whose only
    // neighbor is its (smaller) root. Self-loops drop. Emitted edges
    // are kept canonical (child, root: u > v) and distinct — the frame
    // stays one row per undirected edge.
    def phase(sym: DataFrame, large: Boolean): DataFrame = {
      // r20: m(u) rides a WINDOW over the same u-shuffle the old
      // groupBy used, so the hang-off needs no join back (the join
      // re-shuffled both sides — one full edge shuffle per phase
      // deleted). Each row emits its hung edge (when selected) and, in
      // the small phase, its node's own (u, m(u)) edge in ONE
      // projection; the per-row own-edge duplicates collapse in the
      // same distinct that canonicalized edges always needed.
      import org.apache.spark.sql.expressions.Window
      val m = least(col("u"),
        min(col("v")).over(Window.partitionBy("u"))).as("m")
      val withM = sym.select(col("u"), col("v"), m)
      val sel = if (large) col("v") > col("u") else col("v") < col("u")
      val hung = when(sel, struct(greatest(col("v"), col("m")).as("u"),
        least(col("v"), col("m")).as("v")))
      val emitted =
        if (large) array(hung)
        else array(hung,
          struct(col("u"), col("m").as("v"))) // u >= m by construction
      withM
        .select(explode(filter(emitted, e => e.isNotNull)).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def symmetrize(e: DataFrame): DataFrame = e
      .select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // exact symmetric set difference — edge lists are pair-scale
    // (verified near-dup pairs), orders of magnitude below the corpus,
    // so the convergence check is cheap relative to the phases
    def symDiff(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, Seq("u", "v"), "left_anti").unionByName(
        b.join(a, Seq("u", "v"), "left_anti"))

    // canonical initial edge set (child, root) ordered u > v.
    // LINEAGE DISCIPLINE: every round's frame is EAGERLY
    // local-checkpointed, not merely persisted — each phase references
    // its input 2-3 times (min-aggregate join + the small phase's own
    // union) and the convergence diff twice more, so the LOGICAL plan
    // of round r would reference round r-1's plan multiply and grow
    // EXPONENTIALLY; persist caches data but the analyzer/optimizer
    // still walks the full tree every round (measured: the first
    // un-checkpointed variant hung the optimizer before round 10 on a
    // 200-node path). The checkpoint truncates the plan to an RDD scan;
    // edge frames are pair-scale (verified near-dup pairs), so the
    // executor-local blocks are negligible next to the corpus.
    var cur = base.filter(col("u") =!= col("v")) // self-pairs add nothing
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIter) {
      val afterLarge = phase(symmetrize(cur), large = true)
        .localCheckpoint(true)
      val afterSmall = phase(symmetrize(afterLarge), large = false)
        .localCheckpoint(true)
      // BOTH phases' fixpoint checks in ONE job (r19: the old per-diff
      // count() pairs cost four scheduler round-trips per alternation —
      // the dominant cost once the edge list is small; isEmpty stops at
      // the first differing edge instead of counting them all)
      converged = symDiff(cur, afterLarge)
        .unionByName(symDiff(afterLarge, afterSmall)).isEmpty
      if (rounds > 0) cur.unpersist() // round-0 input is the shared base
      afterLarge.unpersist()
      cur = afterSmall
      rounds += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter " +
        "large/small-star alternations — pathological id space; raise " +
        "maxIter deliberately")
    lastCcRounds.set(rounds)
    // at the star fixpoint every edge is (leaf, root): a node's label is
    // the min over its closed neighborhood; contracted-away nodes keep
    // their root via the canonical (u > v) edge they last appeared in.
    // The node set derives from the checkpointed `base` (cheap RDD
    // scan), so isolated/self-pair nodes surface with comp = id.
    val fromEdges = symmetrize(cur)
      .groupBy("u").agg(least(col("u"), min(col("v"))).as("comp"))
      .select(col("u").as("id"), col("comp"))
    val nodes = symmetrize(base).select(col("u").as("id")).distinct()
    val labels = nodes
      .join(fromEdges, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    labels
  }

  // --------------------------------------------------------------------
  // Exact SUBSTRING (duplicated-span) dedup — the distributed
  // approximation of suffix-array substring dedup (Lee et al. 2022,
  // "Deduplicating Training Data Makes Language Models Better"): every
  // k-token window is fingerprinted corpus-wide; a window occurring more
  // than once is a duplicated span, and every occurrence EXCEPT the
  // globally first (lowest (doc, pos)) is marked. Marked spans are then
  // merged per document (overlaps collapse, gaps-and-islands) for
  // counting or stripping. The reference has no such operator; this is
  // the training-pipeline surface the brief asks for beyond SURVEY §2.
  //
  // 100-TB shape: the window explode is O(total tokens) rows carrying a
  // 32-hex hash; ONE corpus-wide shuffle on the hash (the row_number
  // window — same key a groupBy would use); island merging and
  // reassembly are per-DOCUMENT windows (bounded partitions). No
  // all-pairs stage anywhere; skew on the hash key is impossible
  // (md5-uniform) except for a pathological single window duplicated
  // across the whole corpus — which is exactly the span the operator
  // exists to find, and even then the partition holds (id, pos) pairs
  // only, not text.
  // --------------------------------------------------------------------

  /** (id, pos, h): every k-token window's 1-based start + md5
    * fingerprint — the shared front half of the span operators.
    * (Guard: Spark `sequence(1, 0)` DESCENDS rather than returning
    * empty — gate on size.) */
  private[operators] def windowFingerprints(docs: DataFrame, idCol: String,
                                            textCol: String,
                                            k: Int): DataFrame = {
    require(k >= 2, "window size k must be at least 2 tokens")
    docs.select(col(idCol).cast("long").as("id"),
        split(lower(col(textCol)), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("id"),
        explode(expr(s"sequence(1, size(w) - ${k - 1})")).as("pos"),
        col("w"))
      .select(col("id"), col("pos"),
        expr(s"md5(array_join(slice(w, pos, $k), ' '))").as("h"))
  }

  /** Per-doc gaps-and-islands merge of (id, s, e) spans into disjoint
    * intervals (overlaps collapse) — a per-DOCUMENT window, bounded
    * partitions. */
  private[operators] def mergeIslands(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("id").orderBy("s", "e")
    val prevMax = max(col("e")).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    spans.withColumn("pm", prevMax)
      .withColumn("isl", sum(when(col("pm").isNull || col("s") > col("pm"), 1)
        .otherwise(0)).over(byDoc))
      .groupBy("id", "isl")
      .agg(min("s").as("s"), max("e").as("e"))
      .select(col("id"), col("s"), col("e"))
  }

  /** Rebuild each doc of `docs` from the tokens NOT covered by an
    * `islands` interval — (id, text_out), every doc present ('' when
    * fully covered). Islands are disjoint, so the coverage join can't
    * multiply rows; left_anti keeps exactly the uncovered tokens.
    * `broadcastIslands`: callers that KNOW the island set is bounded
    * (span decontamination — intervals only where train text overlaps
    * an eval window) hint the broadcast so the token explosion streams
    * map-side instead of shuffling on doc id; the substring-dedup
    * caller keeps AQE's choice (its islands are corpus-derived and can
    * be corpus-scale). */
  private[operators] def stripBySpans(docs: DataFrame, idCol: String,
                                      textCol: String, islands: DataFrame,
                                      outCol: String,
                                      broadcastIslands: Boolean = false): DataFrame = {
    val ids = docs.select(col(idCol).cast("long").as("id"))
    val toks = docs.select(col(idCol).cast("long").as("id"),
        posexplode(split(lower(col(textCol)), " ")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("tok"))
    val isl = if (broadcastIslands) broadcast(islands) else islands
    val kept = toks.join(isl,
      toks("id") === isl("id") &&
        toks("pos").between(isl("s"), isl("e")),
      "left_anti")
    val rebuilt = kept.groupBy("id")
      .agg(array_join(expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
        " ").as(outCol))
    ids.join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col(outCol), lit("")).as(outCol))
  }

  /** Merged duplicate-span intervals per doc: (id, s, e), 1-based token
    * positions, inclusive; islands are disjoint (overlaps merged).
    * Every occurrence of a window seen >1 times corpus-wide is marked
    * EXCEPT the globally first in (id, pos) order — the keep-first rule
    * at span grain. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = windowFingerprints(docs, idCol, textCol, k)
    // ONE corpus-wide shuffle: rank occurrences of each fingerprint by
    // (id, pos); rank >= 2 == duplicated occurrence (implies count > 1)
    val byHash = Window.partitionBy("h").orderBy("id", "pos")
    val dup = wins.withColumn("rn", row_number().over(byHash))
      .filter(col("rn") >= 2)
      .select(col("id"), col("pos").cast("long").as("s"),
        (col("pos") + (k - 1)).cast("long").as("e"))
    mergeIslands(dup)
  }

  /** Per-document duplicated-token accounting over [[duplicateSpans]]:
    * (id, n_toks, n_dup_toks) — every doc appears, zero when nothing
    * is duplicated. */
  def substringDupStats(docs: DataFrame, idCol: String, textCol: String,
                        k: Int): DataFrame = {
    val lens = docs.select(col(idCol).cast("long").as("id"),
      size(split(lower(col(textCol)), " ")).cast("long").as("n_toks"))
    val dup = duplicateSpans(docs, idCol, textCol, k)
      .groupBy("id").agg(sum(col("e") - col("s") + 1).as("n_dup"))
    lens.join(dup, Seq("id"), "left")
      .select(col("id"), col("n_toks"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_toks"))
  }

  /**
   * Quality-aware representative selection over near-dup groups: label
   * the connected components of `pairs` ([[connectedComponents]]) and
   * keep the BEST-scoring member per group (ties → lowest id) — the
   * collapse step a curation pipeline actually wants instead of
   * keep-lowest-id: among near-duplicates, keep the longest / highest-
   * quality copy. `scores` is (id, score); higher wins. Returns one row
   * per multi-member group: (comp, keep_id, n_members, best_score).
   *
   * Scale shape: CC is the O(diameter)-round label propagation; the
   * ranking is one per-GROUP window (bounded partitions — a group is a
   * near-dup cluster, not the corpus).
   */
  def keepBestPerGroup(pairs: DataFrame, aCol: String, bCol: String,
                       scores: DataFrame, scoreIdCol: String,
                       scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = connectedComponents(pairs, aCol, bCol)
    val sc = scores.select(col(scoreIdCol).cast("long").as("id"),
      col(scoreCol).cast("long").as("score"))
    val w = Window.partitionBy("comp")
      .orderBy(col("score").desc, col("id"))
    labels.join(sc, Seq("id"))
      .withColumn("rn", row_number().over(w))
      .groupBy("comp")
      .agg(max(when(col("rn") === 1, col("id"))).as("keep_id"),
        count(lit(1)).as("n_members"),
        max(col("score")).as("best_score"))
      .select(col("comp"), col("keep_id"), col("n_members"),
        col("best_score"))
  }

  /** Strip duplicated spans: tokens covered by a [[duplicateSpans]]
    * island are dropped, the rest reassemble in order — (id,
    * text_stripped), every doc present ('' when fully duplicated). */
  def stripDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame =
    stripBySpans(docs, idCol, textCol,
      duplicateSpans(docs, idCol, textCol, k), "text_stripped")
}
