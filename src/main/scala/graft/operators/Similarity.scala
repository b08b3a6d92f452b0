package graft.operators

import scala.jdk.CollectionConverters._

import graft.functions.{PqEncode, PqLut, VecDot}
import org.apache.spark.sql.{Column, DataFrame, GraftShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 *  - Brute-force cosine top-k: broadcast the (small) query set against the
 *    full corpus — one pass, no shuffle of the big side; the per-pair dot
 *    product is a sequential `aggregate` fold over the array, which keeps
 *    the reduction order deterministic (bit-identical across engines).
 *  - Sign-LSH bucketed ANN: bucket on the sign pattern of the leading
 *    dimensions (an axis-aligned random-hyperplane family); candidates are
 *    generated only within a query's bucket, then refined exactly. At
 *    100 TB the bucket join shuffles each side once on an 8-bit key — the
 *    brute-force path stays as the small-query-set tool, the LSH path is
 *    the scale path (more planes ⇒ smaller buckets).
 */
object Similarity {

  /** Native codegen dot product (see [[graft.functions.VecDot]]) — built
    * directly as a Catalyst expression, so operators work on any session
    * without the function-registry parity layer. */
  private def vdot(a: Column, b: Column): Column =
    GraftShim.column(VecDot(GraftShim.expression(a), GraftShim.expression(b)))

  /** Native exact-integer folds over BIGINT micro-vectors (see
    * [[graft.functions.LongVecFold]]) — same NULL/length semantics as
    * the `aggregate(zip_with(...))` forms they replace. */
  private def vdotLong(a: Column, b: Column): Column =
    GraftShim.column(graft.functions.VecDotLong(
      GraftShim.expression(a), GraftShim.expression(b)))

  private def vl2Long(a: Column, b: Column): Column =
    GraftShim.column(graft.functions.VecL2Long(
      GraftShim.expression(a), GraftShim.expression(b)))

  /** (id, v: array<double>, norm2) projection of an embeddings table. */
  private def prep(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"),
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm2", vdot(col("v"), col("v")))

  private def dotExpr = vdot(col("qv"), col("v"))

  /** Exact cosine top-k of each query id against the whole corpus. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val all = prep(emb, idCol, vecCol)
    val q = all.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"), col("norm2").as("qnorm2"))
    val scored = broadcast(q).join(all, col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        (dotExpr / (sqrt(col("qnorm2")) * sqrt(col("norm2")))).as("cos"))
    topK(scored, k)
  }

  /** Sign-LSH bucket id over the first `planes` dimensions. */
  private def bucketExpr(planes: Int) =
    (0 until planes).map(i =>
      when(element_at(col("v"), i + 1) >= 0, lit(1 << i)).otherwise(lit(0)))
      .reduce(_ + _)

  /** ANN: candidates restricted to the query's sign-LSH bucket, refined by
    * exact cosine. Trades recall for a bucket-local join. */
  def annSignLsh(emb: DataFrame, idCol: String, vecCol: String,
                 queryPred: org.apache.spark.sql.Column, k: Int,
                 planes: Int = 8): DataFrame = {
    val all = prep(emb, idCol, vecCol).withColumn("bkt", bucketExpr(planes))
    val q = all.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"),
        col("norm2").as("qnorm2"), col("bkt"))
    val scored = broadcast(q).join(all, Seq("bkt"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        (dotExpr / (sqrt(col("qnorm2")) * sqrt(col("norm2")))).as("cos"))
    topK(scored, k)
  }

  /**
   * Deterministic IVF codebook: the corpus vectors with the `nCells`
   * smallest ids act as seed centroids (the init step of k-means||,
   * without the iterative refinement — fully SQL-expressible, so the
   * whole IVF path is oracle-checkable). Output: (cell, cv, cnorm2).
   * Production builds this ONCE, persists it, and passes it to
   * `ivfTopK` — the index build is out of the per-query path.
   */
  def buildIvfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                        nCells: Int): DataFrame =
    // norm2 > 0: an all-zero seed would make every cell score 0/0 (NaN),
    // and Spark vs DuckDB NaN ordering diverges — zero vectors can't be
    // centroids (mirrored in the embed_ivf_topk oracle CTE).
    prep(emb, idCol, vecCol).filter(col("norm2") > 0).orderBy("id")
      .limit(nCells)
      .select(col("id").as("cell"), col("v").as("cv"),
        col("norm2").as("cnorm2"))

  /** Cell assignment entirely map-side: the centroid table is collapsed
    * to ONE row holding an array of (cell, cv, cnorm2) structs, broadcast,
    * and each corpus row computes its argmax-cosine cell with a single
    * fold over that array — no shuffle, no `corpus × nCells` explosion.
    * Ties break to the lowest cell id (strict `>` against the ascending
    * sort_array order). */
  private def assignCells(all: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = centroids.agg(
      sort_array(collect_list(struct(col("cell"), col("cv"), col("cnorm2"))))
        .as("cents"))
    val scoredCells = transform(col("cents"), c => struct(
      c.getField("cell").as("cell"),
      (vdot(col("v"), c.getField("cv")) / sqrt(c.getField("cnorm2")))
        .as("score")))
    val best = aggregate(
      scoredCells,
      struct(lit(-1L).as("cell"), lit(Double.NegativeInfinity).as("score")),
      (acc, s) => when(s.getField("score") > acc.getField("score"), s)
        .otherwise(acc))
    all.crossJoin(broadcast(centArr))
      .withColumn("cell", best.getField("cell"))
      .drop("cents")
  }

  /** Query-side multi-probe assignment: each row gets its `nprobe`
    * highest-scoring cells (score desc, ties to the lowest cell — the
    * nprobe=1 slice is exactly [[assignCells]]' argmax). Same map-side
    * shape: one broadcast centroid array, sort + slice + explode per row.
    * Output grain: one row per (input row, probed cell). */
  private def assignQueryCells(rows: DataFrame, centroids: DataFrame,
                               nprobe: Int): DataFrame = {
    require(nprobe > 0, s"nprobe must be positive, got $nprobe")
    val centArr = centroids.agg(
      sort_array(collect_list(struct(col("cell"), col("cv"), col("cnorm2"))))
        .as("cents"))
    // negated score first so ascending sort_array = score desc, cell asc
    val scoredCells = transform(col("cents"), c => struct(
      (-(vdot(col("v"), c.getField("cv")) / sqrt(c.getField("cnorm2"))))
        .as("negscore"),
      c.getField("cell").as("cell")))
    rows.crossJoin(broadcast(centArr))
      .withColumn("__probe", explode(slice(sort_array(scoredCells), 1, nprobe)))
      .withColumn("cell", col("__probe.cell"))
      .drop("cents", "__probe")
  }

  /**
   * IVF (inverted-file) ANN over a PREBUILT centroid table: each corpus
   * row is assigned to its nearest cell (map-side, see `assignCells`),
   * each query probes its `nprobe` nearest cells, candidates are refined
   * by exact cosine. Search is one hash-partitioned join on the cell id — the same
   * scale shape as the sign-LSH path but with a data-adaptive partitioning
   * (tighter cells ⇒ better recall per probe).
   */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: org.apache.spark.sql.Column, k: Int,
              centroids: DataFrame, nprobe: Int = 1): DataFrame = {
    val all = prep(emb, idCol, vecCol)
    val assigned = assignCells(all, centroids)
    // a corpus row lives in exactly ONE cell, and a query's probed cells
    // are distinct — so no candidate ever appears twice (no dedup pass)
    val q = assignQueryCells(all.filter(queryPred), centroids, nprobe)
      .select(col("id").as("qid"), col("v").as("qv"),
        col("norm2").as("qnorm2"), col("cell"))
    val scored = broadcast(q).join(assigned, Seq("cell"))
      .filter(col("qid") =!= col("id"))
      .select(col("qid"), col("id").as("nid"),
        (dotExpr / (sqrt(col("qnorm2")) * sqrt(col("norm2")))).as("cos"))
    topK(scored, k)
  }

  /**
   * Distributed Lloyd k-means codebook TRAINER — upgrades the seed-scan
   * codebook ([[buildIvfCentroids]]) to a data-adaptive one, the index
   * build step a production IVF runs offline.
   *
   * Engineered for exact cross-engine replay (the repo's integer idiom):
   * vectors are quantized to integer MICRO-units
   * (`round(x * 1e6) as BIGINT`), so every distance is an exact BIGINT
   * (order-independent — no float summation-order divergence), seeds are
   * the k vectors with the smallest `md5(id)` (portable hash, no RNG),
   * ties break to the lowest cell, and centroid updates use truncating
   * integer division (Scala `/` == DuckDB `//`). Every iteration is:
   * map-side assignment against a BROADCAST centroid array (one fold per
   * row — no corpus×k join), then one (cell, dim)-grain aggregation whose
   * k×d result is collected to the driver (tiny by construction — this is
   * the standard iterative-ML driver loop, aggregates only, never rows).
   *
   * Returns one row per non-empty cell of the final assignment:
   * (cell, n_vecs, sum_ids, centroid_l1).
   */
  def kmeansCodebook(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.{Row, types => T}
    val spark = emb.sparkSession
    val (cents, stats) = trainKmeans(emb, idCol, vecCol, k, iters)
    // stats were collected DURING the final iteration (k aggregate rows),
    // so no distributed job re-runs when the caller materializes this
    val rows = stats.toSeq.sortBy(_._1).map { case (cell, (n, sumIds)) =>
      Row(cell, n, sumIds, cents(cell.toInt).map(math.abs).sum)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      T.StructType(Seq(
        T.StructField("cell", T.LongType, nullable = false),
        T.StructField("n_vecs", T.LongType, nullable = false),
        T.StructField("sum_ids", T.LongType, nullable = false),
        T.StructField("centroid_l1", T.LongType, nullable = false))))
  }

  /** Bridge a TRAINED codebook into the IVF search path: the final
    * centroids in the (cell, cv, cnorm2) shape [[ivfTopK]] consumes
    * (micro-units scaled back — exact, /1e6 on integers). Zero-norm
    * centroids are dropped (same NaN guard as the seed builder). */
  def kmeansCentroidTable(emb: DataFrame, idCol: String, vecCol: String,
                          k: Int, iters: Int): DataFrame = {
    import org.apache.spark.sql.{Row, types => T}
    val spark = emb.sparkSession
    val (cents, _) = trainKmeans(emb, idCol, vecCol, k, iters)
    val rows = cents.zipWithIndex.collect {
      case (cv, i) if cv.exists(_ != 0L) =>
        val v = cv.map(_.toDouble / 1e6)
        Row(i.toLong, v, v.map(x => x * x).sum)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      T.StructType(Seq(
        T.StructField("cell", T.LongType, nullable = false),
        T.StructField("cv", T.ArrayType(T.DoubleType, containsNull = false), nullable = false),
        T.StructField("cnorm2", T.DoubleType, nullable = false))))
  }

  /** [[kmeansCodebook]] and [[kmeansCentroidTable]]'s training: `iters`
    * Lloyd rounds from the md5 seed codebook. */
  private def trainKmeans(emb: DataFrame, idCol: String, vecCol: String,
                          k: Int, iters: Int)
      : (IndexedSeq[IndexedSeq[Long]], Map[Long, (Long, Long)]) = {
    require(k > 0 && iters > 0)
    val q = microVecs(emb, idCol, vecCol)
    lloyd(q, md5Seeds(q, k), iters)
  }

  /** Micro-quantization of an `array<float>` column: each element as
    * `round(x * 1e6)` BIGINT — the exact-integer unit every quantized
    * distance in this object is computed in. */
  private def micro(vecCol: String): Column =
    expr(s"transform($vecCol, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")

  /** (id, qv): BIGINT ids beside the micro-quantized vectors. */
  private def microVecs(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("id"), micro(vecCol).as("qv"))

  /** The `k` vectors of an (id, qv) frame with the smallest `md5(id)`
    * (ties to the lower id), in that order — the deterministic seed set
    * of every codebook here (portable hash, no RNG), in one collect. */
  private def md5Seeds(q: DataFrame, k: Int): IndexedSeq[IndexedSeq[Long]] = {
    val seeds = q.withColumn("h", md5(col("id").cast("string")))
      .orderBy("h", "id").limit(k)
      .select("qv").collect().map(_.getSeq[Long](0).toIndexedSeq).toIndexedSeq
    require(seeds.size == k, s"corpus smaller than k=$k")
    seeds
  }

  /** `iters` Lloyd rounds over an (id, qv) frame from the `init`
    * centroids (none when `iters = 0`): returns the final centroids plus
    * the final round's per-cell (n_vecs, sum_ids) — collected inside the
    * loop while the input is still cached, so callers never re-run the
    * assignment after the cache is dropped. */
  private def lloyd(q: DataFrame, init: IndexedSeq[IndexedSeq[Long]], iters: Int)
      : (IndexedSeq[IndexedSeq[Long]], Map[Long, (Long, Long)]) = {
    if (iters == 0) (init, Map.empty)
    else try {
      q.persist(StorageLevel.MEMORY_AND_DISK)
      var cents = init
      var stats: Map[Long, (Long, Long)] = Map.empty
      for (_ <- 1 to iters) {
        val assigned = assignKmeansCells(q, cents)
        val sums: Map[(Long, Int), Long] = assigned
          .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
          .groupBy("cell", "pos").agg(sum("v").as("s"))
          .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
        stats = assigned.groupBy("cell")
          .agg(count(lit(1)).as("n"), sum("id").as("sum_ids")).collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        cents = cents.zipWithIndex.map { case (old, i) =>
          stats.get(i.toLong) match {
            // truncating integer division — matches the oracle's `//`
            case Some((n, _)) => old.indices.map(p => sums((i.toLong, p)) / n)
            case None         => old // empty cell keeps its centroid
          }
        }
      }
      (cents, stats)
    } finally q.unpersist()
  }

  /** One seed-centroid assignment pass, for plan inspection in tests —
    * the kmeansCodebook OUTPUT plan is a LocalTableScan (stats are
    * collected during training), so the scale-shape pin must look at the
    * per-iteration assignment job this returns. */
  private[graft] def kmeansAssignmentForPlan(emb: DataFrame, idCol: String,
                                             vecCol: String, k: Int): DataFrame = {
    val q = microVecs(emb, idCol, vecCol)
    assignKmeansCells(q, md5Seeds(q, k))
  }

  /** Map-side nearest-centroid assignment over quantized vectors: the
    * exact BIGINT L2 argmin (ties to the lowest cell) as ONE native
    * expression over the centroid table held as a flat literal —
    * [[graft.functions.PqEncode]] with a single subspace. r20: the old
    * broadcast-struct-array HOF fold evaluated interpreted
    * (corpus × k × d closure calls — the dominant per-row cost of
    * semantic dedup and every Lloyd iteration); `strict` keeps the exact
    * zip_with degenerate-length semantics, so results are bit-identical.
    * Pure projection — no centroid join in the plan at all. */
  private def assignKmeansCells(q: DataFrame,
                                cents: IndexedSeq[IndexedSeq[Long]]): DataFrame = {
    val d = cents.head.size
    require(cents.forall(_.size == d), "ragged centroid table")
    val flat = new Array[Long](cents.size * d)
    for (c <- cents.indices; i <- 0 until d) flat(c * d + i) = cents(c)(i)
    q.withColumn("cell", element_at(
      GraftShim.column(PqEncode(
        GraftShim.expression(col("qv")), flat, 1, d, cents.size,
        strict = true)), 1))
  }

  /** SemDeDup-style SEMANTIC deduplication (cluster-then-prune, after
    * the published SemDeDup recipe): assign every embedding to a
    * k-means cell — the exact-integer idiom shared with
    * [[kmeansCodebook]], so the whole path replays in SQL — then,
    * WITHIN each cell only, mark an item as a semantic duplicate when
    * its cosine similarity to ANY smaller-id item of the same cell
    * reaches `threshold` (keep-lowest-id). Scale shape: the assignment
    * is one map-side pass against broadcast centroids; the pair check
    * is ONE self-join shuffled on the cell key, so pairwise work is
    * bounded by the largest cell — never corpus-all-pairs — and grows
    * linearly with corpus size at fixed k-proportional cell sizes.
    * `iters = 0` assigns against the deterministic md5-seed codebook
    * with no Lloyd updates (fully SQL-replayable at any k);
    * `iters > 0` trains first. Zero-norm vectors are never duplicates
    * (cosine undefined). Returns (id, cell, dropped) — callers filter
    * `!dropped` for the surviving corpus. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int, iters: Int, threshold: Double): DataFrame = {
    require(k > 0 && iters >= 0)
    val q = microVecs(emb, idCol, vecCol)
    val cents = lloyd(q, md5Seeds(q, k), iters)._1
    // persist the assignment: BOTH sides of the in-cell self-join (and
    // the final flag projection) reference it — without the persist each
    // reference re-runs the assignment pass (the unionByName
    // double-compute lesson, generalized)
    val assigned = assignKmeansCells(q, cents)
      .withColumn("n2", vdotLong(col("qv"), col("qv")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col("cell").as("a_cell"), col("id").as("a_id"),
      col("qv").as("a_qv"), col("n2").as("a_n2"))
    val b = assigned.select(col("cell").as("b_cell"), col("id").as("b_id"),
      col("qv").as("b_qv"), col("n2").as("b_n2"))
    // exact BIGINT dot over the quantized vectors (native codegen fold,
    // r20 — the zip_with form ran interpreted per candidate pair); the
    // cosine itself is double, but both engines derive it from identical
    // integers so the threshold compare is bit-stable cross-engine
    val cos = vdotLong(col("a_qv"), col("b_qv")).cast("double") /
      (sqrt(col("a_n2").cast("double")) * sqrt(col("b_n2").cast("double")))
    val dropIds = a.join(b,
        col("a_cell") === col("b_cell") && col("a_id") < col("b_id") &&
          col("a_n2") > 0L && col("b_n2") > 0L && cos >= threshold,
        "inner")
      .select(col("b_id").as("id")).distinct()
      .withColumn("__gf_dup", lit(1))
    assigned.select("id", "cell")
      .join(dropIds, Seq("id"), "left")
      .select(col("id"), col("cell"), col("__gf_dup").isNotNull.as("dropped"))
  }

  /** Convenience: build the deterministic seed codebook inline (cheap,
    * non-iterative — a top-`nCells` scan, not a KMeans fit). */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: org.apache.spark.sql.Column, k: Int,
              nCells: Int): DataFrame =
    ivfTopK(emb, idCol, vecCol, queryPred, k,
      buildIvfCentroids(emb, idCol, vecCol, nCells))

  /** The `k` first rows per `qid` of a (qid, nid, score) frame under
    * `order`, ties to the lowest `nid` — the selection every top-k search
    * here ends in, and so the one place `k` is checked. */
  private def firstK(scored: DataFrame, k: Int, order: Column): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy("qid").orderBy(order, col("nid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Cosine top-k, `cos` rounded to 4 places. */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    firstK(scored, k, col("cos").desc)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"))

  /** Embedding-cosine near-duplicate detection: candidate pairs are
    * generated ONLY within sign-LSH buckets (both sides shuffle once on
    * the bucket key — no all-pairs), refined by exact cosine, and the
    * global top-N most-similar pairs are reported. For a dedup sweep the
    * caller filters `cos >= threshold` instead of taking top-N. */
  def bucketNearPairs(emb: DataFrame, idCol: String, vecCol: String,
                      planes: Int, topN: Int): DataFrame = {
    val all = prep(emb, idCol, vecCol).withColumn("bkt", bucketExpr(planes))
    val a = all.select(col("bkt"), col("id").as("a_id"), col("v").as("qv"),
      col("norm2").as("qnorm2"))
    val b = all.select(col("bkt"), col("id").as("b_id"), col("v"),
      col("norm2"))
    val scored = a.join(b, Seq("bkt")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (dotExpr / (sqrt(col("qnorm2")) * sqrt(col("norm2")))).as("cos"))
    // Global top-N as orderBy+limit: Spark plans TakeOrderedAndProject
    // (per-partition top-N, driver merge of N×partitions rows) — NOT a
    // single-partition window funnel. Plan-asserted in ScaleSpec.
    scored.orderBy(col("cos").desc, col("a_id"), col("b_id")).limit(topN)
      .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cos"))
  }

  /** Cost side of the IVF recall/cost tradeoff: the mean number of
    * candidates a single-probe query scans (same-cell corpus rows,
    * excluding self). Read together with [[recallAtK]] — a codebook with
    * degenerate giant cells posts high recall only because each probe
    * re-scans most of the corpus. */
  def ivfCandidateStats(emb: DataFrame, idCol: String, vecCol: String,
                        queryPred: org.apache.spark.sql.Column,
                        centroids: DataFrame, nprobe: Int = 1): DataFrame = {
    val all = prep(emb, idCol, vecCol)
    val assigned = assignCells(all, centroids)
    val cellSizes = assigned.groupBy("cell").agg(count(lit(1)).as("n_cell"))
    // per query: total corpus rows across its probed cells, minus self
    // (the query's own cell is always among its probes)
    assignQueryCells(all.filter(queryPred), centroids, nprobe)
      .join(cellSizes, Seq("cell"))
      .groupBy("id").agg((sum("n_cell") - 1).as("cand"))
      .agg(round(avg(col("cand").cast("double")), 6).as("avg_candidates"))
  }

  // ---- quantized search (PQ, SQ8, BQ, Matryoshka prefix) ---------------

  /** A quantized index over an (id, v) frame, `v` the raw vector: `code`
    * is the corpus-side encoding, `query` the query-side form, and
    * `dist(query, code)` the exact BIGINT distance between them
    * (ascending = nearer), output as `distName`. Every quantized search
    * is one of three shapes over this value — the broadcast-join top-k
    * ([[quantizedTopK]]), the broadcast-fold enrich ([[quantizedEnrich]])
    * and the exact re-rank of a top-k shortlist ([[exactRerank]]) — so
    * the join, fold and ordering rules exist once, whatever the
    * quantizer. */
  private final case class Quantized(code: Column, query: Column,
                                     dist: (Column, Column) => Column,
                                     distName: String)

  /** (id, v): the input frame of every quantized search. */
  private def rawVecs(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))

  /** Broadcast-join top-k over a quantized index: the queries
    * (`queryPred` over the (id, v) frame) broadcast against the encoded
    * corpus, which streams through — no shuffle of the big side. With
    * `cells` = (corpus (id, cell), query (qid, cell) probes) the join is
    * restricted to candidates in a probed cell: the (queries × nprobe)
    * rows broadcast and the corpus streams through one hash join on the
    * cell key (an item matches at most once — it lives in one cell).
    * Self-matches are excluded. Returns (qid, nid, distName), the `k`
    * nearest per query. */
  private def quantizedTopK(vecs: DataFrame, queryPred: Column, k: Int,
                            ix: Quantized,
                            cells: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val encoded = vecs.select(col("id"), ix.code.as("code"))
    val queries = vecs.filter(queryPred)
      .select(col("id").as("qid"), ix.query.as("qcode"))
    val pairs = cells match {
      case None => broadcast(queries).join(encoded, col("qid") =!= col("id"))
      case Some((corpusCells, probes)) =>
        encoded.join(corpusCells, Seq("id"))
          .join(broadcast(queries.join(probes, Seq("qid"))), Seq("cell"))
          .filter(col("qid") =!= col("id"))
    }
    firstK(pairs.select(col("qid"), col("id").as("nid"),
      ix.dist(col("qcode"), col("code")).as(ix.distName)), k, col(ix.distName))
  }

  /** Quantized top-k as a STREAM-SAFE enrichment: the corpus is encoded
    * once and its (id, code) rows are collapsed into ONE broadcast
    * array; each incoming query row computes its query side and folds
    * the array to its top-k map-side. No shuffle, no window, no stateful
    * op — pure projections over a broadcast, so the SAME operator runs on
    * a batch frame or an append-mode stream (the serving-path shape:
    * index in RAM, queries arriving). The (distance, nid) struct order
    * makes `sort_array` rank exactly like [[quantizedTopK]], and the
    * arithmetic is the same, so results are bit-equal. Scale note: one
    * executor holds every code; past RAM, shard the corpus into several
    * broadcast arrays and merge the per-shard top-k (same fold). */
  private def quantizedEnrich(queries: DataFrame, corpus: DataFrame, k: Int,
                              ix: Quantized): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val index = corpus.select(struct(col("id"), ix.code.as("code")).as("e"))
      .agg(sort_array(collect_list(col("e"))).as("corpus"))
    val scored = transform(col("corpus"), c => struct(
      ix.dist(col("qcode"), c.getField("code")).as(ix.distName),
      c.getField("id").as("nid")))
    val kept = filter(scored, s => s.getField("nid") =!= col("qid"))
    queries.select(col("id").as("qid"), ix.query.as("qcode"))
      .crossJoin(broadcast(index))
      .withColumn("__top", slice(sort_array(kept), 1, k))
      .select(col("qid"), posexplode(col("__top")).as(Seq("__rank", "s")))
      .select(col("qid"), col("s").getField("nid").as("nid"),
        col("s").getField(ix.distName).as(ix.distName))
  }

  /** The exact second stage every two-stage search shares: fetch ONLY
    * the shortlisted rows' full vectors and score them exactly (squared
    * L2 over the micro-quantized vectors — replayable BIGINTs). Returns
    * (qid, nid, d2), the `k` nearest per query. */
  private def exactRerank(emb: DataFrame, idCol: String, vecCol: String,
                          queryPred: org.apache.spark.sql.Column, k: Int,
                          shortWithScores: DataFrame): DataFrame = {
    val short = shortWithScores.select("qid", "nid")
    val q = microVecs(emb, idCol, vecCol)
    val queries = q.filter(queryPred)
      .select(col("id").as("qid"), col("qv").as("qqv"))
    val corpus = q.select(col("id").as("nid"), col("qv").as("nv"))
    // (queries × shortlist) rows — tiny; broadcast against the corpus
    val withQ = short.join(broadcast(queries), Seq("qid"))
    firstK(corpus.join(broadcast(withQ), Seq("nid"))
      .select(col("qid"), col("nid"),
        vl2Long(col("qqv"), col("nv")).as("d2")), k, col("d2"))
  }

  /** Per-subspace PQ codebooks (`cbs(j)(c)` = codeword c of subspace j)
    * over an (id, qv) frame: the `ksub` lowest-md5(id) vectors, collected
    * once and sliced into `m` subspaces (one seed set shared by every
    * subspace), then `iters` Lloyd rounds per subspace over the corpus
    * SUBVECTORS, so each subquantizer adapts to its own marginal
    * distribution — 2·m·iters aggregate-only jobs, never rows to the
    * driver. */
  private def pqCodebooks(q: DataFrame, m: Int, ksub: Int,
                          iters: Int): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    require(m > 0 && ksub > 0 && iters >= 0)
    val seeds = md5Seeds(q, ksub)
    // the dimension comes off the seed rows: no separate probe job
    val d = seeds.head.size
    require(d % m == 0, s"dimension $d not divisible by m=$m subspaces")
    val ds = d / m
    (0 until m).map { j =>
      val sub = q.select(col("id"), slice(col("qv"), j * ds + 1, ds).as("qv"))
      lloyd(sub, seeds.map(_.slice(j * ds, j * ds + ds)), iters)._1
    }
  }

  /** PQ index: `code` = m codes per vector (the native
    * [[graft.functions.PqEncode]], per-subspace argmin, ties to the
    * lowest index), `query` = the flattened m·ksub per-query LUT (the
    * native [[graft.functions.PqLut]]), distance = Σ_j lut[j·ksub +
    * code_j + 1] — m lookups per candidate instead of a d-dim dot. The
    * codebooks ride inside both expressions as one flat long[]
    * (`cb((j*ksub + c)*ds + i)`), shipped once per task. */
  private def pqIndex(vecs: DataFrame, m: Int, ksub: Int, iters: Int): Quantized = {
    val cbs = pqCodebooks(microVecs(vecs, "id", "v"), m, ksub, iters)
    val ds = cbs.head.head.size
    val flat = new Array[Long](m * ksub * ds)
    for (j <- 0 until m; c <- 0 until ksub; i <- 0 until ds)
      flat((j * ksub + c) * ds + i) = cbs(j)(c)(i)
    val qv = GraftShim.expression(micro("v"))
    Quantized(
      code = GraftShim.column(PqEncode(qv, flat, m, ds, ksub)),
      query = GraftShim.column(PqLut(qv, flat, m, ds, ksub)),
      dist = (lut, codes) => (0 until m)
        .map(j => element_at(lut,
          element_at(codes, j + 1).cast("int") + lit(j * ksub + 1)))
        .reduce(_ + _),
      distName = "adist")
  }

  /**
   * Product-quantization ADC search (after Jégou et al.'s PQ recipe):
   * vectors split into `m` subspaces; each subspace gets a `ksub`-entry
   * codebook; the corpus is ENCODED to m small codes per vector —
   * `m·log2(ksub)` bits instead of `d` floats, the memory lever that
   * keeps a 100 TB embedding corpus's index RAM-resident — and a query
   * scores a vector by summing per-subspace distances looked up in its
   * per-query table (asymmetric distance computation: the query side
   * stays exact, only the corpus side is quantized).
   *
   * Exact-integer engineering (the repo's replay idiom): micro-quantized
   * BIGINT vectors, codebooks seeded from the `ksub` lowest-md5(id)
   * corpus vectors (shared seed set across subspaces; no RNG), strict
   * `<` folds so code ties take the lowest index, BIGINT squared-L2
   * everywhere — the whole path replays bit-identically in SQL.
   * `iters = 0` keeps those seed codebooks (one collect job); `iters > 0`
   * TRAINS them first — that many Lloyd rounds per subspace, the real PQ
   * index build ([[pqCodebooks]]).
   *
   * Scale shape: encoding is ONE map-side projection against broadcast
   * codebook literals (no join); the search is the brute-ADC form —
   * queries broadcast against the encoded corpus, each pair costing m
   * array lookups instead of a d-dim dot. The production composition
   * IVF-then-PQ is [[ivfPqTopK]].
   *
   * Returns (qid, nid, adist) — approximate squared L2 in micro²-units,
   * ascending = most similar — for the top `k` per query.
   */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: org.apache.spark.sql.Column, k: Int,
             m: Int, ksub: Int, iters: Int = 0): DataFrame = {
    val vecs = rawVecs(emb, idCol, vecCol)
    quantizedTopK(vecs, queryPred, k, pqIndex(vecs, m, ksub, iters))
  }

  /**
   * IVF + PQ — the production composition for web-scale ANN: a coarse
   * IVF quantizer restricts each query to its `nprobe` most-promising
   * cells (candidate REDUCTION — the corpus side shuffles once on the
   * cell key at index-build time and a probe touches `nprobe/nCells` of
   * the data), and WITHIN those cells scoring is PQ-ADC over the
   * compressed codes (memory reduction — candidates cost m lookups, no
   * full vector is fetched). This is the FAISS `IVFx,PQy` shape. By
   * default both stages are the deterministic seed-codebook forms, so the
   * whole path replays in SQL; `iters > 0` trains the PQ codebooks (as in
   * [[pqTopK]]) and `coarseIters > 0` trains the coarse codebook too
   * ([[kmeansCentroidTable]] — the `IVFx(trained),PQy(trained)` build):
   * tighter cells raise recall per probe, at the cost of `coarseIters`
   * extra aggregate-only training passes at index-build time. Returns
   * (qid, nid, adist), top `k` per query.
   */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryPred: org.apache.spark.sql.Column, k: Int,
                nCells: Int, nprobe: Int, m: Int, ksub: Int,
                iters: Int = 0, coarseIters: Int = 0): DataFrame = {
    require(coarseIters >= 0, "coarseIters must be non-negative")
    val all = prep(emb, idCol, vecCol)
    val cents =
      if (coarseIters == 0) buildIvfCentroids(emb, idCol, vecCol, nCells)
      else kmeansCentroidTable(emb, idCol, vecCol, nCells, coarseIters)
    val vecs = rawVecs(emb, idCol, vecCol)
    quantizedTopK(vecs, queryPred, k, pqIndex(vecs, m, ksub, iters),
      Some((assignCells(all, cents).select(col("id"), col("cell")),
        assignQueryCells(all.filter(queryPred), cents, nprobe)
          .select(col("id").as("qid"), col("cell")))))
  }

  /**
   * PQ search with EXACT RE-RANK — the production two-stage shape: the
   * quantized index shortlists `shortlist` candidates per query by ADC
   * (cheap, RAM-resident codes), then ONLY those rows' full vectors are
   * fetched and re-scored exactly; quantization error affects which
   * rows make the shortlist, never the final ordering. At 100 TB the
   * full-vector fetch touches `queries × shortlist` rows instead of the
   * corpus — the re-rank side broadcasts while the corpus streams
   * through one hash join. Distances are exact squared L2 over the
   * micro-quantized vectors (BIGINT — replayable). `iters` trains the
   * shortlist stage's codebooks as in [[pqTopK]].
   *
   * Returns (qid, nid, d2) for the top `k` per query, ascending d2.
   */
  def pqRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
                   queryPred: org.apache.spark.sql.Column, k: Int,
                   m: Int, ksub: Int, shortlist: Int,
                   iters: Int = 0): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    exactRerank(emb, idCol, vecCol, queryPred, k,
      pqTopK(emb, idCol, vecCol, queryPred, shortlist, m, ksub, iters))
  }

  /**
   * PQ ANN as a STREAM-SAFE enrichment ([[quantizedEnrich]]): the
   * corpus is PQ-encoded once — m small codes per vector, the
   * RAM-resident form — and each query row folds the broadcast code
   * array to its top-k. 16 bytes/vector means ~60 GB per billion
   * vectors on one executor. Bit-equal to [[pqTopK]] with the same
   * `iters` (train + encode once from the corpus, fold per query row).
   */
  def pqAnnEnrich(queries: DataFrame, idCol: String, vecCol: String,
                  corpus: DataFrame, corpusIdCol: String,
                  corpusVecCol: String, k: Int, m: Int,
                  ksub: Int, iters: Int = 0): DataFrame = {
    val cv = rawVecs(corpus, corpusIdCol, corpusVecCol)
    quantizedEnrich(rawVecs(queries, idCol, vecCol), cv, k,
      pqIndex(cv, m, ksub, iters))
  }

  /** SQ8 index: per-dimension corpus [min, max] bounds from ONE
    * aggregate (the whole "training"), then two projections of the
    * micro-vector — `code`, the reconstructed candidate in (micro·255)
    * units: `code·rng` where `code = ((x-mn)·255) div rng`, the pmod
    * exact-integer idiom (operands non-negative so truncation == floor,
    * the double division exact at ≤ ~5e8 « 2^53), and `query`, the exact
    * query side `(x-mn)·255`. Distance = Σ (query - code)². */
  private def sq8Index(vecs: DataFrame): Quantized = {
    val d = vecs.select(size(col("v")).as("d")).head.getInt(0)
    val boundsRow = microVecs(vecs, "id", "v").select((0 until d).flatMap(i => Seq(
      min(element_at(col("qv"), i + 1)).as(s"mn$i"),
      max(element_at(col("qv"), i + 1)).as(s"mx$i"))): _*).head
    val mn: IndexedSeq[Long] = (0 until d).map(i => boundsRow.getLong(2 * i))
    val rng: IndexedSeq[Long] =
      (0 until d).map(i => boundsRow.getLong(2 * i + 1) - boundsRow.getLong(2 * i))
    val mnLit = typedLit(mn)
    val rngLit = typedLit(rng)
    val qadj = zip_with(micro("v"), mnLit, (x, m) => (x - m) * lit(255L))
    val codes = zip_with(qadj, rngLit,
      (s, r) => when(r === 0L, lit(0L))
        .otherwise(((s - pmod(s, r)) / r).cast("long")))
    Quantized(code = zip_with(codes, rngLit, (c, r) => c * r), query = qadj,
      dist = vl2Long, distName = "adist")
  }

  /**
   * SQ8 scalar-quantized ANN — the FAISS `ScalarQuantizer(QT_8bit)`
   * shape and the cheapest compressed index: each dimension is affinely
   * quantized to an 8-bit code against per-dimension corpus [min, max]
   * bounds. Training is ONE map-side-combined aggregate collecting 2·d
   * longs (vs PQ's Lloyd loop); the index is 1 byte/dimension (4×
   * smaller than float32). Scoring is asymmetric like PQ-ADC: the query
   * keeps its exact micro-quantized vector and each candidate is
   * reconstructed from its codes — all arithmetic stays in exact
   * integers (units of micro·255: `code = ((x-mn)·255) div rng`,
   * `dist = Σ ((x_q-mn)·255 - code·rng)²`), so the whole pipeline
   * replays bit-for-bit in SQL. Degenerate dimensions (mx == mn) code
   * to 0 and reconstruct exactly.
   *
   * 100-TB shape: bounds agg → 2·d longs on the driver → broadcast
   * literals; encoding is a shuffle-free per-row projection; queries
   * broadcast against the streamed coded corpus (same join shape as
   * [[pqTopK]]). Overflow bound: |micro·255| ≤ 2.6e8 for unit-scale
   * inputs, so a 64-dim squared sum stays ≤ ~1.7e19/4 « Long.Max.
   *
   * Returns (qid, nid, adist) — approximate squared L2 in (micro·255)²
   * units — for the top `k` per query, ascending.
   */
  def sq8TopK(emb: DataFrame, idCol: String, vecCol: String,
              queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val vecs = rawVecs(emb, idCol, vecCol)
    quantizedTopK(vecs, queryPred, k, sq8Index(vecs))
  }

  /** SQ8 ANN as a STREAM-SAFE enrichment ([[quantizedEnrich]]) — the
    * serving-path twin of [[sq8TopK]], bit-equal to it: the corpus is
    * quantized once into one broadcast array of (id, code) rows — 8·d
    * bytes/vector on one executor. */
  def sq8AnnEnrich(queries: DataFrame, idCol: String, vecCol: String,
                   corpus: DataFrame, corpusIdCol: String,
                   corpusVecCol: String, k: Int): DataFrame = {
    val cv = rawVecs(corpus, corpusIdCol, corpusVecCol)
    quantizedEnrich(rawVecs(queries, idCol, vecCol), cv, k, sq8Index(cv))
  }

  /** Two-stage SQ8 search: SQ8 shortlist, exact re-rank — the same
    * production shape as [[pqRerankTopK]] with the cheaper index. */
  def sq8RerankTopK(emb: DataFrame, idCol: String, vecCol: String,
                    queryPred: org.apache.spark.sql.Column, k: Int,
                    shortlist: Int): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    exactRerank(emb, idCol, vecCol, queryPred, k,
      sq8TopK(emb, idCol, vecCol, queryPred, shortlist))
  }

  /**
   * BINARY QUANTIZATION codes — the third member of the quantization
   * family (PQ, SQ8, BQ): one SIGN BIT per dimension, packed into
   * ceil(d/32) 32-bit words (32-bit ints keep both engines clear of the
   * BIGINT sign bit; XOR/bit_count are sign-agnostic so bit 31 of an
   * int is safe). 64-dim float vectors compress 256 bytes → 8: the
   * cheapest index FAISS ships, and the distance (Hamming = number of
   * differing signs) is pure integer bit arithmetic — exact
   * cross-engine by construction. Word w, bit b covers dimension
   * 32·w + b; set iff x > 0 (zeros code as 0 — the sign convention the
   * oracle replays as `x > 0`).
   */
  private def bqCodes(vec: Column, d: Int): Column = {
    val nWords = (d + 31) / 32
    val words = (0 until nWords).map { w =>
      val bits = math.min(32, d - w * 32)
      (0 until bits).foldLeft(lit(0)) { (acc, b) =>
        acc.bitwiseOR(
          when(element_at(vec, w * 32 + b + 1) > lit(0f),
            lit(1 << b)).otherwise(lit(0)))
      }
    }
    array(words: _*)
  }

  /** BQ index: the same packed sign code on both sides, distance = one
    * XOR + popcount fold over the word arrays (64 dims = 2 ints per
    * row). The signs come off the RAW vector, not the micro-quantized
    * one, so a tiny positive element still codes as 1. */
  private def bqIndex(vecs: DataFrame): Quantized = {
    val d = vecs.select(size(col("v")).as("d")).head.getInt(0)
    val code = bqCodes(col("v"), d)
    // GOTCHA: Spark's bit_count SIGN-EXTENDS an int argument to long
    // before counting — a negative 32-bit XOR word would gain 32
    // phantom high bits. Mask to the unsigned 32-bit value first.
    Quantized(code, code,
      dist = (a, b) => aggregate(zip_with(a, b,
          (x, y) => bit_count(x.bitwiseXOR(y).cast("long")
            .bitwiseAND(lit(0xFFFFFFFFL)))),
        lit(0L), (acc, x) => acc + x),
      distName = "hdist")
  }

  /**
   * Hamming top-k over binary-quantized vectors: queries (selected by
   * `queryPred`) broadcast against the packed corpus codes, ties broken
   * on neighbor id. Returns (qid, nid, hdist). The production first
   * stage of a two-stage search — see [[bqRerankTopK]]; at 10⁹ vectors
   * the code table is 8 GB where the floats are 256 GB, which is the
   * point.
   */
  def bqTopK(emb: DataFrame, idCol: String, vecCol: String,
             queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val vecs = rawVecs(emb, idCol, vecCol)
    quantizedTopK(vecs, queryPred, k, bqIndex(vecs))
  }

  /** BQ ANN as a STREAM-SAFE enrichment ([[quantizedEnrich]]) — the
    * broadcast-fold serving twin of [[bqTopK]], bit-equal to it: the
    * corpus is sign-packed ONCE into one broadcast array of (id, code)
    * rows — 4·ceil(d/32) bytes/vector, ~1 GB per 10⁹ 64-dim vectors, the
    * RAM-resident-index point of BQ. */
  def bqAnnEnrich(queries: DataFrame, idCol: String, vecCol: String,
                  corpus: DataFrame, corpusIdCol: String,
                  corpusVecCol: String, k: Int): DataFrame = {
    val cv = rawVecs(corpus, corpusIdCol, corpusVecCol)
    quantizedEnrich(rawVecs(queries, idCol, vecCol), cv, k, bqIndex(cv))
  }

  /** Two-stage BQ search: Hamming shortlist, exact micro-integer L2
    * re-rank to the final k — the standard recall-recovery shape
    * ([[sq8RerankTopK]]'s twin on the cheaper index). */
  def bqRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
                   queryPred: org.apache.spark.sql.Column, k: Int,
                   shortlist: Int): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    exactRerank(emb, idCol, vecCol, queryPred, k,
      bqTopK(emb, idCol, vecCol, queryPred, shortlist))
  }

  /** Matryoshka prefix index: the first `prefixDims` micro-quantized
    * dimensions on both sides, exact squared L2 between them. */
  private def prefixIndex(prefixDims: Int): Quantized = {
    require(prefixDims >= 1, "prefixDims must be >= 1")
    val prefix = slice(micro("v"), 1, prefixDims)
    Quantized(prefix, prefix, dist = vl2Long, distName = "adist")
  }

  /**
   * MATRYOSHKA (prefix-dimension) two-stage search — the MRL serving
   * shape (Kusupati et al. 2022): embeddings trained with matryoshka
   * representation learning rank usefully under their first m
   * dimensions, so stage 1 scans only the m-dim PREFIX (exact
   * micro-integer L2 — m/d of the flat-scan cost, the dimensionality
   * analog of the SQ8/BQ code shrink) and stage 2 re-ranks the
   * shortlist at full dimension. Both stages are the exact-integer
   * envelope, so the whole search is SQL-replayable. When
   * `prefixDims = d`, stage 1 IS the exact search and the result is
   * invariant to the shortlist size (spec-pinned). */
  def matryoshkaTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryPred: org.apache.spark.sql.Column, k: Int,
                     prefixDims: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    exactRerank(emb, idCol, vecCol, queryPred, k,
      quantizedTopK(rawVecs(emb, idCol, vecCol), queryPred, shortlist,
        prefixIndex(prefixDims)))
  }

  /**
   * Exact cosine RANGE search (FAISS `range_search` parity): every
   * corpus row whose cosine with the query is ≥ `minCos` — the
   * radius-based companion of [[cosineTopK]] (dedup wants "everything
   * closer than t", not a fixed k). Brute-force baseline: queries
   * broadcast, corpus streams through one map-side join — linear in
   * corpus size; the bucketed scale path is [[bucketNearPairs]].
   * Self-matches excluded. Returns (qid, nid, cos), cos as a
   * deterministic double (the sequential-fold dot both engines
   * reproduce).
   */
  def cosineRangeSearch(emb: DataFrame, idCol: String, vecCol: String,
                        queryPred: org.apache.spark.sql.Column,
                        minCos: Double): DataFrame = {
    val all = prep(emb, idCol, vecCol)
    val queries = all.filter(queryPred)
      .select(col("id").as("qid"), col("v").as("qv"),
        col("norm2").as("qnorm2"))
    broadcast(queries).join(all, col("qid") =!= col("id"))
      .filter(col("norm2") > 0 && col("qnorm2") > 0)
      .select(col("qid"), col("id").as("nid"),
        // EXACTLY cosineTopK's expression (sqrt(a)*sqrt(b), not
        // sqrt(a*b)) so thresholding and the oracle replay agree
        // bit-for-bit on the double
        (dotExpr / (sqrt(col("qnorm2")) * sqrt(col("norm2")))).as("cos"))
      .filter(col("cos") >= minCos)
      .select(col("qid"), col("nid"), round(col("cos"), 4).as("cos"))
  }

  /** recall@k of the ANN result against the exact result, averaged over
    * queries (self-check harness for the LSH path). */
  def recallAtK(ann: DataFrame, exact: DataFrame): DataFrame = {
    val hits = ann.select(col("qid"), col("nid"))
      .join(exact.select(col("qid"), col("nid")), Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    val totals = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
    totals.join(hits, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("n_hit"), lit(0)).cast("double") / col("n_exact")).as("recall"))
      .agg(round(avg(col("recall")), 6).as("avg_recall"),
        count(lit(1)).as("n_queries"))
  }
}
