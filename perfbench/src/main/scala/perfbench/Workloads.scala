package perfbench

import graft.operators.{Dedup, Similarity}
import graft.queries.{CurationQueries => CQ, PipelineQueries => PQ, Q, Registry, TpchQueries}
import graft.sources.{AvroIO, IcebergIO, IcebergWrite}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Io {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def readJson(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))

  /** `v` (Scala maps and sequences of numbers, strings, booleans) as one
    * line of JSON. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def writeLines(path: String, rows: Iterable[Any]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try rows.foreach { r => w.write(json(r)); w.write('\n') } finally w.close()
  }

  def writeJson(path: String, v: Any): Unit = writeLines(path, Seq(v))

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def deleteDir(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }
}

/** Shared shape of the two read-only workloads: named ops, each result
  * hashed on every execution, the first execution's rows kept for the
  * oracle comparison made after the run. */
abstract class CheckedOps extends Workload {
  protected val first = mutable.LinkedHashMap[String, Map[String, Any]]()

  protected def record(name: String, df: DataFrame, rs: Array[Row]): String = {
    val h = Results.hash(rs)
    if (!first.contains(name))
      first(name) = Results.answer(df.columns.toSeq, rs) + ("hash" -> h)
    h
  }

  protected def writeAnswers(out: String, oracles: Map[String, String]): Unit = {
    Io.writeJson(s"$out/answers.json", first)
    Io.writeJson(s"$out/oracles.json", oracles)
  }
}

/** The 22 registry TPC-H queries through `GraftSession.sql`, one seeded
  * permutation per pass. */
final class OlapSql extends CheckedOps {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")
  private val sqlOf: Map[String, String] =
    TpchQueries.all.map(q => q.name -> q.oracle.get).toMap
  private var orders: IndexedSeq[Seq[String]] = _
  private var rowsOf: Map[String, Long] = _

  def setup(ctx: Ctx, round: Int): Unit = {
    tables.foreach(t => ctx.g.registerParquet(t, s"${ctx.input}/$t.parquet"))
    if (orders == null) {
      orders = Io.readJson(s"${ctx.input}/order.json").elements().asScala
        .map(_.elements().asScala.map(_.asText).toSeq).toIndexedSeq
      val counts = tables.map(t => t -> ctx.spark.table(t).count()).toMap
      // rows an op consumes: the base rows of every table the query names
      rowsOf = sqlOf.map { case (n, sql) =>
        n -> tables.filter(t => s"\\b$t\\b".r.findFirstIn(sql).isDefined).map(counts).sum }
    }
    run(ctx, orders.head.head)
  }

  def warmup(ctx: Ctx): Unit = orders.head.tail.foreach(run(ctx, _))

  private def run(ctx: Ctx, name: String): Unit =
    ctx.op(name, rowsOf(name)) { id =>
      var df: DataFrame = null
      val rs = ctx.collect(id, { df = ctx.g.sql(sqlOf(name)); df }, "session", "sql")
      record(name, df, rs)
    }

  def pass(ctx: Ctx): Boolean = {
    orders(1 + ctx.pass % (orders.size - 1)).foreach(run(ctx, _))
    true
  }

  def finish(ctx: Ctx, out: String): Map[String, Any] = {
    writeAnswers(out, sqlOf)
    Map.empty
  }
}

/** Corpus curation: each stage is the registry query that drives the
  * operator over the generated `documents` / `embeddings` tables, so the
  * registry's DuckDB oracle checks its output. Stages run in pipeline
  * order; a pass is one trip through the pipeline. */
final class CurationPipeline extends CheckedOps {
  // referenced directly: building `Registry.all` would initialise every
  // other query object too, several seconds of each run's first set-up
  private val stageQs: Seq[Q] = Seq(
    PQ.dedupExactKeep, PQ.dedupMinhash, PQ.textQuality, PQ.textLangId,
    CQ.curPii, CQ.curDecontaminate, PQ.textBpeApply,
    PQ.dedupSemantic, PQ.embedIvf, PQ.embedPqAdc)
  val stages: Seq[String] = stageQs.map(_.name)
  private val byName: Map[String, Q] = stageQs.map(q => q.name -> q).toMap
  private var nDocs, nVecs = 0L

  def setup(ctx: Ctx, round: Int): Unit = {
    Registry.prepare(ctx.spark, ctx.input)
    if (nDocs == 0) {
      nDocs = ctx.spark.table("documents").count()
      nVecs = ctx.spark.table("embeddings").count()
    }
    run(ctx, stages.head)
  }

  def warmup(ctx: Ctx): Unit = stages.tail.foreach(run(ctx, _))

  private def run(ctx: Ctx, name: String): Unit = {
    val rows = if (name.startsWith("embed_") || name == "dedup_semantic") nVecs else nDocs
    ctx.op(name, rows) { id =>
      try {
        var df: DataFrame = null
        val rs = ctx.collect(id, { df = byName(name).run(ctx.spark, ctx.input); df },
          "operators", "call")
        record(name, df, rs)
      } finally ctx.spark.catalog.clearCache()
    }
  }

  def pass(ctx: Ctx): Boolean = { stages.foreach(run(ctx, _)); true }

  def finish(ctx: Ctx, out: String): Map[String, Any] = {
    writeAnswers(out, stages.map(n => n -> byName(n).oracle.get).toMap)
    if (ctx.traceRun) usefulWork(ctx) else Map.empty
  }

  /** Useful-work ratios, with their bases (traced runs only). Pair and
    * keep counts come from the checked stage answers; only the LSH
    * candidate count and the exact top-k for recall run extra jobs. */
  def usefulWork(ctx: Ctx): Map[String, Any] = {
    def column(stage: String, name: String): Seq[Any] = {
      val a = first(stage)
      val i = a("cols").asInstanceOf[Seq[String]].indexOf(name)
      a("rows").asInstanceOf[Seq[Seq[Any]]].map(_(i))
    }
    val spark = ctx.spark
    val sh = Dedup.shingles(spark.table("documents"), "doc_id", "text", 3)
    val candidates = Dedup.lshCandidates(Dedup.minhashBandKeys(sh, 6, 3)).count()
    val keepIds = column("dedup_exact_keep", "keep_id").toSet
    val nearB = column("dedup_minhash", "b_id")
    val exact = Similarity.cosineTopK(spark.table("embeddings"), "vec_id", "embedding",
      col("id") < 8, 10)
    val recall = Similarity.recallAtK(byName("embed_ivf_topk").run(spark, ctx.input), exact)
      .collect().head.getDouble(0)
    spark.catalog.clearCache()
    Map("lsh_verified" -> nearB.size, "lsh_candidates" -> candidates,
      "docs" -> nDocs, "exact_kept" -> keepIds.size,
      "near_dropped" -> nearB.toSet.count(keepIds), "ann_recall_at_k" -> recall)
  }
}

/** Writes beside reads on one growing Iceberg table. Each cycle: Avro
  * landing batch read + append, range delete (deletion vectors), upsert,
  * then a full-scan aggregate, a pruned read, a changelog read since the
  * previous cycle and a time-travel read of the previous cycle's state.
  * A pass is `CyclesPerPass` cycles followed by compaction and expiry, so
  * every run times the same op mix, and reads in a pass's later cycles pay
  * for the delete files of the earlier ones. The warm-up runs every op
  * type once: one cycle, compaction and expiry. */
final class LakehouseRw extends Workload {
  // two cycles per pass also give a run's median 16 ops rather than 9,
  // with every op type but compaction and expiry present twice
  private val CyclesPerPass = 2
  private var plan: IndexedSeq[(Int, Int, Int, Int, Long, Long)] = _
  private var path: String = _
  private var round = 0
  private var cycle = 0
  private var prevSnap = 0L
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  // traced-pass measurements
  private val writes = mutable.ArrayBuffer[(String, Long, Long)]() // (verb, physical, logical)
  private val shapes = mutable.ArrayBuffer[Map[String, Any]]()
  private val pruning = mutable.ArrayBuffer[Map[String, Any]]()

  private def lake(ctx: Ctx, f: String) = s"${ctx.input}/lake/$f"

  private def snap(): Long = IcebergIO.loadMetadata(path).currentSnapshotId.get

  /** Row count and exact sum of `v` (two-decimal money) of a read. */
  private def countSumOf(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("v").cast("decimal(18,2)")))

  private def countSum(r: Array[Row]): Seq[Long] = {
    val s = r.head.getDecimal(1)
    Seq(r.head.getLong(0), if (s == null) 0L else s.movePointRight(2).longValueExact)
  }

  /** (count, sum) of a read; the count is the rows the op consumed. */
  private def countSumRead(ctx: Ctx)(r: Array[Row]): Seq[Long] = {
    val cs = countSum(r)
    ctx.rowsSeen = cs.head
    cs
  }

  def setup(ctx: Ctx, round: Int): Unit = {
    if (plan == null)
      plan = Io.readJson(lake(ctx, "plan.json")).get("cycles").elements().asScala.map { c =>
        val d = c.get("delete"); val r = c.get("read")
        (d.get(0).asInt, d.get(1).asInt, r.get(0).asInt, r.get(1).asInt,
          c.get("batch_rows").asLong, c.get("upsert_rows").asLong)
      }.toIndexedSeq
    if (path != null) Io.deleteDir(path)
    path = s"${ctx.work}/lake_$round"
    this.round = round
    cycle = 0
    val base = ctx.spark.read.parquet(lake(ctx, "base.parquet"))
    IcebergWrite.create(ctx.spark, path, base.schema)
    IcebergWrite.append(base, path)
    ctx.g.registerIceberg("lake", path)
    prevSnap = snap()
  }

  def warmup(ctx: Ctx): Unit = cycles(ctx, 1)

  /** Runs a commit op; in traced passes also records the bytes it added
    * to the table directory against the bytes of its input. */
  private def commit(ctx: Ctx, verb: String, rows: Long, logical: Long)(f: => Unit): Long = {
    val before = if (ctx.traced) Io.dirBytes(path) else 0L
    val r = ctx.op(verb, rows) { id => ctx.tracer.span(id, "sources", verb)(f); null }
    if (ctx.traced) writes += ((verb, Io.dirBytes(path) - before, logical))
    r.id
  }

  /** A count + exact sum over the registered table through
    * `GraftSession.sql`; returns the op id and (count, sum in cents). */
  private def sqlScan(ctx: Ctx, name: String, where: String): (Long, Seq[Long]) = {
    var value: Seq[Long] = Seq(0L, 0L)
    val r = ctx.op(name, 0) { id =>
      value = countSumRead(ctx)(ctx.collect(id,
        ctx.g.sql(s"SELECT COUNT(*), SUM(CAST(v AS DECIMAL(18,2))) FROM lake $where"),
        "session", "sql"))
      null
    }
    (r.id, value)
  }

  /** Runs a read op through the sources API (planning and execution in
    * separate spans); returns the op id and `result` of the collected rows. */
  private def scan(ctx: Ctx, name: String, df: => DataFrame)(result: Array[Row] => Any): (Long, Any) = {
    var value: Any = null
    val r = ctx.op(name, 0) { id =>
      val d = ctx.tracer.span(id, "sources", "scan_plan") {
        val d = df
        d.queryExecution.executedPlan
        d
      }
      value = result(ctx.tracer.span(id, "sources", "scan_run")(d.collect()))
      null
    }
    (r.id, value)
  }

  private def runCycle(ctx: Ctx): Unit = {
    val c = cycle
    val (dlo, dhi, rlo, rhi, batchRows, upsertRows) = plan(c)
    val spark = ctx.spark
    val landing = lake(ctx, s"batch_$c.avro")
    val ids = mutable.LinkedHashMap[String, Long]()
    ids("append") = commit(ctx, "append", batchRows, new java.io.File(landing).length) {
      IcebergWrite.append(AvroIO.read(spark, landing), path)
    }
    ids("delete") = commit(ctx, "delete", 0, 0) {
      IcebergWrite.deleteWhere(spark, path, col("k") >= dlo && col("k") < dhi)
    }
    val up = lake(ctx, s"upsert_$c.parquet")
    ids("upsert") = commit(ctx, "upsert", upsertRows, new java.io.File(up).length) {
      IcebergWrite.upsert(spark.read.parquet(up), path, Seq("id"))
    }
    val (fullId, full) = sqlScan(ctx, "scan_full", "")
    val (prId, pruned) = sqlScan(ctx, "scan_pruned", s"WHERE k >= $rlo AND k < $rhi")
    val from = prevSnap
    val (clId, changes) = scan(ctx, "changelog",
      IcebergIO.readChangelog(spark, path, fromSnapshotId = Some(from))
        .groupBy("_change_type").count()) { rs =>
        ctx.rowsSeen = rs.map(_.getLong(1)).sum
        rs.map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    val (ttId, tt) = scan(ctx, "time_travel",
      countSumOf(IcebergIO.read(spark, path, snapshotId = Some(from))))(countSumRead(ctx))
    ids("scan_full") = fullId; ids("scan_pruned") = prId
    ids("changelog") = clId; ids("time_travel") = ttId
    if (ctx.traced) {
      val total = IcebergIO.files(spark, path).count()
      val scanned = IcebergIO.readWhere(spark, path, col("k") >= rlo && col("k") < rhi)
        .inputFiles.length
      pruning += Map("files_total" -> total, "files_scanned" -> scanned)
    }
    checks += Map("round" -> round, "cycle" -> c, "ops" -> ids, "full" -> full, "pruned" -> pruned,
      "changelog" -> changes, "time_travel" -> tt)
    prevSnap = snap()
    cycle += 1
  }

  def pass(ctx: Ctx): Boolean = cycles(ctx, CyclesPerPass)

  /** `n` cycles, then compaction and expiry; false when the plan has fewer
    * than `n` cycles left. */
  private def cycles(ctx: Ctx, n: Int): Boolean = {
    if (cycle + n > plan.size) return false
    (0 until n).foreach(_ => runCycle(ctx))
    if (ctx.traced) shapes += tableShape(ctx)
    ctx.op("compact", 0) { id =>
      ctx.tracer.span(id, "sources", "compact")(IcebergWrite.compact(ctx.spark, path)); null }
    ctx.op("expire", 0) { id =>
      ctx.tracer.span(id, "sources", "expire")(
        IcebergWrite.expireSnapshots(path, System.currentTimeMillis(), retainLast = 2)); null }
    prevSnap = snap()
    true
  }

  /** Table shape before compaction: file counts, metadata bytes and the
    * space amplification against the live rows written once as parquet. */
  private def tableShape(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val plain = s"${ctx.work}/plain"
    IcebergIO.read(spark, path).write.mode("overwrite").parquet(plain)
    val plainBytes = Io.dirBytes(plain)
    Io.deleteDir(plain)
    Map("table_bytes" -> Io.dirBytes(path), "plain_bytes" -> plainBytes,
      "metadata_bytes" -> Io.dirBytes(s"$path/metadata"),
      "data_files" -> IcebergIO.files(spark, path).count(),
      "delete_files" -> IcebergIO.deleteFiles(spark, path).count(),
      "manifests" -> IcebergIO.manifests(spark, path).count())
  }

  def finish(ctx: Ctx, out: String): Map[String, Any] = {
    Io.writeLines(s"$out/lake_checks.jsonl", checks)
    Map("writes" -> writes.map { case (v, p, l) => Map("verb" -> v, "physical" -> p, "logical" -> l) },
      "shapes" -> shapes, "pruning" -> pruning, "cycles" -> cycle)
  }
}
