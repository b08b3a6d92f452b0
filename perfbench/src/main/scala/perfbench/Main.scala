package perfbench

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable.ArrayBuffer

/** One executed benchmark operation. Times are nanoseconds on the tracer's
  * clock; `hash` identifies the result so repeated executions can be
  * checked against the one compared with the oracle. */
final case class OpRec(id: Long, name: String, pass: Int,
                       t0: Long, t1: Long, ok: Boolean, err: String,
                       hash: String, rows: Long, traced: Boolean) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "pass" -> pass,
    "t0" -> t0, "t1" -> t1, "ok" -> ok, "err" -> err, "hash" -> hash,
    "rows" -> rows, "traced" -> traced)
}

/** Runs one operation at a time for the single closed-loop client. */
final class Ctx(val input: String, val work: String, val tracer: Tracer) {
  var g: GraftSession = _
  val ops = ArrayBuffer[OpRec]()
  val warmOps = ArrayBuffer[OpRec]()
  var recording = false
  var traced = false
  /** This run records per-layer metrics (some passes traced). */
  var traceRun = false
  var pass = 0
  private var nextOp = 0L

  def spark = g.spark

  /** Rows an op consumed, when only known once it ran (see `op`). */
  var rowsSeen = -1L

  /** Runs `f` as one op over `rows` input rows (or the `rowsSeen` that `f`
    * sets). `f` returns the result hash (or null). A thrown error is
    * recorded as a failed op, never rethrown. */
  def op(name: String, rows: Long)(f: Long => String): OpRec = {
    val id = nextOp
    nextOp += 1
    rowsSeen = -1L
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(id.toString, name) else sc.clearJobGroup()
    val t0 = tracer.now
    val (ok, hash, err) =
      try (true, tracer.span(id, "bench", name)(f(id)), null)
      catch { case e: Throwable => (false, null, s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
    val rec = OpRec(id, name, pass, t0, tracer.now, ok, err, hash,
      if (rowsSeen >= 0) rowsSeen else rows, traced)
    sc.clearJobGroup()
    (if (recording) ops else warmOps) += rec
    rec
  }

  /** `df` planned then collected, each step in its own span. */
  def collect(id: Long, df: => DataFrame, callLayer: String, callName: String): Array[Row] = {
    val d = tracer.span(id, callLayer, callName)(df)
    tracer.span(id, "session", "plan")(d.queryExecution.executedPlan)
    tracer.span(id, "exec", "collect")(d.collect())
  }
}

trait Workload {
  /** Registers (or creates) the inputs in a fresh session and answers the
    * first op: the part of set-up a user waits for before any answer. */
  def setup(ctx: Ctx, round: Int): Unit
  /** The rest of one untimed warm-up pass. */
  def warmup(ctx: Ctx): Unit
  /** One pass of the closed loop. Returns false when inputs are exhausted. */
  def pass(ctx: Ctx): Boolean
  /** Untimed after-run work: correctness artifacts and traced-only extras. */
  def finish(ctx: Ctx, out: String): Map[String, Any]
}

/**
 * The benchmark program. One JVM, one client thread, Spark `local[cores]`.
 *
 * Usage: perfbench.Main <workload> <inputDir> <workDir> <outDir> <seconds>
 *        <trace 0|1> <cores> <setups>
 *
 * Set-up (session start, input registration, first answer) runs once in
 * the cold JVM; the rest of one pass then runs untimed, so JIT and codegen
 * warm-up stay out of the measurement. Set-up is then repeated until it
 * has run `setups` times, each in a fresh session, and every repetition is
 * timed: the cold one and the warm ones. The closed loop then runs whole
 * passes in the last session until `seconds` have elapsed. With tracing,
 * passes alternate untraced / traced, at least three, and the run ends on
 * an untraced pass: each traced pass sits between two untraced ones, so
 * the tracing overhead is measured on the same op mix, and the JVM's
 * continuing warm-up from pass to pass cancels out of it.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, out, secondsS, traceS, coresS, setupsS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val epochMs = System.currentTimeMillis()
    val tracer = new Tracer(System.nanoTime())
    val ctx = new Ctx(input, work, tracer)
    ctx.traceRun = trace
    val w: Workload = workload match {
      case "olap_sql" => new OlapSql
      case "curation_pipeline" => new CurationPipeline
      case "lakehouse_rw" => new LakehouseRw
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loadStart = loadavg
    def setupRound(round: Int): Double = {
      val t0 = System.nanoTime()
      if (ctx.g != null) ctx.g.spark.stop()
      ctx.g = GraftSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      ctx.spark.sparkContext.setLogLevel("ERROR")
      w.setup(ctx, round)
      (System.nanoTime() - t0) / 1e9
    }
    val cold = setupRound(0)
    val w0 = System.nanoTime()
    w.warmup(ctx)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = cold +: (1 until setupsS.toInt).map(setupRound)

    val listener = new TaskListener(epochMs)
    val sc = ctx.spark.sparkContext
    ctx.recording = true
    val start = tracer.now
    val deadline = start + (seconds * 1e9).toLong
    var more = true
    while (more && (tracer.now < deadline || (trace && (ctx.pass < 3 || ctx.pass % 2 == 0)))) {
      ctx.traced = trace && ctx.pass % 2 == 1
      if (ctx.traced) { sc.addSparkListener(listener); tracer.enabled = true }
      more = w.pass(ctx)
      if (ctx.traced) {
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(listener)
        tracer.enabled = false
      }
      ctx.pass += 1
    }
    val elapsed = (tracer.now - start) / 1e9
    ctx.recording = false
    ctx.traced = false
    val extra = w.finish(ctx, out)
    val loadEnd = loadavg

    Io.writeLines(s"$out/ops.jsonl", ctx.ops.map(_.toMap))
    Io.writeLines(s"$out/warmup_ops.jsonl", ctx.warmOps.map(_.toMap))
    if (trace) {
      Io.writeLines(s"$out/spans.jsonl", tracer.spans.map(s => Map("op" -> s.op,
        "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1)))
      Io.writeLines(s"$out/jobs.jsonl", listener.jobs)
      Io.writeLines(s"$out/tasks.jsonl", listener.tasks)
    }
    Io.writeJson(s"$out/run.json", Map(
      "setup_s" -> setupS, "warmup_s" -> warmupS, "elapsed_s" -> elapsed, "passes" -> ctx.pass,
      "cores" -> cores, "peak_rss_mb" -> peakRssMb,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "extra" -> extra))
    ctx.spark.stop()
  }

  def loadavg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }
}
