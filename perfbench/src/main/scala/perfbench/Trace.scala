package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `op` is the id shared by every span of one
  * benchmark operation (also its Spark job group); `parent` is the id of
  * the enclosing span, -1 for the op's root. Times are nanoseconds since
  * the run's clock origin. */
final case class Span(op: Long, id: Int, parent: Int, layer: String,
                      name: String, t0: Long, t1: Long)

/** Records spans around the benchmark's calls into each engine layer.
  * Spans are kept in memory and written once at the end. When disabled,
  * `span` is a plain call. Single client thread, so a stack suffices. */
final class Tracer(val origin: Long) {
  var enabled = false
  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack: List[(Int, Long)] = Nil // (span id, op id)

  def now: Long = System.nanoTime() - origin

  def span[T](op: Long, layer: String, name: String)(f: => T): T = {
    if (!enabled) return f
    val id = nextId
    nextId += 1
    val parent = stack.headOption.filter(_._2 == op).map(_._1).getOrElse(-1)
    stack = (id, op) :: stack
    val t0 = now
    try f
    finally {
      spans += Span(op, id, parent, layer, name, t0, now)
      stack = stack.tail
    }
  }
}

/** Attributes Spark jobs and task metrics to the op that ran them, via the
  * job group the benchmark sets to the op id. Registered only while a
  * traced pass runs. Listener-bus times are epoch milliseconds;
  * `epochMsAtOrigin` (the wall clock at the tracer's origin) converts them
  * onto the tracer's clock. */
final class TaskListener(epochMsAtOrigin: Long) extends SparkListener {
  private def rel(ms: Long): Long = (ms - epochMsAtOrigin) * 1000000L
  val jobs = ArrayBuffer[Map[String, Any]]()
  val tasks = ArrayBuffer[Map[String, Any]]()
  private val stageOp = scala.collection.concurrent.TrieMap[Int, Long]()
  private val stageSubmitted = scala.collection.concurrent.TrieMap[Int, Long]()
  private val jobOp = scala.collection.concurrent.TrieMap[Int, (Long, Long, Int)]()

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(e.properties).foreach { op =>
      e.stageIds.foreach(s => stageOp(s) = op)
      jobOp(e.jobId) = (op, e.time, e.stageIds.size)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobOp.remove(e.jobId).foreach { case (op, t0, nStages) =>
      synchronized {
        jobs += Map("op" -> op, "job" -> e.jobId, "t0" -> rel(t0), "t1" -> rel(e.time),
          "stages" -> nStages)
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageOp.get(e.stageId).foreach { op =>
      val i = e.taskInfo
      val m = e.taskMetrics
      val wait = stageSubmitted.get(e.stageId).map(s => math.max(0L, i.launchTime - s)).getOrElse(0L)
      val row: Map[String, Any] =
        if (m == null) Map("op" -> op, "failed" -> true, "wait_ms" -> wait)
        else Map(
          "op" -> op, "failed" -> !i.successful, "wait_ms" -> wait,
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
          "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
          "input_records" -> m.inputMetrics.recordsRead)
      synchronized { tasks += row }
    }
}
