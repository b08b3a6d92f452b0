package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicReference

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/**
 * A local-disk FileSystem under the scheme `commithook://` with a
 * one-shot hook: the first file created whose name contains the armed
 * marker disarms the hook and then runs it, in the creating thread,
 * before the file is created. Arming it on the manifest list
 * (`-manifest-list-`) runs a concurrent commit exactly between an
 * Iceberg verb's planning and its publish — the race every optimistic
 * commit must lose loudly.
 *
 * Must be a top-level class: Hadoop instantiates it reflectively by the
 * class name in the conf value (same as [[GraftTestFileSystem]]).
 */
class CommitHookFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${CommitHookFileSystem.Scheme}:///")

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CommitHookFileSystem.fire(f.getName)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CommitHookFileSystem {
  val Scheme = "commithook"

  private val armed = new AtomicReference[(String, () => Unit)]()

  /** Register the scheme in a session's Hadoop configuration. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl",
      classOf[CommitHookFileSystem].getName)

  def uri(localPath: String): String = s"$Scheme://$localPath"

  /** Run `hook` once, when a file whose name contains `marker` is next
    * created. */
  def arm(marker: String)(hook: => Unit): Unit = armed.set((marker, () => hook))

  def isArmed: Boolean = armed.get != null

  private def fire(name: String): Unit = {
    val a = armed.get
    if (a != null && name.contains(a._1) && armed.compareAndSet(a, null)) a._2()
  }
}
