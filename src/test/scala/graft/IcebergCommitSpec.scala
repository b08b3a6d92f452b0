package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IcebergIO, IcebergWrite}

/** How every Iceberg commit publishes: the metadata log after
  * metadata-only commits, the marker that lets incremental reads cross
  * a rewrite, and each rewrite verb losing a race to a concurrent
  * delete loudly, without losing the delete on retry. */
class IcebergCommitSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    CommitHookFileSystem.register(s)
    s
  }
  private val root =
    s"/tmp/graft_iceberg_commit_${java.util.UUID.randomUUID().toString.take(8)}"

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true)))

  private def df(rows: (Long, String)*): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    rows.foreach { case (i, n) => list.add(Row(i, n)) }
    spark.createDataFrame(list, schema).coalesce(1)
  }

  private def ids(d: DataFrame): Seq[Long] =
    d.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("metadata-only commits log their predecessor and refresh last-updated-ms") {
    val dir = s"$root/mlog"
    IcebergWrite.create(spark, dir, schema)
    val s1 = IcebergWrite.append(df((1L, "a")), dir)
    Thread.sleep(5)
    IcebergWrite.addColumn(dir, "extra", IntegerType)
    Thread.sleep(5)
    IcebergWrite.createTag(dir, "t1", s1)
    Thread.sleep(5)
    IcebergWrite.append(df((2L, "b")).withColumn("extra",
      org.apache.spark.sql.functions.lit(7)), dir)
    val log = IcebergIO.metadataLogEntries(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(log.map(_._2) === (1 to 5).map(v => s"v$v.metadata.json"))
    // each file's last-updated-ms is its own commit time
    assert(log.map(_._1).sliding(2).forall { case Seq(a, b) => a < b })
  }

  test("incremental reads fail loudly across a filtered compaction") {
    val dir = s"$root/cw_incremental"
    IcebergWrite.create(spark, dir, schema, partitionCols = Seq("name"))
    IcebergWrite.append(df((1L, "a"), (2L, "b")), dir)
    val s2 = IcebergWrite.append(df((3L, "a")), dir)
    IcebergWrite.compactWhere(spark, dir, col("name") === "a")
    val s4 = IcebergWrite.append(df((4L, "b")), dir)
    // the compaction re-adds rows 1 and 3 at a new sequence number: a
    // sequence-range read across it would deliver them a second time
    intercept[UnsupportedOperationException](
      IcebergIO.readIncremental(spark, dir, s2, Some(s4)).collect())
    // the changelog skips the data-preserving replace
    assert(IcebergIO.readChangelog(spark, dir, fromSnapshotId = Some(s2))
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((4L, "insert")))
    // a manifest rewrite adds no data file: incremental reads cross it
    IcebergWrite.rewriteManifests(spark, dir)
    val s6 = IcebergWrite.append(df((5L, "a")), dir)
    assert(ids(IcebergIO.readIncremental(spark, dir, s4, Some(s6))) === Seq(5L))
  }

  /** A table at `commithook://`: ids 1-6 in two data files, 5 removed
    * by a position delete and 6 by an equality delete. */
  private def table(name: String, formatVersion: Int): String = {
    val dir = CommitHookFileSystem.uri(s"$root/$name")
    IcebergWrite.create(spark, dir, schema, formatVersion = formatVersion)
    IcebergWrite.append(df((1L, "a"), (2L, "b"), (3L, "a")), dir)
    IcebergWrite.append(df((4L, "b"), (5L, "a"), (6L, "b")), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 5L)
    IcebergWrite.deleteEquality(df((6L, "b")).select("id"), dir)
    dir
  }

  /** `verb` races a delete of id 2 committed while it writes its
    * manifest list: it fails as a concurrent commit, leaves no staged
    * file behind, and a retry keeps row 2 deleted. */
  private def racesDelete(dir: String)(verb: => Long): Unit = {
    CommitHookFileSystem.arm("-manifest-list-")(
      IcebergWrite.deleteWhere(spark, dir, col("id") === 2L): Unit)
    val e = intercept[IllegalStateException](verb)
    assert(!CommitHookFileSystem.isArmed, "the race never ran")
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    val orphans = IcebergWrite.removeOrphanFiles(dir,
      olderThanMs = System.currentTimeMillis() + 60000L)
      .filterNot(p => p.contains("/metadata/"))
    assert(orphans.isEmpty, s"the losing commit left staged files: $orphans")
    verb
    assert(ids(IcebergIO.read(spark, dir)) === Seq(1L, 3L, 4L))
  }

  test("v2 rewrite verbs lose a race to a concurrent delete, and a retry keeps it") {
    val t = table("race_compact", 2)
    racesDelete(t)(IcebergWrite.compact(spark, t))
    val tw = table("race_compact_where", 2)
    racesDelete(tw)(IcebergWrite.compactWhere(spark, tw, col("id") <= 3L))
    val tm = table("race_manifests", 2)
    racesDelete(tm)(IcebergWrite.rewriteManifests(spark, tm))
    val tp = table("race_pos", 2)
    racesDelete(tp)(IcebergWrite.rewritePositionDeletes(spark, tp))
    val te = table("race_eq", 2)
    racesDelete(te)(IcebergWrite.convertEqualityDeletes(spark, te))
  }

  test("v3 rewrite verbs (the deletion-vector path) lose a race the same way") {
    val t = table("race_compact_v3", 3)
    racesDelete(t)(IcebergWrite.compact(spark, t))
    val tp = table("race_pos_v3", 3)
    racesDelete(tp)(IcebergWrite.rewritePositionDeletes(spark, tp))
  }
}
