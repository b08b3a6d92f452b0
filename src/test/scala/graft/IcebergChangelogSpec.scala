package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IcebergFixture, IcebergIO, IcebergWrite}

/** `IcebergIO.readChangelog` at the edges of its row rule, each range
  * checked against a reference built from plain reads: the change rows of
  * a snapshot are the multiset difference of the table read at its parent
  * and at itself (every upsert here changes its row, so an update never
  * cancels out of the difference). Also: bad ranges fail before any Spark
  * job, and a second changelog of the same shape compiles few classes. */
class IcebergChangelogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root =
    s"/tmp/graft_iceberg_changelog_${java.util.UUID.randomUUID().toString.take(8)}"

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  private type Change = (String, Int, Long, (Long, String, Double))

  private def df(rows: (Long, String, Double)*): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    rows.foreach(r => list.add(Row(r._1, r._2, r._3)))
    spark.createDataFrame(list, schema).coalesce(1)
  }

  private def tuples(d: DataFrame): Seq[(Long, String, Double)] =
    d.select("id", "name", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  private def current(dir: String): Long =
    IcebergIO.loadMetadata(dir).currentSnapshotId.get

  private def changelog(dir: String, from: Option[Long]): Seq[Change] =
    IcebergIO.readChangelog(spark, dir, from)
      .select("_change_type", "_change_ordinal", "_commit_snapshot_id",
        "id", "name", "score")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        (r.getLong(3), r.getString(4), r.getDouble(5)))).toSeq.sorted

  /** The reference: per snapshot in `(from, current]`, oldest first, the
    * rows read at its parent but not at itself (deletes) and the reverse
    * (inserts), as multisets. A `replace` snapshot must change no row and
    * emits nothing. */
  private def reference(dir: String, from: Option[Long]): Seq[Change] = {
    val meta = IcebergIO.loadMetadata(dir)
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    val lineage = Iterator.iterate(byId.get(current(dir)))(
        _.flatMap(_.parentId).flatMap(byId.get))
      .takeWhile(s => s.isDefined && !from.contains(s.get.snapshotId))
      .map(_.get).toSeq.reverse
    def at(s: Option[Long]) =
      s.map(id => tuples(IcebergIO.read(spark, dir, snapshotId = Some(id))))
        .getOrElse(Nil)
    var ordinal = 0
    lineage.flatMap { s =>
      val before = at(s.parentId)
      val after = at(Some(s.snapshotId))
      if (s.operation == "replace") {
        assert(before.sorted === after.sorted, s"replace ${s.snapshotId} changed rows")
        Nil
      } else {
        val out = before.diff(after).map(r => ("delete", ordinal, s.snapshotId, r)) ++
          after.diff(before).map(r => ("insert", ordinal, s.snapshotId, r))
        ordinal += 1
        out
      }
    }.sorted
  }

  private def checkRange(dir: String, from: Option[Long]): Seq[Change] = {
    val got = changelog(dir, from)
    assert(got === reference(dir, from))
    got
  }

  test("a row inserted and deleted inside one range shows both changes") {
    val dir = s"$root/insert_delete"
    IcebergWrite.create(spark, dir, schema)
    val s0 = IcebergWrite.append(df((1L, "a", 1.0), (2L, "b", 2.0)), dir)
    val s1 = IcebergWrite.append(df((5L, "e", 5.0), (6L, "f", 6.0)), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 5L)
    val s2 = current(dir)
    // the upsert changes 6 and inserts 7; the next delete removes 7 again
    IcebergWrite.upsert(df((6L, "f2", 6.5), (7L, "g", 7.0)), dir, Seq("id"))
    val s3 = current(dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 7L || col("id") === 1L)
    val s4 = current(dir)
    val got = checkRange(dir, Some(s0))
    assert(got.filter(_._4._1 == 5L).map(c => (c._1, c._3)) ===
      Seq(("delete", s2), ("insert", s1)))
    assert(got.filter(_._4._1 == 7L).map(c => (c._1, c._3)) ===
      Seq(("delete", s4), ("insert", s3)))
    checkRange(dir, None)
    checkRange(dir, Some(s2))
  }

  test("an insert and a same-commit position delete emit nothing") {
    val dir = s"$root/same_commit"
    val w = new IcebergFixture.Writer(spark, dir, schema)
    val s1 = w.append(df((1L, "a", 1.0), (2L, "b", 2.0)))
    // row 5 (position 1) is written and deleted by one commit
    w.appendWithPositionDeletes(df((4L, "d", 4.0), (5L, "e", 5.0), (6L, "f", 6.0)),
      Seq(1L))
    val s2 = w.currentSnapshotId
    assert(checkRange(dir, Some(s1)) === Seq(
      ("insert", 0, s2, (4L, "d", 4.0)), ("insert", 0, s2, (6L, "f", 6.0))))
    // a later delete of the same file still reaches only its live rows
    w.deletePositions(w.dataFilePaths.last, Seq(1L, 2L))
    val s3 = w.currentSnapshotId
    assert(checkRange(dir, Some(s2)) === Seq(("delete", 0, s3, (6L, "f", 6.0))))
    checkRange(dir, None)
  }

  test("a v3 deletion vector replaced by a merged one deletes only its new rows") {
    val dir = s"$root/dv_merge"
    IcebergWrite.create(spark, dir, schema, formatVersion = 3)
    val s1 = IcebergWrite.append(
      df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 1L)
    val dv1 = IcebergIO.deleteFiles(spark, dir).select("file_name").collect().toSeq
    IcebergWrite.deleteWhere(spark, dir, col("id") === 3L)
    val dv2 = IcebergIO.deleteFiles(spark, dir).select("file_name").collect().toSeq
    // one live vector per data file: the second delete replaced the first
    assert(dv1.size === 1 && dv2.size === 1 && dv1 != dv2)
    val got = checkRange(dir, Some(s1))
    assert(got.map(c => (c._1, c._2, c._4._1)) ===
      Seq(("delete", 0, 1L), ("delete", 1, 3L)))
    // lineage rides along: each deleted row keeps the id it was read with
    val lineage = IcebergIO.readWithRowId(spark, dir, snapshotId = Some(s1))
      .select("id", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val withIds = IcebergIO.readChangelog(spark, dir, Some(s1), withRowId = true)
      .select("id", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withIds === Map(1L -> lineage(1L), 3L -> lineage(3L)))
  }

  test("a range across compact and rewritePositionDeletes matches the reference") {
    val dir = s"$root/maintenance"
    IcebergWrite.create(spark, dir, schema)
    val s1 = IcebergWrite.append(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), dir)
    IcebergWrite.append(df((4L, "d", 4.0), (5L, "e", 5.0), (6L, "f", 6.0)), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 2L)
    IcebergWrite.upsert(df((3L, "c2", 3.5), (8L, "h", 8.0)), dir, Seq("id"))
    IcebergWrite.compact(spark, dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 4L)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 6L || col("id") === 8L)
    IcebergWrite.rewritePositionDeletes(spark, dir)
    IcebergWrite.upsert(df((1L, "a2", 1.5)), dir, Seq("id"))
    IcebergWrite.append(df((9L, "i", 9.0)), dir)
    val ops = IcebergIO.loadMetadata(dir).snapshots.map(_.operation)
    assert(ops.count(_ == "replace") === 2)
    val got = checkRange(dir, None)
    assert(got.map(_._2).distinct.size === ops.count(_ != "replace"))
    checkRange(dir, Some(s1))
  }

  test("bad ranges fail before any Spark job") {
    val dir = s"$root/fail_fast"
    IcebergWrite.create(spark, dir, schema)
    val s1 = IcebergWrite.append(df((1L, "a", 1.0)), dir)
    IcebergWrite.append(df((2L, "b", 2.0)), dir)
    val s3 = IcebergWrite.append(df((3L, "c", 3.0)), dir)
    def noJobs(body: => Unit): Unit = assert(TestSpark.jobs(body) === 0)
    noJobs(intercept[IllegalArgumentException](
      IcebergIO.readChangelog(spark, dir, fromSnapshotId = Some(999L))))
    noJobs(intercept[IllegalArgumentException](
      IcebergIO.readChangelog(spark, dir, toSnapshotId = Some(999L))))
    // from is a descendant of to, not an ancestor
    noJobs(intercept[IllegalArgumentException](
      IcebergIO.readChangelog(spark, dir, Some(s3), Some(s1))))
    noJobs(intercept[IllegalArgumentException](
      IcebergIO.readChangelog(spark, dir, withRowId = true)))
    noJobs(intercept[IllegalArgumentException](
      IcebergIO.readChangelogBySeq(spark, dir, 0L, 999L)))
    // the tag keeps s1 while expiry removes the snapshots above it
    IcebergWrite.createTag(dir, "base", s1)
    IcebergWrite.append(df((4L, "d", 4.0)), dir)
    IcebergWrite.expireSnapshots(dir, System.currentTimeMillis() + 1, retainLast = 1)
    assert(IcebergIO.snapshotIds(dir).size === 2)
    noJobs(intercept[IllegalStateException](
      IcebergIO.readChangelog(spark, dir, fromSnapshotId = Some(s1))))
  }

  test("a second changelog of the same shape compiles few classes") {
    val dir = s"$root/codegen"
    IcebergWrite.create(spark, dir, schema)
    IcebergWrite.append(df((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)), dir)
    def cycle(i: Long): Long = {
      val from = current(dir)
      IcebergWrite.append(df((10 * i, "x", 1.0), (10 * i + 1, "y", 2.0)), dir)
      IcebergWrite.deleteWhere(spark, dir, col("id") === 10 * i)
      IcebergWrite.upsert(df((10 * i + 1, s"y$i", 3.0)), dir, Seq("id"))
      from
    }
    def compiles(body: => Unit): Long = {
      val metric = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val before = metric.getCount
      body
      metric.getCount - before
    }
    val first = cycle(1)
    compiles(assert(changelog(dir, Some(first)).size === 5))
    val second = cycle(2)
    // The plan's generated code carries no snapshot id or sequence
    // number, so reading a range again compiles nothing. The writes
    // between two ranges can evict its classes from Spark's codegen
    // cache (100 entries); a second range then compiles at most its
    // five stage bodies once on the driver and once in the executor's
    // class loader, plus a projection: 10 or 11 measured in a fresh JVM,
    // where the per-snapshot body this plan replaced compiled 32.
    val n = compiles(assert(changelog(dir, Some(second)).size === 5))
    assert(n <= 11L, s"second changelog compiled $n classes")
    assert(compiles(changelog(dir, Some(second))) === 0L)
  }
}
