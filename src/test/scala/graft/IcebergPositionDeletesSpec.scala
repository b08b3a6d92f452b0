package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{IcebergFixture, IcebergIO, IcebergWrite}

/** The Iceberg verbs that read or build position-delete `(file_path,
  * pos)` rows: their Spark job counts, pinned, and a foreign writer's
  * delete file read under the spec schema. */
class IcebergPositionDeletesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root =
    s"/tmp/graft_iceberg_posdel_${java.util.UUID.randomUUID().toString.take(8)}"

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  private def df(ids: Long*): DataFrame = {
    val list = new java.util.ArrayList[Row]()
    ids.foreach(i => list.add(Row(i, s"n$i", i * 1.5)))
    spark.createDataFrame(list, schema).coalesce(1)
  }

  private def ids(d: DataFrame): Seq[Long] =
    d.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("job pins: merge-on-read scan, deleteWhere, changelog, rewritePositionDeletes, upgradeFormatVersion") {
    val dir = s"$root/pins"
    IcebergWrite.create(spark, dir, schema)
    IcebergWrite.append(df(1L, 2L, 3L), dir)
    IcebergWrite.append(df(4L, 5L, 6L), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 1L || col("id") === 5L)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // a v2 scan over two data files and one parquet position-delete file
    jobs("scan") = TestSpark.jobs(
      assert(ids(IcebergIO.read(spark, dir)) === Seq(2L, 3L, 4L, 6L)))
    val before = IcebergIO.loadMetadata(dir).currentSnapshotId.get
    jobs("deleteWhere") = TestSpark.jobs(
      IcebergWrite.deleteWhere(spark, dir, col("id") === 2L))
    jobs("readChangelog") = TestSpark.jobs(assert(
      IcebergIO.readChangelog(spark, dir, fromSnapshotId = Some(before))
        .select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "delete"))))
    jobs("rewritePositionDeletes") = TestSpark.jobs(
      IcebergWrite.rewritePositionDeletes(spark, dir))
    assert(IcebergIO.deleteFiles(spark, dir).count() === 1L)
    jobs("upgradeFormatVersion") = TestSpark.jobs(
      IcebergWrite.upgradeFormatVersion(spark, dir))
    assert(ids(IcebergIO.read(spark, dir)) === Seq(3L, 4L, 6L))
    assert(jobs.toMap === Map("scan" -> 2, "deleteWhere" -> 3,
      "readChangelog" -> 3, "rewritePositionDeletes" -> 3,
      "upgradeFormatVersion" -> 2))
  }

  test("job pins: append, upsert, updateWhere, compact, compactWhere, rewriteManifests, convertEqualityDeletes, cherrypickSnapshot") {
    val dir = s"$root/pins_commit"
    IcebergWrite.create(spark, dir, schema)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    jobs("append") = TestSpark.jobs(IcebergWrite.append(df(1L, 2L, 3L), dir))
    IcebergWrite.append(df(4L, 5L, 6L), dir)
    jobs("upsert") = TestSpark.jobs(
      IcebergWrite.upsert(df(2L, 7L), dir, Seq("id")))
    jobs("updateWhere") = TestSpark.jobs(IcebergWrite.updateWhere(spark, dir,
      col("id") === 4L, Map("score" -> org.apache.spark.sql.functions.lit(0.0))))
    jobs("convertEqualityDeletes") = TestSpark.jobs(
      IcebergWrite.convertEqualityDeletes(spark, dir))
    jobs("rewriteManifests") = TestSpark.jobs(
      IcebergWrite.rewriteManifests(spark, dir))
    jobs("compactWhere") = TestSpark.jobs(
      IcebergWrite.compactWhere(spark, dir, col("id") <= 3L))
    jobs("compact") = TestSpark.jobs(IcebergWrite.compact(spark, dir))
    val picked = IcebergWrite.append(df(8L), dir, branch = Some("audit"))
    jobs("cherrypickSnapshot") = TestSpark.jobs(
      IcebergWrite.cherrypickSnapshot(spark, dir, picked))
    assert(ids(IcebergIO.read(spark, dir)) === (1L to 8L))
    assert(jobs.toMap === Map("append" -> 3, "upsert" -> 4, "updateWhere" -> 8,
      "convertEqualityDeletes" -> 7, "rewriteManifests" -> 0,
      "compactWhere" -> 4, "compact" -> 4, "cherrypickSnapshot" -> 0))
  }

  test("job pin: changelog over append, deleteWhere and upsert on a many-manifest table") {
    val dir = s"$root/pins_changelog"
    IcebergWrite.create(spark, dir, schema)
    (0L until IcebergIO.ParallelManifestThreshold.toLong).foreach(i =>
      IcebergWrite.append(df(3 * i + 1, 3 * i + 2, 3 * i + 3), dir))
    assert(IcebergIO.manifests(spark, dir).count() >=
      IcebergIO.ParallelManifestThreshold)
    val from = IcebergIO.loadMetadata(dir).currentSnapshotId.get
    IcebergWrite.append(df(100L, 101L), dir)
    IcebergWrite.deleteWhere(spark, dir, col("id") === 2L || col("id") === 100L)
    IcebergWrite.upsert(df(5L, 200L).select(col("id"),
      org.apache.spark.sql.functions.concat(col("name"),
        org.apache.spark.sql.functions.lit("'")).as("name"), col("score")),
      dir, Seq("id"))
    val jobs = TestSpark.jobs(assert(
      IcebergIO.readChangelog(spark, dir, fromSnapshotId = Some(from))
        .select("id", "_change_type", "_change_ordinal").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq.sorted ===
        Seq((2L, "delete", 1), (5L, "delete", 2), (5L, "insert", 2),
          (100L, "delete", 1), (100L, "insert", 0), (101L, "insert", 0),
          (200L, "insert", 2))))
    assert(jobs === 5)
  }

  test("a foreign delete file's optional row column is not read") {
    val dir = s"$root/row_col"
    val w = new IcebergFixture.Writer(spark, dir, schema)
    w.append(df(1L, 2L, 3L, 4L))
    val target = w.dataFilePaths.head
    val rowType = StructType(schema.fields.map(_.copy(nullable = true)))
    val delSchema = StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("row", rowType, nullable = true)))
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(target, 1L, Row(2L, "n2", 3.0)))
    rows.add(Row(target, 3L, null))
    w.deletePositionRows(spark.createDataFrame(rows, delSchema).coalesce(1))
    assert(ids(IcebergIO.read(spark, dir)) === Seq(1L, 3L))
    val name = target.split('/').last
    def listed = IcebergIO.positionDeletes(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    assert(listed === Seq((name, 1L), (name, 3L)))
    IcebergWrite.rewritePositionDeletes(spark, dir)
    assert(ids(IcebergIO.read(spark, dir)) === Seq(1L, 3L))
    assert(listed === Seq((name, 1L), (name, 3L)))
  }
}
