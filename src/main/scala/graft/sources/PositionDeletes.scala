package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The Iceberg position-delete format, owned in one place: the spec
  * schema of a delete row with its reserved field ids, and the one
  * reader of live position-delete entries — parquet delete files and v3
  * deletion vectors alike. */
private[sources] object PositionDeletes {
  /** The spec's reserved field ids of `file_path` and `pos`. */
  val FieldIds: Map[String, Int] =
    Map("file_path" -> 2147483546, "pos" -> 2147483545)

  /** A position-delete row: the target data file's path and the deleted
    * row's ordinal in it. A foreign writer's optional `row` column
    * (id 2147483544) is never read. */
  val Schema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** [[read]]'s output: [[Schema]] plus the two path keys. */
  private val ReadSchema: StructType = StructType(Schema.fields ++ Seq(
    StructField("__gf_file", StringType, nullable = false),
    StructField("__gf_delfile", StringType, nullable = false)))

  /** An empty frame of [[Schema]]. */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schema)

  /** Rows of the live position-delete entries in `files` (content 1;
    * other entries are ignored): `file_path` and `pos` as stored,
    * `__gf_file` the target's scheme-normalized path key, `__gf_delfile`
    * the owning delete file's (a deletion vector's owner is its puffin
    * file). Parquet files are read with [[Schema]] pinned, so no Spark
    * job runs to infer it; deletion-vector blobs decode inside executor
    * tasks, one task per vector up to 32. */
  def read(spark: SparkSession, files: Seq[IcebergIO.ContentFile]): DataFrame = {
    val (dvs, parquet) =
      files.filter(_.content == 1).partition(_.format == "PUFFIN")
    val parquetRows =
      if (parquet.isEmpty) None
      else Some(spark.read.schema(Schema).parquet(parquet.map(_.path): _*)
        .select(col("file_path"), col("pos"),
          IcebergIO.normalizedPath(col("file_path")).as("__gf_file"),
          IcebergIO.normalizedPath(col("_metadata.file_path")).as("__gf_delfile")))
    val dvRows =
      if (dvs.isEmpty) None
      else {
        val sconf = GraftFs.serializableConf()
        val infos = dvs.map { f =>
          def missing(what: String) = throw new IllegalStateException(
            s"deletion-vector entry ${f.path} lacks $what")
          val target = f.referencedDataFile.getOrElse(missing("referenced_data_file"))
          (f.path, f.contentOffset.getOrElse(missing("content_offset")),
            f.contentSize.getOrElse(missing("content_size_in_bytes")),
            target, IcebergIO.normalizePath(target), IcebergIO.normalizePath(f.path))
        }
        val rdd = spark.sparkContext
          .parallelize(infos, math.max(1, math.min(infos.size, 32)))
          .flatMap { case (p, off, len, target, targetKey, ownerKey) =>
            dvDeleteRows(p, off, len, sconf)
              .map(pos => Row(target, pos, targetKey, ownerKey))
          }
        Some(spark.createDataFrame(rdd, ReadSchema))
      }
    (parquetRows.toSeq ++ dvRows.toSeq).reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], ReadSchema))
  }

  /** Decode one deletion-vector blob into its deleted positions inside
    * an executor task (object-level, so the RDD lambda captures no
    * enclosing state); positions stream off the bitmap without being
    * materialized. */
  private def dvDeleteRows(path: String, offset: Long, length: Long,
                           sconf: GraftFs.SerializableConf): Iterator[Long] = {
    val it = PuffinIO.readDv(path, offset, length, sconf.value).getLongIterator
    new Iterator[Long] {
      override def hasNext: Boolean = it.hasNext
      override def next(): Long = it.next()
    }
  }
}
