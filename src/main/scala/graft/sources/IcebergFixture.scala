package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/**
 * Writes spec-conformant Apache Iceberg tables (format v1 and v2, Hadoop
 * `version-hint.text` layout) for testing [[IcebergIO]] — the public
 * Iceberg table spec (https://iceberg.apache.org/spec/) implemented
 * directly: `metadata/vN.metadata.json`, Avro manifest lists + manifests
 * (with the spec's field-ids carried as Avro `field-id` props and the
 * required container metadata keys), parquet data and position-delete
 * files.
 *
 * This is a FIXTURE writer (unpartitioned, flat schemas, driver-side
 * commit) — real write support would need the official runtime jar; see
 * `GraftSession.writeIceberg`. Snapshot ids/timestamps are deterministic
 * so oracle results never depend on wall-clock.
 */
object IcebergFixture {

  private val mapper = new ObjectMapper()

  /** Spark type -> Iceberg primitive type string (flat fixture schemas). */
  private[sources] def icebergType(dt: DataType): String = dt match {
    case BooleanType      => "boolean"
    case IntegerType      => "int"
    case LongType         => "long"
    case FloatType        => "float"
    case DoubleType       => "double"
    case DateType         => "date"
    case TimestampType    => "timestamptz"
    case TimestampNTZType => "timestamp"
    case StringType       => "string"
    case BinaryType       => "binary"
    case d: DecimalType   => s"decimal(${d.precision}, ${d.scale})"
    // v3 semi-structured column (the spec's `variant`): Spark's native
    // VariantType shares the open Parquet VARIANT representation, so
    // the mapping is a direct passthrough (the WRITER gates it to
    // format v3 — see IcebergWrite.create)
    case VariantType      => "variant"
    // NullType is the surface of the v3 `unknown` bottom type: reads
    // project null, writes OMIT the column from data files (the spec's
    // writer behavior — see IcebergWrite.stageDataFiles). create() and
    // addColumn gate it to format v3 like `variant`.
    case NullType         => "unknown"
    case other => throw new IllegalArgumentException(
      s"fixture writer supports flat primitive schemas only, got $other")
  }

  /** Write a TIMESTAMP(NANOS)-annotated parquet file — something Spark
    * itself CANNOT produce — via parquet-hadoop's Group API: the data
    * shape a foreign v3 writer gives a `timestamp_ns` column. Columns
    * (id INT64, nsCol INT64/timestamp-nanos), required. Used by the
    * ns-timestamp fixtures; the engine reads such files as ns longs
    * under Spark's legacy nanos conf (set automatically by the Iceberg
    * read path). */
  def writeNsParquet(path: String, nsCol: String,
                     rows: Seq[(Long, Long)]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.Type.Repetition
    val mt = Types.buildMessage()
      .addField(Types.primitive(PrimitiveTypeName.INT64, Repetition.REQUIRED)
        .named("id"))
      .addField(Types.primitive(PrimitiveTypeName.INT64, Repetition.REQUIRED)
        .as(LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.NANOS))
        .named(nsCol))
      .named("graft_ns_fixture")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(mt, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).withType(mt).build()
    val f = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
    try rows.foreach { case (id, ns) =>
      w.write(f.newGroup().append("id", id).append(nsCol, ns))
    } finally w.close()
  }

  /** Write a GEOMETRY-annotated parquet file (WKB point payloads) —
    * something Spark's sink CANNOT produce — via parquet-hadoop's Group
    * API: the data shape a foreign v3 writer gives a `geometry` column.
    * Columns (id INT64, geoCol BINARY/geometry(crs)), required. The
    * engine reads such files as raw WKB BinaryType (the read path
    * always supplies an explicit schema; an INFERRED Spark read of the
    * annotation errors with PARQUET_TYPE_ILLEGAL). */
  def writeGeoParquet(path: String, geoCol: String, crs: String,
                      rows: Seq[(Long, Array[Byte])]): Unit = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.Type.Repetition
    val mt = Types.buildMessage()
      .addField(Types.primitive(PrimitiveTypeName.INT64, Repetition.REQUIRED)
        .named("id"))
      .addField(Types.primitive(PrimitiveTypeName.BINARY, Repetition.REQUIRED)
        .as(LogicalTypeAnnotation.geometryType(crs))
        .named(geoCol))
      .named("graft_geo_fixture")
    val conf = new org.apache.hadoop.conf.Configuration()
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(mt, conf)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).withType(mt).build()
    val f = new org.apache.parquet.example.data.simple.SimpleGroupFactory(mt)
    try rows.foreach { case (id, wkb) =>
      w.write(f.newGroup().append("id", id).append(geoCol,
        org.apache.parquet.io.api.Binary.fromConstantByteArray(wkb)))
    } finally w.close()
  }

  /** Little-endian WKB point — the geometry fixtures' payload. */
  def wkbPoint(x: Double, y: Double): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(21)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(1.toByte); bb.putInt(1); bb.putDouble(x); bb.putDouble(y)
    bb.array()
  }

  private[sources] def schemaJson(st: StructType, schemaId: Int): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("type", "struct")
    n.put("schema-id", schemaId)
    val fields = n.putArray("fields")
    st.fields.zipWithIndex.foreach { case (f, i) =>
      val fn = fields.addObject()
      fn.put("id", i + 1)
      fn.put("name", f.name)
      fn.put("required", !f.nullable)
      // a StructField may OVERRIDE the derived spec type via metadata
      // key "iceberg.type" — how foreign-only types with a widened Spark
      // surface (timestamp_ns -> ns LONGs) enter a fixture schema
      fn.put("type",
        if (f.metadata.contains("iceberg.type"))
          f.metadata.getString("iceberg.type")
        else icebergType(f.dataType))
    }
    n
  }

  // --------------------------------------------------- Avro manifest schemas

  /** Manifest-list entry (`manifest_file`, spec field-ids 500-517).
    * v1 omits the v2-only content/sequence-number fields. */
  private[sources] def manifestListSchema(v: Int): Schema = {
    val v2Only =
      """{"name":"content","type":"int","field-id":517},
        |{"name":"sequence_number","type":"long","field-id":515},
        |{"name":"min_sequence_number","type":"long","field-id":516},""".stripMargin
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_file","fields":[
         |{"name":"manifest_path","type":"string","field-id":500},
         |{"name":"manifest_length","type":"long","field-id":501},
         |{"name":"partition_spec_id","type":"int","field-id":502},
         |${if (v >= 2) v2Only else ""}
         |{"name":"added_snapshot_id","type":"long","field-id":503},
         |{"name":"added_files_count","type":"int","field-id":504},
         |{"name":"existing_files_count","type":"int","field-id":505},
         |{"name":"deleted_files_count","type":"int","field-id":506},
         |{"name":"added_rows_count","type":"long","field-id":512},
         |{"name":"existing_rows_count","type":"long","field-id":513},
         |{"name":"deleted_rows_count","type":"long","field-id":514}
         |]}""".stripMargin)
  }

  /** Avro schema for the `partition` record (r102): one field per
    * partition field, field-ids from 1000 up (spec: partition field ids
    * start at 1000). Nullable fields (void transform) get a null-first
    * union with a null default. Empty for unpartitioned tables. */
  private[sources] def partitionFieldsJson(partCols: Seq[(String, DataType, Boolean)]): String =
    partCols.zipWithIndex.map { case ((n, dt, nullable), i) =>
      // spec partition-data representation: date = epoch-day int,
      // timestamp = epoch-micros long (logical types annotate the raw
      // int/long — GenericDatumWriter writes the primitive unchanged)
      val avroT = dt match {
        case IntegerType => "\"int\""
        case LongType    => "\"long\""
        case StringType  => "\"string\""
        case DateType    => """{"type":"int","logicalType":"date"}"""
        case TimestampType =>
          """{"type":"long","logicalType":"timestamp-micros"}"""
        case TimestampNTZType =>
          """{"type":"long","logicalType":"local-timestamp-micros"}"""
        case d: DecimalType =>
          s"""{"type":"bytes","logicalType":"decimal","precision":${d.precision},"scale":${d.scale}}"""
        case other => throw new IllegalArgumentException(
          s"fixture partition column type not supported: $other")
      }
      if (nullable)
        s"""{"name":"$n","type":["null",$avroT],"default":null,"field-id":${1000 + i}}"""
      else
        s"""{"name":"$n","type":$avroT,"field-id":${1000 + i}}"""
    }.mkString(",")

  /** Manifest entry (`manifest_entry` wrapping `data_file`, spec
    * field-ids 0-4 / 100-143). `partition` is the r102 record — empty
    * for unpartitioned tables, one field per partition column otherwise. */
  private[sources] def manifestEntrySchema(
      v: Int, partCols: Seq[(String, DataType, Boolean)] = Nil): Schema = {
    val dataFileFields: Seq[String] = Seq(
      if (v >= 2) Some("""{"name":"content","type":"int","field-id":134}""") else None,
      Some("""{"name":"file_path","type":"string","field-id":100}"""),
      Some("""{"name":"file_format","type":"string","field-id":101}"""),
      Some(s"""{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[${partitionFieldsJson(partCols)}]}}"""),
      Some("""{"name":"record_count","type":"long","field-id":103}"""),
      Some("""{"name":"file_size_in_bytes","type":"long","field-id":104}"""),
      // column bounds (spec 125/128): array-of-(key,value) map form —
      // Avro maps can't have int keys, so the spec mandates this shape
      Some("""{"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[{"name":"key","type":"int","field-id":121},{"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110}"""),
      // NaN counts (spec field 137): bounds exclude NaN, so readers need
      // these to prune float/double columns soundly
      Some("""{"name":"nan_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k138_v139","fields":[{"name":"key","type":"int","field-id":138},{"name":"value","type":"long","field-id":139}]},"logicalType":"map"}],"default":null,"field-id":137}"""),
      Some("""{"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[{"name":"key","type":"int","field-id":126},{"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125}"""),
      Some("""{"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[{"name":"key","type":"int","field-id":129},{"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128}"""),
      if (v == 1) Some("""{"name":"block_size_in_bytes","type":"long","field-id":105}""") else None,
      if (v >= 2) Some(
        """{"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135}""")
      else None,
      // v3: row lineage (first_row_id, spec field 142) and deletion
      // vectors (referenced_data_file/content_offset/content_size, spec
      // fields 143-145 — a DV entry names the puffin file in file_path
      // and the target data file here)
      if (v >= 3) Some("""{"name":"first_row_id","type":["null","long"],"default":null,"field-id":142}""") else None,
      if (v >= 3) Some("""{"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143}""") else None,
      if (v >= 3) Some("""{"name":"content_offset","type":["null","long"],"default":null,"field-id":144}""") else None,
      if (v >= 3) Some("""{"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}""") else None).flatten
    val entryFields: Seq[String] = Seq(
      Some("""{"name":"status","type":"int","field-id":0}"""),
      Some("""{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1}"""),
      if (v >= 2) Some("""{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3}""") else None,
      if (v >= 2) Some("""{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4}""") else None,
      Some(s"""{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[${dataFileFields.mkString(",")}]}}""")).flatten
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[${entryFields.mkString(",")}]}""")
  }

  // ---------------------------------------------------------------- writer

  /** One content file tracked by the writer. `bounds`: per-column
    * (field id, lower, upper) in the spec's single-value binary form. */
  private final case class FileMeta(path: String, content: Int,
                                    records: Long, bytes: Long,
                                    equalityIds: Seq[Int] = Nil,
                                    partitionValues: Seq[Any] = Nil,
                                    bounds: Seq[(Int, Array[Byte], Array[Byte])] = Nil,
                                    nullCounts: Seq[(Int, Long)] = Nil,
                                    nanCounts: Seq[(Int, Long)] = Nil)

  /** Incremental fixture-table writer. Each append/delete call commits one
    * snapshot: writes the files + a new manifest, rewrites the manifest
    * list, bumps `vN.metadata.json` and `version-hint.text`.
    * `partitionCols` (identity transform) makes the table PARTITIONED:
    * appends split into one data file per partition tuple, and the
    * manifest entries record the tuple in the r102 partition record. */
  final class Writer(val spark: SparkSession, val dir: String,
                     val schema: StructType, val formatVersion: Int = 2,
                     val inlineManifests: Boolean = false,
                     val partitionCols: Seq[String] = Nil,
                     val partitionTransforms: Map[String, String] = Map.empty,
                     val recordScheme: Option[String] = None) {
    require(formatVersion == 1 || formatVersion == 2,
      s"format-version must be 1 or 2, got $formatVersion")
    require(!(inlineManifests && formatVersion != 1),
      "inline snapshot manifests are a v1-only form")
    require(partitionCols.forall(schema.fieldNames.contains),
      s"partition columns ${partitionCols.mkString(",")} not all in schema")
    require(partitionTransforms.keySet.subsetOf(partitionCols.toSet),
      "partitionTransforms keys must be partition columns")
    private val timeTransforms = Set("year", "month", "day", "hour")
    partitionTransforms.values.foreach(t =>
      require(t.matches("truncate\\[\\d+\\]") || t.matches("bucket\\[\\d+\\]") ||
          timeTransforms(t) || t == "void",
        s"only truncate[W] / bucket[N] / year/month/day/hour / void " +
          s"transforms supported by the fixture, got $t"))

    /** Recorded form of an absolute path: prefixed with `recordScheme`
      * when set (e.g. "grafttest" → "grafttest:///…") so tests can prove
      * every manifest/data open resolves through the Hadoop FS scheme
      * registry, never `java.io.File`. */
    private def rec(p: String): String =
      recordScheme.map(s => s"$s://$p").getOrElse(p)

    /** (spec partition-field name, transform, source col). Identity keeps
      * the source name; transforms get the conventional suffix. */
    private val partFields: Seq[(String, String, String)] =
      partitionCols.map { c =>
        partitionTransforms.get(c) match {
          case Some(t) if t.startsWith("truncate") => (s"${c}_trunc", t, c)
          case Some(t) if t.startsWith("bucket")   => (s"${c}_bucket", t, c)
          case Some(t)                             => (s"${c}_$t", t, c)
          case None                                => (c, "identity", c)
        }
      }
    // bucket/time/void partition fields are always int (the ordinal, or
    // void's always-null placeholder), regardless of source column type;
    // void fields are the only nullable ones
    private val partColTypes: Seq[(String, DataType, Boolean)] =
      partFields.map { case (n, t, src) =>
        val dt = if (t.startsWith("bucket") || timeTransforms(t) || t == "void")
          IntegerType else schema(src).dataType
        (n, dt, t == "void")
      }

    /** The transform as a Column over the source (identity passthrough;
      * truncate per spec: floor-mod width binning for ints, prefix for
      * strings; bucket per spec via [[IcebergTransforms.bucket]]). */
    /** The shared writer/reader transform mapping
      * ([[IcebergTransforms.sparkColumn]]) bound to this table's schema. */
    private def transformCol(field: (String, String, String))
        : org.apache.spark.sql.Column = {
      val (_, t, src) = field
      IcebergTransforms.sparkColumn(t, src, schema(src).dataType)
    }

    private val metaDir = new File(dir, "metadata")
    private val dataDir = new File(dir, "data")
    metaDir.mkdirs(); dataDir.mkdirs()

    private val tableUuid = java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))
    // deterministic commit clock: fixed epoch base + 1s per snapshot
    private val t0 = 1704067200000L // 2024-01-01T00:00:00Z
    private var seq = 0L
    private var version = 0
    // (manifestPath, manifestLength, content, addedSnapshotId, seq, rows, files)
    private var manifests = Vector.empty[(String, Long, Int, Long, Long, Long, Int)]
    private var snapshotNodes = Vector.empty[ObjectNode]
    private var tags = Map.empty[String, Long]

    /** Tag the CURRENT snapshot with a named ref (spec `refs`, type
      * "tag") — readable back via `IcebergIO.read(…, ref = Some(name))`.
      * Rewrites the metadata json (a metadata-only commit). */
    def tag(name: String): Unit = {
      require(seq > 0, "cannot tag an empty table (no snapshot yet)")
      tags += name -> seq
      writeMetadataJson()
    }

    /** Paths of the data files written so far, in append order (used by
      * tests to target position deletes). */
    def dataFilePaths: Seq[String] =
      allFiles.filter(_.content == 0).map(_.path)
    private var allFiles = Vector.empty[FileMeta]

    def currentSnapshotId: Long = seq

    /** Append `df`; commits one snapshot (seq+1). Unpartitioned: one
      * parquet data file. Partitioned: one data file PER partition tuple
      * present in `df`, each recorded with its tuple in the manifest
      * (fixture-grain driver-side split — real writers shuffle). */
    def append(df: DataFrame): Long = {
      require(df.schema.fieldNames.sameElements(schema.fieldNames),
        s"append schema ${df.schema.fieldNames.mkString(",")} != table " +
          s"schema ${schema.fieldNames.mkString(",")}")
      val next = seq + 1
      val fms: Seq[FileMeta] =
        if (partitionCols.isEmpty) {
          val target = new File(dataDir, f"data-$next%05d.parquet")
          val (rows, bytes) = writeParquetFile(df, target)
          val (bounds, nulls, nans) = fileStats(df)
          Seq(FileMeta(rec(target.getAbsolutePath), 0, rows, bytes,
            bounds = bounds, nullCounts = nulls, nanCounts = nans))
        } else {
          val tuples = df.select(partFields.map(transformCol): _*).distinct()
            .collect().map(_.toSeq).sortBy(_.mkString("/")).toSeq
          tuples.zipWithIndex.map { case (vals, i) =>
            // <=> not ===: void-transform tuples are null
            val part = partFields.zip(vals)
              .map { case (f, v) =>
                transformCol(f) <=> org.apache.spark.sql.functions.lit(v) }
              .reduce(_ && _)
            val target = new File(dataDir, f"data-$next%05d-p$i%03d.parquet")
            val slice = df.filter(part)
            val (rows, bytes) = writeParquetFile(slice, target)
            val (bounds, nulls, nans) = fileStats(slice)
            FileMeta(rec(target.getAbsolutePath), 0, rows, bytes,
              partitionValues = vals, bounds = bounds, nullCounts = nulls,
              nanCounts = nans)
          }
        }
      allFiles ++= fms
      commit(fms, next, "append")
      next
    }

    /** Bench-grain append for identity-partitioned tables: ONE
      * shuffle-write job produces every data file (repartition by the
      * partition column puts each value in exactly one task; partitionBy
      * on a DUPLICATE of the column splits per value while keeping the
      * source column in the files, as the spec's identity layout does)
      * and ONE grouped aggregate computes all per-file stats. The
      * per-tuple loop in [[append]] runs two jobs per partition — fine
      * at test grain, prohibitive at the hundreds of files a bench
      * fixture needs. Restrictions: exactly one identity partition
      * column, int/long/string, no nulls, path-safe string values. */
    def appendFast(df: DataFrame): Long = {
      import org.apache.spark.sql.functions.{col => c}
      require(partFields.size == 1 && partFields.head._2 == "identity",
        "appendFast supports exactly one identity partition column")
      require(df.schema.fieldNames.sameElements(schema.fieldNames),
        s"appendFast schema ${df.schema.fieldNames.mkString(",")} != table " +
          s"schema ${schema.fieldNames.mkString(",")}")
      val pcol = partitionCols.head
      val pdt = schema(pcol).dataType
      require(Seq(IntegerType, LongType, StringType).contains(pdt),
        s"appendFast partition type must be int/long/string, got $pdt")
      val next = seq + 1
      val tmp = new File(dir, s"_tmp_fast_$next")
      df.withColumn("__gf_p", c(pcol)).repartition(c(pcol))
        .write.partitionBy("__gf_p").mode("overwrite").parquet(tmp.getPath)
      val stats = groupedFileStats(df, pcol)
      val partDirs = Option(tmp.listFiles(
          (f: File) => f.isDirectory && f.getName.startsWith("__gf_p=")))
        .getOrElse(Array.empty[File]).toSeq
      require(partDirs.nonEmpty, s"appendFast wrote no partitions under $tmp")
      def parsed(d: File): Any = {
        val s = d.getName.stripPrefix("__gf_p=")
        require(!s.contains("%"),
          s"appendFast partition value needs hive-unescaping (unsupported): $s")
        pdt match {
          case IntegerType => Int.box(s.toInt)
          case LongType    => Long.box(s.toLong)
          case _           => s
        }
      }
      val ordered = partDirs.map(d => parsed(d) -> d).sortBy(_._1.toString)
      val fms = ordered.zipWithIndex.map { case ((v, d), i) =>
        val parts = Option(d.listFiles((_, n) => n.endsWith(".parquet")))
          .getOrElse(Array.empty[File]).toSeq
        require(parts.size == 1,
          s"expected exactly one file per partition value, got ${parts.size} in $d")
        val target = new File(dataDir, f"data-$next%05d-p$i%04d.parquet")
        Files.move(parts.head.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
        val (rows, bounds, nulls, nans) = stats(v)
        FileMeta(rec(target.getAbsolutePath), 0, rows, target.length(),
          partitionValues = Seq(v), bounds = bounds, nullCounts = nulls,
          nanCounts = nans)
      }
      deleteRecursively(tmp.getPath)
      allFiles ++= fms
      commit(fms, next, "append")
      next
    }

    /** Per-partition-value [[fileStats]] in ONE grouped aggregate:
      * value -> (row count, bounds, null counts, nan counts). */
    private def groupedFileStats(df: DataFrame, pcol: String)
        : Map[Any, (Long, Seq[(Int, Array[Byte], Array[Byte])],
                    Seq[(Int, Long)], Seq[(Int, Long)])] = {
      import org.apache.spark.sql.functions.{col => c, count, isnan, lit, max, min, sum, when}
      val supported: Set[DataType] =
        Set(IntegerType, LongType, StringType, DateType, DoubleType, FloatType)
      def boundable(dt: DataType): Boolean = dt match {
        case _: DecimalType => true
        case other => supported.contains(other)
      }
      def floating(dt: DataType) = dt == FloatType || dt == DoubleType
      def fid(n: String) = schema.fieldNames.indexOf(n) + 1
      val boundFields = df.schema.fields.toSeq.filter(f => boundable(f.dataType))
      val boundCols = boundFields.map(_.name)
      val allCols = df.schema.fields.toSeq.map(_.name)
      val nanCols = df.schema.fields.toSeq
        .filter(f => floating(f.dataType)).map(_.name)
      def nonNan(f: StructField) =
        if (floating(f.dataType)) when(isnan(c(f.name)), null).otherwise(c(f.name))
        else c(f.name)
      val aggs = Seq(count(lit(1))) ++
        boundFields.flatMap(f => Seq(min(nonNan(f)), max(nonNan(f)))) ++
        allCols.map(n => sum(when(c(n).isNull, 1L).otherwise(0L))) ++
        nanCols.map(n => sum(when(isnan(c(n)), 1L).otherwise(0L)))
      df.groupBy(c(pcol)).agg(aggs.head, aggs.tail: _*).collect().map { row =>
        val base = 2 // group key + count
        val bounds = boundCols.zipWithIndex.flatMap { case (n, j) =>
          (Option(row.get(base + 2 * j)), Option(row.get(base + 2 * j + 1))) match {
            case (Some(lo), Some(hi)) => Some((fid(n),
              IcebergTransforms.serializeBound(lo),
              IcebergTransforms.serializeBound(hi)))
            case _ => None
          }
        }
        val nulls = allCols.zipWithIndex.map { case (n, j) =>
          fid(n) -> row.getLong(base + 2 * boundCols.size + j)
        }
        val nans = nanCols.zipWithIndex.map { case (n, j) =>
          fid(n) -> row.getLong(base + 2 * boundCols.size + allCols.size + j)
        }
        (row.get(0): Any) -> ((row.getLong(1), bounds, nulls, nans))
      }.toMap
    }

    /** Append WITHOUT the schema-equality check — writes a data file
      * whose columns are a strict subset of the table schema, simulating
      * a file written BEFORE a column was added (schema evolution on
      * read: the reader must surface the missing column as nulls). */
    /** Commit an EXTERNALLY-written parquet file verbatim (no stats
      * read-back, no bounds — missing bounds keep the file under every
      * stats filter, sound): how a fixture represents a file this
      * engine's own writer could never produce (e.g. a
      * TIMESTAMP(NANOS)-annotated column from a foreign Iceberg
      * writer). Unpartitioned tables only; the caller-supplied row
      * count is validated against the parquet footer (a wrong count
      * would silently corrupt record_count in the .files/.entries
      * relations and changelog accounting). */
    def appendExternalFile(file: File, rows: Long): Long = {
      require(partitionCols.isEmpty,
        "appendExternalFile is unpartitioned-table only")
      require(file.isFile, s"no such file: $file")
      val footerRows = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getAbsolutePath), GraftFs.conf())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }
      require(footerRows == rows,
        s"appendExternalFile: caller-supplied row count $rows disagrees " +
          s"with the parquet footer ($footerRows) for $file")
      val next = seq + 1
      val fm = FileMeta(rec(file.getAbsolutePath), 0, rows, file.length())
      allFiles :+= fm
      commit(Seq(fm), next, "append")
      next
    }

    def appendRaw(df: DataFrame): Long = {
      require(partitionCols.isEmpty, "appendRaw is unpartitioned-table only")
      require(df.schema.fieldNames.forall(schema.fieldNames.contains),
        "appendRaw columns must be a subset of the table schema")
      val next = seq + 1
      val target = new File(dataDir, f"data-$next%05d.parquet")
      val (rows, bytes) = writeParquetFile(df, target)
      val (bounds, nulls, nans) = fileStats(df)
      val fm = FileMeta(rec(target.getAbsolutePath), 0, rows, bytes,
        bounds = bounds, nullCounts = nulls, nanCounts = nans)
      allFiles :+= fm
      commit(Seq(fm), next, "append")
      next
    }

    /** Append `df` as one data file and position-delete `positions` of
      * it in the SAME snapshot — a writer may add a file and delete some
      * of its rows in one commit (the delete's sequence number equals the
      * file's). Unpartitioned v2 tables only. */
    def appendWithPositionDeletes(df: DataFrame, positions: Seq[Long]): Long = {
      import spark.implicits._
      require(formatVersion >= 2, "position deletes require format v2")
      require(partitionCols.isEmpty, "unpartitioned tables only")
      val next = seq + 1
      val target = new File(dataDir, f"data-$next%05d.parquet")
      val (rows, bytes) = writeParquetFile(df, target)
      val (bounds, nulls, nans) = fileStats(df)
      val data = FileMeta(rec(target.getAbsolutePath), 0, rows, bytes,
        bounds = bounds, nullCounts = nulls, nanCounts = nans)
      val delTarget = new File(dataDir, f"delete-$next%05d.parquet")
      val (delRows, delBytes) = writeParquetFile(positions.sorted
        .map(p => (data.path, p)).toDF("file_path", "pos"), delTarget)
      val del = FileMeta(rec(delTarget.getAbsolutePath), 1, delRows, delBytes)
      allFiles ++= Seq(data, del)
      commit(Seq(data, del), next, "overwrite")
      next
    }

    /** Position-delete `positions` of `dataFilePath`; commits a snapshot
      * with a delete manifest (v2 only). */
    def deletePositions(dataFilePath: String, positions: Seq[Long]): Long = {
      import spark.implicits._
      deletePositionRows(positions.sorted.map(p => (dataFilePath, p))
        .toDF("file_path", "pos"))
    }

    /** Commit `delDf` verbatim as one position-delete file: the spec's
      * `file_path` and `pos`, plus any column a foreign writer adds (the
      * optional `row`). */
    def deletePositionRows(delDf: DataFrame): Long = {
      require(formatVersion >= 2, "position deletes require format v2")
      require(partitionCols.isEmpty,
        "fixture delete files are unpartitioned-table only")
      val next = seq + 1
      val target = new File(dataDir, f"delete-$next%05d.parquet")
      val (rows, bytes) = writeParquetFile(delDf, target)
      val fm = FileMeta(rec(target.getAbsolutePath), 1, rows, bytes)
      allFiles :+= fm
      commit(Seq(fm), next, "delete")
      next
    }

    /** Equality-delete on `values` (v2): any data row equal to a delete
      * row on the columns named by `fieldIds` — and written BEFORE this
      * snapshot (data sequence number < this delete's) — is deleted.
      * `values`' column names must match the table columns for the ids. */
    def deleteEquality(values: DataFrame, fieldIds: Seq[Int]): Long = {
      require(formatVersion >= 2, "equality deletes require format v2")
      require(fieldIds.nonEmpty, "equality delete needs at least one field id")
      require(partitionCols.isEmpty,
        "fixture delete files are unpartitioned-table only " +
          "(use deleteEqualityInPartition on partitioned tables)")
      val next = seq + 1
      val target = new File(dataDir, f"eqdelete-$next%05d.parquet")
      val (rows, bytes) = writeParquetFile(values, target)
      val fm = FileMeta(rec(target.getAbsolutePath), 2, rows, bytes, fieldIds)
      allFiles :+= fm
      commit(Seq(fm), next, "delete")
      next
    }

    /** PARTITION-SCOPED equality delete (v2, partitioned tables): the
      * delete file carries the partition tuple in its manifest entry and
      * — per spec — applies ONLY to data rows of that partition. One
      * tuple value per partition field, in `partitionCols` order. */
    def deleteEqualityInPartition(values: DataFrame, fieldIds: Seq[Int],
                                  partitionVals: Seq[Any]): Long = {
      require(formatVersion >= 2, "equality deletes require format v2")
      require(fieldIds.nonEmpty, "equality delete needs at least one field id")
      require(partitionCols.nonEmpty,
        "deleteEqualityInPartition needs a partitioned table")
      require(partitionVals.size == partFields.size,
        s"expected ${partFields.size} partition value(s), got ${partitionVals.size}")
      val next = seq + 1
      val target = new File(dataDir, f"eqdelete-$next%05d.parquet")
      val (rows, bytes) = writeParquetFile(values, target)
      val fm = FileMeta(rec(target.getAbsolutePath), 2, rows, bytes, fieldIds,
        partitionValues = partitionVals)
      allFiles :+= fm
      commit(Seq(fm), next, "delete")
      next
    }

    /** Per-file column min/max for the manifest bounds (spec 125/128):
      * one agg over the file's rows, eligible primitive columns only,
      * all-null columns omitted (no bound → never pruned — the
      * conservative direction). Per spec, float/double bounds EXCLUDE
      * NaN (Spark's raw min/max would surface NaN as the upper bound —
      * NaN orders greatest); the NaN rows are counted separately
      * (`nan_value_counts`, spec field 137) so readers can prune
      * soundly. */
    private def fileStats(df: DataFrame)
        : (Seq[(Int, Array[Byte], Array[Byte])], Seq[(Int, Long)],
           Seq[(Int, Long)]) = {
      import org.apache.spark.sql.functions.{col => c, isnan, lit, max, min, sum, when}
      val supported: Set[DataType] =
        Set(IntegerType, LongType, StringType, DateType, DoubleType, FloatType)
      def boundable(dt: DataType): Boolean = dt match {
        case _: DecimalType => true
        case other => supported.contains(other)
      }
      def floating(dt: DataType) = dt == FloatType || dt == DoubleType
      def fid(n: String) = schema.fieldNames.indexOf(n) + 1
      val boundFields = df.schema.fields.toSeq.filter(f => boundable(f.dataType))
      val boundCols = boundFields.map(_.name)
      val allCols = df.schema.fields.toSeq.map(_.name)
      val nanCols = df.schema.fields.toSeq
        .filter(f => floating(f.dataType)).map(_.name)
      def nonNan(f: StructField) =
        if (floating(f.dataType)) when(isnan(c(f.name)), null).otherwise(c(f.name))
        else c(f.name)
      val aggs = boundFields.flatMap(f => Seq(min(nonNan(f)), max(nonNan(f)))) ++
        allCols.map(n => sum(when(c(n).isNull, 1L).otherwise(0L))) ++
        nanCols.map(n => sum(when(isnan(c(n)), 1L).otherwise(0L)))
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      val bounds = boundCols.zipWithIndex.flatMap { case (n, j) =>
        (Option(row.get(2 * j)), Option(row.get(2 * j + 1))) match {
          case (Some(lo), Some(hi)) => Some((fid(n),
            IcebergTransforms.serializeBound(lo),
            IcebergTransforms.serializeBound(hi)))
          case _ => None
        }
      }
      val nulls = allCols.zipWithIndex.map { case (n, j) =>
        fid(n) -> row.getLong(2 * boundCols.size + j)
      }
      val nans = nanCols.zipWithIndex.map { case (n, j) =>
        fid(n) -> row.getLong(2 * boundCols.size + allCols.size + j)
      }
      (bounds, nulls, nans)
    }

    private def writeParquetFile(df: DataFrame, target: File): (Long, Long) = {
      val tmp = new File(dir, s"_tmp_${target.getName}")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = Option(tmp.listFiles((_, n) => n.endsWith(".parquet")))
        .getOrElse(Array.empty[File]).headOption
        .getOrElse(throw new IllegalStateException(s"no parquet part under $tmp"))
      Files.move(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
      Option(tmp.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => Files.deleteIfExists(f.toPath))
      Files.deleteIfExists(tmp.toPath)
      (df.count(), target.length())
    }

    private def partitionSpecFieldsJson: String =
      partFields.zipWithIndex.map { case ((n, t, src), i) =>
        val sourceId = schema.fieldNames.indexOf(src) + 1
        s"""{"name":"$n","transform":"$t","source-id":$sourceId,"field-id":${1000 + i}}"""
      }.mkString("[", ",", "]")

    private def writeManifest(files: Seq[FileMeta], snapshotId: Long,
                              suffix: String): (String, Long) = {
      val es = manifestEntrySchema(formatVersion, partColTypes)
      val dfSchema = es.getField("data_file").schema()
      val partSchema = dfSchema.getField("partition").schema()
      val out = new File(metaDir, f"manifest-$snapshotId%05d$suffix.avro")
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](es))
      // spec-required manifest container metadata
      w.setMeta("schema", schemaJson(schema, 0).toString)
      w.setMeta("partition-spec", partitionSpecFieldsJson)
      w.setMeta("partition-spec-id", "0")
      w.setMeta("format-version", formatVersion.toString)
      if (formatVersion >= 2)
        w.setMeta("content", if (files.exists(_.content > 0)) "deletes" else "data")
      w.create(es, out)
      try files.foreach { fm =>
        val e = new GenericData.Record(es)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", snapshotId)
        if (formatVersion >= 2) {
          e.put("sequence_number", snapshotId)
          e.put("file_sequence_number", snapshotId)
        }
        val d = new GenericData.Record(dfSchema)
        if (formatVersion >= 2) d.put("content", fm.content)
        d.put("file_path", fm.path)
        d.put("file_format", "PARQUET")
        val partRec = new GenericData.Record(partSchema)
        // delete files in a partitioned table: fixture writes them as
        // partition-less (global) — leave the record fields unset only
        // when values exist for this file. Values convert to the spec's
        // STORED partition representation (date → epoch-day int,
        // timestamp → epoch-micros long) — the tuple collect() hands
        // back JVM objects.
        partFields.map(_._1).zip(fm.partitionValues).foreach { case (n, v) =>
          partRec.put(n, v match {
            case d: java.sql.Date =>
              Int.box(Math.toIntExact(d.toLocalDate.toEpochDay))
            case t: java.sql.Timestamp =>
              val i = t.toInstant
              Long.box(Math.addExact(
                Math.multiplyExact(i.getEpochSecond, 1000000L),
                (i.getNano / 1000).toLong))
            case t: java.time.LocalDateTime =>
              val i = t.toInstant(java.time.ZoneOffset.UTC)
              Long.box(Math.addExact(
                Math.multiplyExact(i.getEpochSecond, 1000000L),
                (i.getNano / 1000).toLong))
            case b: java.math.BigDecimal =>
              java.nio.ByteBuffer.wrap(b.unscaledValue().toByteArray)
            case other => other
          })
        }
        d.put("partition", partRec)
        d.put("record_count", fm.records)
        d.put("file_size_in_bytes", fm.bytes)
        if (fm.bounds.nonEmpty) {
          def boundsArr(fieldName: String, lower: Boolean) = {
            // union ["null", array] -> the array branch
            val arrSchema = dfSchema.getField(fieldName).schema().getTypes.get(1)
            val a = new GenericData.Array[GenericRecord](fm.bounds.size, arrSchema)
            fm.bounds.foreach { case (fid, lo, hi) =>
              val r = new GenericData.Record(arrSchema.getElementType)
              r.put("key", fid)
              r.put("value", java.nio.ByteBuffer.wrap(if (lower) lo else hi))
              a.add(r)
            }
            a
          }
          d.put("lower_bounds", boundsArr("lower_bounds", lower = true))
          d.put("upper_bounds", boundsArr("upper_bounds", lower = false))
        }
        def putLongMap(field: String, counts: Seq[(Int, Long)]): Unit =
          if (counts.nonEmpty) {
            val cs = dfSchema.getField(field).schema().getTypes.get(1)
            val a = new GenericData.Array[GenericRecord](counts.size, cs)
            counts.foreach { case (fid, n) =>
              val r = new GenericData.Record(cs.getElementType)
              r.put("key", fid)
              r.put("value", n)
              a.add(r)
            }
            d.put(field, a)
          }
        putLongMap("null_value_counts", fm.nullCounts)
        putLongMap("nan_value_counts", fm.nanCounts)
        if (formatVersion == 1) d.put("block_size_in_bytes", 67108864L)
        if (formatVersion >= 2 && fm.equalityIds.nonEmpty)
          d.put("equality_ids", fm.equalityIds.map(Int.box).asJava)
        e.put("data_file", d)
        w.append(e)
      } finally w.close()
      (rec(out.getAbsolutePath), out.length())
    }

    private def writeManifestList(snapshotId: Long): String = {
      val ls = manifestListSchema(formatVersion)
      val out = new File(metaDir, f"snap-$snapshotId%05d-manifest-list.avro")
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](ls))
      w.setMeta("format-version", formatVersion.toString)
      w.create(ls, out)
      try manifests.foreach { case (p, len, content, addedSnap, mSeq, rows, nFiles) =>
        val r = new GenericData.Record(ls)
        r.put("manifest_path", p)
        r.put("manifest_length", len)
        r.put("partition_spec_id", 0)
        if (formatVersion >= 2) {
          r.put("content", content)
          r.put("sequence_number", mSeq)
          r.put("min_sequence_number", mSeq)
        }
        r.put("added_snapshot_id", addedSnap)
        r.put("added_files_count", nFiles)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", rows)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        w.append(r)
      } finally w.close()
      rec(out.getAbsolutePath)
    }

    private def commit(newFiles: Seq[FileMeta], snapshotId: Long,
                       operation: String): Unit = {
      // one manifest per content kind (data, deletes)
      newFiles.groupBy(f => if (f.content > 0) 1 else 0).toSeq.sortBy(_._1)
        .foreach { case (content, files) =>
          val (mPath, mLen) = writeManifest(files, snapshotId,
            suffix = if (content > 0 && files.size < newFiles.size) "-deletes" else "")
          manifests :+= ((mPath, mLen, content, snapshotId, snapshotId,
            files.map(_.records).sum, files.size))
        }

      val sn = mapper.createObjectNode()
      sn.put("snapshot-id", snapshotId)
      if (seq > 0) sn.put("parent-snapshot-id", seq) // previous commit
      sn.put("timestamp-ms", t0 + snapshotId * 1000L)
      if (formatVersion >= 2) sn.put("sequence-number", snapshotId)
      sn.put("schema-id", 0)
      val summary = sn.putObject("summary")
      summary.put("operation", operation)
      if (inlineManifests) {
        val arr = sn.putArray("manifests")
        manifests.foreach { case (p, _, _, _, _, _, _) => arr.add(p) }
      } else {
        sn.put("manifest-list", writeManifestList(snapshotId))
      }
      snapshotNodes :+= sn
      seq = snapshotId
      writeMetadataJson()
    }

    private def writeMetadataJson(): Unit = {
      version += 1
      val root = mapper.createObjectNode()
      root.put("format-version", formatVersion)
      root.put("table-uuid", tableUuid.toString)
      root.put("location", rec(new File(dir).getAbsolutePath))
      if (formatVersion >= 2) root.put("last-sequence-number", seq)
      root.put("last-updated-ms", t0 + seq * 1000L)
      root.put("last-column-id", schema.fields.length)
      if (formatVersion >= 2) {
        root.put("current-schema-id", 0)
        root.putArray("schemas").add(schemaJson(schema, 0))
      } else {
        root.set[ObjectNode]("schema", schemaJson(schema, 0))
      }
      root.put("default-spec-id", 0)
      val specs: ArrayNode = root.putArray("partition-specs")
      val spec0 = specs.addObject()
      spec0.put("spec-id", 0)
      val specFields = spec0.putArray("fields")
      partFields.zipWithIndex.foreach { case ((n, t, src), i) =>
        val f = specFields.addObject()
        f.put("name", n)
        f.put("transform", t)
        f.put("source-id", schema.fieldNames.indexOf(src) + 1)
        f.put("field-id", 1000 + i)
      }
      root.put("last-partition-id", 999 + partitionCols.size)
      root.put("default-sort-order-id", 0)
      val orders = root.putArray("sort-orders")
      val order0 = orders.addObject()
      order0.put("order-id", 0)
      order0.putArray("fields")
      root.putObject("properties")
      root.put("current-snapshot-id", seq)
      // named refs: the main branch tracks the current snapshot; tags pin
      if (seq > 0) {
        val refs = root.putObject("refs")
        val main = refs.putObject("main")
        main.put("snapshot-id", seq)
        main.put("type", "branch")
        tags.foreach { case (n, sid) =>
          val t = refs.putObject(n)
          t.put("snapshot-id", sid)
          t.put("type", "tag")
        }
      }
      val snaps = root.putArray("snapshots")
      snapshotNodes.foreach(snaps.add)
      // snapshot-log: MAIN-lineage (timestamp, snapshot) entries — every
      // fixture commit is on main, so the log mirrors commit order; this
      // is what as-of time travel resolves against per spec
      val slog = root.putArray("snapshot-log")
      snapshotNodes.foreach { sn =>
        val e = slog.addObject()
        e.put("timestamp-ms", sn.get("timestamp-ms").asLong())
        e.put("snapshot-id", sn.get("snapshot-id").asLong())
      }
      root.putArray("metadata-log")

      val mdFile = new File(metaDir, s"v$version.metadata.json")
      Files.write(mdFile.toPath,
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
      Files.write(new File(metaDir, "version-hint.text").toPath,
        version.toString.getBytes("UTF-8")): Unit
    }
  }

  /** Delete a fixture table directory recursively (test cleanup). */
  def deleteRecursively(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(new File(path))
  }
}
