package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Native read-only Apache Iceberg snapshot scan — the reference fork's one
 * feature delta (reference: Cargo.toml:43-45 `iceberg-rust`/
 * `datafusion_iceberg`, ballista/core/src/serde/mod.rs:38,92 wiring
 * `IcebergExtensionCodec`, distributed_query.rs:44,100).
 *
 * No Iceberg runtime jar exists in this environment, but none is needed
 * for READ: the table format is a public spec
 * (https://iceberg.apache.org/spec/) —
 *
 *   `<table>/metadata/vN.metadata.json`  (JSON: schema, snapshots)
 *     -> snapshot's manifest LIST        (Avro object container file)
 *     -> manifest files                  (Avro object container files)
 *     -> live parquet data files         (scanned by Spark's parquet source)
 *
 * so the scan is: parse the JSON with Jackson (already on Spark's
 * classpath), stream the manifest list + manifests through the same Avro
 * core library [[AvroIO]] is built on, collect the live data-file paths,
 * and hand them to `spark.read.parquet` — every downstream optimization
 * (column pruning, predicate pushdown, vectorized read) is Spark-native.
 *
 * Supported: format v1 and v2, snapshot selection by id, time travel by
 * timestamp, v2 POSITION deletes (merge-on-read, applied as a distributed
 * left-anti join on Spark's `_metadata.file_path`/`_metadata.row_index`
 * file-source metadata columns — no driver-side row work), and v2
 * EQUALITY deletes (anti-join on the equality-id columns with the spec's
 * sequence-number rule: only rows whose data sequence number is strictly
 * below the delete's are removed, so later re-inserts survive; null keys
 * match null). Non-parquet content files fail fast with a clear message.
 * Partitioned tables (identity transform) read transparently — identity
 * source columns live in the data files — and `partitionFilter` prunes
 * whole data files at planning time from the manifests' partition tuples.
 *
 * Scale notes (100 TB table, ~1e5 data files): metadata-plan grain is the
 * same as Spark's own `InMemoryFileIndex` — file-level entries on the
 * driver. Manifests are streamed (constant memory per manifest, never
 * whole-file buffered); only (path, content, status) tuples are retained.
 * The delete-side join is row-count-bounded by the delete files, which AQE
 * broadcast-promotes when small — the common case.
 */
object IcebergIO {

  private val mapper = new ObjectMapper()

  // ------------------------------------------------------------- metadata

  final case class SnapshotInfo(
      snapshotId: Long,
      timestampMs: Long,
      sequenceNumber: Long,
      operation: String,            // summary.operation ("" when absent)
      manifestList: Option[String], // v2 (and v1 with manifest-list)
      manifests: Seq[String],       // v1 inline form
      parentId: Option[Long] = None,          // parent-snapshot-id
      summary: Map[String, String] = Map.empty) // full summary map

  final case class TableMetadata(
      formatVersion: Int,
      location: String,
      currentSnapshotId: Option[Long],
      snapshots: Seq[SnapshotInfo],
      schema: StructType,
      fieldById: Map[Int, String], // top-level field id -> column name
      // default spec fields: (partition field name, transform, source id)
      partitionFields: Seq[(String, String, Int)],
      metadataFile: String,
      refs: Map[String, Long], // branch/tag name -> snapshot id
      snapshotLog: Seq[(Long, Long)] = Seq.empty, // main lineage (ts, id)
      properties: Map[String, String] = Map.empty, // table properties
      defaultSpecId: Int = 0,
      // EVERY partition spec (partition evolution): spec id -> fields.
      // `partitionFields` above stays the DEFAULT spec's fields — the one
      // new writes use; files written under older specs are matched
      // against their own spec via the manifest's recorded spec id.
      specsById: Map[Int, Seq[(String, String, Int)]] = Map.empty,
      // every spec's partition field ids, aligned with its fields in
      // `specsById` (a field without one takes the spec default 1000 + i)
      specFieldIds: Map[Int, Seq[Int]] = Map.empty,
      // the default sort order's IDENTITY source column names, in order
      // (spec `sort-orders` / `default-sort-order-id`); empty = unsorted
      // (order 0) or an order this engine can't produce. The writer
      // range-distributes + sorts new data files by these, which is what
      // gives statsFilter tight, mostly-disjoint per-file bounds.
      sortOrderFields: Seq[String] = Seq.empty,
      defaultSortOrderId: Int = 0,
      // "metadata-log": prior metadata.json files as (timestamp-ms, file)
      // in append order — the `.metadata_log_entries` relation's source
      metadataLog: Seq[(Long, String)] = Seq.empty,
      lastUpdatedMs: Long = 0L,
      // v3 column default values ([[IcebergWrite.addColumnWithDefault]]):
      // fields whose schema node carries `initial-default`. `addSeq` is
      // the table's last-sequence-number AT ADD TIME (graft bookkeeping,
      // [[DefaultSeqPropPrefix]]) — data files with seq <= addSeq predate
      // the column and read `initial` as a per-file constant.
      columnDefaults: Seq[ColumnDefault] = Seq.empty,
      // spec "Partition statistics": registered stats files as
      // (snapshot-id, statistics-path) — written by
      // [[IcebergWrite.computePartitionStats]], served by
      // [[partitionStats]] without a manifest walk
      partitionStatistics: Seq[(Long, String)] = Seq.empty,
      // v3 nanosecond-timestamp columns (read as ns longs; table is
      // read-only to the writer — see [[nsColumnsOf]])
      nsColumns: Set[String] = Set.empty,
      // v3 geometry/geography columns (read as WKB BinaryType; the
      // table is read-only to the writer — see [[geoColumnsOf]])
      geoColumns: Set[String] = Set.empty,
      // spec "Table statistics": registered Puffin statistics files as
      // (snapshot-id, statistics-path) — written by
      // [[IcebergWrite.computeTableStats]] (exact per-column NDV blobs),
      // served by [[tableStats]]
      statisticsFiles: Seq[(Long, String)] = Seq.empty,
      // the counters a commit advances: `last-sequence-number` and the
      // v3 `next-row-id` (0 when absent)
      lastSequenceNumber: Long = 0L,
      nextRowId: Long = 0L,
      // each ref's retention fields (`max-ref-age-ms`,
      // `max-snapshot-age-ms`, `min-snapshots-to-keep`) where set —
      // what [[IcebergWrite.expireSnapshots]] keeps
      refRetention: Map[String, Map[String, Long]] = Map.empty)

  /** One v3 default-valued column: spec "Default values" — `initial`
    * (`initial-default`) is what rows written BEFORE the field existed
    * read; `write` (`write-default`) is what the writer fills when the
    * input frame omits the column. */
  final case class ColumnDefault(fieldId: Int, name: String, addSeq: Long,
                                 initial: Any, write: Any)

  /** Resolve the current metadata JSON file for a table directory:
    * `metadata/version-hint.text` (Hadoop-catalog convention) names the
    * version if present; otherwise the highest `vN.metadata.json` wins.
    * A direct path to a `*.metadata.json` file is also accepted. All
    * access goes through the Hadoop FileSystem API ([[GraftFs]]), so
    * object-store table roots (s3a://…, hdfs://…) resolve too. */
  def resolveMetadataFile(tablePath: String): String = {
    val c = GraftFs.conf()
    val rootStatus = GraftFs.status(tablePath, c)
    if (rootStatus.exists(_.isFile) && tablePath.endsWith(".metadata.json"))
      return tablePath
    val mdDir = GraftFs.child(tablePath, "metadata")
    require(GraftFs.isDirectory(mdDir, c),
      s"not an Iceberg table (no metadata/ directory): $tablePath")
    val hint = GraftFs.child(mdDir, "version-hint.text")
    val hinted: Option[String] =
      if (!GraftFs.isFile(hint, c)) None
      else {
        // The hint write is not atomic on every FS (truncate-then-write):
        // a concurrent reader can observe it empty, pointing at a
        // version mid-publish, or mid-rewrite (local-FS .crc sidecar
        // ChecksumException / EOF). The Iceberg Hadoop-table convention
        // is to fall back to a directory listing in exactly those
        // cases — never fail a read on a transient hint state (matches
        // HadoopTableOperations' refresh behavior), so the read itself
        // is also guarded.
        val v = try GraftFs.readUtf8(hint, c).trim catch {
          case scala.util.control.NonFatal(_) => ""
        }
        val f = GraftFs.child(mdDir, s"v$v.metadata.json")
        if (v.nonEmpty && v.forall(_.isDigit) && GraftFs.isFile(f, c)) Some(f)
        else None
      }
    hinted.getOrElse {
      val candidates = GraftFs.list(mdDir, c)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".metadata.json"))
      require(candidates.nonEmpty, s"no *.metadata.json under $mdDir")
      val vNum = "^v(\\d+)\\.metadata\\.json$".r
      candidates.maxBy { s =>
        s.getPath.getName match { case vNum(n) => n.toLong; case _ => -1L }
      }.getPath.toString
    }
  }

  /** Iceberg schema JSON -> Spark StructType (primitives + struct/list/map;
    * spec: https://iceberg.apache.org/spec/#schemas-and-data-types). */
  private[graft] def toSparkType(t: JsonNode,
                                 topLevel: Boolean = true): (DataType, Boolean) = {
    if (t.isTextual) {
      val s = t.asText()
      val dt = s match {
        case "boolean"     => BooleanType
        case "int"         => IntegerType
        case "long"        => LongType
        case "float"       => FloatType
        case "double"      => DoubleType
        case "date"        => DateType
        case "timestamp"   => TimestampNTZType
        case "timestamptz" => TimestampType
        // v3 nanosecond timestamps: Spark has NO nanosecond timestamp
        // type, so the documented API boundary is ns-since-epoch LONGs
        // (the same surface spark.sql.legacy.parquet.nanosAsLong gives
        // plain parquet readers; readers of such tables get that conf
        // set automatically — see [[dataBranches]]). READ-ONLY: the
        // writer refuses data/eq-delete writes against ns columns
        // (Spark cannot produce a NANOS-annotated value to store).
        // Top-level only — a nested ns column would silently surface as
        // an unexplained long, so it stays a loud unsupported.
        case "timestamp_ns" | "timestamptz_ns" if topLevel => LongType
        // v3 bottom type: a column that stores NOTHING — the spec
        // requires readers to surface it as null (files omit the column
        // or store all-null). Spark's NullType is the honest mapping;
        // the read path NEVER asks parquet for such a column
        // ([[dataBranches]] strips it from physical read schemas and
        // projects a null literal), and the writer refuses data writes
        // against tables carrying one (read-only, like the ns
        // timestamps — Spark's parquet sink cannot express "write this
        // column by omitting it"). Top-level only, like ns: a nested
        // unknown would surface as an unexplained void field.
        case "unknown" if topLevel => NullType
        // v3 geospatial types: the spec stores values as WKB in
        // GEOMETRY/GEOGRAPHY-annotated BYTE_ARRAY columns — Spark has
        // no geometry type, so the documented API boundary is the raw
        // WKB bytes (BinaryType). Works because this reader ALWAYS
        // scans with an explicit schema (an inferred read of the
        // annotated parquet errors); READ-ONLY to the writer (Spark's
        // sink cannot produce the annotation — see geoColumnsOf).
        // Top-level only, like the ns types.
        case g if topLevel && (g.startsWith("geometry") ||
          g.startsWith("geography")) => BinaryType
        case "string" | "uuid" => StringType
        case "binary"      => BinaryType
        // v3 semi-structured type: Spark's VariantType implements the
        // same open Parquet VARIANT representation (binary value +
        // binary metadata, VARIANT-annotated group), so the column
        // reads natively — typed access (`variant_get`, `to_json`)
        // works through Spark's own machinery
        case "variant"     => VariantType
        case dec if dec.startsWith("decimal(") =>
          val Array(p, sc) = dec.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
          DecimalType(p, sc)
        case fx if fx.startsWith("fixed") => BinaryType
        case other =>
          throw new IllegalArgumentException(s"unsupported Iceberg type: $other")
      }
      (dt, false)
    } else t.get("type").asText() match {
      case "struct" =>
        val fields = t.get("fields").elements().asScala.map { f =>
          val (dt, _) = toSparkType(f.get("type"), topLevel = false)
          StructField(f.get("name").asText(), dt, nullable = !f.get("required").asBoolean())
        }.toArray
        (StructType(fields), false)
      case "list" =>
        val (et, _) = toSparkType(t.get("element"), topLevel = false)
        (ArrayType(et, containsNull = !t.get("element-required").asBoolean()), false)
      case "map" =>
        val (kt, _) = toSparkType(t.get("key"), topLevel = false)
        require(kt == StringType, s"only string map keys supported, got $kt")
        val (vt, _) = toSparkType(t.get("value"), topLevel = false)
        (MapType(StringType, vt, valueContainsNull = !t.get("value-required").asBoolean()), false)
      case other =>
        throw new IllegalArgumentException(s"unsupported Iceberg nested type: $other")
    }
  }

  private def schemaNodeOf(root: JsonNode): JsonNode =
    // v2: "schemas" array selected by "current-schema-id"; v1: "schema".
    if (root.has("schemas")) {
      val id = root.get("current-schema-id").asLong()
      root.get("schemas").elements().asScala
        .find(_.get("schema-id").asLong() == id)
        .getOrElse(throw new IllegalArgumentException(
          s"current-schema-id $id not found in schemas"))
    } else root.get("schema")

  private def schemaOf(root: JsonNode): StructType =
    // fields of the ROOT struct are the table's top-level columns —
    // parse each with topLevel=true so ns timestamps are accepted as
    // COLUMNS (LongType surface) but stay refused when nested deeper
    StructType(schemaNodeOf(root).get("fields").elements().asScala.map { f =>
      val (dt, _) = toSparkType(f.get("type"), topLevel = true)
      // the v3 spec requires `unknown` fields be optional — a required
      // unknown is spec-invalid and the reader would have to project a
      // nullable null literal into a non-nullable slot; fail loudly
      if (dt == org.apache.spark.sql.types.NullType &&
          f.get("required").asBoolean())
        throw new IllegalArgumentException(
          s"spec-invalid table: unknown column '${f.get("name").asText()}' " +
            "is declared required — the v3 spec requires unknown fields " +
            "be optional")
      StructField(f.get("name").asText(), dt,
        nullable = !f.get("required").asBoolean(),
        metadata = specTypeMetadata(f.get("type"), dt))
    }.toArray)

  /** ADVICE-r18 #4: the ORIGINAL spec type string is carried as
    * StructField metadata (the established `iceberg.type` override key,
    * honored by [[IcebergFixture.schemaJson]]) whenever the Spark
    * surface type would NOT round-trip back to it — `timestamp_ns` /
    * `timestamptz_ns` (LongType surface), `geometry`/`geography` (WKB
    * BinaryType surface), `uuid` (StringType) and `fixed[N]`
    * (BinaryType). Without this, a verb still permitted on such a table
    * (DV commits, metadata maintenance) would re-embed the manifest
    * `schema` property with the WIDENED type ("long"/"binary") and the
    * manifest metadata would drift from metadata.json for foreign
    * inspectors. Comparison surfaces are unaffected:
    * [[IcebergWrite.requireTableSchema]] compares (name, dataType) only
    * and read OUTPUT schemas strip metadata ([[stripFieldIds]]). */
  private def specTypeMetadata(typeNode: JsonNode,
                               dt: DataType): org.apache.spark.sql.types.Metadata = {
    val keep = typeNode.isTextual && {
      val t = typeNode.asText()
      t == "timestamp_ns" || t == "timestamptz_ns" || t == "uuid" ||
        t.startsWith("geometry") || t.startsWith("geography") ||
        t.startsWith("fixed")
    }
    if (keep)
      new org.apache.spark.sql.types.MetadataBuilder()
        .putString("iceberg.type", typeNode.asText()).build()
    else org.apache.spark.sql.types.Metadata.empty
  }

  /** Top-level column names whose spec type is a NANOSECOND timestamp
    * (`timestamp_ns` / `timestamptz_ns`) — they read as ns-since-epoch
    * longs and make the table read-only to this engine's writer. */
  private def nsColumnsOf(root: JsonNode): Set[String] =
    schemaNodeOf(root).get("fields").elements().asScala.collect {
      case f if f.get("type").isTextual &&
          (f.get("type").asText() == "timestamp_ns" ||
            f.get("type").asText() == "timestamptz_ns") =>
        f.get("name").asText()
    }.toSet

  /** Top-level column names whose spec type is `geometry`/`geography`
    * — they read as WKB BinaryType and make the table read-only to this
    * engine's writer (Spark's sink cannot produce the GEOMETRY/
    * GEOGRAPHY parquet annotation the spec requires of data files). */
  private def geoColumnsOf(root: JsonNode): Set[String] =
    schemaNodeOf(root).get("fields").elements().asScala.collect {
      case f if f.get("type").isTextual &&
          (f.get("type").asText.startsWith("geometry") ||
            f.get("type").asText.startsWith("geography")) =>
        f.get("name").asText()
    }.toSet

  /** Top-level field-id -> column-name map (the spec keys equality
    * deletes by field id, not name). */
  private def fieldIdsOf(root: JsonNode): Map[Int, String] =
    schemaNodeOf(root).get("fields").elements().asScala.map { f =>
      f.get("id").asInt() -> f.get("name").asText()
    }.toMap

  /** Spec "JSON single-value serialization" for the types this engine
    * offers as column defaults. Inverse of
    * [[IcebergWrite.singleValueJson]]. */
  private[sources] def parseSingleValue(n: JsonNode, dt: DataType): Any = dt match {
    case IntegerType => n.asInt()
    case LongType    => n.asLong()
    case DoubleType  => n.asDouble()
    case BooleanType => n.asBoolean()
    case StringType  => n.asText()
    case DateType    => java.time.LocalDate.parse(n.asText())
    case other => throw new IllegalArgumentException(
      s"unsupported default-value type: $other")
  }

  /** graft bookkeeping for v3 column defaults: `<prefix><fieldId>` holds
    * the table's last-sequence-number when the defaulted column was
    * added. Content files at or below it predate the column (our writer
    * physically stamps every later file), so the reader serves
    * `initial-default` for exactly those files — without opening a
    * single footer to probe column presence. */
  val DefaultSeqPropPrefix = "graft.default.seq."

  /** Parse `initial-default`/`write-default` off the current schema's
    * field nodes. A field carrying `initial-default` WITHOUT our
    * [[DefaultSeqPropPrefix]] property fails loudly: a foreign writer's
    * defaulted table needs per-file column-presence knowledge this
    * engine derives from the seq bookkeeping — reading it as nulls
    * would be silently wrong. */
  private def defaultsOf(root: JsonNode, schema: StructType,
                         properties: Map[String, String]): Seq[ColumnDefault] =
    schemaNodeOf(root).get("fields").elements().asScala.flatMap { f =>
      if (!f.has("initial-default")) None
      else {
        val fid = f.get("id").asInt()
        val name = f.get("name").asText()
        val dt = schema(name).dataType
        val addSeq = properties.get(s"$DefaultSeqPropPrefix$fid").map(_.toLong)
          .getOrElse(throw new IllegalStateException(
            s"column '$name' (field id $fid) has initial-default but no " +
              s"$DefaultSeqPropPrefix$fid property — this table's defaults " +
              "were written by another engine; this reader cannot tell " +
              "which files predate the column. Rewrite (compact) the " +
              "table with its own writer first."))
        val init = parseSingleValue(f.get("initial-default"), dt)
        val wr = if (f.has("write-default"))
          parseSingleValue(f.get("write-default"), dt) else init
        Some(ColumnDefault(fid, name, addSeq, init, wr))
      }
    }.toSeq

  def loadMetadata(tablePath: String): TableMetadata = {
    val mdFile = resolveMetadataFile(tablePath)
    val root = mapper.readTree(GraftFs.readUtf8(mdFile))
    val fv = root.get("format-version").asInt()
    require(fv >= 1 && fv <= 3, s"unsupported Iceberg format-version: $fv")
    val snaps =
      if (root.has("snapshots"))
        root.get("snapshots").elements().asScala.map { s =>
          SnapshotInfo(
            snapshotId = s.get("snapshot-id").asLong(),
            timestampMs = s.get("timestamp-ms").asLong(),
            sequenceNumber =
              if (s.has("sequence-number")) s.get("sequence-number").asLong() else 0L,
            operation =
              if (s.has("summary") && s.get("summary").has("operation"))
                s.get("summary").get("operation").asText() else "",
            manifestList =
              if (s.has("manifest-list")) Some(s.get("manifest-list").asText()) else None,
            manifests =
              if (s.has("manifests"))
                s.get("manifests").elements().asScala.map(_.asText()).toSeq
              else Seq.empty,
            parentId =
              if (s.has("parent-snapshot-id"))
                Some(s.get("parent-snapshot-id").asLong()) else None,
            summary =
              if (s.has("summary"))
                s.get("summary").properties().asScala
                  .map(e => e.getKey -> e.getValue.asText()).toMap
              else Map.empty)
        }.toSeq
      else Seq.empty
    val current =
      if (root.has("current-snapshot-id") && root.get("current-snapshot-id").asLong() != -1L)
        Some(root.get("current-snapshot-id").asLong())
      else None
    // partition specs: v2 "partition-specs"+"default-spec-id" (ALL specs
    // kept — partition evolution leaves old files under their original
    // spec); v1 may use the legacy "partition-spec" array directly
    def specField(f: JsonNode): (String, String, Int) =
      (f.get("name").asText(), f.get("transform").asText(),
        if (f.has("source-id")) f.get("source-id").asInt() else -1)
    val defaultSpecId =
      if (root.has("default-spec-id")) root.get("default-spec-id").asInt() else 0
    val specNodes: Map[Int, Seq[JsonNode]] =
      if (root.has("partition-specs"))
        root.get("partition-specs").elements().asScala.map { s =>
          s.get("spec-id").asInt() -> s.get("fields").elements().asScala.toSeq
        }.toMap
      else if (root.has("partition-spec"))
        Map(0 -> root.get("partition-spec").elements().asScala.toSeq)
      else Map.empty
    val specsById: Map[Int, Seq[(String, String, Int)]] =
      specNodes.map { case (id, fs) => id -> fs.map(specField) }
    val specFieldIds: Map[Int, Seq[Int]] = specNodes.map { case (id, fs) =>
      id -> fs.zipWithIndex.map { case (f, i) =>
        if (f.has("field-id")) f.get("field-id").asInt() else 1000 + i }
    }
    val partitionFields: Seq[(String, String, Int)] =
      specsById.getOrElse(defaultSpecId, Nil)
    // named refs (branches and tags): "refs": {name: {"snapshot-id": N,
    // "type": "branch"|"tag"}} — both kinds resolve to a snapshot here;
    // their retention fields only matter to expiration
    val refNodes: Map[String, JsonNode] =
      if (root.has("refs"))
        root.get("refs").properties().asScala.map(e => e.getKey -> e.getValue).toMap
      else Map.empty
    val refs: Map[String, Long] =
      refNodes.map { case (n, r) => n -> r.get("snapshot-id").asLong() }
    val refRetention: Map[String, Map[String, Long]] = refNodes.map {
      case (n, r) => n -> Seq("max-ref-age-ms", "max-snapshot-age-ms",
        "min-snapshots-to-keep").filter(r.has).map(k => k -> r.get(k).asLong()).toMap
    }
    // snapshot-log: the MAIN-lineage (timestamp, snapshot) history — the
    // correct basis for as-of resolution (a side-branch commit's
    // timestamp must not win time travel on the main table)
    val snapshotLog: Seq[(Long, Long)] =
      if (root.has("snapshot-log"))
        root.get("snapshot-log").elements().asScala.map(e =>
          (e.get("timestamp-ms").asLong(), e.get("snapshot-id").asLong())).toSeq
      else Seq.empty
    val properties: Map[String, String] =
      if (root.has("properties"))
        root.get("properties").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      else Map.empty
    // default sort order: only IDENTITY fields are actionable by this
    // engine (the writer sorts new files by them); a default order with
    // any other transform is surfaced as empty (ignored, never wrong)
    val defaultSortOrderId: Int =
      if (root.has("default-sort-order-id"))
        root.get("default-sort-order-id").asInt() else 0
    val sortOrderFields: Seq[String] =
      if (defaultSortOrderId == 0 || !root.has("sort-orders")) Seq.empty
      else root.get("sort-orders").elements().asScala
        .find(_.get("order-id").asInt() == defaultSortOrderId)
        .map { o =>
          val fs = o.get("fields").elements().asScala.toSeq
          if (fs.forall(_.get("transform").asText() == "identity"))
            fs.flatMap(f => fieldIdsOf(root).get(f.get("source-id").asInt()))
          else Seq.empty
        }
        .getOrElse(Seq.empty)
    val metadataLog: Seq[(Long, String)] =
      if (root.has("metadata-log"))
        root.get("metadata-log").elements().asScala.map(e =>
          (e.get("timestamp-ms").asLong(), e.get("metadata-file").asText())).toSeq
      else Seq.empty
    def longOr0(field: String): Long =
      if (root.has(field)) root.get(field).asLong() else 0L
    def statsList(field: String): Seq[(Long, String)] =
      if (root.has(field))
        root.get(field).elements().asScala.map(e =>
          (e.get("snapshot-id").asLong(),
            e.get("statistics-path").asText())).toSeq
      else Seq.empty
    val schema = schemaOf(root)
    TableMetadata(fv, root.get("location").asText(), current, snaps,
      schema, fieldIdsOf(root), partitionFields, mdFile, refs,
      snapshotLog, properties, defaultSpecId, specsById, specFieldIds,
      sortOrderFields, defaultSortOrderId, metadataLog, longOr0("last-updated-ms"),
      defaultsOf(root, schema, properties),
      statsList("partition-statistics"), nsColumnsOf(root),
      geoColumnsOf(root),
      statsList("statistics"), longOr0("last-sequence-number"),
      longOr0("next-row-id"), refRetention)
  }

  // ------------------------------------------------- field-id resolution

  /** Table property stamped by [[IcebergWrite.create]]: every data and
    * delete parquet file of this table carries spec field ids in its
    * schema, so the scan may resolve columns BY ID (the spec's column
    * resolution rule) instead of by name — which is what makes
    * [[IcebergWrite.renameColumn]] safe: files written under the old
    * name still resolve. External tables without the property keep the
    * name-based path (their files' id discipline is unknown; an id read
    * over an id-less file would error or null out). */
  val FieldIdsProp = "graft.write.field-ids"

  private[sources] def resolveByFieldIds(meta: TableMetadata): Boolean =
    meta.properties.get(FieldIdsProp).contains("true")

  /** v3 row lineage: the `_row_id` metadata column name and the spec's
    * reserved field id for its MATERIALIZED form. Rewrite verbs persist
    * surviving rows' ids into rewritten data files under this id; the
    * lineage read prefers the materialized value and falls back to the
    * `first_row_id + position` derivation (the spec's inheritance
    * rule). */
  private[graft] val RowLineageCol = "_row_id"
  private[graft] val RowIdFieldId = 2147483540

  /** The second v3 row-lineage column: the sequence number of the
    * snapshot that last MODIFIED the row. Derivation mirrors `_row_id`:
    * materialized value preferred, else the containing file's data
    * sequence number — so content-preserving rewrites (compact)
    * materialize it, while row-modifying writes (UPDATE/MERGE) leave it
    * null and the new file's seq takes over. */
  private[graft] val LastUpdatedCol = "_last_updated_sequence_number"
  private[graft] val LastUpdatedFieldId = 2147483539

  /** The lineage column pair as OUTPUT StructFields (nullable longs) —
    * the one definition every surface appends (lineage read, streaming
    * source, SQL view, incremental batch), the [[changelogFields]]
    * pattern. */
  private[graft] val lineageFields: Seq[StructField] = Seq(
    StructField(RowLineageCol, LongType, nullable = true),
    StructField(LastUpdatedCol, LongType, nullable = true))

  /** Internal lineage carries → their public column names — the one
    * rename every lineage surface applies to [[lineageRead]] output. */
  private def renameLineage(df: DataFrame): DataFrame =
    df.withColumnRenamed("__gf_rowid", RowLineageCol)
      .withColumnRenamed("__gf_lseq", LastUpdatedCol)

  /** The spec's name-mapping table property ("Name Mapping
    * Serialization"): a JSON list of `{"field-id": N, "names": [...]}`
    * entries assigning field ids to id-LESS data files by their column
    * names. [[IcebergWrite.addNameMapping]] stamps it on an external
    * (property-less) table to upgrade it to by-id resolution — which is
    * what unlocks [[IcebergWrite.renameColumn]] there. */
  val NameMappingProp = "schema.name-mapping.default"

  /** graft bookkeeping next to [[NameMappingProp]]: the table's
    * last-sequence-number AT UPGRADE TIME. Content files with
    * seq <= this predate the upgrade and carry no parquet field ids —
    * they resolve through the name mapping; later files are stamped by
    * the writer and resolve by id. */
  val NameMappingSeqProp = "graft.name-mapping.seq"

  /** field id -> upgrade-time column name, parsed from the name-mapping
    * property (first entry of `names` — the mapping is written once at
    * upgrade and frozen, so it is exactly the names the pre-upgrade
    * files were written with). */
  private[sources] def nameMappingOf(meta: TableMetadata): Option[Map[Int, String]] =
    meta.properties.get(NameMappingProp).map { json =>
      val arr = mapper.readTree(json)
      require(arr.isArray, s"$NameMappingProp is not a JSON array")
      (0 until arr.size).map { i =>
        val e = arr.get(i)
        val names = e.get("names")
        require(e.has("field-id") && names != null && names.size > 0,
          s"$NameMappingProp entry $i lacks field-id/names")
        e.get("field-id").asInt -> names.get(0).asText
      }.toMap
    }

  /** Split content files into (pre-upgrade name-mapped, id-stamped) per
    * [[NameMappingSeqProp]]. Tables without a name mapping have no
    * legacy group. */
  private[sources] def legacySplit(meta: TableMetadata,
      files: Seq[ContentFile]): (Seq[ContentFile], Seq[ContentFile]) =
    meta.properties.get(NameMappingSeqProp).map(_.toLong) match {
      case Some(ms) if resolveByFieldIds(meta) => files.partition(_.seq <= ms)
      case _ => (Seq.empty, files)
    }

  private[sources] def isLegacyFile(meta: TableMetadata, f: ContentFile): Boolean =
    resolveByFieldIds(meta) &&
      meta.properties.get(NameMappingSeqProp).exists(ms => f.seq <= ms.toLong)

  /** Stamped by [[IcebergWrite.addFiles]] when it imports a HIVE-LAYOUT
    * directory (files physically LACK the partition columns — the values
    * live only in `k=v` directory names, recorded into each file's
    * manifest partition tuple at import). When present, every read of
    * this table injects identity-partition SOURCE columns as per-file
    * constants from the manifest tuple ([[dataBranches]]) instead of
    * reading them from parquet — the spec's identity-transform constant
    * rule ("Column Projection": use partition metadata for identity
    * sources), which is also sound for files that DO carry the column
    * (identity ⇒ column value == tuple value on every row), so the
    * injection applies uniformly per spec. The reference serves this
    * shape natively via `table_partition_cols`
    * (`reference/ballista/client/src/context.rs:425-440`,
    * `datafusion.proto:1153`). */
  val HiveImportProp = "graft.hive-import"

  private[sources] def injectIdentity(meta: TableMetadata): Boolean =
    meta.properties.get(HiveImportProp).contains("true")

  /** Per-spec identity (spec field name -> source column) pairs, for
    * specs where injection applies. Empty when the table has no
    * [[HiveImportProp]]. */
  private def injectBySpec(meta: TableMetadata): Map[Int, Seq[(String, String)]] =
    if (!injectIdentity(meta)) Map.empty
    else {
      val specs =
        if (meta.specsById.nonEmpty) meta.specsById
        else Map(meta.defaultSpecId -> meta.partitionFields)
      specs.map { case (sid, fields) =>
        sid -> fields.collect {
          case (fname, "identity", srcId) if meta.fieldById.contains(srcId) =>
            (fname, meta.fieldById(srcId))
        }
      }.filter(_._2.nonEmpty)
    }

  /** Manifest-stored partition primitive -> the Spark-side value of the
    * table column type (identity transform only: date rides as its
    * epoch-day ordinal, timestamps as epoch micros — the inverse of
    * [[IcebergTransforms.storedColumn]]). */
  private def injectedValue(v: Any, dt: DataType, file: String): Any = (v, dt) match {
    case (null, _) => null
    case (n: java.lang.Number, IntegerType) => Int.box(n.intValue())
    case (n: java.lang.Number, LongType)    => Long.box(n.longValue())
    case (s: String, StringType)            => s
    case (b: java.lang.Boolean, BooleanType) => b
    case (n: java.lang.Number, DateType) =>
      java.time.LocalDate.ofEpochDay(n.longValue())
    case (n: java.lang.Number, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(n.longValue(), 1000000L),
        (Math.floorMod(n.longValue(), 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (n: java.lang.Number, TimestampType) =>
      java.time.Instant.ofEpochSecond(
        Math.floorDiv(n.longValue(), 1000000L),
        Math.floorMod(n.longValue(), 1000000L) * 1000L)
    case (other, t) => throw new UnsupportedOperationException(
      s"cannot inject identity-partition value $other " +
        s"(${other.getClass.getName}) as $t for file $file")
  }

  /** Both scheme-normalized key forms a file path can surface as on the
    * row side: raw (as recorded in the manifest) and URL-encoded (what
    * Spark's `_metadata.file_path` reports — `SparkPath` encodes via
    * `Path.toUri`). The broadcast map carries both so the join matches
    * regardless of escaping (hive dirs with spaces / literal '%'). */
  private def pathJoinKeys(p: String): Seq[String] = {
    val raw = normalizePath(p)
    val enc = try normalizePath(new org.apache.hadoop.fs.Path(p).toUri.toString)
      catch { case _: Exception => raw }
    Seq(raw, enc).distinct
  }

  /** Read one spec group of a hive-imported table: the identity source
    * columns come from the manifest tuples as per-file constants through
    * ONE broadcast join keyed on the file path — plan size constant in
    * the number of files/partitions (a per-tuple literal group would put
    * one scan relation per distinct partition in the plan). A row whose
    * file misses the broadcast map raises instead of silently nulling
    * the column. */
  private def injectedBranch(spark: SparkSession, meta: TableMetadata,
                             fields: Seq[(String, String)],
                             group: Seq[ContentFile],
                             withPos: Boolean,
                             withRowId: Boolean = false): DataFrame = {
    val srcCols = fields.map(_._2).distinct
    val fieldBySrc = fields.map { case (fn, src) => src -> fn }.toMap
    // materialized lineage MUST be read here too: compact-rewritten
    // files stay under the same identity spec as the imports, so they
    // route through this branch while physically carrying both the
    // partition column AND the lineage columns (imported files lack
    // them and read NULL — hive imports are name-resolution tables, so
    // plain name matching serves both shapes)
    val reduced = StructType(
      meta.schema.fields.filterNot(f =>
        srcCols.contains(f.name) || f.dataType == NullType).toSeq ++
        (if (withRowId) lineageFields else Nil))
    val base = spark.read.schema(reduced).parquet(group.map(_.path): _*)
      .withColumn("__gf_fileraw", col("_metadata.file_path"))
      .withColumn("__gf_pos", col("_metadata.row_index"))
    val valSchema = StructType(
      StructField("__gf_injkey", StringType, nullable = false) +:
        srcCols.map(c =>
          StructField(s"__gf_inj_$c", meta.schema(c).dataType, nullable = true)))
    val rows: Seq[Row] = group.flatMap { f =>
      val vals = srcCols.map { c =>
        injectedValue(f.partitionValues.getOrElse(fieldBySrc(c), null),
          meta.schema(c).dataType, f.path)
      }
      pathJoinKeys(f.path).map(k => Row.fromSeq(k +: vals))
    }
    val mapDf = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), valSchema)
    val joined = base
      .withColumn("__gf_injkey0", normalizedPath(col("__gf_fileraw")))
      .join(broadcast(mapDf), col("__gf_injkey0") === col("__gf_injkey"), "left")
    val proj = meta.schema.fields.toSeq.map { f =>
      if (f.dataType == NullType) lit(null).as(f.name)
      else if (srcCols.contains(f.name))
        when(col("__gf_injkey").isNotNull, col(s"__gf_inj_${f.name}"))
          .otherwise(raise_error(concat(
            lit("identity-injection missed file (path-key mismatch): "),
            col("__gf_fileraw"))).cast(f.dataType))
          .as(f.name)
      else col(f.name)
    }
    joined.select(proj ++
      (if (withRowId) Seq(col(RowLineageCol).as("__gf_mrowid"),
        col(LastUpdatedCol).as("__gf_mlseq")) else Nil) ++
      (if (withPos)
        Seq(col("__gf_fileraw"), col("__gf_pos")) else Nil): _*)
  }

  /** A default value as a Column whose type matches the table field and
    * whose nullability is WIDENED to nullable: branch frames union with
    * normally-read nullable columns, and a single-branch read must
    * present the same (nullable) schema the table declares. A catalyst
    * `If(true, lit, null)` keeps its declared nullability through
    * analysis — the Column-DSL `when(lit(true), …)` is simplified to a
    * non-nullable literal before the schema is computed. */
  private def defaultLit(v: Any, dt: DataType): Column =
    org.apache.spark.sql.GraftShim.column(
      org.apache.spark.sql.catalyst.expressions.If(
        org.apache.spark.sql.catalyst.expressions.Literal(true),
        org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt),
        org.apache.spark.sql.catalyst.expressions.Literal(null, dt)))

  /** Read a set of DATA files with per-group column resolution: files
    * stamped with parquet field ids resolve BY ID ([[dataReadSchema]]),
    * pre-upgrade files of a name-mapped table resolve by their
    * UPGRADE-TIME names (the mapping freezes them) and are aliased to
    * the current names. Returns one frame per non-empty group — the
    * common cases (pure graft table, pure external table) yield exactly
    * one, and the plan is identical to a direct read. Each frame
    * projects the CURRENT schema columns in table order, plus — when
    * `withPos` — `__gf_fileraw` (`_metadata.file_path` exactly as Spark
    * reports it, URL-encoded) and `__gf_pos` (`_metadata.row_index`).
    * Fields added AFTER the upgrade surface as NULL from legacy files
    * even when an unrelated same-named column exists in the old bytes
    * (by-id semantics — a name-based read would resurrect them).
    * With `withRowId` each frame also carries `__gf_mrowid` /
    * `__gf_mlseq`: the file's MATERIALIZED `_row_id` and
    * `_last_updated_sequence_number` columns (v3 row lineage —
    * content-preserving rewrites persist them into rewritten files
    * under the spec's reserved field ids), NULL for every file that
    * predates lineage or was written by a plain append (those derive
    * downstream from `first_row_id + position` and the file's data
    * sequence number). */
  private[sources] def dataBranches(spark: SparkSession, meta: TableMetadata,
      files: Seq[ContentFile], withPos: Boolean,
      withRowId: Boolean = false): Seq[DataFrame] = {
    // Hive-import tables ([[HiveImportProp]]): files of a spec with
    // identity partition fields read those SOURCE columns from the
    // manifest tuple (per-file constants), not from parquet — imported
    // files physically lack them. One branch per such spec (bounded by
    // the spec count, not the partition count).
    // ns-timestamp columns read as longs only under Spark's legacy
    // nanos conf — set it for the session on first touch. DELIBERATELY
    // SESSION-WIDE and permanent: ParquetFileFormat re-stamps the
    // hadoop-conf key from the SESSION conf at every scan build
    // (verified in the 4.1.2 bytecode), so a per-relation reader
    // option is clobbered, and a set-build-restore would break this
    // very table's lazy reads (the conf is read at each execution, not
    // at DataFrame construction). The conf's ONLY effect is turning
    // the otherwise-ERRORING read of NANOS-annotated parquet into ns
    // longs, so no working behavior changes — but for the rest of the
    // session, unrelated plain-parquet reads of NANOS files return
    // longs instead of failing loudly. Documented at the GraftSession
    // surface (readIceberg/registerIceberg scaladoc).
    if (meta.nsColumns.nonEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val inj = injectBySpec(meta)
    val (injected, plain0) = files.partition(f => inj.contains(f.specId))
    val (legacy, stamped) = legacySplit(meta, plain0)
    def posCols = Seq(col("_metadata.file_path").as("__gf_fileraw"),
      col("_metadata.row_index").as("__gf_pos"))
    // materialized-lineage read column: stamped files resolve it by the
    // spec's reserved field id (files lacking the id read NULL — the
    // standard missing-column fill, validated against Spark's fieldId
    // machinery); name-resolution tables match the literal column name.
    // Legacy / hive-injected files predate lineage by construction.
    def lineageField(name: String, id: Int) =
      StructField(name, LongType, nullable = true,
        metadata = if (resolveByFieldIds(meta))
          new MetadataBuilder().putLong("parquet.field.id", id.toLong).build()
        else org.apache.spark.sql.types.Metadata.empty)
    def rowIdFields = Seq(lineageField(RowLineageCol, RowIdFieldId),
      lineageField(LastUpdatedCol, LastUpdatedFieldId))
    def rowIdCols: Seq[Column] =
      if (withRowId) Seq(col(RowLineageCol).as("__gf_mrowid"),
        col(LastUpdatedCol).as("__gf_mlseq")) else Nil
    def nullRowIdCols: Seq[Column] =
      if (withRowId) Seq(lit(null).cast(LongType).as("__gf_mrowid"),
        lit(null).cast(LongType).as("__gf_mlseq")) else Nil
    val out = Seq.newBuilder[DataFrame]
    if (stamped.nonEmpty) {
      // v3 column defaults: files that predate a defaulted column (seq
      // <= its add-seq) read `initial-default` as a per-file constant —
      // group by the SET of predated columns (bounded by the default
      // count, not the file count) and project the literals in place.
      val defs = meta.columnDefaults
      val groups = stamped
        .groupBy(f => defs.filter(d => f.seq <= d.addSeq).map(_.name).toSet)
        .toSeq.sortBy(_._1.toSeq.sorted.mkString(","))
      groups.foreach { case (missing, group) =>
        if (missing.isEmpty) {
          val rs0 = readableFields(dataReadSchema(spark, meta))
          val rs = if (withRowId) StructType(rs0.fields ++ rowIdFields) else rs0
          val base = spark.read.schema(rs).parquet(group.map(_.path): _*)
          out += base.select(meta.schema.fields.toSeq.map(tableCol) ++
            rowIdCols ++ (if (withPos) posCols else Nil): _*)
        } else {
          val rs0 = StructType(readableFields(dataReadSchema(spark, meta))
            .fields.filterNot(f => missing(f.name)))
          val rs = if (withRowId) StructType(rs0.fields ++ rowIdFields) else rs0
          val base = spark.read.schema(rs).parquet(group.map(_.path): _*)
          val proj = meta.schema.fields.toSeq.map { f =>
            if (f.dataType == NullType) lit(null).as(f.name)
            else if (missing(f.name)) defaultLit(
              defs.find(_.name == f.name).get.initial, f.dataType).as(f.name)
            else col(f.name)
          }
          out += base.select(proj ++ rowIdCols ++
            (if (withPos) posCols else Nil): _*)
        }
      }
    }
    if (legacy.nonEmpty) {
      val mapping = nameMappingOf(meta).getOrElse(
        throw new IllegalStateException(
          s"$NameMappingSeqProp set but $NameMappingProp missing"))
      val idByName = meta.fieldById.map(_.swap)
      // read ONLY the mapped fields (post-upgrade additions cannot exist
      // in these files under by-id semantics), with their upgrade-time
      // names and NO id metadata -> plain name resolution
      val mapped = meta.schema.fields.toSeq
        .filter(f => f.dataType != NullType && mapping.contains(idByName(f.name)))
      val legSchema = StructType(mapped.map(f =>
        StructField(mapping(idByName(f.name)), f.dataType, nullable = true)))
      val base = spark.read.schema(legSchema).parquet(legacy.map(_.path): _*)
      val proj = meta.schema.fields.toSeq.map { f =>
        if (f.dataType == NullType) lit(null).as(f.name)
        else mapping.get(idByName(f.name)) match {
          case Some(oldName) => col(oldName).as(f.name)
          case None =>
            // legacy files always predate any defaulted column (the
            // mapping freeze precedes the add, and legacy seq <= the
            // freeze seq <= the add seq) — serve the initial-default
            meta.columnDefaults.find(_.name == f.name) match {
              case Some(d) => defaultLit(d.initial, f.dataType).as(f.name)
              case None    => lit(null).cast(f.dataType).as(f.name)
            }
        }
      }
      out += base.select(proj ++ nullRowIdCols ++
        (if (withPos) posCols else Nil): _*)
    }
    injected.groupBy(_.specId).toSeq.sortBy(_._1).foreach { case (sid, group) =>
      out += injectedBranch(spark, meta, inj(sid), group, withPos, withRowId)
    }
    out.result()
  }

  /** v3 `unknown` columns (surfaced as NullType) must NEVER reach a
    * parquet read schema — Spark's parquet source rejects void columns,
    * and spec files may omit the column entirely. Physical read schemas
    * strip them ([[readableFields]]); projections re-create the column
    * as a null literal per the spec's read-as-null rule ([[tableCol]]). */
  private[graft] def readableFields(s: StructType): StructType =
    StructType(s.fields.filterNot(_.dataType == NullType))

  private def tableCol(f: StructField): Column =
    if (f.dataType == NullType) lit(null).as(f.name) else col(f.name)

  /** Spark's parquet reader/writer honors the `parquet.field.id` entry
    * in a StructField's metadata (public `spark.sql.parquet.fieldId.*`
    * confs). Top-level ids suffice: rename/drop/add operate on
    * top-level columns, and unannotated nested fields fall back to
    * name matching per field. */
  private[graft] def withFieldIds(schema: StructType,
                                  idByName: Map[String, Int]): StructType =
    StructType(schema.fields.map { f =>
      idByName.get(f.name) match {
        case Some(id) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putLong("parquet.field.id", id.toLong)
          .build())
        case None => f
      }
    })

  /** The id-annotated READ schema for a table's data files, enabling the
    * session's field-id resolution on the way (runtime-settable conf; a
    * no-op for scans whose schema carries no id metadata). */
  private[sources] def dataReadSchema(spark: SparkSession,
                                      meta: TableMetadata): StructType =
    if (resolveByFieldIds(meta)) {
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
      withFieldIds(meta.schema, meta.fieldById.map(_.swap))
    } else meta.schema

  /** Drop the id annotations from a result frame — reader OUTPUT schemas
    * must not leak the resolution mechanism (schema equality in callers
    * and tests compares metadata). */
  private def stripFieldIds(df: DataFrame): DataFrame =
    // both internal metadata keys are scrubbed from OUTPUT schemas: the
    // field-id annotations AND the `iceberg.type` spec-type carry that
    // loadMetadata stamps for non-round-tripping types (ns timestamps,
    // geometry/geography, uuid, fixed) — callers see plain columns
    if (df.schema.fields.exists(f => f.metadata.contains("parquet.field.id")
        || f.metadata.contains("iceberg.type")))
      df.select(df.schema.fields.map(f =>
        col(f.name).as(f.name, org.apache.spark.sql.types.Metadata.empty)): _*)
    else df

  // ------------------------------------------------------------ manifests

  /** One live content file discovered from a manifest. `content`:
    * 0 = data, 1 = position deletes, 2 = equality deletes.
    * `seq` is the DATA sequence number (entry's, inheriting the
    * manifest's when null — the v2 inheritance rule); equality deletes
    * apply only to data files with a strictly smaller one. */
  private[sources] final case class ContentFile(path: String, content: Int,
                                       format: String, seq: Long,
                                       equalityIds: Seq[Int],
                                       partitionValues: Map[String, Any],
                                       recordCount: Long,
                                       lowerBounds: Map[Int, Array[Byte]],
                                       upperBounds: Map[Int, Array[Byte]],
                                       nullCounts: Map[Int, Long],
                                       nanCounts: Map[Int, Long],
                                       // the partition spec this file was
                                       // written under (partition evolution:
                                       // old files keep their old spec)
                                       specId: Int = 0,
                                       // manifest-entry status (0 EXISTING /
                                       // 1 ADDED / 2 DELETED) — DELETED rows
                                       // only reach the `.entries` relation,
                                       // never the live-file planner
                                       status: Int = 1,
                                       // the entry's snapshot_id when the
                                       // manifest records one (None = the
                                       // inherited added_snapshot_id form)
                                       snapshotId: Option[Long] = None,
                                       // file_size_in_bytes (manifest
                                       // rewrite carries it forward)
                                       bytes: Long = 0L,
                                       // v3 deletion-vector entries
                                       // (content 1, format PUFFIN):
                                       // the target data file and the
                                       // blob's byte range in the
                                       // puffin file (spec 143-145)
                                       referencedDataFile: Option[String] = None,
                                       contentOffset: Option[Long] = None,
                                       contentSize: Option[Long] = None,
                                       // v3 row lineage (spec field 142)
                                       // — manifest rewrites must carry
                                       // it or rows change identity
                                       firstRowId: Option[Long] = None)

  /** Stream one Avro object container file as GenericRecords. Manifest
    * grain only — data rows never pass through here. Opens via the
    * Hadoop FS API so manifest lists on object stores read too; pass an
    * explicit conf when running executor-side (the default resolves the
    * driver's active session). */
  private[sources] def foreachAvroRecord(
      path: String,
      conf: org.apache.hadoop.conf.Configuration = GraftFs.conf())(
      f: GenericRecord => Unit): Unit = {
    val reader = new DataFileReader[GenericRecord](
      GraftFs.openSeekable(path, conf), new GenericDatumReader[GenericRecord]())
    try { while (reader.hasNext) f(reader.next()) } finally reader.close()
  }

  /** Field value as int; 0 when the field is absent (v1 files) or null.
    * Avro's `Record.get(name)` THROWS on absent fields — probe the schema. */
  private def intFieldOrZero(r: GenericRecord, name: String): Int =
    if (r.getSchema.getField(name) == null) 0
    else r.get(name) match { case null => 0; case n: Number => n.intValue() }

  /** Strip a URI scheme so manifest-recorded paths and Spark's
    * `_metadata.file_path` forms compare equal (used ONLY as a join /
    * comparison key — never as a read path, which must keep its scheme
    * so object-store URIs resolve to the right FileSystem). */
  private[graft] def normalizePath(p: String): String =
    p.replaceFirst(SchemePrefix, "/")

  /** [[normalizePath]] as a Column, for path keys compared inside a plan
    * (`_metadata.file_path`, a delete row's `file_path`). */
  private[graft] def normalizedPath(p: Column): Column =
    regexp_replace(p, SchemePrefix, "/")

  private final val SchemePrefix = "^[A-Za-z][A-Za-z0-9+.-]*:/+"

  /** Below this manifest count, planning stays a driver loop; at or
    * above it, manifests parse DISTRIBUTED — one task per manifest slice,
    * returning only the kept entries — which keeps very large tables (1e7
    * files across 1e4+ manifests) plannable. On `local[4]`, planning a
    * snapshot of 4-file manifests took 9 / 13 / 18 / 34 ms as a driver
    * loop against 92 / 94 / 83 / 80 ms as a Spark job at 8 / 16 / 32 /
    * 64 manifests: the job's fixed cost dominates well past 32. */
  private[graft] val ParallelManifestThreshold = 32

  /** Scheme-normalized FULL paths of the current snapshot's live data
    * files (content=0) — empty for a table with no snapshot yet. The
    * file-grain append stream's construction-time guard input: unlike
    * the `.files` relation this keeps the directory component, so the
    * caller can verify WHERE the files live, not just what they are
    * named (an [[IcebergWrite.addFiles]]-imported table's files sit
    * outside `<table>/data/` and a directory-scoped stream would
    * silently never visit them). Metadata grain only. */
  private[graft] def liveDataFilePaths(spark: SparkSession,
                                       tablePath: String): Seq[String] = {
    val meta = loadMetadata(tablePath)
    meta.currentSnapshotId.flatMap(id =>
        meta.snapshots.find(_.snapshotId == id)) match {
      case None => Seq.empty
      case Some(snap) =>
        liveFiles(spark, snap).filter(_.content == 0)
          .map(f => normalizePath(f.path))
    }
  }

  /** A manifest as its manifest-list entry names it: path, content kind
    * (v2 `content`: 0 data, 1 deletes; v1 lists are all data), manifest
    * sequence number (0 in v1) and `partition_spec_id` (field 502, the
    * spec its files were written under — partition evolution keys
    * pruning on it). Manifests are immutable, so one parse serves every
    * snapshot whose list names the same entry. */
  private type ManifestRef = (String, Int, Long, Int)

  /** The manifests of a snapshot's manifest list. */
  private def manifestRefs(snap: SnapshotInfo): Seq[ManifestRef] =
    snap.manifestList match {
      case Some(ml) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[ManifestRef]
        foreachAvroRecord(ml) { r =>
          val mSeq =
            if (r.getSchema.getField("sequence_number") == null) 0L
            else r.get("sequence_number") match {
              case null => 0L; case n: Number => n.longValue()
            }
          buf += ((r.get("manifest_path").toString,
            intFieldOrZero(r, "content"), mSeq,
            intFieldOrZero(r, "partition_spec_id")))
        }
        buf.toSeq
      case None => snap.manifests.map((_, 0, 0L, 0))
    }

  /** Parse each of `refs` into its live content-file entries. Below
    * [[ParallelManifestThreshold]] manifests this is a driver loop; at or
    * above it, one Spark job parses them on executors (constant driver
    * memory per task result; `collect` carries file metadata only, never
    * rows). */
  private def parseManifests(spark: SparkSession, refs: Seq[ManifestRef])
      : Map[ManifestRef, Seq[ContentFile]] =
    if (refs.size < ParallelManifestThreshold) {
      val c = GraftFs.conf()
      refs.map { case r @ (p, mc, ms, sp) => r -> parseManifest(p, mc, ms, sp, c) }.toMap
    } else {
      val sconf = GraftFs.serializableConf()
      val slices = math.min(refs.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(refs, slices)
        .map { case r @ (p, mc, ms, sp) => r -> parseManifest(p, mc, ms, sp, sconf.value) }
        .collect().toMap
    }

  /** Collect live content files for a snapshot: manifest list -> manifests
    * -> entries with status != DELETED (2), parsed per
    * [[parseManifests]]. */
  private[sources] def liveFiles(spark: SparkSession, snap: SnapshotInfo): Seq[ContentFile] = {
    val refs = manifestRefs(snap)
    val parsed = parseManifests(spark, refs)
    refs.flatMap(parsed)
  }

  /** Parse ONE manifest into its live content-file entries — pure
    * function of (path, manifest content kind, manifest sequence), safe
    * on executors (explicit Hadoop conf, no session access). */
  private def parseManifest(mPath: String, mContent: Int, mSeq: Long,
                            mSpecId: Int,
                            conf: org.apache.hadoop.conf.Configuration,
                            keepDeleted: Boolean = false)
      : Seq[ContentFile] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ContentFile]
    foreachAvroRecord(mPath, conf) { entry =>
        val status = entry.get("status").asInstanceOf[Number].intValue()
        // 0 EXISTING / 1 ADDED are live; 2 DELETED is not (the `.entries`
        // relation alone asks for deleted rows too)
        if (status != 2 || keepDeleted) {
          val df = entry.get("data_file").asInstanceOf[GenericRecord]
          // v1 data_file has no content field -> data (same as its manifest)
          val content =
            if (df.getSchema.getField("content") == null) mContent
            else intFieldOrZero(df, "content")
          // v2 sequence-number inheritance: a null entry sequence number
          // takes the manifest's (the ADDED-entry fast-append form)
          val seq =
            if (entry.getSchema.getField("sequence_number") == null) mSeq
            else entry.get("sequence_number") match {
              case null => mSeq; case n: Number => n.longValue()
            }
          val eqIds =
            if (df.getSchema.getField("equality_ids") == null) Nil
            else df.get("equality_ids") match {
              case null => Nil
              case l: java.util.Collection[_] =>
                l.asScala.map(_.asInstanceOf[Number].intValue()).toSeq
            }
          // r102 partition record: one field per partition column
          val partVals: Map[String, Any] = df.get("partition") match {
            case rec: GenericRecord =>
              rec.getSchema.getFields.asScala.map { f =>
                f.name() -> (rec.get(f.name()) match {
                  case u: org.apache.avro.util.Utf8 => u.toString
                  case v => v
                })
              }.toMap
            case _ => Map.empty
          }
          val records = df.get("record_count") match {
            case n: Number => n.longValue(); case _ => -1L
          }
          val fileBytes = df.get("file_size_in_bytes") match {
            case n: Number => n.longValue(); case _ => 0L
          }
          // field-id-keyed column bounds (spec 125/128): the array-of-
          // (key,value)-records map form real writers emit (Avro maps
          // can't have int keys); absent/null → no stats, never pruned
          def boundsMap(field: String): Map[Int, Array[Byte]] =
            if (df.getSchema.getField(field) == null) Map.empty
            else df.get(field) match {
              case l: java.util.Collection[_] =>
                l.asScala.map { e =>
                  val r = e.asInstanceOf[GenericRecord]
                  val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer].duplicate()
                  val arr = new Array[Byte](bb.remaining()); bb.get(arr)
                  r.get("key").asInstanceOf[Number].intValue() -> arr
                }.toMap
              case _ => Map.empty
            }
          // per-column long counts in the same map form: null rows (spec
          // field 110) and NaN rows (spec field 137 — bounds exclude NaN,
          // so float/double pruning must know whether NaN rows exist)
          def longMap(field: String): Map[Int, Long] =
            if (df.getSchema.getField(field) == null) Map.empty
            else df.get(field) match {
              case l: java.util.Collection[_] =>
                l.asScala.map { e =>
                  val r = e.asInstanceOf[GenericRecord]
                  r.get("key").asInstanceOf[Number].intValue() ->
                    r.get("value").asInstanceOf[Number].longValue()
                }.toMap
              case _ => Map.empty
            }
          val entrySnap: Option[Long] =
            if (entry.getSchema.getField("snapshot_id") == null) None
            else entry.get("snapshot_id") match {
              case n: Number => Some(n.longValue()); case _ => None
            }
          def optStr(field: String): Option[String] =
            if (df.getSchema.getField(field) == null) None
            else Option(df.get(field)).map(_.toString)
          def optLong(field: String): Option[Long] =
            if (df.getSchema.getField(field) == null) None
            else df.get(field) match {
              case n: Number => Some(n.longValue()); case _ => None
            }
          out += ContentFile(
            df.get("file_path").toString, content,
            df.get("file_format").toString.toUpperCase(java.util.Locale.ROOT),
            seq, eqIds, partVals, records,
            boundsMap("lower_bounds"), boundsMap("upper_bounds"),
            longMap("null_value_counts"), longMap("nan_value_counts"),
            specId = mSpecId, status = status, snapshotId = entrySnap,
            bytes = fileBytes,
            referencedDataFile = optStr("referenced_data_file"),
            contentOffset = optLong("content_offset"),
            contentSize = optLong("content_size_in_bytes"),
            firstRowId = optLong("first_row_id"))
        }
    }
    out.toSeq
  }

  // -------------------------------------------------- stats-based pruning

  /** Boolean predicate tree over per-file stats, so OR combinations can
    * prune too (a file is skipped only when EVERY OR branch excludes
    * it). `Unknown` is the conservative leaf: always keep. */
  private[sources] sealed trait StatsPred
  private[sources] object StatsPred {
    final case class Leaf(col: String, op: String, v: Any) extends StatsPred
    final case class AndP(l: StatsPred, r: StatsPred) extends StatsPred
    final case class OrP(l: StatsPred, r: StatsPred) extends StatsPred
    case object Unknown extends StatsPred
  }

  private def statsTreeOf(seq: Seq[(String, String, Any)]): StatsPred =
    if (seq.isEmpty) StatsPred.Unknown
    else seq.map { case (c, o, v) => StatsPred.Leaf(c, o, v): StatsPred }
      .reduce(StatsPred.AndP(_, _))

  /** Compile the tree into one per-file keep function; leaf resolution
    * (field ids, type normalization) happens once here, not per file. */
  private def compileStatsPred(meta: TableMetadata,
                               pred: StatsPred): ContentFile => Boolean = {
    val idByField = meta.fieldById.map(_.swap)
    def leafFn(c: String, op: String, v: Any): ContentFile => Boolean = {
      val fid = idByField.getOrElse(c, throw new IllegalArgumentException(
        s"statsFilter names unknown column '$c' " +
          s"(known: ${idByField.keys.toSeq.sorted.mkString(", ")})"))
      val dt = meta.schema(c).dataType
      op match {
        // a null row can exist iff the file's null count is > 0; a
        // non-null row iff nulls < record count. Unknown counts keep.
        case "is null" => f => f.nullCounts.get(fid).forall(_ > 0L)
        case "is not null" => f =>
          f.recordCount < 0L || f.nullCounts.get(fid).forall(_ < f.recordCount)
        case _ =>
          val nv =
            if (op == "in" || op == "not in") v match {
              case s: Seq[_] => s.map(normalizeStat(dt, _))
              case other => throw new IllegalArgumentException(
                s"statsFilter '$op' needs a Seq value, got $other")
            }
            else normalizeStat(dt, v)
          // NaN soundness: Spark orders NaN GREATER than every value (and
          // NaN = NaN true), while Iceberg bounds exclude NaN — a file of
          // {1.0, NaN} has bounds [1.0, 1.0] yet its NaN row satisfies
          // `x > 5.0`. So for float/double, ops a NaN row could satisfy
          // (> >= = <> in/'not in') may prune only when the file is PROVEN
          // NaN-free via nan_value_counts (spec field 137); absent counts
          // keep the file. `<`/`<=` stay prunable: no NaN row satisfies
          // them, and bounds correctly cover the non-NaN values.
          val nanUnsafe = (dt == FloatType || dt == DoubleType) &&
            (op match { case "<" | "<=" => false; case _ => true })
          f =>
            (nanUnsafe && !f.nanCounts.get(fid).contains(0L)) ||
              statsKeep(op,
                f.lowerBounds.get(fid).map(boundValue(dt, _)),
                f.upperBounds.get(fid).map(boundValue(dt, _)), nv)
      }
    }
    def go(p: StatsPred): ContentFile => Boolean = p match {
      case StatsPred.Unknown      => _ => true
      case StatsPred.Leaf(c, o, v) => leafFn(c, o, v)
      case StatsPred.AndP(l, r) =>
        val lf = go(l); val rf = go(r); f => lf(f) && rf(f)
      case StatsPred.OrP(l, r) =>
        val lf = go(l); val rf = go(r); f => lf(f) || rf(f)
    }
    go(pred)
  }

  /** Normalize a filter value into the comparison domain of the column's
    * Spark type (Int for int/date, Long, Double, String). */
  private def normalizeStat(dt: DataType, v: Any): Any = (dt, v) match {
    case (IntegerType, i: Int)  => i
    case (IntegerType, l: Long) => Math.toIntExact(l)
    case (DateType, d: java.sql.Date)       => Math.toIntExact(d.toLocalDate.toEpochDay)
    case (DateType, d: java.time.LocalDate) => Math.toIntExact(d.toEpochDay)
    case (DateType, i: Int)     => i
    case (LongType, i: Int)     => i.toLong
    case (LongType, l: Long)    => l
    case (FloatType | DoubleType, n: Number) => n.doubleValue()
    case (StringType, s: String) => s
    // decimals compare via BigDecimal.compareTo, which is scale-blind —
    // no rescaling to the column's scale needed
    case (_: DecimalType, d: java.math.BigDecimal) => d
    case (_: DecimalType, d: BigDecimal)           => d.underlying()
    case (_: DecimalType, d: org.apache.spark.sql.types.Decimal) =>
      d.toJavaBigDecimal
    case (_: DecimalType, i: Int)  => java.math.BigDecimal.valueOf(i.toLong)
    case (_: DecimalType, l: Long) => java.math.BigDecimal.valueOf(l)
    case (dt0, v0) => throw new IllegalArgumentException(
      s"statsFilter value ${v0.getClass.getSimpleName} not comparable " +
        s"against a $dt0 column")
  }

  /** Deserialize a stored bound into the same comparison domain.
    * Length-aware for the spec's type promotions: after widenColumn
    * (int -> long, float -> double) old files still carry 4-byte
    * bounds, which must deserialize through the NARROW type (sign
    * extension / float bit layout) and widen — reading 4 bytes as a
    * long would drop the sign, as a double would scramble the bits. */
  private def boundValue(dt: DataType, b: Array[Byte]): Any = dt match {
    case IntegerType | DateType => IcebergTransforms.deserializeBound("int", b)
    case LongType if b.length == 4 =>
      IcebergTransforms.deserializeBound("int", b).asInstanceOf[Int].toLong
    case LongType   => IcebergTransforms.deserializeBound("long", b)
    case FloatType  => IcebergTransforms.deserializeBound("float", b)
      .asInstanceOf[Float].toDouble
    case DoubleType if b.length == 4 =>
      IcebergTransforms.deserializeBound("float", b)
        .asInstanceOf[Float].toDouble
    case DoubleType => IcebergTransforms.deserializeBound("double", b)
    case StringType => IcebergTransforms.deserializeBound("string", b)
    case dt: DecimalType => IcebergTransforms.deserializeDecimal(b, dt.scale)
    case other => throw new IllegalArgumentException(
      s"statsFilter not supported on $other columns")
  }

  private def statLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Int, y: Int)       => x < y
    case (x: Long, y: Long)     => x < y
    case (x: Double, y: Double) => x < y
    case (x: String, y: String) => x < y
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      x.compareTo(y) < 0
    case _ => throw new IllegalStateException(s"incomparable stats: $a / $b")
  }

  /** Can a row satisfying `<op> v` exist in a file whose column spans
    * [lo, hi]? Missing bounds (None) keep the file — stats pruning is
    * only ever an optimization, never a correctness gate. */
  private def statsKeep(op: String, lo: Option[Any], hi: Option[Any],
                        v: Any): Boolean = op match {
    case "="  => lo.forall(l => !statLt(v, l)) && hi.forall(h => !statLt(h, v))
    case "<"  => lo.forall(l => statLt(l, v))
    case "<=" => lo.forall(l => !statLt(v, l))
    case ">"  => hi.forall(h => statLt(v, h))
    case ">=" => hi.forall(h => !statLt(h, v))
    case "in" => v.asInstanceOf[Seq[Any]].exists(x =>
      lo.forall(l => !statLt(x, l)) && hi.forall(h => !statLt(h, x)))
    // negated forms: a row differing from v can exist unless the file is
    // CONSTANT at v (lo == hi == v). All-null files have no bounds and
    // are kept; a constant-v file with extra null rows still prunes
    // correctly (nulls match neither the predicate nor its negation).
    case "<>" => !(lo.isDefined && hi.isDefined &&
      statEq(lo.get, v) && statEq(hi.get, v))
    case "not in" =>
      val vs = v.asInstanceOf[Seq[Any]]
      !(lo.isDefined && hi.isDefined && statEq(lo.get, hi.get) &&
        vs.exists(statEq(lo.get, _)))
    case other => throw new IllegalArgumentException(
      s"statsFilter op must be one of = <> < <= > >= in/'not in', got '$other'")
  }

  private def statEq(a: Any, b: Any): Boolean = !statLt(a, b) && !statLt(b, a)

  // ------------------------------------------- partition-value resolution

  private def epochMicros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
      (i.getNano / 1000).toLong)

  /** Normalize an identity-partition filter literal to the representation
    * manifests STORE (spec partition-data types: date is the epoch-day
    * int, timestamp the epoch-micros long — not the JVM object the
    * caller's predicate carries). int/long/string/boolean pass through.
    * Anything else (e.g. decimal, stored as unscaled bytes) throws —
    * the explicit partitionFilter API surfaces that; the derived
    * readWhere path Try-guards it and simply skips pruning. */
  private[graft] def identityStored(v: Any): Any = v match {
    case _: Int | _: Long | _: String | _: Boolean => v
    case d: java.sql.Date =>
      Int.box(Math.toIntExact(d.toLocalDate.toEpochDay))
    case d: java.time.LocalDate => Int.box(Math.toIntExact(d.toEpochDay))
    case t: java.sql.Timestamp  => Long.box(epochMicros(t.toInstant))
    case t: java.time.Instant   => Long.box(epochMicros(t))
    // timestamp-without-zone (Spark TimestampNTZ): stored micros are
    // from the epoch with the wall-clock read as UTC, per spec
    case t: java.time.LocalDateTime =>
      Long.box(epochMicros(t.toInstant(java.time.ZoneOffset.UTC)))
    case other => throw new IllegalArgumentException(
      s"identity partition filter value of type " +
        s"${other.getClass.getSimpleName} has no stored-form normalization")
  }

  /** Does a filter literal's runtime type already carry the column's
    * Spark type? Derived partition equalities prune only then: an
    * unanalyzed `d = '2020-01-01'` (a String against a DATE column, as a
    * parsed SQL `WHERE` or a DSL `col("d") === "2020-01-01"` arrives)
    * matches rows after an implicit cast the derivation never sees, so
    * the literal's own stored form would miss every file. Integral
    * widening is exact, so int and long mix. */
  private def literalOfType(dt: DataType, v: Any): Boolean = (dt, v) match {
    case (IntegerType | LongType, _: Int | _: Long)                   => true
    case (StringType, _: String)                                      => true
    case (BooleanType, _: Boolean)                                    => true
    case (BinaryType, _: Array[Byte])                                 => true
    case (DateType, _: java.sql.Date | _: java.time.LocalDate)        => true
    case (TimestampType, _: java.sql.Timestamp | _: java.time.Instant) => true
    case (TimestampNTZType, _: java.time.LocalDateTime)               => true
    case _                                                            => false
  }

  private val truncRe  = "^truncate\\[(\\d+)\\]$".r
  private val bucketRe = "^bucket\\[(\\d+)\\]$".r

  /** Resolve a raw filter literal to the STORED partition value for one
    * transform — what manifest partition tuples record and pruning
    * compares against. Identity normalizes date/timestamp objects to the
    * spec's epoch ordinals; truncate[W] applies the spec's floor-mod /
    * prefix binning; bucket[N] the spec's murmur3 ordinal
    * ([[IcebergTransforms.bucket]]); year/month/day/hour the epoch-based
    * time ordinals. `void` is null for every value (matches all files —
    * correct "no pruning possible" semantics on evolved tables). Unknown
    * transforms and unconvertible values throw — derived pruning
    * Try-guards this and skips the leaf instead. */
  private[graft] def storedPartitionValue(transform: String, v: Any): Any =
    transform match {
      case "identity" => identityStored(v)
      case truncRe(w) => v match {
        case n: Int    => n - Math.floorMod(n, w.toInt)
        case n: Long   => n - Math.floorMod(n, w.toLong)
        case s: String => s.take(w.toInt)
        case other => throw new IllegalArgumentException(
          s"truncate filter value must be int/long/string, got $other")
      }
      case bucketRe(n) => Int.box(IcebergTransforms.bucket(n.toInt, v))
      case "year"  => Int.box(IcebergTransforms.yearOrdinal(v))
      case "month" => Int.box(IcebergTransforms.monthOrdinal(v))
      case "day"   => Int.box(IcebergTransforms.dayOrdinal(v))
      case "hour"  => Int.box(IcebergTransforms.hourOrdinal(v))
      case "void"  => null
      case other => throw new UnsupportedOperationException(
        s"partition transform '$other' is not supported for pruning")
    }

  // ----------------------------------------------------------------- read

  /** Read an Iceberg table as a DataFrame.
    *
    * @param snapshotId      read this exact snapshot (time travel by id)
    * @param asOfTimestampMs read the latest snapshot committed at or before
    *                        this epoch-millis timestamp (time travel by time)
    * @param partitionFilter equality predicates on partition SOURCE
    *                        columns, applied at PLANNING time against the
    *                        manifests' partition tuples — non-matching
    *                        data files are never opened (the metadata
    *                        pruning that makes a 1e5-file table scan
    *                        viable; same contract as the runtime jar's
    *                        partition pruning). Identity, truncate[W],
    *                        bucket[N] and year/month/day/hour transforms
    *                        are supported (the filter value is
    *                        transformed before comparing); note this is
    *                        FILE pruning, not a row filter — rows sharing
    *                        the filter value's bin/prefix/bucket/period
    *                        survive and the caller applies the exact row
    *                        predicate as usual.
    */
  /** @param statsFilter (column, op, value) predicates with op in
    *                     `= < <= > >=` plus `is null` / `is not null`
    *                     (value ignored), applied at PLANNING time
    *                     against the manifests' per-file column bounds
    *                     and null counts (`lower_bounds`/`upper_bounds`/
    *                     `null_value_counts`, spec fields 125/128/110) —
    *                     a data file whose stats provably exclude the
    *                     predicate is never opened.
    *                     Like partitionFilter this is FILE pruning: the
    *                     caller still applies the exact row predicate
    *                     (which Spark ALSO pushes into the parquet
    *                     row-group stats — this is the manifest level
    *                     above that). Files without stats are kept. */
  def read(spark: SparkSession, tablePath: String,
           snapshotId: Option[Long] = None,
           asOfTimestampMs: Option[Long] = None,
           partitionFilter: Map[String, Any] = Map.empty,
           statsFilter: Seq[(String, String, Any)] = Nil,
           ref: Option[String] = None): DataFrame =
    readImpl(spark, tablePath, snapshotId, asOfTimestampMs, partitionFilter,
      statsTreeOf(statsFilter), ref)

  /** v3 ROW LINEAGE read surface: the current (or pinned) snapshot with
    * a `_row_id` metadata column — the file's MATERIALIZED `_row_id`
    * when present (rewrite verbs persist surviving rows' ids into
    * rewritten files, so compact/compactWhere/UPDATE are
    * lineage-STABLE), else `first_row_id + position` per the spec's
    * inheritance rule — stable across DELETEs and appends (a surviving
    * row keeps its id for ever; that is what makes incremental
    * downstream consumers able to track rows). Files without an
    * assigned `first_row_id` (imported pre-upgrade data) read `_row_id`
    * as NULL until a rewrite assigns them fresh ids (the spec's lazy
    * assignment). Also carries `_last_updated_sequence_number` — the
    * seq of the snapshot that last MODIFIED the row (materialized
    * preferred, else the file's data seq: compact preserves it,
    * UPDATE/MERGE advance it to their own seq by leaving the new files'
    * column null). The per-file (first_row_id, seq) map rides ONE
    * broadcast join keyed on the row's file identity — plan size
    * constant in file count. */
  def readWithRowId(spark: SparkSession, tablePath: String,
                    snapshotId: Option[Long] = None): DataFrame =
    readWithRowIdOf(spark, loadMetadata(tablePath), tablePath, snapshotId)

  /** [[readWithRowId]] against an ALREADY-LOADED TableMetadata — the
    * one-load-per-materialization form the SQL view's relation builder
    * uses (its pin must resolve against the same metadata the relation
    * serves). */
  private[sources] def readWithRowIdOf(spark: SparkSession,
                                       meta: TableMetadata,
                                       tablePath: String,
                                       snapshotId: Option[Long]): DataFrame = {
    require(meta.formatVersion >= 3,
      "_row_id requires format v3 (row lineage); run upgradeFormatVersion first")
    val snap = snapshotOf(meta, snapshotId, tablePath)
    renameLineage(lineageRead(spark, meta, liveFiles(spark, snap)))
  }

  /** Table columns + `__gf_rowid` / `__gf_lseq` (each row's v3 lineage
    * pair: materialized values preferred, else `first_row_id + position`
    * and the file's data sequence number) over
    * an explicit content-file set — the shared body of [[readWithRowId]]
    * and the rewrite verbs' id-preserving input reads
    * ([[IcebergWrite.compact]]/compactWhere/updateWhere stage this
    * column back out into the rewritten files). */
  private[sources] def lineageRead(spark: SparkSession, meta: TableMetadata,
                                   files: Seq[ContentFile]): DataFrame = {
    val base = mergeRead(spark, meta, files, withIdentity = true,
      withRowId = true)
    val mapRows = files.filter(_.content == 0).map(f =>
      Row(normalizePath(f.path), f.firstRowId.map(Long.box).orNull,
        Long.box(f.seq)))
    val mapDf = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(mapRows).asJava),
      StructType(Seq(
        StructField("__gf_rfile", StringType, nullable = false),
        StructField("__gf_first", LongType, nullable = true),
        StructField("__gf_fseq", LongType, nullable = false))))
    val joined = base
      .join(broadcast(mapDf), col("__gf_file") === col("__gf_rfile"), "left")
      .withColumn("__gf_rowid",
        coalesce(col("__gf_mrowid"), col("__gf_first") + col("__gf_pos")))
      .withColumn("__gf_lseq", coalesce(col("__gf_mlseq"), col("__gf_fseq")))
      .drop("__gf_mrowid", "__gf_mlseq", "__gf_rfile", "__gf_first",
        "__gf_fseq")
    joined.drop("__gf_file", "__gf_pos")
  }

  private def readImpl(spark: SparkSession, tablePath: String,
                       snapshotId: Option[Long],
                       asOfTimestampMs: Option[Long],
                       partitionFilter: Map[String, Any],
                       statsPred: StatsPred,
                       ref: Option[String],
                       withRowId: Boolean = false): DataFrame = {
    val meta = loadMetadata(tablePath)
    require(!withRowId || meta.formatVersion >= 3,
      "row_lineage requires format v3 (row lineage); " +
        "run upgradeFormatVersion first")
    // ONE resolution policy for snapshotId / as-of / ref (named refs are
    // pinned snapshot ids — `VERSION AS OF 'tag'` in engine dialects;
    // as-of follows snapshot-log when present): [[resolveSnapshotId]],
    // shared with the live metadata views.
    val snap: Option[SnapshotInfo] =
      resolveSnapshotId(meta, snapshotId, asOfTimestampMs, ref) match {
        case Some(id) =>
          Some(meta.snapshots.find(_.snapshotId == id).getOrElse(
            throw new IllegalArgumentException(
              s"snapshot $id not found; available: " +
                meta.snapshots.map(_.snapshotId).sorted.mkString(", "))))
        case None =>
          meta.currentSnapshotId.map(id => meta.snapshots.find(_.snapshotId == id)
            .getOrElse(throw new IllegalStateException(
              s"current-snapshot-id $id missing from snapshots list")))
      }
    // Resolve source-column filters to (partition field name -> expected
    // STORED value) via [[storedPartitionValue]] — the filter literal is
    // transformed/normalized into exactly what manifests record before
    // comparing. The DEFAULT spec resolves loudly (the EXPLICIT filter
    // API contract — a silently unpruned filter would read as "pruning
    // works" in tests; the derived readWhere path Try-guards the same
    // helper upstream and skips pruning instead). With partition
    // evolution, OLDER specs resolve best-effort PER SPEC: a spec that
    // lacks the source column, or whose transform can't convert the
    // literal, contributes no pruning for its files — they are KEPT.
    val resolvedBySpec: Map[Int, Map[String, Any]] =
      resolveFilterBySpec(meta, partitionFilter)
    snap match {
      case None => // table exists but has no snapshot yet: empty, schema kept
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row],
          if (withRowId) StructType(meta.schema.fields.toSeq ++ lineageFields)
          else meta.schema)
      case Some(s) =>
        readSnapshot(spark, meta, s, resolvedBySpec, statsPred, withRowId)
    }
  }

  /** Resolve source-column equality filters to per-spec (partition field
    * name -> expected STORED value) maps ([[storedPartitionValue]]). The
    * DEFAULT spec resolves loudly (explicit-API contract); older specs
    * best-effort per spec — a spec lacking the source, or whose
    * transform can't convert the literal, contributes no pruning for
    * its files (they are KEPT). Shared by the read path and the DML
    * verbs' scan pruning. */
  private def resolveFilterBySpec(meta: TableMetadata,
      partitionFilter: Map[String, Any]): Map[Int, Map[String, Any]] =
    if (partitionFilter.isEmpty) Map.empty
    else {
      def sourcesOf(fields: Seq[(String, String, Int)]): Map[String, (String, String)] =
        fields.flatMap { case (name, t, srcId) =>
          meta.fieldById.get(srcId).map(src => src -> (name, t))
        }.toMap
      // loud contract: the filter must name a partition source of SOME
      // spec (with evolution, an old spec's source is still filterable
      // — its files prune, newer-spec files are kept conservatively)
      val allSources: Set[String] =
        meta.specsById.values.flatMap(f => sourcesOf(f).keys).toSet ++
          sourcesOf(meta.partitionFields).keys
      partitionFilter.keys.foreach { k =>
        require(allSources.contains(k),
          s"partitionFilter names non-partition-source column '$k' " +
            s"(partition sources: ${allSources.toSeq.sorted.mkString(", ")})")
      }
      val specs =
        if (meta.specsById.nonEmpty) meta.specsById
        else Map(meta.defaultSpecId -> meta.partitionFields)
      specs.map { case (sid, fields) =>
        val bySrc = sourcesOf(fields)
        sid -> partitionFilter.flatMap { case (k, v) =>
          bySrc.get(k).map { case (name, t) =>
            // the DEFAULT spec resolves loudly (explicit-API contract:
            // an unconvertible literal is a caller bug, not a skip);
            // older specs are best-effort — a failed conversion just
            // contributes no pruning for that spec's files
            if (sid == meta.defaultSpecId) Some(name -> storedPartitionValue(t, v))
            else scala.util.Try(storedPartitionValue(t, v)).toOption.map(name -> _)
          }.getOrElse(None)
        }
      }
    }

  /** Prune a DATA-file set against a predicate Column, best-effort but
    * always SOUND: the same derived partition-equality + stats-tree
    * machinery the read path uses — a pruned-out file provably holds no
    * row matching the condition. What lets the DML verbs
    * ([[IcebergWrite.deleteWhere]]/[[IcebergWrite.updateWhere]]) skip
    * scanning files a partition-scoped predicate can't touch, instead
    * of raw-scanning the whole table per statement. */
  private[sources] def pruneDataFilesWhere(meta: TableMetadata,
      files: Seq[ContentFile],
      condition: org.apache.spark.sql.Column): Seq[ContentFile] = {
    import org.apache.spark.sql.GraftShim
    val (partFilter, tree) = derivePruning(meta, GraftShim.predicateTree(condition))
    val bySpec = resolveFilterBySpec(meta, partFilter)
    val keepByStats = compileStatsPred(meta, tree)
    files.filter { f =>
      f.content != 0 || (
        bySpec.getOrElse(f.specId, Map.empty).forall { case (k, v) =>
          f.partitionValues.get(k).forall(pv =>
            String.valueOf(pv) == String.valueOf(v))
        } && keepByStats(f))
    }
  }

  /** Read with a Spark predicate Column — the pushdown UX: pruning
    * predicates are DERIVED from the condition's supported conjuncts
    * automatically (partition equality → partition pruning; attribute-
    * vs-literal comparisons and null checks → manifest stats pruning),
    * and the FULL condition is then applied as an exact row filter. So
    * results are always exact and pruning is best-effort — the same
    * contract as the runtime jar's scan pushdown. OR combinations prune
    * too: a file is skipped only when EVERY branch excludes it (an
    * unsupported branch keeps the file). Partition equalities prune only
    * along the top-level AND spine — an equality under an OR must not.
    * Unsupported conjuncts (expressions over multiple columns,
    * unsupported types) simply contribute no pruning. */
  def readWhere(spark: SparkSession, tablePath: String,
                condition: org.apache.spark.sql.Column,
                snapshotId: Option[Long] = None,
                asOfTimestampMs: Option[Long] = None,
                ref: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.GraftShim
    readPruned(spark, tablePath, GraftShim.predicateTree(condition),
        snapshotId, asOfTimestampMs, ref)
      .filter(condition)
  }

  /** Pruned scan from an already-derived predicate tree, WITHOUT the
    * exact row filter on top (callers that keep their own Filter node —
    * the SQL-pushdown rule — must not double-filter). */
  private[graft] def readPruned(spark: SparkSession, tablePath: String,
                                predTree: org.apache.spark.sql.GraftShim.PredNode,
                                snapshotId: Option[Long] = None,
                                asOfTimestampMs: Option[Long] = None,
                                ref: Option[String] = None,
                                withRowId: Boolean = false): DataFrame = {
    val meta = loadMetadata(tablePath)
    val (partFilter, tree) = derivePruning(meta, predTree)
    readImpl(spark, tablePath, snapshotId, asOfTimestampMs, partFilter,
      tree, ref, withRowId)
  }

  /** The unpruned LINEAGE scan the SQL view's no-filter case
    * materializes: the current (or pinned) snapshot's rows + lineage
    * pair, resolved through the same pin policy as the data view. */
  private[graft] def readLineage(spark: SparkSession, tablePath: String,
                                 snapshotId: Option[Long] = None,
                                 asOfTimestampMs: Option[Long] = None,
                                 ref: Option[String] = None): DataFrame =
    readImpl(spark, tablePath, snapshotId, asOfTimestampMs, Map.empty,
      StatsPred.Unknown, ref, withRowId = true)

  /** Derive (partition-equality filter, stats predicate tree) from a
    * neutral predicate tree — shared by [[readWhere]] (Column DSL) and
    * the SQL pushdown rule (catalyst expressions via
    * `GraftShim.predicateTreeOf`). */
  private[graft] def derivePruning(
      meta: TableMetadata,
      root: org.apache.spark.sql.GraftShim.PredNode)
      : (Map[String, Any], StatsPred) = {
    import org.apache.spark.sql.GraftShim.PredNode
    // partition source -> transform. A derived equality prunes partitions
    // whenever the literal has the column's type ([[literalOfType]]) and
    // [[storedPartitionValue]] can resolve it for the column's
    // transform — the DSL's node literals carry raw JVM objects
    // (java.sql.Date / Timestamp included), so identity, truncate, bucket
    // AND the time transforms all derive. The Try below is the contract
    // guard: an unconvertible literal (e.g. a decimal under truncate)
    // must SKIP the leaf, never fail the read.
    val partitionSources: Map[String, String] = meta.partitionFields
      .flatMap { case (_, t, srcId) => meta.fieldById.get(srcId).map(_ -> t) }
      .toMap
    def partitionPrunable(t: String, v: Any): Boolean =
      t != "void" && scala.util.Try(storedPartitionValue(t, v)).isSuccess
    val statTypes: Set[DataType] = Set(IntegerType, LongType, StringType,
      DateType, DoubleType, FloatType)
    def statsPrunable(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case other => statTypes(other)
    }
    // The DSL builds a ColumnNode tree (string operator names) — walk
    // the shim's neutral view of THAT, not the analyzed Catalyst
    // expression, so derivation needs no relation to resolve against.
    // Node literals carry plain Scala values (no UTF8String unwrapping).
    def attr(e: PredNode): Option[String] = e match {
      case PredNode.Attr(n) => Some(n)
      case _ => None
    }
    def literal(e: PredNode): Option[Any] = e match {
      case PredNode.Lit(v) if v != null => Some(v)
      case _ => None
    }
    val partBuf = scala.collection.mutable.Map.empty[String, Any]
    def flip(op: String): String = op match {
      case "<" => ">"; case "<=" => ">="; case ">" => "<"; case ">=" => "<="
      case o => o
    }
    def known(n: String): Boolean = meta.schema.fieldNames.contains(n)
    // pre-validate the literal converts (derived pruning must SKIP an
    // unconvertible leaf, never fail the read). `conj` marks the pure-AND
    // spine: only there may a partition equality prune.
    def leaf(n: String, op: String, v: Any, conj: Boolean): StatsPred = {
      val dt = meta.schema(n).dataType
      if (conj && op == "=" && literalOfType(dt, v) &&
          partitionSources.get(n).exists(partitionPrunable(_, v)))
        partBuf(n) = v
      if (statsPrunable(dt) && scala.util.Try(normalizeStat(dt, v)).isSuccess)
        StatsPred.Leaf(n, op, v)
      else StatsPred.Unknown
    }
    def comparison(op: String, l: PredNode, r: PredNode,
                   conj: Boolean): StatsPred =
      (attr(l), literal(r)) match {
        case (Some(n), Some(v)) if known(n) => leaf(n, op, v, conj)
        case _ => (attr(r), literal(l)) match {
          case (Some(n), Some(v)) if known(n) => leaf(n, flip(op), v, conj)
          case _ => StatsPred.Unknown
        }
      }
    // NOT pushes through De Morgan; leaves flip to their negated ops.
    // Sound with nulls: a negated comparison is null for null rows (they
    // match neither side), and the negated-leaf file checks only prune
    // constant-non-null files.
    def negate(p: StatsPred): StatsPred = p match {
      case StatsPred.Unknown    => StatsPred.Unknown
      case StatsPred.AndP(l, r) => StatsPred.OrP(negate(l), negate(r))
      case StatsPred.OrP(l, r)  => StatsPred.AndP(negate(l), negate(r))
      case StatsPred.Leaf(c, op, v) =>
        val neg = Map("=" -> "<>", "<>" -> "=", "<" -> ">=", ">=" -> "<",
          "<=" -> ">", ">" -> "<=", "in" -> "not in", "not in" -> "in",
          "is null" -> "is not null", "is not null" -> "is null")
        neg.get(op).map(o => StatsPred.Leaf(c, o, v): StatsPred)
          .getOrElse(StatsPred.Unknown)
    }
    def visit(e: PredNode, conj: Boolean): StatsPred = e match {
      case PredNode.Fn(fname, args) =>
        fname.toLowerCase(java.util.Locale.ROOT) match {
          case "and" if args.nonEmpty =>
            args.map(visit(_, conj)).reduce(StatsPred.AndP(_, _))
          // negation: derive the inner tree NON-conjunctively (a
          // partition equality under NOT must not prune), then flip it
          case "!" | "not" if args.size == 1 =>
            negate(visit(args.head, false))
          case "or" if args.nonEmpty =>
            args.map(visit(_, false)).reduce(StatsPred.OrP(_, _))
          case op @ ("=" | "==" | "<" | "<=" | ">" | ">=") if args.size == 2 =>
            comparison(if (op == "==") "=" else op, args(0), args(1), conj)
          case "isnull" if args.size == 1 =>
            attr(args.head).filter(known)
              .map(n => StatsPred.Leaf(n, "is null", null): StatsPred)
              .getOrElse(StatsPred.Unknown)
          case "isnotnull" if args.size == 1 =>
            attr(args.head).filter(known)
              .map(n => StatsPred.Leaf(n, "is not null", null): StatsPred)
              .getOrElse(StatsPred.Unknown)
          case "in" if args.size >= 2 =>
            // IN-list: stats-prunable (any listed value inside [lo, hi]
            // keeps the file); partition pruning stays out (equality map)
            (attr(args.head), args.tail.map(literal)) match {
              case (Some(n), vs) if known(n) && vs.forall(_.isDefined) &&
                  statsPrunable(meta.schema(n).dataType) &&
                  scala.util.Try(vs.flatten.map(
                    normalizeStat(meta.schema(n).dataType, _))).isSuccess =>
                StatsPred.Leaf(n, "in", vs.flatten)
              case _ => StatsPred.Unknown
            }
          // Prefix predicate (DSL startsWith; the optimizer rewrites
          // LIKE 'ab%' to StartsWith on the SQL path) → the classic
          // range form: s startsWith p  ⟺  p <= s < p[:-1]+(next char).
          // Derived only for a NONEMPTY ASCII prefix: the bound strings
          // then decide every comparison at a char <= 0x80, where Java's
          // UTF-16 ordering (statLt) and UTF-8/codepoint ordering agree
          // — a non-ASCII prefix could mis-order against supplementary
          // characters in file bounds, so it stays underived (sound
          // skip). NOT startsWith negates structurally (De Morgan over
          // the AndP) into the exact complement range — also sound.
          case "startswith" if args.size == 2 =>
            (attr(args.head), literal(args(1))) match {
              case (Some(n), Some(p: String)) if known(n) &&
                  meta.schema(n).dataType == StringType &&
                  p.nonEmpty && p.forall(_ < 0x80) =>
                val upper = p.init + (p.last + 1).toChar
                StatsPred.AndP(
                  leaf(n, ">=", p, conj = false),
                  leaf(n, "<", upper, conj = false))
              case _ => StatsPred.Unknown
            }
          case _ => StatsPred.Unknown // unsupported — no pruning from it
        }
      case _ => StatsPred.Unknown
    }
    val tree = visit(root, conj = true)
    (partBuf.toMap, tree)
  }

  private def readSnapshot(spark: SparkSession, meta: TableMetadata,
                           snap: SnapshotInfo,
                           filterBySpec: Map[Int, Map[String, Any]] = Map.empty,
                           statsPred: StatsPred = StatsPred.Unknown,
                           withRowId: Boolean = false): DataFrame = {
    val allFiles = liveFiles(spark, snap)
    // Resolve stats predicates once (field ids, type normalization) into
    // one per-file keep function; unknown columns fail loudly.
    val keepByStats = compileStatsPred(meta, statsPred)
    // Planning-time pruning: drop DATA files whose manifest partition
    // tuple fails the equality filter — resolved against the SPEC each
    // file was written under (partition evolution) — or whose column
    // bounds/null counts provably exclude the stats predicate tree;
    // delete files stay (they may be global). A file whose spec has no
    // resolution for a filtered source, or whose tuple lacks the field,
    // is KEPT (pruning is best-effort, dropping would lose rows).
    // String-normalized compare keeps Int/Long boxing differences from
    // defeating an equal value.
    val files = allFiles.filter { f =>
      f.content != 0 || (
        filterBySpec.getOrElse(f.specId, Map.empty).forall { case (k, v) =>
          f.partitionValues.get(k).forall(pv => String.valueOf(pv) == String.valueOf(v))
        } && keepByStats(f))
    }
    if (withRowId) renameLineage(lineageRead(spark, meta, files))
    else mergeRead(spark, meta, files, withIdentity = false)
  }

  /** Merge-on-read over an EXPLICIT content-file set: reads the data
    * files in `files` and applies the position/equality delete files in
    * `files` per the v2 rules. The snapshot scan above is this applied
    * to a snapshot's pruned live files; the rewrite verbs call it with
    * the files they rewrite. With `withIdentity` the result keeps the
    * row's physical identity — `__gf_file` (scheme-normalized data file
    * path) and `__gf_pos` (row ordinal in that file). */
  private[sources] def mergeRead(spark: SparkSession, meta: TableMetadata,
                                 files: Seq[ContentFile],
                                 withIdentity: Boolean,
                                 withRowId: Boolean = false): DataFrame = {
    require(!withRowId || withIdentity,
      "withRowId requires withIdentity (lineage derivation needs file+pos)")
    requireReadable(files)
    val dataFiles = files.filter(_.content == 0)
    val posFiles  = files.filter(_.content == 1)
    val eqFiles   = files.filter(_.content == 2)
    val identityFields = Seq(
      StructField("__gf_file", StringType, nullable = true),
      StructField("__gf_pos", LongType, nullable = true)) ++
      (if (withRowId) Seq(
         StructField("__gf_mrowid", LongType, nullable = true),
         StructField("__gf_mlseq", LongType, nullable = true))
       else Nil)
    if (dataFiles.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        if (withIdentity) StructType(meta.schema.fields.toSeq ++ identityFields)
        else meta.schema)

    val cols: Seq[Column] = meta.schema.fieldNames.toSeq.map(col)
    val outCols: Seq[Column] =
      if (withIdentity) cols ++ Seq(col("__gf_file"), col("__gf_pos")) ++
        (if (withRowId) Seq(col("__gf_mrowid"), col("__gf_mlseq")) else Nil)
      else cols
    // Read with the TABLE schema from metadata.json, never inferred from a
    // data file: on a schema-evolved table the sampled file may predate a
    // column (it must surface as nulls, not vanish or fail), and explicit
    // schemas also skip the driver-side footer-sampling pass — material at
    // 1e5 files. Column matching is BY FIELD ID (the spec's resolution
    // rule) on tables our writer stamped ([[FieldIdsProp]]) — that is
    // what makes renamed columns resolve in pre-rename files — and by
    // NAME on external tables of unknown id discipline.
    // Paths read AS RECORDED in the manifest (scheme intact): on an
    // object-store table these are s3a://…/hdfs://… URIs that must reach
    // the matching FileSystem, not the default one.
    // [[dataBranches]] handles per-group column resolution (by id for
    // stamped files, by mapped name for a table upgraded via
    // addNameMapping) — ONE frame, and a plan identical to a plain
    // read, in the common single-group cases.
    if (posFiles.isEmpty && eqFiles.isEmpty && !withIdentity)
      return stripFieldIds(
        dataBranches(spark, meta, dataFiles, withPos = false)
          .reduce(_ unionByName _))

    // Every merge-on-read path needs the row's file identity: Spark's
    // file-source metadata column, normalized to scheme-less form so it
    // compares equal to manifest-recorded paths.
    var data = dataBranches(spark, meta, dataFiles, withPos = true,
        withRowId = withRowId)
      .map(_.withColumn("__gf_file", normalizedPath(col("__gf_fileraw")))
        .drop("__gf_fileraw"))
      .reduce(_ unionByName _)

    if (posFiles.nonEmpty) {
      // position deletes (parquet files and v3 deletion vectors) are
      // (file, pos) rows; the delete is a distributed left-anti join on
      // (file, row-ordinal) — no row ever touches the driver
      val dels = PositionDeletes.read(spark, posFiles)
        .select(col("__gf_file"), col("pos").as("__gf_pos"))
      data = data.join(dels, Seq("__gf_file", "__gf_pos"), "left_anti")
    }

    if (eqFiles.nonEmpty) {
      // v2 EQUALITY deletes. Sequence numbers reach the rows via a
      // broadcast join on the (tiny, driver-known) file -> seq list; the
      // delete join itself is distributed and AQE-broadcast-promoted when
      // the delete set is small.
      val seqRows = dataFiles.map(f => Row(normalizePath(f.path), f.seq))
      val seqDf = spark.createDataFrame(
        spark.sparkContext.parallelize(seqRows, 1),
        StructType(Seq(StructField("__gf_file", StringType, nullable = false),
          StructField("__gf_dataseq", LongType, nullable = false))))
      data = data.join(broadcast(seqDf), Seq("__gf_file"), "left")
      equalityDeletes(spark, meta, eqFiles).foreach { case (dels, cond) =>
        data = data.join(dels, cond, "left_anti")
      }
    }
    stripFieldIds(data.select(outCols: _*))
  }

  /** Fails with `UnsupportedOperationException` on a content file graft
    * cannot read: anything but parquet, and v3 deletion vectors (content-1
    * PUFFIN entries, which reference a data file and a blob byte range
    * instead of holding parquet rows). */
  private def requireReadable(files: Seq[ContentFile]): Unit = {
    val badFmt = files.filter(f => f.format != "PARQUET" &&
      !(f.content == 1 && f.format == "PUFFIN"))
    if (badFmt.nonEmpty)
      throw new UnsupportedOperationException(
        s"non-parquet Iceberg content files are not supported: " +
          badFmt.map(f => s"${f.format}:${f.path}").take(3).mkString(", "))
  }

  /** The equality-delete side of a merge-on-read over `eqFiles`: per
    * distinct (equality ids, spec) group, the group's delete rows and the
    * condition under which one of them deletes a data row. A data row is
    * deleted when it equals a delete row on the columns the delete file's
    * equality field ids name (null matches null, `<=>`, per spec) AND its
    * data sequence number `__gf_dataseq` (a column the caller puts on the
    * data side) is strictly below the delete row's `__gf_delseq` — rows
    * re-inserted after the delete survive. Each delete row also carries
    * `__gf_delfile`, its file's scheme-normalized path.
    *
    * Scope: a delete file written into a PARTITION applies only to that
    * partition's rows (spec); only an unpartitioned-spec delete file
    * (empty tuple) is global. There is ONE relation per distinct
    * equality-id set (usually one), not one per (ids, partition-tuple)
    * group: with per-tuple joins the plan grows linearly in distinct
    * delete partitions. Instead every delete row carries its scope as
    * COLUMNS (the stored partition tuple values, null + scoped=false for
    * a global file), the files union into one relation, and the scope
    * check moves into the single condition — plan size constant in the
    * number of delete files/partitions. The `<=>` key columns still
    * extract as hash-join keys; seq + scope ride as residual filter. */
  private def equalityDeletes(spark: SparkSession, meta: TableMetadata,
                              eqFiles: Seq[ContentFile]): Seq[(DataFrame, Column)] =
    eqFiles.groupBy(f => (f.equalityIds, f.specId))
      .toSeq.sortBy(_._2.head.path) // deterministic plan order
      .map { case ((ids, delSpecId), group) =>
        require(ids.nonEmpty, s"equality-delete file without equality_ids: " +
          group.head.path)
        val names = ids.map(id => meta.fieldById.getOrElse(id,
          throw new IllegalArgumentException(
            s"equality-delete field id $id not in table schema " +
              s"(known: ${meta.fieldById.keys.toSeq.sorted.mkString(", ")})")))
        // Scope machinery only when some file in the group is actually
        // partition-scoped: deriving the row-side stored tuple for an
        // unsupported (transform, type) must not fail a group of purely
        // GLOBAL deletes that never consults it.
        val anyScoped = group.exists(_.partitionValues.nonEmpty)
        // non-void fields; void contributes no constraint (all-null
        // tuple, whole table in scope). A scoped delete file applies to
        // the partition of ITS OWN spec (partition evolution: a delete
        // committed under an older spec keeps that spec's scope).
        val scopeFields =
          if (!anyScoped) Seq.empty
          else meta.specsById.getOrElse(delSpecId, meta.partitionFields)
            .filter(_._2 != "void")
        // row-side STORED tuple per scope field — same mapping the
        // writer records (epoch ordinals for date/timestamp identity);
        // unsupported combinations fail loudly, never silently mis-scope
        val rowStored = scopeFields.map { case (fieldName, transform, srcId) =>
          val src = meta.fieldById.getOrElse(srcId,
            throw new IllegalArgumentException(
              s"partition source field id $srcId not in table schema"))
          val dt = meta.schema(src).dataType
          try IcebergTransforms.storedColumn(transform, src, dt)
          catch {
            case e: IllegalArgumentException =>
              throw new UnsupportedOperationException(
                s"partition-scoped equality delete on field " +
                  s"'$fieldName': ${e.getMessage}")
          }
        }
        val dels = group.map { f =>
          val scoped = f.partitionValues.nonEmpty
          val scopeVals = scopeFields.zipWithIndex.map { case ((fieldName, _, _), i) =>
            val v = if (!scoped) null
              else f.partitionValues.getOrElse(fieldName,
                throw new IllegalArgumentException(
                  s"delete-file partition tuple missing field '$fieldName'"))
            lit(v).as(s"__gf_part_$i")
          }
          // Equality columns resolve by field id too on stamped tables:
          // a delete file written BEFORE a rename carries the old column
          // name, and the spec keys the delete by equality_ids, not name.
          val rd =
            if (isLegacyFile(meta, f)) {
              // pre-upgrade delete file: id-less bytes whose columns
              // carry the upgrade-time names — resolve through the name
              // mapping and alias to the CURRENT names
              val mapping = nameMappingOf(meta).getOrElse(
                throw new IllegalStateException(
                  s"$NameMappingSeqProp set but $NameMappingProp missing"))
              val legSchema = StructType(ids.zip(names).map { case (id, n) =>
                StructField(mapping.getOrElse(id,
                  throw new IllegalArgumentException(
                    s"equality field id $id not in the name mapping: ${f.path}")),
                  meta.schema(n).dataType, nullable = true)
              })
              spark.read.schema(legSchema).parquet(f.path)
                .select(ids.zip(names).map { case (id, n) =>
                  col(mapping(id)).as(n) } :+
                  col("_metadata.file_path").as("__gf_delfileraw"): _*)
            } else if (resolveByFieldIds(meta)) {
              val eqSchema = StructType(ids.zip(names).map { case (id, n) =>
                StructField(n, meta.schema(n).dataType, nullable = true,
                  metadata = new MetadataBuilder()
                    .putLong("parquet.field.id", id.toLong).build())
              })
              spark.read.schema(eqSchema).parquet(f.path)
                .withColumn("__gf_delfileraw", col("_metadata.file_path"))
            } else spark.read.parquet(f.path)
              .withColumn("__gf_delfileraw", col("_metadata.file_path"))
          rd.select(names.map(n => col(n).as(s"__gf_eq_$n")) ++
              (lit(f.seq).as("__gf_delseq") +:
                normalizedPath(col("__gf_delfileraw")).as("__gf_delfile") +:
                lit(scoped).as("__gf_scoped") +: scopeVals): _*)
        }.reduce(_ unionByName _)
        val eqCond = names.map(n => col(n) <=> col(s"__gf_eq_$n"))
          .reduce(_ && _) && col("__gf_dataseq") < col("__gf_delseq")
        val cond = rowStored.zipWithIndex
          .map { case (stored, i) =>
            // a GLOBAL delete row (scoped=false) matches every partition
            !col("__gf_scoped") || (stored <=> col(s"__gf_part_$i"))
          }
          .foldLeft(eqCond)(_ && _)
        (dels, cond)
      }

  /** Resolve at most one of snapshotId / asOfTimestampMs / ref to a
    * concrete snapshot id (None = current) — THE single copy of the
    * pin-resolution policy, shared by the data scan ([[readImpl]]) and
    * the live metadata views. As-of resolves against `snapshot-log`
    * (the MAIN lineage) when the metadata records it — a side branch's
    * commit timestamp must not win time travel — and falls back to
    * max-timestamp over all snapshots for metadata without a log. */
  private[graft] def resolveSnapshotId(meta: TableMetadata,
                                       snapshotId: Option[Long],
                                       asOfTimestampMs: Option[Long],
                                       ref: Option[String]): Option[Long] = {
    require(Seq(snapshotId, asOfTimestampMs, ref).count(_.isDefined) <= 1,
      "specify at most one of snapshotId / asOfTimestampMs / ref")
    if (snapshotId.isDefined) snapshotId
    else if (asOfTimestampMs.isEmpty && ref.isEmpty) None
    else ref match {
      case Some(r) => Some(meta.refs.getOrElse(r,
        throw new IllegalArgumentException(
          s"ref '$r' not found; available refs: " +
            meta.refs.keys.toSeq.sorted.mkString(", "))))
      case None =>
        val ts = asOfTimestampMs.get
        if (meta.snapshotLog.nonEmpty) {
          val eligible = meta.snapshotLog.filter(_._1 <= ts)
          require(eligible.nonEmpty,
            s"no snapshot committed at or before $ts; earliest is " +
              meta.snapshotLog.map(_._1).min)
          Some(eligible.maxBy(_._1)._2)
        } else {
          val eligible = meta.snapshots.filter(_.timestampMs <= ts)
          require(eligible.nonEmpty,
            s"no snapshot committed at or before $ts; earliest is " +
              meta.snapshots.map(_.timestampMs).minOption.getOrElse(-1L))
          Some(eligible.maxBy(_.timestampMs).snapshotId)
        }
    }
  }

  private[graft] def resolveSnapshotId(tablePath: String,
                                       snapshotId: Option[Long],
                                       asOfTimestampMs: Option[Long],
                                       ref: Option[String]): Option[Long] =
    resolveSnapshotId(loadMetadata(tablePath), snapshotId, asOfTimestampMs, ref)

  /** Snapshot ids in commit order (by sequence number, then timestamp) —
    * the table's history surface. */
  def snapshotIds(tablePath: String): Seq[Long] =
    loadMetadata(tablePath).snapshots
      .sortBy(s => (s.sequenceNumber, s.timestampMs)).map(_.snapshotId)

  /** Incremental APPEND scan: rows added strictly AFTER `fromSnapshotId`
    * up to and including `toSnapshotId` (default: current snapshot) —
    * the runtime jar's incremental read, the primitive a downstream
    * pipeline uses to process only new data per run. Matching its
    * contract, every snapshot in the range must be an `append`
    * (overwrite/delete commits make "rows added" ill-defined — fail
    * loudly, never return a best guess); v2 only (v1 has no sequence
    * numbers to bound the range with). Implementation: the `to`
    * snapshot's live data files whose data sequence number falls inside
    * the range — append-only means none of them were deleted since. */
  def readIncremental(spark: SparkSession, tablePath: String,
                      fromSnapshotId: Long,
                      toSnapshotId: Option[Long] = None): DataFrame = {
    val meta = loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "incremental read needs v2 sequence numbers")
    def snapOf(id: Long): SnapshotInfo =
      meta.snapshots.find(_.snapshotId == id).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $id not found; available: " +
            meta.snapshots.map(_.snapshotId).sorted.mkString(", ")))
    val fromSeq = snapOf(fromSnapshotId).sequenceNumber
    val toSnap = toSnapshotId match {
      case Some(id) => snapOf(id)
      case None => meta.currentSnapshotId.map(snapOf).getOrElse(
        throw new IllegalArgumentException(s"table has no snapshot: $tablePath"))
    }
    incrementalImpl(spark, meta, fromSeq, Some(fromSnapshotId), toSnap)
  }

  /** Rows appended with sequence numbers in `(fromSeq, toSeq]` — the
    * streaming source's batch planner: offsets are sequence numbers, so
    * `fromSeq = 0` means "from the beginning of the table". `toSeq`
    * must name an existing snapshot (the offset the source itself
    * reported); a non-append snapshot in the range fails loudly, which
    * is exactly how a mid-stream delete commit surfaces. */
  private[graft] def readIncrementalBySeq(spark: SparkSession,
                                          tablePath: String,
                                          fromSeq: Long,
                                          toSeq: Long,
                                          withRowId: Boolean = false): DataFrame = {
    val meta = loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "incremental read needs v2 sequence numbers")
    require(!withRowId || meta.formatVersion >= 3,
      "rowLineage requires format v3 (row lineage)")
    val toSnap = meta.snapshots.find(_.sequenceNumber == toSeq).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot with sequence number $toSeq (expired?); available: " +
          meta.snapshots.map(_.sequenceNumber).sorted.mkString(", ")))
    incrementalImpl(spark, meta, fromSeq, None, toSnap, withRowId)
  }

  /** Shared incremental-scan body. `fromId` is the exclusive lower bound
    * as a snapshot id when the caller named one (the lineage walk stops
    * exactly there); with `fromId = None` the walk stops at the first
    * ancestor whose sequence number is ≤ `fromSeq` (or the table root for
    * `fromSeq = 0`). */
  private def incrementalImpl(spark: SparkSession, meta: TableMetadata,
                              fromSeq: Long, fromId: Option[Long],
                              toSnap: SnapshotInfo,
                              withRowId: Boolean = false): DataFrame = {
    require(toSnap.sequenceNumber >= fromSeq,
      s"toSnapshot ${toSnap.snapshotId} (seq ${toSnap.sequenceNumber}) " +
        s"precedes fromSeq $fromSeq")
    // The append-only check must cover exactly the snapshots BETWEEN
    // from and to on `to`'s ANCESTOR lineage — a delete on a side branch
    // contributes nothing to toSnap's live files and must not fail the
    // read. Walk parent-snapshot-id links when the metadata records
    // them; fall back to the sequence-number range otherwise (older
    // metadata), which is conservative in the side-branch direction.
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    // parent-snapshot-id is OPTIONAL per spec, so any break in the chain
    // (absent link mid-history, expired parent) degrades to the
    // sequence-range check — conservative: it may reject a side-branch
    // delete a complete lineage would have ignored, but it never
    // silently mis-selects files.
    @annotation.tailrec
    def walk(cur: SnapshotInfo, acc: List[SnapshotInfo])
        : Option[List[SnapshotInfo]] =
      if (fromId.contains(cur.snapshotId)) Some(acc)
      else if (fromId.isEmpty && cur.sequenceNumber <= fromSeq) Some(acc)
      else cur.parentId.flatMap(byId.get) match {
        case Some(p) => walk(p, cur :: acc)
        case None if fromId.isEmpty && cur.parentId.isEmpty && fromSeq == 0 =>
          Some(cur :: acc) // reached the root: complete from-the-beginning lineage
        case None => None // chain break (or from not an ancestor)
      }
    val inRange: Seq[SnapshotInfo] = walk(toSnap, Nil).getOrElse(
      meta.snapshots.filter(s =>
        s.sequenceNumber > fromSeq && s.sequenceNumber <= toSnap.sequenceNumber))
    // a manifest REWRITE (IcebergWrite.rewriteManifests) publishes a
    // `replace` snapshot that adds NO data — its entries keep their
    // original sequence numbers, so the seq-range file selection below
    // is untouched by it; skipping it keeps live streams alive across
    // metadata maintenance. A data-rewriting replace (compact) still
    // fails loudly.
    val nonAppend = inRange.filterNot(s => s.operation == "append" ||
      s.summary.get("rewritten-manifests").contains("true"))
    if (nonAppend.nonEmpty)
      throw new UnsupportedOperationException(
        "incremental read supports append-only ranges; snapshot(s) " +
          nonAppend.map(s => s"${s.snapshotId} (${s.operation})").mkString(", ") +
          " are not appends")
    val files = liveFiles(spark, toSnap).filter(f =>
      f.content == 0 && f.seq > fromSeq && f.seq <= toSnap.sequenceNumber)
    val outSchema =
      if (withRowId) StructType(meta.schema.fields.toSeq ++ lineageFields)
      else meta.schema
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    else if (withRowId)
      // appended rows' lineage for incremental consumers: derivation is
      // first_row_id + position (append files never carry materialized
      // lineage) but the shared lineageRead keeps one code path
      renameLineage(lineageRead(spark, meta, files))
    else
      stripFieldIds(
        dataBranches(spark, meta, files, withPos = false)
          .reduce(_ unionByName _))
  }

  /** The changelog relation's extra columns, appended after the table
    * schema: the runtime jar's `create_changelog_view` column set. */
  private[graft] val changelogFields: Seq[StructField] = Seq(
    StructField("_change_type", StringType, nullable = false),
    StructField("_change_ordinal", IntegerType, nullable = false),
    StructField("_commit_snapshot_id", LongType, nullable = false))

  /** Row-level CHANGE capture over a snapshot range — the runtime jar's
    * changelog view (`create_changelog_view` /
    * `IncrementalChangelogScan`): every row inserted or deleted by each
    * snapshot in `(fromSnapshotId, toSnapshotId]` on the `to` snapshot's
    * ancestor lineage, with `_change_type` ('insert' / 'delete'),
    * `_change_ordinal` (0-based commit position within the range) and
    * `_commit_snapshot_id` appended. An UPDATE surfaces as its
    * delete+insert pair at the same ordinal, exactly how the
    * merge-on-read verbs committed it. `fromSnapshotId = None` starts at
    * the table's first snapshot (its inserts included). Data-preserving
    * `replace` snapshots (compaction, manifest and delete-file rewrites)
    * change no rows BY CONTRACT and emit nothing — a changelog consumer
    * survives table maintenance. v2 only (sequence numbers order the
    * delete rules).
    *
    * One plan and one data scan serve the whole range
    * ([[planChangelog]], [[scanChangelog]]):
    *  - every distinct manifest of the range's snapshots and of its base
    *    (the `from` snapshot) parses once, and each content file gets
    *    its live span over those states;
    *  - the scan touches only the CHANGED data files — inserted,
    *    removed, named by a new position delete or deletion vector, or
    *    within reach of a new equality delete (older sequence number,
    *    partition scope) — never the full table; one Spark job collects
    *    the files that new parquet position deletes name;
    *  - each touched file is read once, keeping each row's physical
    *    identity (file, pos), and so is every delete file that can apply
    *    to those rows. A row is live from its file's first state until
    *    its file's removal or the first state holding a delete file that
    *    applies to it (the spec's `<=` rule for position deletes, `<`
    *    plus partition scope for equality deletes); it is inserted by the
    *    snapshot that starts that span and deleted by the one that ends
    *    it, unless that snapshot is a `replace`. Rows never compare by
    *    value, so the result is exact under any mix of deletes and
    *    rewrites.
    *
    * @param withRowId v3 only: every change row also carries `_row_id`
    *                  + `_last_updated_sequence_number` — an UPDATE's
    *                  delete+insert pair shares ONE `_row_id` (the
    *                  rewrite materializes it), so a CDC consumer can
    *                  track rows by PERMANENT identity instead of by key
    *                  columns; an upsert's replace shows as an identity
    *                  change (delete old id, insert new), exactly the
    *                  delete+insert it is. */
  def readChangelog(spark: SparkSession, tablePath: String,
                    fromSnapshotId: Option[Long] = None,
                    toSnapshotId: Option[Long] = None,
                    withRowId: Boolean = false): DataFrame = {
    val meta = loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "changelog read needs v2 sequence numbers")
    require(!withRowId || meta.formatVersion >= 3,
      "withRowId requires format v3 (row lineage)")
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    def snapOf(id: Long): SnapshotInfo = byId.getOrElse(id,
      throw new IllegalArgumentException(
        s"snapshot $id not found; available: " +
          meta.snapshots.map(_.snapshotId).sorted.mkString(", ")))
    val toSnapOpt = toSnapshotId.map(snapOf)
      .orElse(meta.currentSnapshotId.map(snapOf))
    fromSnapshotId.foreach(snapOf) // loud unknown-id check up front
    toSnapOpt match {
      case Some(toSnap) if !fromSnapshotId.contains(toSnap.snapshotId) =>
        changelogImpl(spark, meta, fromSnapshotId, None, toSnap, withRowId)
      case _ => emptyChangelog(spark, meta, withRowId) // nothing committed, or an empty range
    }
  }

  /** Changes with sequence numbers in `(fromSeq, toSeq]` — the streaming
    * CDC source's batch planner (offsets are sequence numbers, exactly
    * like [[readIncrementalBySeq]]); `toSeq` must name an existing
    * snapshot (the offset the source itself reported). */
  private[graft] def readChangelogBySeq(spark: SparkSession,
                                        tablePath: String,
                                        fromSeq: Long,
                                        toSeq: Long,
                                        withRowId: Boolean = false): DataFrame = {
    val meta = loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "changelog read needs v2 sequence numbers")
    require(!withRowId || meta.formatVersion >= 3,
      "withRowId requires format v3 (row lineage)")
    val toSnap = meta.snapshots.find(_.sequenceNumber == toSeq).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot with sequence number $toSeq (expired?); available: " +
          meta.snapshots.map(_.sequenceNumber).sorted.mkString(", ")))
    changelogImpl(spark, meta, None, Some(fromSeq), toSnap, withRowId)
  }

  /** An empty frame of the changelog schema. */
  private def emptyChangelog(spark: SparkSession, meta: TableMetadata,
                             withRowId: Boolean): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(meta.schema.fields.toSeq ++
        (if (withRowId) lineageFields else Nil) ++ changelogFields))

  /** Shared changelog body. The lineage cut is `fromId` (exclusive
    * snapshot-id bound) or `fromSeq` (exclusive sequence bound — the
    * walk stops at the first ancestor at or below it); with neither, the
    * range is the whole history. */
  private def changelogImpl(spark: SparkSession, meta: TableMetadata,
                            fromId: Option[Long], fromSeq: Option[Long],
                            toSnap: SnapshotInfo,
                            withRowId: Boolean): DataFrame = {
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    // Ancestor lineage (from, to], oldest first. Unlike the incremental
    // scan there is no sequence-range fallback: attributing deletes to
    // the right snapshot REQUIRES the parent chain, so a broken chain
    // (expired mid-range snapshot) fails loudly instead of guessing.
    @annotation.tailrec
    def walk(cur: SnapshotInfo, acc: List[SnapshotInfo]): List[SnapshotInfo] =
      if (fromId.contains(cur.snapshotId)) acc
      else if (fromId.isEmpty && fromSeq.exists(cur.sequenceNumber <= _)) acc
      else cur.parentId match {
        case Some(p) => walk(byId.getOrElse(p,
          throw new IllegalStateException(
            s"parent snapshot $p of ${cur.snapshotId} is expired — " +
              "changelog over this range is unavailable")), cur :: acc)
        case None =>
          require(fromId.isEmpty,
            s"snapshot ${fromId.get} is not an ancestor of " +
              s"${toSnap.snapshotId}")
          // reaching a parentless snapshot is legal only when it IS the
          // table's oldest — a mid-history chain break must not silently
          // truncate the range (an expired bottom below a seq cut lands
          // here too, and the oldest-snapshot check still holds)
          require(cur.sequenceNumber ==
              meta.snapshots.map(_.sequenceNumber).min,
            s"snapshot ${cur.snapshotId} records no parent but is not the " +
              "table's first snapshot — lineage incomplete, changelog " +
              "unavailable")
          cur :: acc
      }
    val lineage = walk(toSnap, Nil).toIndexedSeq
    val plan =
      if (lineage.isEmpty) None
      else Some(planChangelog(spark,
        lineage.head.parentId.flatMap(byId.get), lineage))
    plan.filter(_.data.nonEmpty) match {
      case Some(p) => scanChangelog(spark, meta, p, withRowId)
      case None => emptyChangelog(spark, meta, withRowId)
    }
  }

  /** A changed data file's live span over a changelog range's states —
    * state 0 is the range's base (the first snapshot's parent; empty at
    * the table's root), state i its i-th snapshot: live in `[first,
    * end)`, `end` one past the last state when it outlives the range.
    * `key` is the scheme-normalized path its rows are keyed by. */
  private final case class ChangeSpan(key: String, first: Int, end: Int,
                                      seq: Long, firstRowId: Option[Long])

  /** One changelog range as planned on the driver: the changed data files
    * with their spans, every delete file that can apply to their rows
    * with the first state it is live in, and, for each state whose
    * snapshot emits changes (not a `replace`), its ordinal and snapshot
    * id. */
  private final case class ChangelogPlan(data: Seq[(ContentFile, ChangeSpan)],
                                         deletes: Seq[(ContentFile, Int)],
                                         emits: Map[Int, (Int, Long)])

  /** Plan the changelog of `lineage` (oldest first) over its `base`.
    * Each snapshot's manifest list is read once and each distinct
    * manifest parsed once; the only Spark jobs are the distributed
    * manifest parse (from [[ParallelManifestThreshold]] manifests) and
    * at most one job collecting the data files that new parquet position
    * deletes name (deletion vectors name theirs in the manifest). */
  private def planChangelog(spark: SparkSession, base: Option[SnapshotInfo],
                            lineage: IndexedSeq[SnapshotInfo]): ChangelogPlan = {
    val refs = (base.toSeq ++ lineage).map(s => s.snapshotId -> manifestRefs(s)).toMap
    val parsed = parseManifests(spark, refs.values.flatten.toSeq.distinct)
    // a content entry's identity: its normalized path, plus the blob
    // offset for a deletion vector (one puffin file holds several)
    def key(f: ContentFile): (String, Long) =
      (normalizePath(f.path), f.contentOffset.getOrElse(-1L))
    def liveAt(s: SnapshotInfo): Map[(String, Long), ContentFile] =
      refs(s.snapshotId).flatMap(parsed).map(f => key(f) -> f).toMap
    val emitting = lineage.map(s => s.operation != "replace" &&
      !s.summary.get("rewritten-manifests").contains("true"))
    val emits = (1 to lineage.size).filter(i => emitting(i - 1)).zipWithIndex
      .map { case (i, ord) => i -> ((ord, lineage(i - 1).snapshotId)) }.toMap
    val files = scala.collection.mutable.LinkedHashMap.empty[(String, Long), ContentFile]
    val first = scala.collection.mutable.Map.empty[(String, Long), Int]
    val end = scala.collection.mutable.Map.empty[(String, Long), Int]
    val touched = scala.collection.mutable.Set.empty[(String, Long)]
    val newPosParquet = Seq.newBuilder[ContentFile]
    // the data files a new parquet position delete can name: those live
    // at its snapshot's parent (files it adds are inserts, touched anyway)
    val posReach = scala.collection.mutable.Set.empty[(String, Long)]
    var prev = base.map(liveAt).getOrElse(Map.empty)
    prev.foreach { case (k, f) => files(k) = f; first(k) = 0 }
    lineage.indices.foreach { j =>
      val cur = liveAt(lineage(j))
      val added = cur.filter { case (k, _) => !prev.contains(k) }
      val removed = prev.filter { case (k, _) => !cur.contains(k) }
      added.foreach { case (k, f) =>
        // a span has one start: a file that leaves and returns would
        // need two, which no graft verb produces
        if (first.contains(k)) throw new IllegalStateException(
          s"content file ${f.path} leaves the table and returns at snapshot " +
            s"${lineage(j).snapshotId} — changelog over this range is unavailable")
        files(k) = f; first(k) = j + 1
      }
      removed.keys.foreach(end(_) = j + 1)
      if (emitting(j)) {
        val (addedData, addedDeletes) = added.values.toSeq.partition(_.content == 0)
        touched ++= (addedData ++ removed.values.filter(_.content == 0)).map(key)
        val (dvs, posParquet) = addedDeletes.filter(_.content == 1)
          .partition(_.format == "PUFFIN")
        touched ++= dvs.flatMap(_.referencedDataFile)
          .map(p => (normalizePath(p), -1L)).filter(prev.contains)
        if (posParquet.nonEmpty) {
          newPosParquet ++= posParquet
          posReach ++= prev.collect { case (k, f) if f.content == 0 => k }
        }
        val newEq = addedDeletes.filter(_.content == 2)
        if (newEq.nonEmpty) touched ++= prev.collect {
          case (k, f) if f.content == 0 && eqReaches(newEq, f) => k
        }
      }
      prev = cur
    }
    // the targets job only runs when it can add a file: when every file
    // within reach is already touched (an unpartitioned upsert touches
    // them all), it cannot
    if (!posReach.subsetOf(touched))
      touched ++= positionDeleteTargets(spark, newPosParquet.result())
        .map((_, -1L)).filter(posReach)
    val afterLast = lineage.size + 1
    val data = touched.toSeq.map(files).sortBy(_.path).map { f =>
      val k = key(f)
      f -> ChangeSpan(k._1, first(k), end.getOrElse(k, afterLast), f.seq, f.firstRowId)
    }
    // the delete files whose rows can reach a touched file: a deletion
    // vector names its one target; a parquet position delete applies to
    // data at or below its sequence number, an equality delete to data
    // strictly below it
    val targets = touched.map(_._1)
    val minSeq = data.map(_._1.seq).minOption.getOrElse(Long.MaxValue)
    val deletes = files.toSeq.collect {
      case (k, f) if f.content == 1 && (
          if (f.format == "PUFFIN")
            f.referencedDataFile.exists(p => targets(normalizePath(p)))
          else f.seq >= minSeq) => f -> first(k)
      case (k, f) if f.content == 2 && f.seq > minSeq => f -> first(k)
    }.sortBy { case (f, _) => (f.path, f.contentOffset.getOrElse(-1L)) }
    ChangelogPlan(data, deletes, emits)
  }

  /** Whether one of the equality deletes `eq` can reach data file `f`: an
    * older data sequence number and a scope that covers it — a global
    * delete file, the same stored partition tuple, or (conservatively) a
    * different spec or a tuple missing the field. String-normalized
    * compare like the scan's pruning (Int/Long boxing must not defeat
    * equal values). */
  private def eqReaches(eq: Seq[ContentFile], f: ContentFile): Boolean =
    eq.exists(d => f.seq < d.seq && (d.partitionValues.isEmpty ||
      f.specId != d.specId || d.partitionValues.forall { case (k, v) =>
        f.partitionValues.get(k)
          .forall(pv => String.valueOf(pv) == String.valueOf(v))
      }))

  /** Scheme-normalized paths of the data files that the parquet position
    * deletes `files` name: one Spark job; each task deduplicates its own
    * paths, so only distinct paths per task reach the driver, never
    * rows. */
  private def positionDeleteTargets(spark: SparkSession,
                                    files: Seq[ContentFile]): Set[String] =
    PositionDeletes.read(spark, files).select("__gf_file")
      .as[String](Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING)
      .collect().toSet

  /** The one data scan of a planned changelog range. The range's small
    * tables — file key -> span, delete file -> first live state and
    * sequence number, state -> (ordinal, snapshot id) — ride in UDF
    * closures, so their lookups are map-side and cost no Spark job, and
    * generated code never inlines a snapshot id or sequence number (it
    * stays the same from one range to the next). */
  private def scanChangelog(spark: SparkSession, meta: TableMetadata,
                            plan: ChangelogPlan, withRowId: Boolean): DataFrame = {
    requireReadable(plan.data.map(_._1) ++ plan.deletes.map(_._1))
    def struct2(a: (String, DataType), b: (String, DataType)*): StructType =
      StructType((a +: b).map { case (n, t) => StructField(n, t) })
    val spans = plan.data.flatMap { case (f, s) =>
      val row = Row(s.key, s.first, s.end, s.seq, s.firstRowId.map(Long.box).orNull)
      pathJoinKeys(f.path).map(_ -> row)
    }.toMap
    val deleteFirst = plan.deletes
      .map { case (f, i) => normalizePath(f.path) -> Row(i, f.seq) }.toMap
    val emits = plan.emits.map { case (i, (ord, id)) => Int.box(i) -> Row(ord, id) }
    // Java UDFs with explicit result types: no Scala reflection per call
    def lookup[K](m: Map[K, Row], t: StructType)(missing: K => Row) =
      udf(new org.apache.spark.sql.api.java.UDF1[K, Row] {
        override def call(k: K): Row = m.getOrElse(k, missing(k))
      }, t)
    val spanType = struct2("key" -> StringType, "first" -> IntegerType,
      "end" -> IntegerType, "seq" -> LongType, "firstRowId" -> LongType)
    // a row's file is always planned; a delete row's target may not be
    val rowSpan = lookup(spans, spanType)(k => throw new IllegalStateException(
      s"changelog scan read a file outside its plan: $k"))
    val spanOf = lookup(spans, spanType)(_ => null)
    val deleteOf = lookup(deleteFirst,
      struct2("first" -> IntegerType, "seq" -> LongType))(_ => null)
    val emitAt = lookup(emits,
      struct2("ordinal" -> IntegerType, "snapshot" -> LongType))(_ => null)

    val read = dataBranches(spark, meta, plan.data.map(_._1), withPos = true,
        withRowId = withRowId)
      .reduce(_ unionByName _)
    val span = rowSpan(normalizedPath(col("__gf_fileraw")))
    var data = read.select(read.columns.toSeq.map(col) ++ Seq(
      span("key").as("__gf_file"), span("seq").as("__gf_dataseq"),
      span("first").as("__gf_first"), span("end").as("__gf_end"),
      span("firstRowId").as("__gf_firstrow"),
      lit(null).cast(IntegerType).as("__gf_kill")): _*)
    // each equality delete that matches a row lowers its kill state to
    // the first state its delete file is live in
    val (posFiles, eqFiles) = plan.deletes.map(_._1).partition(_.content == 1)
    equalityDeletes(spark, meta, eqFiles).foreach { case (dels, cond) =>
      val del = deleteOf(col("__gf_delfile"))
      val d = dels.select(dels.columns.toSeq.filter(_ != "__gf_delseq").map(col) ++
        Seq(del("seq").as("__gf_delseq"), del("first").as("__gf_eqkill")): _*)
      data = data.join(d, cond, "left").select(data.columns.toSeq.map(c =>
        if (c == "__gf_kill") least(col(c), col("__gf_eqkill")).as(c) else col(c)): _*)
    }
    val keys = Seq("__gf_file", "__gf_pos", "__gf_first", "__gf_end", "__gf_kill")
    val rowCols = meta.schema.fieldNames.toSeq.map(col) ++
      (if (withRowId) Seq(
        coalesce(col("__gf_mrowid"), col("__gf_firstrow") + col("__gf_pos"))
          .as(RowLineageCol),
        coalesce(col("__gf_mlseq"), col("__gf_dataseq")).as(LastUpdatedCol))
      else Nil)
    val rows = data.select(keys.map(col) ++ rowCols: _*)
    val outNames = rows.columns.toSeq.drop(keys.size)
    // a row meets its position deletes, and its copies from several
    // matching equality deletes, in one (file, pos) group that keeps the
    // row once with its lowest kill state; a group of delete rows alone
    // (a position no scanned row holds) has no span and drops out
    val killed =
      if (posFiles.isEmpty && eqFiles.isEmpty) rows
      else {
        val posKills =
          if (posFiles.isEmpty) Nil
          else {
            val target = spanOf(col("__gf_file"))
            val del = deleteOf(col("__gf_delfile"))
            Seq(PositionDeletes.read(spark, posFiles)
              .where(target.isNotNull && del("seq") >= target("seq"))
              .select(Seq(target("key").as("__gf_file"), col("pos").as("__gf_pos"),
                lit(null).cast(IntegerType).as("__gf_first"),
                lit(null).cast(IntegerType).as("__gf_end"),
                del("first").as("__gf_kill")) ++
                outNames.map(n => lit(null).cast(rows.schema(n).dataType).as(n)): _*))
          }
        (rows +: posKills).reduce(_ unionByName _)
          .groupBy("__gf_file", "__gf_pos")
          .agg(first("__gf_first", ignoreNulls = true).as("__gf_first"),
            (first("__gf_end", ignoreNulls = true).as("__gf_end") +:
              min("__gf_kill").as("__gf_kill") +:
              outNames.map(n => first(n, ignoreNulls = true).as(n))): _*)
          .where(col("__gf_first").isNotNull)
      }
    // the row is live in [first, end): inserted where the span starts,
    // deleted where it ends, by a snapshot that emits changes
    val end = least(col("__gf_end"), col("__gf_kill"))
    def change(tpe: String, at: Column): Column = {
      val e = emitAt(at)
      when(end > col("__gf_first") && e.isNotNull,
        struct(lit(tpe).as("t"), e("ordinal").as("o"), e("snapshot").as("s")))
    }
    def notNull(c: Column): Column = org.apache.spark.sql.GraftShim.column(
      org.apache.spark.sql.catalyst.expressions.KnownNotNull(
        org.apache.spark.sql.GraftShim.expression(c)))
    stripFieldIds(killed
      .select(outNames.map(col) :+ explode(array(
        change("insert", col("__gf_first")), change("delete", end))).as("__gf_ev"): _*)
      .where(col("__gf_ev").isNotNull)
      .select(outNames.map(col) ++ Seq(
        notNull(col("__gf_ev.t")).as("_change_type"),
        notNull(col("__gf_ev.o")).as("_change_ordinal"),
        notNull(col("__gf_ev.s")).as("_commit_snapshot_id")): _*))
  }

  /** The snapshot `snapshotId` names, else the current one. */
  private def snapshotOf(meta: TableMetadata, snapshotId: Option[Long],
                         tablePath: String): SnapshotInfo = snapshotId match {
    case Some(id) => meta.snapshots.find(_.snapshotId == id).getOrElse(
      throw new IllegalArgumentException(s"snapshot $id not found"))
    case None => meta.currentSnapshotId.flatMap(id =>
        meta.snapshots.find(_.snapshotId == id))
      .getOrElse(throw new IllegalArgumentException(
        s"table has no current snapshot: $tablePath"))
  }

  /** Basename of a path or URI (pure string op — no filesystem touch). */
  private def baseName(p: String): String =
    new org.apache.hadoop.fs.Path(p).getName

  /** Canonical `k=v/k=v` partition-tuple string ('' when unpartitioned). */
  private def partitionString(f: ContentFile): String =
    f.partitionValues.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${String.valueOf(v)}" }.mkString("/")

  // Fixed relation schemas (shared with the live SQL metadata views,
  // which need a schema WITHOUT materializing the relation).
  private[graft] val filesSchema: StructType =
    StructType(Seq(
        StructField("file_name", StringType, nullable = false),
        StructField("content", IntegerType, nullable = false),
        StructField("file_format", StringType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("sequence_number", LongType, nullable = false),
        StructField("partition", StringType, nullable = false)))

  private[graft] val entriesSchema: StructType =
    StructType(Seq(
        StructField("status", IntegerType, nullable = false),
        StructField("snapshot_id", LongType, nullable = true),
        StructField("sequence_number", LongType, nullable = false),
        StructField("file_name", StringType, nullable = false),
        StructField("content", IntegerType, nullable = false),
        StructField("record_count", LongType, nullable = false),
        StructField("partition", StringType, nullable = false)))

  private[graft] val manifestsSchema: StructType =
    StructType(Seq(
        StructField("manifest_name", StringType, nullable = false),
        StructField("content", IntegerType, nullable = false),
        StructField("sequence_number", LongType, nullable = false),
        StructField("added_snapshot_id", LongType, nullable = false),
        StructField("added_files_count", LongType, nullable = false),
        StructField("added_rows_count", LongType, nullable = false)))

  private[graft] val partitionsSchema: StructType =
    StructType(Seq(
        StructField("partition", StringType, nullable = false),
        StructField("file_count", LongType, nullable = false),
        StructField("record_count", LongType, nullable = false)))

  private[graft] val refsSchema: StructType =
    StructType(Seq(
        StructField("ref_name", StringType, nullable = false),
        StructField("snapshot_id", LongType, nullable = false)))

  private[graft] val historySchema: StructType =
    StructType(Seq(
        StructField("snapshot_id", LongType, nullable = false),
        StructField("sequence_number", LongType, nullable = false),
        StructField("committed_at_ms", LongType, nullable = false),
        StructField("operation", StringType, nullable = false)))

  private[graft] val snapshotsSchema: StructType =
    StructType(Seq(
        StructField("committed_at_ms", LongType, nullable = false),
        StructField("snapshot_id", LongType, nullable = false),
        StructField("parent_id", LongType, nullable = true),
        StructField("operation", StringType, nullable = false),
        StructField("manifest_list", StringType, nullable = true),
        StructField("summary",
          MapType(StringType, StringType, valueContainsNull = false),
          nullable = false)))

  private[graft] val allManifestsSchema: StructType =
    StructType(manifestsSchema.fields.toSeq :+
      StructField("reference_snapshot_id", LongType, nullable = false))

  private[graft] val metadataLogSchema: StructType =
    StructType(Seq(
        StructField("committed_at_ms", LongType, nullable = false),
        StructField("metadata_file", StringType, nullable = false)))

  // scan-backed (the relation READS the delete parquet files), so every
  // field is declared nullable — the materialized plan's nullability must
  // never be narrower than the placeholder leaf's
  private[graft] val positionDeletesSchema: StructType =
    StructType(Seq(
        StructField("file_name", StringType, nullable = true),
        StructField("pos", LongType, nullable = true),
        StructField("delete_file_name", StringType, nullable = true),
        StructField("sequence_number", LongType, nullable = true)))

  private[graft] val partitionStatsSchema: StructType =
    StructType(Seq(
        StructField("partition", StringType, nullable = true),
        StructField("spec_id", IntegerType, nullable = true),
        StructField("data_record_count", LongType, nullable = true),
        StructField("data_file_count", IntegerType, nullable = true),
        StructField("total_data_file_size_in_bytes", LongType, nullable = true),
        StructField("position_delete_record_count", LongType, nullable = true),
        StructField("position_delete_file_count", IntegerType, nullable = true),
        StructField("equality_delete_record_count", LongType, nullable = true),
        StructField("equality_delete_file_count", IntegerType, nullable = true)))

  /** The `.partition_stats` metadata table: the REGISTERED partition
    * statistics file of the current snapshot (spec "Partition
    * statistics" — written by [[IcebergWrite.computePartitionStats]]),
    * decoded to the relation grain: one row per (partition tuple, spec),
    * canonical `k=v/k=v` string form like the other relations. Unlike
    * `.partitions` (which walks the manifests per query), this READS the
    * stats parquet — O(partitions), no manifest walk: the point of
    * materialized partition stats at 100k-file scale. Loud when no stats
    * file is registered for the snapshot (stale stats must never be
    * silently served). */
  def partitionStats(spark: SparkSession, tablePath: String): DataFrame =
    partitionStatsOf(spark, loadMetadata(tablePath), tablePath, None)

  private[sources] def partitionStatsOf(spark: SparkSession,
                                        meta: TableMetadata,
                                        tablePath: String,
                                        snapshotId: Option[Long]): DataFrame = {
    val snap = snapshotOf(meta, snapshotId, tablePath)
    val path = meta.partitionStatistics
      .collectFirst { case (sid, p) if sid == snap.snapshotId => p }
      .getOrElse(throw new IllegalStateException(
        s"no partition-statistics file registered for snapshot " +
          s"${snap.snapshotId} of $tablePath — run " +
          "IcebergWrite.computePartitionStats (CALL " +
          "system.compute_partition_stats) after the latest commit"))
    val raw = spark.read.parquet(path)
    val hasPartition = raw.schema.fieldNames.contains("partition")
    // canonical k=v string per the row's OWN spec: the unified struct
    // carries every spec's fields; a row's spec tells which are real
    // (null-valued fields of the row's spec print as k=null, matching
    // the manifest-walk relations' String.valueOf form)
    val partStr: Column =
      if (!hasPartition) lit("")
      else {
        val specs = meta.specsById.toSeq.sortBy(_._1)
        specs.foldLeft(lit(null).cast(StringType)) { case (acc, (sid, fields)) =>
          val s = concat_ws("/", fields.map(_._1).sorted.map(n =>
            concat(lit(s"$n="), coalesce(
              col(s"partition.$n").cast(StringType), lit("null")))): _*)
          when(col("spec_id") === sid, s).otherwise(acc)
        }
      }
    raw.select(
        partStr.as("partition"),
        col("spec_id"),
        col("data_record_count"),
        col("data_file_count"),
        col("total_data_file_size_in_bytes"),
        col("position_delete_record_count"),
        col("position_delete_file_count"),
        col("equality_delete_record_count"),
        col("equality_delete_file_count"))
      .orderBy("spec_id", "partition")
  }

  private[graft] val tableStatsSchema: StructType =
    StructType(Seq(
        StructField("column", StringType, nullable = true),
        StructField("field_id", IntegerType, nullable = true),
        StructField("blob_type", StringType, nullable = true),
        StructField("ndv", LongType, nullable = true)))

  /** The `.statistics` metadata table: the registered Puffin statistics
    * file's blobs for the current snapshot (spec "Table statistics",
    * written by [[IcebergWrite.computeTableStats]]) — one row per NDV
    * blob with the payload VALIDATED against the blob's `ndv` property
    * (a stats file whose payload and footer disagree is corruption, not
    * data). Loud when no stats are registered for the snapshot. */
  def tableStats(spark: SparkSession, tablePath: String): DataFrame =
    tableStatsOf(spark, loadMetadata(tablePath), tablePath, None)

  private[sources] def tableStatsOf(spark: SparkSession, meta: TableMetadata,
                                    tablePath: String,
                                    snapshotId: Option[Long]): DataFrame = {
    val snap = snapshotOf(meta, snapshotId, tablePath)
    val path = meta.statisticsFiles
      .collectFirst { case (sid, p) if sid == snap.snapshotId => p }
      .getOrElse(throw new IllegalStateException(
        s"no statistics file registered for snapshot ${snap.snapshotId} " +
          s"of $tablePath — run IcebergWrite.computeTableStats " +
          "(CALL system.compute_table_stats / ANALYZE TABLE) after the " +
          "latest commit"))
    val rows = PuffinIO.readFooter(path)
      .filter(_.blobType == PuffinIO.NdvBlobType)
      .map { b =>
        val ndv = PuffinIO.parseNdvPayload(
          PuffinIO.readBlobBytes(path, b.offset, b.length))
        val fromProps = b.properties.get("ndv").map(_.toLong)
        require(fromProps.forall(_ == ndv),
          s"stats blob payload/property mismatch in $path: " +
            s"payload $ndv vs property ${fromProps.get}")
        val fid = b.fields.headOption.getOrElse(-1)
        Row(meta.fieldById.getOrElse(fid, null), fid, b.blobType, ndv)
      }
      .sortBy(r => Option(r.getString(0)).getOrElse(""))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      tableStatsSchema)
  }

  /** Schema of a metadata relation kind without touching the table. */
  private[graft] def metaSchema(kind: String): StructType = kind match {
    case "history"    => historySchema
    case "files"      => filesSchema
    case "data_files"   => filesSchema
    case "delete_files" => filesSchema
    case "entries"    => entriesSchema
    case "partitions" => partitionsSchema
    case "manifests"  => manifestsSchema
    case "snapshots"  => snapshotsSchema
    case "refs"       => refsSchema
    case "all_files"            => filesSchema
    case "all_data_files"       => filesSchema
    case "all_delete_files"     => filesSchema
    case "all_entries"          => entriesSchema
    case "all_manifests"        => allManifestsSchema
    case "metadata_log_entries" => metadataLogSchema
    case "position_deletes"     => positionDeletesSchema
    case "partition_stats"      => partitionStatsSchema
    case "statistics"           => tableStatsSchema
    case other => throw new IllegalArgumentException(
      s"unknown Iceberg metadata relation: $other")
  }

  /** Live content files of a snapshot as a relation — the `.files`
    * metadata table the runtime jar exposes: one row per live content
    * file (file_name is the path's basename so results stay stable
    * across table locations; content 0 = data, 1 = position deletes,
    * 2 = equality deletes; partition is the canonical `k=v/k=v` tuple
    * string, '' for unpartitioned). Metadata grain: rows come from the
    * manifests, no data file is opened. */
  def files(spark: SparkSession, tablePath: String,
            snapshotId: Option[Long] = None): DataFrame =
    filesOf(spark, loadMetadata(tablePath), tablePath, snapshotId)

  private[sources] def filesOf(spark: SparkSession, meta: TableMetadata,
                               tablePath: String,
                               snapshotId: Option[Long]): DataFrame = {
    val snap = snapshotOf(meta, snapshotId, tablePath)
    val rows = liveFiles(spark, snap).map { f =>
      Row(baseName(f.path), f.content, f.format,
        f.recordCount, f.seq, partitionString(f))
    }.sortBy(r => (r.getInt(1), r.getLong(4), r.getString(0)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      filesSchema)
  }

  /** Content-filtered slices of [[files]] — the runtime jar's
    * `.data_files` (content 0) and `.delete_files` (content 1 position +
    * content 2 equality deletes) metadata tables. Same schema and
    * metadata grain as `.files`; the filter runs over the already-local
    * manifest rows. */
  def dataFiles(spark: SparkSession, tablePath: String,
                snapshotId: Option[Long] = None): DataFrame =
    dataFilesOf(spark, loadMetadata(tablePath), tablePath, snapshotId)

  def deleteFiles(spark: SparkSession, tablePath: String,
                  snapshotId: Option[Long] = None): DataFrame =
    deleteFilesOf(spark, loadMetadata(tablePath), tablePath, snapshotId)

  private[sources] def dataFilesOf(spark: SparkSession, meta: TableMetadata,
                                   tablePath: String,
                                   snapshotId: Option[Long]): DataFrame =
    filesOf(spark, meta, tablePath, snapshotId).where(col("content") === 0)

  private[sources] def deleteFilesOf(spark: SparkSession, meta: TableMetadata,
                                     tablePath: String,
                                     snapshotId: Option[Long]): DataFrame =
    filesOf(spark, meta, tablePath, snapshotId).where(col("content") =!= 0)

  /** Manifest ENTRIES as a relation — the `.entries` metadata table:
    * one row per manifest entry of the snapshot, INCLUDING status 2
    * (DELETED) rows the live-file planner never sees — the audit view
    * of what each commit added, carried forward, and retired. The
    * entry's snapshot_id falls back to the manifest-list's
    * added_snapshot_id (the v2 inheritance form). Metadata grain: only
    * manifests are read, never a data file. */
  def entries(spark: SparkSession, tablePath: String,
              snapshotId: Option[Long] = None): DataFrame =
    entriesOf(spark, loadMetadata(tablePath), tablePath, snapshotId)

  private[sources] def entriesOf(spark: SparkSession, meta: TableMetadata,
                                 tablePath: String,
                                 snapshotId: Option[Long]): DataFrame = {
    val snap = snapshotOf(meta, snapshotId, tablePath)
    val c = GraftFs.conf()
    // the list walk retains added_snapshot_id (liveFiles doesn't need it)
    val manifests: Seq[(String, Int, Long, Int, Option[Long])] =
      snap.manifestList match {
        case Some(ml) =>
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(String, Int, Long, Int, Option[Long])]
          foreachAvroRecord(ml) { r =>
            val mSeq =
              if (r.getSchema.getField("sequence_number") == null) 0L
              else r.get("sequence_number") match {
                case null => 0L; case n: Number => n.longValue()
              }
            val added =
              if (r.getSchema.getField("added_snapshot_id") == null) None
              else r.get("added_snapshot_id") match {
                case n: Number => Some(n.longValue()); case _ => None
              }
            buf += ((r.get("manifest_path").toString,
              intFieldOrZero(r, "content"), mSeq,
              intFieldOrZero(r, "partition_spec_id"), added))
          }
          buf.toSeq
        case None => snap.manifests.map((_, 0, 0L, 0, None))
      }
    val rows = manifests.flatMap { case (p, mc, ms, sp, added) =>
      parseManifest(p, mc, ms, sp, c, keepDeleted = true).map { f =>
        Row(f.status,
          f.snapshotId.orElse(added).map(Long.box).orNull,
          f.seq, baseName(f.path), f.content, f.recordCount,
          partitionString(f))
      }
    }.sortBy(r => (r.getInt(0), r.getLong(2), r.getInt(4), r.getString(3)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      entriesSchema)
  }

  /** Manifest-list entries as a relation — the `.manifests` metadata
    * table: one row per manifest of the snapshot (content 0 = data
    * manifests, 1 = delete manifests). The v1 inline-manifests form has
    * no list-level metadata, so it reports content 0, sequence 0 and -1
    * counts. Metadata grain: only the manifest LIST is read. */
  def manifests(spark: SparkSession, tablePath: String,
                snapshotId: Option[Long] = None): DataFrame =
    manifestsOf(spark, loadMetadata(tablePath), tablePath, snapshotId)

  private[sources] def manifestsOf(spark: SparkSession, meta: TableMetadata,
                                   tablePath: String,
                                   snapshotId: Option[Long]): DataFrame = {
    val snap = snapshotOf(meta, snapshotId, tablePath)
    val rows: Seq[Row] = snap.manifestList match {
      case Some(ml) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
        foreachAvroRecord(ml) { r =>
          def longOr(n: String, dflt: Long): Long =
            if (r.getSchema.getField(n) == null) dflt
            else r.get(n) match { case x: Number => x.longValue(); case _ => dflt }
          buf += Row(
            baseName(r.get("manifest_path").toString),
            intFieldOrZero(r, "content"),
            longOr("sequence_number", 0L),
            longOr("added_snapshot_id", -1L),
            longOr("added_files_count", -1L),
            longOr("added_rows_count", -1L))
        }
        buf.toSeq
      case None => snap.manifests.map(p =>
        Row(baseName(p), 0, 0L, -1L, -1L, -1L))
    }
    val sorted = rows.sortBy(r => (r.getInt(1), r.getLong(2), r.getString(0)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(sorted).asJava),
      manifestsSchema)
  }

  /** Per-partition aggregates of a snapshot's live DATA files — the
    * `.partitions` metadata table: (partition, file_count, record_count)
    * in canonical partition-string order. Metadata grain: computed from
    * the manifests' per-file record counts, no data file opened. */
  def partitions(spark: SparkSession, tablePath: String,
                 snapshotId: Option[Long] = None): DataFrame =
    partitionsOf(spark, loadMetadata(tablePath), tablePath, snapshotId)

  private[sources] def partitionsOf(spark: SparkSession, meta: TableMetadata,
                                    tablePath: String,
                                    snapshotId: Option[Long]): DataFrame = {
    val snap = snapshotOf(meta, snapshotId, tablePath)
    val rows = liveFiles(spark, snap).filter(_.content == 0)
      .groupBy(partitionString).toSeq.sortBy(_._1)
      .map { case (part, fs) =>
        Row(part, fs.size.toLong, fs.map(_.recordCount).sum)
      }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      partitionsSchema)
  }

  /** Named refs as a relation — the `.refs` metadata table: one row per
    * branch/tag in metadata.json (name, snapshot_id). Ref TYPE is kept
    * out: the fixture always writes it, but the scan treats branches and
    * tags identically (read-only), so the relation pins only what the
    * reader actually uses. */
  def refs(spark: SparkSession, tablePath: String): DataFrame =
    refsOf(spark, loadMetadata(tablePath))

  private[sources] def refsOf(spark: SparkSession, meta: TableMetadata): DataFrame = {
    val rows = meta.refs.toSeq.sortBy(_._1).map { case (n, sid) => Row(n, sid) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      refsSchema)
  }

  /** Table history as a relation — the `.history`/`.snapshots` metadata
    * table the runtime jar exposes: one row per snapshot in commit order
    * (snapshot_id, sequence_number, committed_at_ms, operation). */
  def history(spark: SparkSession, tablePath: String): DataFrame =
    historyOf(spark, loadMetadata(tablePath))

  private[sources] def historyOf(spark: SparkSession, meta: TableMetadata): DataFrame = {
    val rows = meta.snapshots
      .sortBy(s => (s.sequenceNumber, s.timestampMs))
      .map(s => Row(s.snapshotId, s.sequenceNumber, s.timestampMs, s.operation))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      historySchema)
  }

  /** Snapshots as a relation — the runtime jar's `.snapshots` metadata
    * table: one row per snapshot (not just the current-lineage rows
    * `.history` shows), with parent linkage, the manifest-list file name
    * and the full summary map. Metadata grain: only `metadata.json` is
    * read. */
  def snapshots(spark: SparkSession, tablePath: String): DataFrame =
    snapshotsOf(spark, loadMetadata(tablePath))

  private[sources] def snapshotsOf(spark: SparkSession, meta: TableMetadata): DataFrame = {
    val rows = meta.snapshots
      .sortBy(s => (s.sequenceNumber, s.timestampMs))
      .map(s => Row(s.timestampMs, s.snapshotId,
        s.parentId.map(Long.box).orNull, s.operation,
        s.manifestList.map(baseName).orNull, s.summary))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      snapshotsSchema)
  }

  // ----------------------------------------- whole-history metadata tables

  /** One manifest-list record, as the `all_*` relations walk it. */
  private final case class MlRec(path: String, content: Int, seq: Long,
                                 specId: Int, addedSnapshotId: Long,
                                 addedFiles: Long, addedRows: Long)

  private def manifestListRecords(snap: SnapshotInfo): Seq[MlRec] =
    snap.manifestList match {
      case Some(ml) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[MlRec]
        foreachAvroRecord(ml) { r =>
          def longOr(n: String, dflt: Long): Long =
            if (r.getSchema.getField(n) == null) dflt
            else r.get(n) match { case x: Number => x.longValue(); case _ => dflt }
          buf += MlRec(r.get("manifest_path").toString,
            intFieldOrZero(r, "content"),
            longOr("sequence_number", 0L),
            intFieldOrZero(r, "partition_spec_id"),
            longOr("added_snapshot_id", -1L),
            longOr("added_files_count", -1L),
            longOr("added_rows_count", -1L))
        }
        buf.toSeq
      case None => snap.manifests.map(p => MlRec(p, 0, 0L, 0, -1L, -1L, -1L))
    }

  /** Snapshots in commit order — the deterministic walk every `all_*`
    * relation shares (seq ties break on timestamp, then id). */
  private def orderedSnapshots(meta: TableMetadata): Seq[SnapshotInfo] =
    meta.snapshots.sortBy(s => (s.sequenceNumber, s.timestampMs, s.snapshotId))

  /** The `.all_manifests` metadata table: one row per (manifest,
    * REFERENCING snapshot) across every valid snapshot — a manifest
    * carried forward by k commits appears k times, each tagged with the
    * snapshot whose manifest list references it (the runtime jar's
    * `reference_snapshot_id` column). Metadata grain: manifest LISTS
    * only. */
  def allManifests(spark: SparkSession, tablePath: String): DataFrame =
    allManifestsOf(spark, loadMetadata(tablePath))

  private[sources] def allManifestsOf(spark: SparkSession,
                                      meta: TableMetadata): DataFrame = {
    val rows = orderedSnapshots(meta).flatMap { s =>
      manifestListRecords(s)
        .sortBy(m => (m.content, m.seq, baseName(m.path)))
        .map(m => Row(baseName(m.path), m.content, m.seq,
          m.addedSnapshotId, m.addedFiles, m.addedRows, s.snapshotId))
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      allManifestsSchema)
  }

  /** The `.all_files` metadata table: every content file referenced LIVE
    * (status != DELETED) by ANY valid snapshot, deduplicated by path —
    * files removed from the current snapshot (overwritten, compacted
    * away, or only ever present on a since-abandoned lineage) still
    * appear, which is what makes it the orphan/GC audit surface.
    * Metadata grain: manifests only, no data file opened. */
  def allFiles(spark: SparkSession, tablePath: String): DataFrame =
    allFilesOf(spark, loadMetadata(tablePath))

  /** Content-filtered slices of [[allFiles]] — the runtime jar's
    * `.all_data_files` / `.all_delete_files` dot-suffix tables. */
  def allDataFiles(spark: SparkSession, tablePath: String): DataFrame =
    allDataFilesOf(spark, loadMetadata(tablePath))

  def allDeleteFiles(spark: SparkSession, tablePath: String): DataFrame =
    allDeleteFilesOf(spark, loadMetadata(tablePath))

  private[sources] def allDataFilesOf(spark: SparkSession,
                                      meta: TableMetadata): DataFrame =
    allFilesOf(spark, meta).where(col("content") === 0)

  private[sources] def allDeleteFilesOf(spark: SparkSession,
                                        meta: TableMetadata): DataFrame =
    allFilesOf(spark, meta).where(col("content") =!= 0)

  /** DISTINCT manifests referenced by any valid snapshot, each paired
    * with its first-reference ordinal in the commit-order walk — the
    * shared dedupe the whole-history relations and [[referencedAmong]]
    * build on: a manifest carried forward by k snapshots parses ONCE
    * (the per-snapshot union of live files equals the union of
    * non-DELETED entries over these manifests). */
  private def distinctManifests(meta: TableMetadata): Seq[(MlRec, Int)] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(MlRec, Int)]
    orderedSnapshots(meta).foreach { s =>
      manifestListRecords(s).foreach { m =>
        if (seen.add(normalizePath(m.path))) out += ((m, out.size))
      }
    }
    out.toSeq
  }

  /** Which of `candidates` (scheme-normalized paths) are referenced by
    * ANY retained snapshot (DELETED entries included — a removed file's
    * path is still "taken" while history retains it). Metadata grain;
    * distributed parse past [[ParallelManifestThreshold]] manifests.
    * [[IcebergWrite.addFiles]]'s path-reuse guard. INVERTED membership:
    * the (small) candidate set ships to the executors and only the
    * intersection comes back — the whole-history path set (O(every file
    * ever referenced), the thing being probed) never materializes on
    * the driver. */
  private[sources] def referencedAmong(spark: SparkSession,
                                       meta: TableMetadata,
                                       candidates: Set[String]): Set[String] = {
    if (candidates.isEmpty) return Set.empty
    val ms = distinctManifests(meta)
    if (ms.size < ParallelManifestThreshold) {
      val c = GraftFs.conf()
      ms.flatMap { case (m, _) =>
        parseManifest(m.path, m.content, m.seq, m.specId, c,
          keepDeleted = true).map(f => normalizePath(f.path))
          .filter(candidates)
      }.toSet
    } else {
      val sconf = GraftFs.serializableConf()
      val cand = spark.sparkContext.broadcast(candidates)
      val slices = math.min(ms.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      try {
        spark.sparkContext.parallelize(ms.map(_._1), slices)
          .flatMap { m =>
            parseManifest(m.path, m.content, m.seq, m.specId, sconf.value,
              keepDeleted = true).map(f => normalizePath(f.path))
              .filter(cand.value)
          }.distinct().collect().toSet
      } finally cand.destroy()
    }
  }

  private[sources] def allFilesOf(spark: SparkSession,
                                  meta: TableMetadata): DataFrame = {
    val ms = distinctManifests(meta)
    if (ms.size < ParallelManifestThreshold) {
      // driver loop at toy manifest counts (a Spark job per metadata
      // query would dominate); entries of the deduped manifests, first
      // occurrence per path winning — identical to the per-snapshot
      // walk's first-seen rule, manifests parsed once
      val c = GraftFs.conf()
      val seen = scala.collection.mutable.HashSet.empty[String]
      val files = scala.collection.mutable.ArrayBuffer.empty[ContentFile]
      ms.foreach { case (m, _) =>
        parseManifest(m.path, m.content, m.seq, m.specId, c).foreach { f =>
          if (seen.add(normalizePath(f.path))) files += f
        }
      }
      val rows = files.toSeq
        .map(f => Row(baseName(f.path), f.content, f.format,
          f.recordCount, f.seq, partitionString(f)))
        .sortBy(r => (r.getInt(1), r.getLong(4), r.getString(0)))
      spark.createDataFrame(
        new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        filesSchema)
    } else {
      // DISTRIBUTED: one flatMap task slice per manifest group builds
      // the rows in executors (millions of files × whole history never
      // touch driver memory); the first-occurrence-per-path rule becomes
      // a window over (manifest ordinal, entry ordinal)
      val sconf = GraftFs.serializableConf()
      val slices = math.min(ms.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      val rowRdd = spark.sparkContext.parallelize(ms, slices)
        .flatMap { case (m, ord) =>
          parseManifest(m.path, m.content, m.seq, m.specId, sconf.value)
            .zipWithIndex.map { case (f, i) =>
              Row(normalizePath(f.path), ord, i, baseName(f.path), f.content,
                f.format, f.recordCount, f.seq, partitionString(f))
            }
        }
      val wideSchema = StructType(
        Seq(StructField("__gf_key", StringType, nullable = false),
          StructField("__gf_mord", IntegerType, nullable = false),
          StructField("__gf_eord", IntegerType, nullable = false)) ++
          filesSchema.fields)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__gf_key"))
        .orderBy(col("__gf_mord"), col("__gf_eord"))
      spark.createDataFrame(rowRdd, wideSchema)
        .withColumn("__gf_rn", row_number().over(w))
        .filter(col("__gf_rn") === 1)
        .select(filesSchema.fieldNames.toSeq.map(col): _*)
        .orderBy(col("content"), col("sequence_number"), col("file_name"))
    }
  }

  /** The `.all_entries` metadata table: manifest entries (INCLUDING
    * status 2 DELETED rows) of every DISTINCT manifest referenced by any
    * valid snapshot — each manifest parses once even when many snapshots
    * carry it. Metadata grain: manifests only. */
  def allEntries(spark: SparkSession, tablePath: String): DataFrame =
    allEntriesOf(spark, loadMetadata(tablePath))

  /** One `.all_entries` row. Object-level (NOT nested in
    * [[allEntriesOf]]): a nested def would make the distributed flatMap
    * lambda capture the whole (non-serializable) module. */
  private def entryRow(m: MlRec, f: ContentFile): Row =
    Row(f.status,
      f.snapshotId
        .orElse(if (m.addedSnapshotId >= 0) Some(m.addedSnapshotId) else None)
        .map(Long.box).orNull,
      f.seq, baseName(f.path), f.content, f.recordCount,
      partitionString(f))

  private[sources] def allEntriesOf(spark: SparkSession,
                                    meta: TableMetadata): DataFrame = {
    val ms = distinctManifests(meta)
    if (ms.size < ParallelManifestThreshold) {
      val c = GraftFs.conf()
      val rows = ms.flatMap { case (m, _) =>
        parseManifest(m.path, m.content, m.seq, m.specId, c,
          keepDeleted = true).map(f => entryRow(m, f))
      }.sortBy(r => (r.getInt(0), r.getLong(2), r.getInt(4), r.getString(3)))
      spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        entriesSchema)
    } else {
      // DISTRIBUTED (same rationale as [[allFilesOf]]; no dedupe — every
      // entry of every distinct manifest IS the relation)
      val sconf = GraftFs.serializableConf()
      val slices = math.min(ms.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      val rowRdd = spark.sparkContext.parallelize(ms.map(_._1), slices)
        .flatMap { m =>
          parseManifest(m.path, m.content, m.seq, m.specId, sconf.value,
            keepDeleted = true).map(f => entryRow(m, f))
        }
      spark.createDataFrame(rowRdd, entriesSchema)
        .orderBy(col("status"), col("sequence_number"), col("content"),
          col("file_name"))
    }
  }

  /** The `.metadata_log_entries` metadata table: every prior
    * metadata.json in commit order (the "metadata-log" array), plus the
    * CURRENT file stamped with its own last-updated-ms — the table's
    * metadata lineage, which is what version-travel debugging and
    * metadata GC read. Metadata grain: only metadata.json itself. */
  def metadataLogEntries(spark: SparkSession, tablePath: String): DataFrame =
    metadataLogEntriesOf(spark, loadMetadata(tablePath))

  private[sources] def metadataLogEntriesOf(spark: SparkSession,
                                            meta: TableMetadata): DataFrame = {
    val rows = (meta.metadataLog :+ (meta.lastUpdatedMs, meta.metadataFile))
      .map { case (ts, f) => Row(ts, baseName(f)) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      metadataLogSchema)
  }

  /** The `.position_deletes` metadata table: the ROW CONTENTS of the
    * snapshot's live position-delete files — (target data file, position,
    * owning delete file, its sequence number). Unlike the other metadata
    * relations this opens the delete files themselves (they are the
    * relation's rows); data files are never touched. ONE multi-path scan
    * over all live delete files, with the owning file/sequence attached
    * through a broadcast (path -> name, seq) join on
    * `_metadata.file_path` — plan size CONSTANT in the number of delete
    * files (a scan-per-file union put N relations in the plan, and a
    * neglected table with thousands of un-consolidated delete files hit
    * analyzer cost before data cost). */
  def positionDeletes(spark: SparkSession, tablePath: String,
                      snapshotId: Option[Long] = None): DataFrame =
    positionDeletesOf(spark, loadMetadata(tablePath), tablePath, snapshotId)

  private[sources] def positionDeletesOf(spark: SparkSession,
                                         meta: TableMetadata,
                                         tablePath: String,
                                         snapshotId: Option[Long]): DataFrame = {
    val snap = snapshotOf(meta, snapshotId, tablePath)
    val allPos = liveFiles(spark, snap).filter(_.content == 1)
      .sortBy(f => (f.seq, baseName(f.path)))
    if (allPos.isEmpty)
      return spark.createDataFrame(
        new java.util.ArrayList[Row](), positionDeletesSchema)
    // v3 deletion vectors surface through the same relation, the owning
    // "delete file" being the puffin container (several vectors may
    // share one, hence one map row per distinct path)
    val mapSchema = StructType(Seq(
      StructField("__gf_dkey", StringType, nullable = false),
      StructField("delete_file_name", StringType, nullable = false),
      StructField("sequence_number", LongType, nullable = false)))
    val mapRows: Seq[Row] = allPos.distinctBy(_.path).flatMap(f =>
      pathJoinKeys(f.path).map(k => Row(k, baseName(f.path), f.seq)))
    val mapDf = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(mapRows).asJava), mapSchema)
    PositionDeletes.read(spark, allPos)
      .join(broadcast(mapDf), col("__gf_delfile") === col("__gf_dkey"), "left")
      .select(
        element_at(split(col("file_path"), "/"), -1).as("file_name"),
        col("pos"),
        // loud on a path-key miss — an inner join would silently drop
        // the delete rows instead
        when(col("__gf_dkey").isNotNull, col("delete_file_name"))
          .otherwise(raise_error(concat(
            lit("position_deletes: unmatched delete-file path "),
            col("__gf_delfile"))).cast("string"))
          .as("delete_file_name"),
        col("sequence_number"))
  }
}
