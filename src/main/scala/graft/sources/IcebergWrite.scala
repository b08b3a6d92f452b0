package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{approx_count_distinct, coalesce, col, count, countDistinct, isnan, lit, max, min, regexp_replace, shiftleft, shiftright, sum, when}
import org.apache.spark.sql.types._

/**
 * Native Apache Iceberg WRITE support (Hadoop-catalog `version-hint.text`
 * layout, format v1 + v2), implemented directly from the public table
 * spec (https://iceberg.apache.org/spec/) — zero external jars, same as
 * the read side ([[IcebergIO]]). The reference engine never writes
 * Iceberg (its fork delta wires the extension codec for scans only,
 * ballista/core/src/serde/mod.rs:92), so this is beyond-parity surface a
 * pipeline user reaches for the moment reads work.
 *
 * Scale design:
 *  - Data files are written by ONE distributed Spark job: partitioned
 *    tables repartition on the STORED partition tuple (each tuple lands
 *    in exactly one task) and `partitionBy` on derived tuple columns;
 *    `maxRecordsPerFile` splits oversized partitions into multiple files
 *    inside the same job. No per-partition driver loop.
 *  - Per-file stats (record counts, column bounds, null/NaN counts —
 *    spec fields 103/125/128/110/137) come from ONE grouped aggregate
 *    over the written files keyed on `_metadata.file_path`, which also
 *    re-reads — and therefore verifies — every byte just written.
 *  - All metadata/manifest/data I/O goes through the Hadoop FileSystem
 *    registry ([[GraftFs]]): a table rooted at s3a://… or hdfs://…
 *    writes the same way a local one does.
 *  - Commits are optimistic: the new `vN.metadata.json` is created with
 *    overwrite = false, so two racing writers publish exactly one
 *    winner; the loser fails with a clear concurrent-commit error and
 *    its data files are cleaned up. Every snapshot goes through one
 *    producer ([[produce]]) and every metadata change through one tail
 *    ([[updateMetadata]]).
 *
 * The manifest/metadata serialization shares [[IcebergFixture]]'s Avro
 * schema builders (one copy of the spec's field-id layout); prior
 * snapshots and their manifests are carried forward VERBATIM from the
 * current metadata/manifest list, so appending to a table containing
 * position/equality deletes preserves them — and the sequence-number
 * rule means earlier equality deletes correctly do not apply to the
 * newly appended rows.
 */
object IcebergWrite {

  private val mapper = new ObjectMapper()

  /** One new content file staged for the commit (content: 0 = data,
    * 1 = position deletes, 2 = equality deletes). Bounds are (field id,
    * lower, upper) in the spec's single-value binary form. */
  private final case class NewFile(path: String, records: Long, bytes: Long,
                                   partitionValues: Seq[Any],
                                   bounds: Seq[(Int, Array[Byte], Array[Byte])],
                                   nullCounts: Seq[(Int, Long)],
                                   nanCounts: Seq[(Int, Long)],
                                   content: Int = 0,
                                   equalityIds: Seq[Int] = Nil,
                                   // set on a rewritten live entry
                                   // ([[existingEntry]]): status EXISTING
                                   // + this explicit sequence number —
                                   // the data seq must survive the
                                   // rewrite or the delete-application
                                   // rule breaks
                                   existingSeq: Option[Long] = None,
                                   // the snapshot that originally added
                                   // the file (EXISTING entries)
                                   addedSnapshotId: Option[Long] = None,
                                   // v3: "PUFFIN" for deletion-vector
                                   // entries, else parquet
                                   format: String = "PARQUET",
                                   // v3 DV: (referenced data file,
                                   // content_offset, content_size)
                                   dvRef: Option[(String, Long, Long)] = None,
                                   // v3 row lineage: explicit
                                   // first_row_id for ADDED data files
                                   firstRowId: Option[Long] = None,
                                   // the partition spec the tuple
                                   // follows (None = the default spec)
                                   specId: Option[Int] = None)

  /** Table-creation entry point: writes `metadata/v1.metadata.json` (+
    * version hint) for an EMPTY table — readable immediately (zero
    * rows), appendable with [[append]]. Partitioning follows the
    * fixture's naming convention: identity fields keep the source name,
    * transformed fields get the conventional suffix (`_bucket`,
    * `_trunc`, `_year`, …). Fails if the table already exists. */
  def create(spark: SparkSession, tablePath: String, schema: StructType,
             partitionCols: Seq[String] = Nil,
             partitionTransforms: Map[String, String] = Map.empty,
             formatVersion: Int = 2,
             // false = a NAME-resolution table (no field-id stamping):
             // what [[addFiles]] imports into — its files carry no ids
             fieldIds: Boolean = true): Unit = {
    require(formatVersion >= 1 && formatVersion <= 3,
      s"format-version must be 1, 2 or 3, got $formatVersion")
    // `variant` and `unknown` (NullType surface) are v3 types (spec
    // "Version 3" column additions) — a v1/v2 table declaring one would
    // be unreadable to spec readers
    if (schema.fields.exists(_.dataType == VariantType))
      require(formatVersion >= 3,
        "variant columns require format v3 (pass formatVersion = 3)")
    if (schema.fields.exists(_.dataType == org.apache.spark.sql.types.NullType))
      require(formatVersion >= 3,
        "unknown (NullType) columns require format v3 (pass formatVersion = 3)")
    // the v3 spec requires `unknown` fields be OPTIONAL — a required
    // unknown would write "required": true into metadata.json
    // (spec-invalid for foreign readers) while the read path projects a
    // nullable null literal into a field declared non-nullable
    schema.fields.filter(_.dataType == org.apache.spark.sql.types.NullType)
      .foreach(f => require(f.nullable,
        s"unknown (NullType) column '${f.name}' must be nullable — the " +
          "v3 spec requires unknown fields be optional"))
    // widened-surface spec types enter a schema via the `iceberg.type`
    // metadata override (geometry/geography over BinaryType WKB, ns
    // timestamps over LongType) — v3-only like variant/unknown, and the
    // Spark carrier type must be the documented API boundary or reads
    // would decode garbage
    schema.fields.filter(_.metadata.contains("iceberg.type")).foreach { f =>
      val t = f.metadata.getString("iceberg.type")
      if (t.startsWith("geometry") || t.startsWith("geography")) {
        require(formatVersion >= 3,
          s"$t columns require format v3 (pass formatVersion = 3)")
        require(f.dataType == BinaryType,
          s"column '${f.name}': $t stores WKB — declare BinaryType, " +
            s"got ${f.dataType}")
      } else if (t == "timestamp_ns" || t == "timestamptz_ns") {
        require(formatVersion >= 3,
          s"$t columns require format v3 (pass formatVersion = 3)")
        require(f.dataType == LongType,
          s"column '${f.name}': $t reads as ns-since-epoch longs — " +
            s"declare LongType, got ${f.dataType}")
      }
    }
    require(partitionCols.forall(schema.fieldNames.contains),
      s"partition columns ${partitionCols.mkString(",")} not all in schema")
    require(partitionCols.forall(c =>
        schema(c).dataType != org.apache.spark.sql.types.NullType),
      "unknown (NullType) columns cannot be partition sources — the " +
        "type stores no values")
    require(partitionTransforms.keySet.subsetOf(partitionCols.toSet),
      "partitionTransforms keys must be partition columns")
    val metaDir = GraftFs.child(tablePath, "metadata")
    require(!GraftFs.exists(metaDir),
      s"table already exists (metadata/ present): $tablePath")
    // validate every transform resolves against its source type NOW —
    // a create that only fails at first append helps nobody
    partitionCols.foreach { c0 =>
      val t = partitionTransforms.getOrElse(c0, "identity")
      IcebergTransforms.storedColumn(t, c0, schema(c0).dataType): Unit
    }
    GraftFs.mkdirs(metaDir)
    GraftFs.mkdirs(GraftFs.child(tablePath, "data"))

    val root = mapper.createObjectNode()
    root.put("format-version", formatVersion)
    root.put("table-uuid",
      java.util.UUID.nameUUIDFromBytes(tablePath.getBytes("UTF-8")).toString)
    root.put("location", tablePath)
    if (formatVersion >= 2) root.put("last-sequence-number", 0L)
    root.put("last-updated-ms", System.currentTimeMillis())
    root.put("last-column-id", schema.fields.length)
    if (formatVersion >= 2) {
      root.put("current-schema-id", 0)
      root.putArray("schemas").add(IcebergFixture.schemaJson(schema, 0))
    } else {
      root.set[ObjectNode]("schema", IcebergFixture.schemaJson(schema, 0))
    }
    root.put("default-spec-id", 0)
    val spec0 = root.putArray("partition-specs").addObject()
    spec0.put("spec-id", 0)
    val specFields = spec0.putArray("fields")
    partitionCols.zipWithIndex.foreach { case (c0, i) =>
      val t = partitionTransforms.getOrElse(c0, "identity")
      val f = specFields.addObject()
      f.put("name", partFieldName(c0, t))
      f.put("transform", t)
      f.put("source-id", schema.fieldNames.indexOf(c0) + 1)
      f.put("field-id", 1000 + i)
    }
    root.put("last-partition-id", 999 + partitionCols.size)
    root.put("default-sort-order-id", 0)
    val order0 = root.putArray("sort-orders").addObject()
    order0.put("order-id", 0)
    order0.putArray("fields")
    // Stamp the field-id discipline: every data/delete parquet this
    // writer produces carries spec field ids, so the reader resolves
    // columns by id (spec rule) and renameColumn is safe. External
    // tables lack the property and keep the name-based read path —
    // as does a `fieldIds = false` create, the [[addFiles]] import
    // target (imported files carry no ids).
    val props = root.putObject("properties")
    if (fieldIds) props.put(IcebergIO.FieldIdsProp, "true"): Unit
    // v3 row lineage: the next _row_id to assign; commits advance it by
    // the records they add, and every ADDED data-file entry records an
    // explicit first_row_id (spec field 142 — explicit values make the
    // manifest-level inheritance protocol moot)
    if (formatVersion >= 3) root.put("next-row-id", 0L)
    root.put("current-snapshot-id", -1L) // spec: -1 = no current snapshot
    root.putArray("snapshots")
    root.putArray("snapshot-log")
    root.putArray("metadata-log")
    publish(metaDir, 1, root)
  }

  /** Append `df` as one new snapshot; returns the snapshot id. The new
    * files ADD to the table — prior snapshots, manifests, and delete
    * files are carried forward untouched.
    *
    * `branch = Some(b)`: the write-audit-publish half of the runtime
    * jar's branching surface — the snapshot's parent and carried
    * manifests come from the BRANCH head (a missing branch is created
    * from the table's current state), only the branch ref moves (main,
    * `current-snapshot-id` and the snapshot-log are untouched, so
    * readers of the main lineage never see the staged data), and
    * sequence numbers stay table-global per the v2 rule. Audit the
    * branch with `read(ref = Some(b))`, then publish atomically with
    * [[fastForward]]. */
  def append(df: DataFrame, tablePath: String,
             maxRecordsPerFile: Option[Long] = None,
             summaryExtra: Map[String, String] = Map.empty,
             branch: Option[String] = None): Long =
    commitData(df, tablePath, maxRecordsPerFile, operation = "append",
      summaryExtra = summaryExtra, branch = branch)

  /** MIGRATION import (the runtime jar's `add_files` procedure): commit
    * EXISTING parquet files as table data WITHOUT rewriting a byte —
    * the files stay at their source paths (manifests may reference any
    * URI) and only metadata is written, which is what makes a 100 TB
    * parquet-lake -> Iceberg migration an O(files) metadata job instead
    * of an O(bytes) copy. Per-file record counts, column bounds and
    * null/NaN counts come from ONE grouped read-back aggregate (the
    * same [[perFileStats]] pass appends use), so stats pruning works on
    * imported files immediately; empty files are skipped.
    *
    * Layouts:
    *  - UNPARTITIONED table: a flat (or arbitrarily nested) directory of
    *    parquet files, every file carrying every table column.
    *  - IDENTITY-partitioned table: a HIVE-LAYOUT directory —
    *    `col=value/` path segments name the partition values, files
    *    physically LACK the partition columns (the most common real
    *    migration shape: years of hive-partitioned parquet -> Iceberg;
    *    the reference serves such listing tables natively via
    *    `table_partition_cols`, `client/src/context.rs:425-440`,
    *    `datafusion.proto:1153`). Each file's tuple is parsed from its
    *    directory path into the manifest, partition-column bounds/null
    *    counts are stamped from the constants (stats pruning works
    *    immediately), and the table gains
    *    [[IcebergIO.HiveImportProp]] so every read injects the columns
    *    from the manifest tuple ([[IcebergIO.dataBranches]]).
    *
    * Guards: the target must be a NAME-resolution table
    * (`create(..., fieldIds = false)` or an external one — imported
    * files carry no field ids, and a by-id table would read them as
    * nulls); EVERY source file's own footer must carry every table
    * column with matching types (a per-leaf check — a merged-schema
    * gate would let a mixed directory slip files that read a column as
    * null); a file referenced by ANY retained snapshot is rejected
    * (re-import double-counts, and a re-imported previously-removed
    * path would let still-retained delete files apply to the new rows);
    * a partitioned target's spec must be identity-only (transformed
    * values cannot be derived from directory names); hive-layout files
    * must NOT physically carry a partition column (the directory name
    * is the single source of truth). Returns the snapshot id. */
  def addFiles(spark: SparkSession, tablePath: String,
               sourceDir: String): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(!IcebergIO.resolveByFieldIds(meta),
      s"table resolves columns by field id (${IcebergIO.FieldIdsProp}) " +
        "but imported files carry none — import into a name-resolution " +
        "table (create(..., fieldIds = false)), or append() to rewrite")
    val hive = meta.partitionFields.nonEmpty
    if (hive) {
      val nonIdentity = meta.partitionFields.filter(_._2 != "identity")
      require(nonIdentity.isEmpty,
        "hive-layout import requires an identity-only partition spec; " +
          s"transformed fields ${nonIdentity.map(f => s"${f._1}(${f._2})").mkString(", ")} " +
          "cannot be derived from directory names")
    }
    // (spec field name, source column, source type) — identity only
    val partSrc: Seq[(String, String, DataType)] =
      meta.partitionFields.map { case (name, _, srcId) =>
        val src = meta.fieldById.getOrElse(srcId,
          throw new IllegalArgumentException(
            s"partition source field id $srcId not in table schema"))
        (name, src, meta.schema(src).dataType)
      }
    partSrc.foreach { case (_, src, dt) =>
      require(hiveParseable(dt),
        s"hive partition column '$src' has type $dt — only " +
          "int/long/string/date directory values are parseable")
    }
    // `unknown` (NullType) columns are legitimately ABSENT from every
    // data file (spec: the type stores nothing) — they must not be
    // required of import sources nor read back for stats
    val fileSchema = IcebergIO.readableFields(StructType(
      meta.schema.fields.filterNot(f => partSrc.exists(_._2 == f.name))))
    val leaves = listParquetLeaves(sourceDir)
    require(leaves.nonEmpty, s"no .parquet files under $sourceDir")
    val leafPaths = leaves.map(_.getPath.toString)

    // per-leaf footer gate: every file individually carries every
    // (non-partition) table column — a merged-schema check would let a
    // mixed directory import files that silently read a column as null.
    // Hive layout additionally forbids the partition columns IN the
    // files (directory names are the single source of truth).
    val required = fileSchema.fieldNames.toSet
    val forbidden = partSrc.map(_._2).toSet
    val footerFields = leafFooterFields(spark, leafPaths)
    footerFields.foreach { case (p, fields) =>
      val names = fields.keySet
      val missing = required -- names
      require(missing.isEmpty,
        s"source file $p lacks table column(s): ${missing.toSeq.sorted.mkString(", ")}")
      val clash = names.intersect(forbidden)
      require(clash.isEmpty,
        s"hive-layout source file $p physically carries partition " +
          s"column(s) ${clash.toSeq.sorted.mkString(", ")} — the " +
          "directory name must be the single source of the value")
    }
    // widened-surface columns (geometry/geography WKB, ns timestamps):
    // Spark cannot INFER a schema over their parquet annotations, so
    // the merged-infer type gate below is impossible for such tables —
    // instead the footers' PHYSICAL types pin the widened columns
    // (BYTE_ARRAY for WKB, INT64 for ns) and the stats read-back (an
    // EXPLICIT-schema scan, which the annotations permit) validates the
    // remaining columns at decode time. This is the geo/ns WRITE path:
    // tables with such columns are producible by import, while the
    // data-write verbs stay refused (Spark's sink cannot emit the
    // annotations the spec requires).
    val widened: Set[String] = meta.nsColumns ++ meta.geoColumns
    if (meta.nsColumns.nonEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (widened.isEmpty) {
      // type gate: the merged footer schema must agree on every shared
      // column's type (per-leaf names above + one type signature here)
      val srcSig = spark.read.parquet(leafPaths: _*)
        .schema.fields.map(f => (f.name, f.dataType)).toSet
      val tblSig = fileSchema.fields.map(f => (f.name, f.dataType)).toSet
      require(tblSig.subsetOf(srcSig),
        s"source files lack table columns: ${(tblSig -- srcSig).mkString(", ")}")
    } else footerFields.foreach { case (p, fields) =>
      meta.geoColumns.filter(required.contains).foreach { c =>
        require(fields.get(c).contains("BINARY"),
          s"source file $p column '$c' must be BYTE_ARRAY (WKB) for a " +
            s"geometry/geography column, got ${fields.getOrElse(c, "absent")}")
      }
      meta.nsColumns.filter(required.contains).foreach { c =>
        require(fields.get(c).contains("INT64"),
          s"source file $p column '$c' must be INT64 for a ns-timestamp " +
            s"column, got ${fields.getOrElse(c, "absent")}")
      }
      // the NON-widened columns get the same gate strength as the
      // merged-infer path would give them — legal parquet physical
      // types per Spark type from the same footer map (a mismatch
      // would otherwise surface as an opaque decode error deep in the
      // stats job, or import silently under Spark's type widening)
      fileSchema.fields.filterNot(f => widened(f.name)).foreach { f =>
        val legal = legalPhysicalTypes(f.dataType)
        if (legal.nonEmpty)
          require(fields.get(f.name).exists(legal.contains),
            s"source file $p column '${f.name}' has physical type " +
              s"${fields.getOrElse(f.name, "absent")} — table type " +
              s"${f.dataType} expects one of ${legal.mkString("/")}")
      }
    }

    // hive tuple per leaf, parsed from its k=v path segments
    val tupleByLeaf: Map[String, Seq[Any]] =
      if (!hive) Map.empty
      else leafPaths.map { p =>
        p -> hiveTupleOf(sourceDir, p, partSrc)
      }.toMap

    // reject paths referenced by ANY retained snapshot, not just the
    // live set: a previously-removed path re-entering while a
    // still-retained delete file names it would apply old deletes to
    // the new rows (the unique-path assumption becomes a checked guard).
    // Inverted probe: the import's leaf set (small) broadcasts; only
    // the intersection comes back — never the whole-history path set.
    val referenced: Set[String] = IcebergIO.referencedAmong(spark, meta,
      leaves.map(s => IcebergIO.normalizePath(s.getPath.toString)).toSet)
    val dupes = leaves.filter(s =>
      referenced(IcebergIO.normalizePath(s.getPath.toString)))
    require(dupes.isEmpty,
      s"${dupes.size} file(s) already referenced by a retained snapshot " +
        s"(first: ${dupes.head.getPath}) — re-import double-counts " +
        "or resurrects old deletes")

    val fieldIdByName: Map[String, Int] = meta.fieldById.map(_.swap)
    val stats = perFileStats(spark, fileSchema, fieldIdByName,
      leafPaths, storedCols = Nil)
    val (statless, withStats) = leaves.partition(
      s => !stats.contains(IcebergIO.normalizePath(s.getPath.toString)))
    if (statless.nonEmpty) {
      val n = spark.read.schema(fileSchema)
        .parquet(statless.map(_.getPath.toString): _*).count()
      require(n == 0L,
        s"read-back produced no stats for ${statless.size} source " +
          s"file(s) holding $n rows — file-path keying bug: " +
          statless.map(_.getPath).take(3).mkString(", "))
    }
    val files: Seq[NewFile] = withStats.map { s =>
      val path = s.getPath.toString
      val (records, _, bounds, nulls, nans) =
        stats(IcebergIO.normalizePath(path))
      val tuple = tupleByLeaf.getOrElse(path, Nil)
      // partition-column stats from the per-file constant: exact bounds
      // (the value) and null counts (all-or-nothing), so statsFilter
      // prunes on injected columns exactly as on physical ones
      val partBounds = partSrc.zip(tuple).flatMap { case ((_, src, dt), v) =>
        Option(v).map { x =>
          val b = IcebergTransforms.serializeBound(x)
          (fieldIdByName(src), b, b)
        }
      }
      val partNulls = partSrc.zip(tuple).map { case ((_, src, _), v) =>
        fieldIdByName(src) -> (if (v == null) records else 0L)
      }
      NewFile(path, records, s.getLen,
        partitionValues = tuple, bounds = bounds ++ partBounds,
        nullCounts = nulls ++ partNulls, nanCounts = nans)
    }
    require(files.nonEmpty, s"every file under $sourceDir is empty")
    // the injection property lands in the SAME commit as the files it
    // describes; a lost optimistic race must not delete the USER'S
    // source files (ownsAdded = false)
    produce(tablePath, meta, "append", added = files,
      summary = Map("added-files-source" -> sourceDir),
      properties = if (hive) Map(IcebergIO.HiveImportProp -> "true") else Map.empty,
      ownsAdded = false)
  }

  /** Directory-value parseability for hive-layout import. */
  private def hiveParseable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | StringType | DateType => true
    case _ => false
  }

  /** Parse a leaf's hive partition tuple from its `k=v` path segments
    * into STORED primitives (date -> epoch-day ordinal), in spec-field
    * order. Values are hive-unescaped; `__HIVE_DEFAULT_PARTITION__`
    * is the null marker. Every partition column must appear in the
    * path — loudly. */
  private def hiveTupleOf(sourceDir: String, leafPath: String,
                          partSrc: Seq[(String, String, DataType)]): Seq[Any] = {
    val rel = IcebergIO.normalizePath(leafPath)
      .stripPrefix(IcebergIO.normalizePath(sourceDir)).stripPrefix("/")
    val segs = rel.split('/').dropRight(1) // the basename is not a k=v segment
    val kv: Map[String, String] = segs.flatMap { s =>
      val i = s.indexOf('=')
      if (i <= 0) None else Some(hiveUnescape(s.take(i)) -> hiveUnescape(s.drop(i + 1)))
    }.toMap
    partSrc.map { case (_, src, dt) =>
      val raw = kv.getOrElse(src, throw new IllegalArgumentException(
        s"hive-layout file $leafPath has no '$src=' path segment " +
          s"(found: ${kv.keys.toSeq.sorted.mkString(", ")})"))
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else dt match {
        case IntegerType => Int.box(raw.toInt)
        case LongType    => Long.box(raw.toLong)
        case StringType  => raw
        case DateType    =>
          Int.box(java.time.LocalDate.parse(raw).toEpochDay.toInt)
        case other => throw new IllegalArgumentException(
          s"unparseable hive partition type $other for '$src'")
      }
    }
  }

  /** Hive path-segment unescape: `%xx` sequences only ('+' stays
    * literal — hive escaping is not application/x-www-form-urlencoded,
    * so URLDecoder would corrupt it). */
  private def hiveUnescape(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val ch = s.charAt(i)
        if (ch == '%' && i + 2 < s.length) {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } else { sb.append(ch); i += 1 }
      }
      sb.toString
    }

  /** Per-leaf parquet footer column names — each file's OWN schema, not
    * a merge. Distributed past [[IcebergIO.ParallelManifestThreshold]]
    * files (footer opens are O(files); a 1e5-file import must not
    * serialize them on the driver). */
  /** Legal parquet PRIMITIVE types for a Spark column type — the
    * widened-import gate's per-column check (empty set = no opinion,
    * e.g. nested GROUP columns). Decimals legally store in several
    * physicals, so all are admitted. */
  private def legalPhysicalTypes(dt: DataType): Set[String] = dt match {
    case LongType | TimestampType | TimestampNTZType => Set("INT64")
    case IntegerType | DateType => Set("INT32")
    case StringType | BinaryType => Set("BINARY")
    case DoubleType => Set("DOUBLE")
    case FloatType => Set("FLOAT")
    case BooleanType => Set("BOOLEAN")
    case _: DecimalType =>
      Set("INT32", "INT64", "BINARY", "FIXED_LEN_BYTE_ARRAY")
    case _ => Set.empty
  }

  /** Per-leaf footer fields as (column name → parquet PRIMITIVE type
    * name, "GROUP" for nested) — the name set serves the column-presence
    * gate, the physical types pin widened-surface columns (geometry WKB
    * = BINARY, ns timestamps = INT64) that Spark's schema inference
    * cannot see past. */
  private def leafFooterFields(spark: SparkSession,
                               paths: Seq[String]): Seq[(String, Map[String, String])] = {
    def fields(p: String, conf: org.apache.hadoop.conf.Configuration): Map[String, String] = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFileMetaData.getSchema.getFields.asScala.map { f =>
        f.getName -> (if (f.isPrimitive)
          f.asPrimitiveType().getPrimitiveTypeName.name
        else "GROUP")
      }.toMap
      finally r.close()
    }
    if (paths.size < IcebergIO.ParallelManifestThreshold) {
      val c = GraftFs.conf()
      paths.map(p => p -> fields(p, c))
    } else {
      val sconf = GraftFs.serializableConf()
      val slices = math.min(paths.size,
        math.max(1, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(paths, slices)
        .map(p => p -> fields(p, sconf.value)).collect().toSeq
    }
  }

  /** Replace the table's contents with `df` in one new snapshot (full
    * overwrite: the new manifest list references ONLY the new files, so
    * prior data — and prior deletes — drop out of the live view while
    * remaining time-travelable). Returns the snapshot id. */
  def overwrite(df: DataFrame, tablePath: String,
                maxRecordsPerFile: Option[Long] = None): Long =
    commitData(df, tablePath, maxRecordsPerFile, operation = "overwrite")

  /** Schema evolution: ADD a nullable column at the end of the table
    * schema (metadata-only commit — no snapshot, no data file touched).
    * Existing data files simply lack the column and the reader surfaces
    * it as nulls (the spec's add-column semantics, already exercised by
    * the scan's evolved-table tests); appends AFTER this must carry the
    * new column. Existing field ids are preserved verbatim — the new
    * field takes `last-column-id + 1`. */
  def addColumn(tablePath: String, name: String, dataType: DataType): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    // same boundary as create(): a v1/v2 metadata.json declaring a
    // v3-only type would be unreadable to spec readers
    if (dataType == VariantType)
      require(meta.formatVersion >= 3,
        "variant columns require format v3; run upgradeFormatVersion first")
    if (dataType == org.apache.spark.sql.types.NullType)
      require(meta.formatVersion >= 3,
        "unknown (NullType) columns require format v3; run " +
          "upgradeFormatVersion first")
    require(!meta.schema.fieldNames.contains(name),
      s"column '$name' already exists in $tablePath")
    require(!droppedNames(meta).contains(name),
      s"column name '$name' was previously dropped — re-adding it would " +
        "resurrect the old bytes under name-based column resolution; " +
        "pick a fresh name")
    updateMetadata(tablePath, meta)(addField(_, meta, name, dataType): Unit)
  }

  /** Append optional field `name` to the current schema of `root` at id
    * `last-column-id + 1`; returns the new field's node. */
  private def addField(root: ObjectNode, meta: IcebergIO.TableMetadata,
                       name: String, dataType: DataType): ObjectNode = {
    val fid = Option(root.get("last-column-id")).map(_.asInt)
      .getOrElse(meta.schema.size) + 1
    root.put("last-column-id", fid)
    val f = mapper.createObjectNode()
    f.put("id", fid)
    f.put("name", name)
    f.put("required", false)
    f.put("type", IcebergFixture.icebergType(dataType))
    evolveSchema(root)(_.get("fields").asInstanceOf[ArrayNode].add(f): Unit)
    f
  }

  /** Spec "JSON single-value serialization" for the default-capable
    * types. Inverse of [[IcebergIO.parseSingleValue]]. */
  private[sources] def singleValueJson(node: ObjectNode, key: String,
                                       v: Any, dt: DataType): Unit = (v, dt) match {
    case (i: Int, IntegerType)     => node.put(key, i): Unit
    case (l: Long, LongType)       => node.put(key, l): Unit
    case (d: Double, DoubleType)   => node.put(key, d): Unit
    case (b: Boolean, BooleanType) => node.put(key, b): Unit
    case (s: String, StringType)   => node.put(key, s): Unit
    case (d: java.time.LocalDate, DateType) =>
      node.put(key, d.toString): Unit // ISO YYYY-MM-DD, the spec's date form
    case (d: java.sql.Date, DateType) =>
      node.put(key, d.toLocalDate.toString): Unit
    case (other, t) => throw new IllegalArgumentException(
      s"unsupported default value $other (${other.getClass.getName}) for $t " +
        "— defaults support int/long/double/boolean/string/date")
  }

  /** Schema evolution with a v3 DEFAULT VALUE (spec "Default values"):
    * adds the column with `initial-default` (what rows written BEFORE
    * the field existed read — served by the scan as a per-file constant
    * for every data file whose sequence number predates this commit,
    * [[IcebergIO.dataBranches]]) and `write-default` (what
    * [[append]]/[[overwrite]] fill when the input frame omits the
    * column; defaults to the same value). Metadata-only — no data file
    * is touched, yet old rows immediately read the default instead of
    * NULL. Requires format v3 (where the spec introduces defaults) and
    * a field-id table (our writer then physically stamps the column
    * into every later file, which is what makes the seq split exact —
    * name-resolution tables can import id-less files at later seqs via
    * `addFiles`, breaking it). The default must be non-null (a null
    * default IS the plain [[addColumn]]). */
  def addColumnWithDefault(tablePath: String, name: String, dataType: DataType,
                           default: Any,
                           writeDefault: Option[Any] = None): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 3,
      s"column defaults require format v3 (got v${meta.formatVersion}) — " +
        "run upgradeFormatVersion first")
    require(dataType != org.apache.spark.sql.types.NullType,
      "unknown (NullType) columns cannot carry a default — the type " +
        "stores no values; use the plain addColumn")
    require(IcebergIO.resolveByFieldIds(meta),
      "column defaults require a field-id table: a name-resolution table " +
        "can import id-less files at later sequence numbers (addFiles), " +
        "which would break the predates-the-column split")
    require(default != null,
      "default must be non-null — use addColumn for a null-filled column")
    require(!meta.schema.fieldNames.contains(name),
      s"column '$name' already exists in $tablePath")
    require(!droppedNames(meta).contains(name),
      s"column name '$name' was previously dropped — pick a fresh name")
    updateMetadata(tablePath, meta) { root =>
      val f = addField(root, meta, name, dataType)
      singleValueJson(f, "initial-default", default, dataType)
      singleValueJson(f, "write-default", writeDefault.getOrElse(default), dataType)
      objectNode(root, "properties").put(
        s"${IcebergIO.DefaultSeqPropPrefix}${f.get("id").asInt}",
        meta.lastSequenceNumber.toString): Unit
    }
  }

  /** Schema evolution: WIDEN a column's type — the spec's primitive type
    * promotions `int -> long` and `float -> double` (metadata-only
    * commit; the field keeps its id, only the type changes). Existing
    * data files keep the narrow physical type: the reader always scans
    * with the CURRENT table schema, and Spark's parquet readers
    * (vectorized and row-based) upcast int32 -> int64 / float -> double
    * natively, under both name- and field-id resolution. Equality-delete
    * files read through the current schema types too, so pre-widen
    * deletes keep applying; manifest bounds stay valid because the
    * stats filter deserializes them length-aware (4-byte bounds decode
    * through the narrow type and widen — `IcebergIO.boundValue`).
    * Refused for partition sources of ANY spec (manifest partition
    * tuples store narrow ordinals that planning compares against) and
    * for z-order columns (the Morton interleave is 32-bit by
    * construction — clear the z-order first). Decimal precision
    * widening is NOT offered: Spark's parquet readers reject physical
    * decimal-width changes, so it would need a rewrite, not metadata. */
  def widenColumn(tablePath: String, name: String, to: DataType): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.schema.fieldNames.contains(name),
      s"column '$name' not in table schema " +
        s"(have: ${meta.schema.fieldNames.mkString(", ")})")
    val from = meta.schema(name).dataType
    val legal = (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(legal, s"unsupported type promotion $from -> $to " +
      "(the spec allows int -> long and float -> double)")
    val fid = meta.fieldById.map(_.swap).apply(name)
    require(!meta.specsById.values.flatten.map(_._3).toSet.contains(fid) &&
        !meta.partitionFields.map(_._3).contains(fid),
      s"column '$name' (field id $fid) is a partition source — manifest " +
        "partition tuples store the narrow type; rewrite, don't widen")
    val zcols = meta.properties.get(ZorderProp).toSeq
      .flatMap(_.split(",")).map(_.trim)
    require(!zcols.contains(name),
      s"column '$name' is a z-order column (32-bit Morton interleave); " +
        "clear the z-order first")
    updateMetadata(tablePath, meta)(evolveSchema(_)(schemaField(_, name)
      .put("type", IcebergFixture.icebergType(to)): Unit))
  }

  /** The field named `name` of a schema node. */
  private def schemaField(schemaNode: ObjectNode, name: String): ObjectNode =
    schemaNode.get("fields").elements().asScala.find(_.get("name").asText == name)
      .get.asInstanceOf[ObjectNode]

  /** Schema evolution: DROP a column (metadata-only commit). Existing
    * data files keep the bytes, but the reader's projection — always the
    * CURRENT table schema — no longer selects them (the spec's
    * drop-column semantics). Rejected loudly when the column is a
    * partition source (the spec forbids dropping a field the active
    * partition spec depends on) or when a LIVE equality-delete file
    * references it (the reader could no longer resolve the delete). The
    * dropped name is tombstoned in the `graft.dropped-columns` table
    * property so a later [[addColumn]] of the same name is refused —
    * under name-based column resolution the old bytes would silently
    * resurrect into the supposedly-fresh column. */
  def dropColumn(spark: SparkSession, tablePath: String, name: String): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.schema.fieldNames.contains(name),
      s"column '$name' not in table schema " +
        s"(have: ${meta.schema.fieldNames.mkString(", ")})")
    require(meta.schema.size > 1, "cannot drop the only column")
    val fid = meta.fieldById.map(_.swap).apply(name)
    // ANY spec, not just the default: after partition evolution, files
    // written under an older spec still scope/prune through its sources
    require(!meta.specsById.values.flatten.map(_._3).toSet.contains(fid) &&
        !meta.partitionFields.map(_._3).contains(fid),
      s"column '$name' (field id $fid) is a partition source — a " +
        "partition spec (current or prior) depends on it")
    val eqRefs = currentSnapshot(meta).toSeq
      .flatMap(s => IcebergIO.liveFiles(spark, s))
      .filter(f => f.content == 2 && f.equalityIds.contains(fid))
    require(eqRefs.isEmpty,
      s"column '$name' is referenced by ${eqRefs.size} live equality-" +
        "delete file(s); compact the table first to fold them away")
    updateMetadata(tablePath, meta) { root =>
      evolveSchema(root)(schemaNode => retain(
        schemaNode.get("fields").asInstanceOf[ArrayNode])(_.get("name").asText != name))
      objectNode(root, "properties").put(DroppedColumnsProp,
        (meta.properties.get(DroppedColumnsProp).filter(_.nonEmpty).toSeq :+ name)
          .mkString(",")): Unit
    }
  }

  /** Upgrade an EXTERNAL (property-less) table to field-id column
    * resolution via the spec's name mapping (`schema.name-mapping.default`,
    * "Name Mapping Serialization"): a metadata-only commit that freezes
    * the CURRENT schema's (field id -> name) assignment as the mapping,
    * records the current sequence number (files at or below it are
    * id-less and resolve through the mapping; later files are stamped
    * by this writer and resolve by id), and stamps
    * [[IcebergIO.FieldIdsProp]] — after which [[renameColumn]] is safe:
    * pre-upgrade files keep resolving under their frozen names while
    * the live schema renames freely. A later [[compact]] rewrites
    * everything id-stamped, and expire+sweep retires the legacy bytes.
    * v2 only (the legacy/stamped split rides on sequence numbers);
    * refused when the table already resolves by id. */
  def addNameMapping(tablePath: String): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "addNameMapping requires format v2 — sequence numbers are what " +
        "split pre-upgrade (name-mapped) files from id-stamped ones")
    require(!IcebergIO.resolveByFieldIds(meta),
      s"table already resolves by field id: $tablePath")
    // Hive-imported tables read identity-partition columns injected from
    // manifest tuples through a CURRENT-NAME projection (injectedBranch);
    // the upgrade would unlock renameColumn, after which that projection
    // silently nulls the renamed column on imported files — the exact
    // failure the mapping exists to prevent. Refuse loudly; renames stay
    // unavailable on hive imports.
    require(!IcebergIO.injectIdentity(meta),
      s"addNameMapping is unsupported on a hive-imported table " +
        s"(${IcebergIO.HiveImportProp}): the injected read path resolves " +
        "by current name, so a post-upgrade rename would silently null " +
        s"the column on imported files: $tablePath")
    val fieldIdByName = meta.fieldById.map(_.swap)
    val arr = mapper.createArrayNode()
    meta.schema.fields.foreach { f =>
      val e = arr.addObject()
      e.put("field-id", fieldIdByName(f.name))
      e.putArray("names").add(f.name): Unit
    }
    updateMetadata(tablePath, meta) { root =>
      val props = objectNode(root, "properties")
      props.put(IcebergIO.NameMappingProp, mapper.writeValueAsString(arr))
      props.put(IcebergIO.NameMappingSeqProp, meta.lastSequenceNumber.toString)
      props.put(IcebergIO.FieldIdsProp, "true"): Unit
    }
  }

  /** Schema evolution: RENAME a top-level column (metadata-only commit —
    * the field keeps its id, only the name changes; spec rename
    * semantics). Safe ONLY on tables whose files resolve by field id
    * ([[IcebergIO.FieldIdsProp]], stamped by [[create]]): pre-rename
    * data files — and equality-delete files keyed on the field — carry
    * the OLD name but the SAME id, so the by-id reader still resolves
    * them; a name-based reader would silently surface nulls instead.
    * External tables without the property are refused loudly. Partition
    * sources may be renamed (the spec references them by source-id; the
    * spec FIELD name, e.g. `x_bucket`, is its own name and stays). */
  def renameColumn(tablePath: String, oldName: String, newName: String): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(IcebergIO.resolveByFieldIds(meta),
      s"renameColumn needs field-id column resolution (table property " +
        s"${IcebergIO.FieldIdsProp}=true, stamped by IcebergWrite.create): " +
        s"$tablePath lacks it, and a name-resolved read of pre-rename " +
        "files would silently return nulls for the renamed column; " +
        "upgrade the table first with IcebergWrite.addNameMapping")
    require(meta.schema.fieldNames.contains(oldName),
      s"column '$oldName' not in table schema " +
        s"(have: ${meta.schema.fieldNames.mkString(", ")})")
    require(!meta.schema.fieldNames.contains(newName),
      s"column '$newName' already exists in $tablePath")
    require(newName.nonEmpty && !newName.startsWith("__gf"),
      s"invalid new column name '$newName'")
    require(!droppedNames(meta).contains(newName),
      s"column name '$newName' was previously dropped — reusing it " +
        "invites confusion with the tombstoned column; pick a fresh name")
    updateMetadata(tablePath, meta)(evolveSchema(_)(schemaField(_, oldName)
      .put("name", newName): Unit))
  }

  /** Set the table's DEFAULT SORT ORDER (metadata-only commit; spec
    * `sort-orders` / `default-sort-order-id`): subsequent appends
    * range-distribute and sort new data files on `cols` (identity
    * transform, ascending, nulls-first), which makes the per-file
    * min/max bounds tight and mostly DISJOINT — the difference between
    * statsFilter pruning almost everything and pruning nothing on a
    * range or point predicate over the sort key. Existing files are
    * untouched ([[compact]] rewrites them under the new order). An
    * equivalent existing order is reused (spec order-reuse rule);
    * passing `Nil` restores the unsorted order 0. */
  def setSortOrder(tablePath: String, cols: Seq[String]): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(cols.forall(meta.schema.fieldNames.contains),
      s"sort columns ${cols.mkString(",")} not all in table schema " +
        s"(have: ${meta.schema.fieldNames.mkString(", ")})")
    require(cols.forall(c =>
        meta.schema(c).dataType != org.apache.spark.sql.types.NullType),
      "unknown (NullType) columns cannot be sort keys — the type " +
        "stores no values")
    require(cols.isEmpty || !meta.properties.contains(ZorderProp),
      s"table declares a z-order ($ZorderProp); clear it " +
        "(zorderBy(path, Nil)) before setting a sort order")
    val fieldIdByName = meta.fieldById.map(_.swap)
    updateMetadata(tablePath, meta) { root =>
      val orders = arrayNode(root, "sort-orders")
      val existing: Seq[(Int, Seq[Int])] = orders.elements().asScala.map { o =>
        val fs = o.get("fields").elements().asScala.toSeq
        (o.get("order-id").asInt,
          if (fs.forall(_.get("transform").asText == "identity"))
            fs.map(_.get("source-id").asInt)
          else Seq(-1))
      }.toSeq
      val orderId =
        if (cols.isEmpty) 0 // unsorted order 0, written by create
        else {
          val wanted = cols.map(fieldIdByName)
          existing.find(_._2 == wanted).map(_._1).getOrElse {
            val id = (existing.map(_._1) :+ 0).max + 1
            val o = orders.addObject()
            o.put("order-id", id)
            val fs = o.putArray("fields")
            wanted.foreach { srcId =>
              val f = fs.addObject()
              f.put("transform", "identity")
              f.put("source-id", srcId)
              f.put("direction", "asc")
              f.put("null-order", "nulls-first"): Unit
            }
            id
          }
        }
      root.put("default-sort-order-id", orderId): Unit
    }
  }

  /** Table property naming the Z-ORDER clustering columns (graft
    * extension — the Iceberg spec's sort orders cannot express
    * interleaved ordering; engines carry z-order as a rewrite strategy,
    * so the property records intent the way their action APIs do). */
  val ZorderProp = "graft.zorder.cols"

  /** Declare MULTI-DIMENSIONAL clustering for future appends: new data
    * files are written in Morton (Z-curve) order over 2-4 INT
    * columns, so per-file min/max bounds are tight on BOTH dimensions
    * and statsFilter prunes range predicates on EITHER column — where a
    * linear sort order only ever prunes its leading column. Metadata-
    * only commit; existing files are untouched ([[compact]] rewrites
    * them clustered). Mutually exclusive with a non-zero default sort
    * order (the writer cannot honor both). `Nil` clears. Two columns,
    * IntegerType only (32-bit ordinals interleave exactly into the
    * 64-bit z-value; wider types would need value-range compression —
    * rejected loudly rather than clustered approximately). */
  def zorderBy(tablePath: String, cols: Seq[String]): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    if (cols.nonEmpty) {
      require(cols.size >= 2 && cols.size <= 4,
        s"zorderBy interleaves 2 to 4 columns, got ${cols.size}")
      require(cols.distinct.size == cols.size, "zorderBy columns must differ")
      cols.foreach { c0 =>
        require(meta.schema.fieldNames.contains(c0),
          s"zorder column '$c0' not in table schema " +
            s"(have: ${meta.schema.fieldNames.mkString(", ")})")
        require(meta.schema(c0).dataType == IntegerType,
          s"zorder column '$c0' is ${meta.schema(c0).dataType}; only " +
            "IntegerType interleaves exactly into the 64-bit z-value")
      }
      require(meta.sortOrderFields.isEmpty,
        "table has a default sort order; clear it (setSortOrder(path, Nil)) " +
          "before declaring a z-order — the writer cannot honor both")
    }
    updateMetadata(tablePath, meta) { root =>
      val props = objectNode(root, "properties")
      if (cols.isEmpty) props.remove(ZorderProp): Unit
      else props.put(ZorderProp, cols.mkString(",")): Unit
    }
  }

  /** 32→64-bit Morton bit-spread (the classic magic-mask cascade) —
    * pure long arithmetic, whole-stage-codegen'd. */
  private def spreadBits(c: Column): Column = {
    val x1 = c.bitwiseOR(shiftleft(c, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x3333333333333333L))
    x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Generic stride-k bit spread: bit j of `c` (a `bits`-wide value)
    * lands at position j*k — one OR-fold of masked shifts, all long
    * arithmetic. Used for 3- and 4-way interleaves; the 2-way case
    * keeps the cheaper magic-mask cascade. */
  private def spreadBitsK(c: Column, k: Int, bits: Int): Column =
    (0 until bits).map(j =>
      shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), j * k))
      .reduce(_ bitwiseOR _)

  /** Z-value of 2-4 int columns: sign-flip each to its unsigned 32-bit
    * ordinal (nulls first, as the smallest ordinal), interleave, and
    * flip the top bit so SIGNED long comparison orders the packed
    * value as unsigned. k=2 interleaves the full 32 bits (exact);
    * k=3/4 keep the LOW 21/16 ordinal bits (values collide only when
    * 2^21/2^16 apart — exact layout for the bucket/enum/date-ordinal
    * ranges z-ordering targets; beyond that the curve wraps, which
    * only coarsens clustering, never correctness: pruning reads the
    * REAL column bounds, the z-value is layout-only). Taking TOP bits
    * instead would collapse every small-range column to one cell. */
  private def zValue(cs: Seq[Column]): Column = {
    val k = cs.size
    val bitsPer = 64 / k // 32 / 21 / 16
    def ord(c0: Column): Column = {
      val full = coalesce(c0, lit(Int.MinValue)).cast("long") + lit(2147483648L)
      if (bitsPer == 32) full else full.bitwiseAND(lit((1L << bitsPer) - 1))
    }
    val parts = cs.zipWithIndex.map { case (c0, i) =>
      val spread =
        if (k == 2) spreadBits(ord(c0))
        else spreadBitsK(ord(c0), k, bitsPer)
      shiftleft(spread, i)
    }
    parts.reduce(_ bitwiseOR _).bitwiseXOR(lit(Long.MinValue))
  }

  /** Partition-spec EVOLUTION (metadata-only commit): make
    * `partitionCols`/`partitionTransforms` the table's new DEFAULT spec.
    * Existing files stay under the spec they were written with — the
    * reader prunes each file against its OWN spec (manifests record the
    * spec id) and keeps files whose spec can't resolve a filter; new
    * appends write under the new spec. Passing `Nil` un-partitions
    * future writes. Field ids follow the spec's reuse rule: a field
    * equivalent to one in ANY prior spec (same source id + transform)
    * keeps its id; fresh fields take ids above `last-partition-id`. */
  def updatePartitionSpec(tablePath: String, partitionCols: Seq[String],
                          partitionTransforms: Map[String, String] = Map.empty): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "partition-spec evolution requires format v2")
    require(partitionCols.distinct == partitionCols,
      s"duplicate partition columns: ${partitionCols.mkString(",")}")
    require(partitionCols.forall(meta.schema.fieldNames.contains),
      s"partition columns ${partitionCols.mkString(",")} not all in schema " +
        s"(have: ${meta.schema.fieldNames.mkString(", ")})")
    require(partitionCols.forall(c =>
        meta.schema(c).dataType != org.apache.spark.sql.types.NullType),
      "unknown (NullType) columns cannot be partition sources — the " +
        "type stores no values")
    require(partitionTransforms.keySet.subsetOf(partitionCols.toSet),
      "partitionTransforms keys must be partition columns")
    // validate every transform resolves against its source type NOW —
    // same create-time discipline; an evolve that only fails at the next
    // append helps nobody
    partitionCols.foreach { c0 =>
      val t = partitionTransforms.getOrElse(c0, "identity")
      IcebergTransforms.storedColumn(t, c0, meta.schema(c0).dataType): Unit
    }
    val fieldIdByName = meta.fieldById.map(_.swap)
    // (source-id, transform) -> existing partition-field id, across ALL
    // prior specs (the spec's id-reuse rule)
    val existingIds: Map[(Int, String), Int] = meta.specsById.toSeq.flatMap {
      case (sid, fields) => fields.zip(meta.specFieldIds(sid)).map {
        case ((_, t, srcId), fid) => (srcId, t) -> fid }
    }.toMap
    updateMetadata(tablePath, meta) { root =>
      require(root.has("partition-specs"),
        "table metadata has no partition-specs array (legacy v1 layout)")
      val specs = root.get("partition-specs").asInstanceOf[ArrayNode]
      val newSpecId = meta.specsById.keys.max + 1
      var lastPartId =
        Option(root.get("last-partition-id")).map(_.asInt).getOrElse(999)
      val spec = specs.addObject()
      spec.put("spec-id", newSpecId)
      val arr = spec.putArray("fields")
      partitionCols.foreach { c0 =>
        val t = partitionTransforms.getOrElse(c0, "identity")
        val srcId = fieldIdByName(c0)
        val fid = existingIds.getOrElse((srcId, t), { lastPartId += 1; lastPartId })
        val f = arr.addObject()
        f.put("name", partFieldName(c0, t))
        f.put("transform", t)
        f.put("source-id", srcId)
        f.put("field-id", fid): Unit
      }
      root.put("default-spec-id", newSpecId)
      root.put("last-partition-id", lastPartId): Unit
    }
  }

  /** Table property tombstoning the names [[dropColumn]] removed. */
  private val DroppedColumnsProp = "graft.dropped-columns"

  /** Names tombstoned by [[dropColumn]] (empty when none). */
  private def droppedNames(meta: IcebergIO.TableMetadata): Set[String] =
    meta.properties.get(DroppedColumnsProp).filter(_.nonEmpty)
      .map(_.split(",").toSet).getOrElse(Set.empty)

  /** Apply `mutate` to a copy of the CURRENT schema node: v2 appends the
    * evolved copy to `schemas` under a fresh schema-id (history kept);
    * v1 mutates the single `schema` node in place. Never rebuilds via
    * schemaJson — external tables may carry non-positional field ids. */
  private def evolveSchema(newRoot: ObjectNode)(mutate: ObjectNode => Unit): Unit =
    if (newRoot.has("schemas")) {
      val schemas = newRoot.get("schemas").asInstanceOf[ArrayNode]
      val curId = newRoot.get("current-schema-id").asInt
      val cur = (0 until schemas.size).map(schemas.get)
        .find(_.get("schema-id").asInt == curId)
        .getOrElse(throw new IllegalStateException(
          s"current-schema-id $curId not found"))
      val evolved = cur.deepCopy().asInstanceOf[ObjectNode]
      val newSchemaId = (0 until schemas.size)
        .map(schemas.get(_).get("schema-id").asInt).max + 1
      evolved.put("schema-id", newSchemaId)
      mutate(evolved)
      schemas.add(evolved)
      newRoot.put("current-schema-id", newSchemaId): Unit
    } else {
      mutate(newRoot.get("schema").asInstanceOf[ObjectNode])
    }

  /** Compaction (the `rewrite_data_files` maintenance action): read the
    * live rows — existing position/equality deletes APPLIED — and commit
    * them as one fresh set of right-sized files (operation `replace`).
    * Small files merge, accumulated delete files fall away, and row
    * content is unchanged; prior snapshots stay time-travelable (old
    * files are not removed from disk — see [[expireSnapshots]]). The
    * small-file problem is THE maintenance cost of a long-lived MoR
    * table at scale; `maxRecordsPerFile` bounds the output file grain.
    * On v3 tables row lineage is PRESERVED: each surviving row's
    * `_row_id` AND `_last_updated_sequence_number` are materialized
    * into the rewritten files (spec rule — a content-preserving rewrite
    * must change neither row identity nor its last-modified seq), so
    * [[IcebergIO.readWithRowId]] reads the same values before and
    * after. Rows that
    * had no id yet (pre-upgrade files with null `first_row_id`) get
    * fresh ids from the new files' assignment — the spec's lazy
    * assignment on first rewrite. Returns the snapshot id. */
  def compact(spark: SparkSession, tablePath: String,
              maxRecordsPerFile: Option[Long] = None): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    val live = currentSnapshot(meta).toSeq.flatMap(IcebergIO.liveFiles(spark, _))
    commitData(liveRows(spark, meta, live), tablePath, maxRecordsPerFile,
      operation = "replace", base = Some(meta))
  }

  /** The rows `files` hold with their deletes applied — v3: with each
    * row's lineage pair, which a rewrite materializes into the new files
    * (rewrites must not change row identity). */
  private def liveRows(spark: SparkSession, meta: IcebergIO.TableMetadata,
                       files: Seq[IcebergIO.ContentFile]): DataFrame =
    if (meta.formatVersion >= 3) IcebergIO.lineageRead(spark, meta, files)
    else IcebergIO.mergeRead(spark, meta, files, withIdentity = false)

  /** The current snapshot of `meta` (None for an empty table). */
  private def currentSnapshot(meta: IcebergIO.TableMetadata): Option[IcebergIO.SnapshotInfo] =
    meta.currentSnapshotId.flatMap(id => meta.snapshots.find(_.snapshotId == id))

  /** The current snapshot, or `IllegalArgumentException("cannot <what>
    * an empty table")`. */
  private def requireSnapshot(meta: IcebergIO.TableMetadata, tablePath: String,
                              what: String): IcebergIO.SnapshotInfo =
    currentSnapshot(meta).getOrElse(throw new IllegalArgumentException(
      s"cannot $what an empty table: $tablePath"))

  /**
   * FILTERED compaction — the runtime jar's `rewrite_data_files(table,
   * where => …)`: rewrite ONLY the data files whose partition tuple /
   * stats may hold rows matching `cond` (the same planning-time pruning
   * a read would use — conservative selection can only rewrite extra
   * files, never lose rows), folding their deletes away; every other
   * file carries EXISTING at its original sequence number. At 100 TB
   * this is the difference between compacting one hot partition and
   * rewriting the table.
   *
   * Delete handling: parquet position-delete files are KEPT (one file
   * may name both rewritten and untouched targets; entries naming
   * rewritten files dangle harmlessly — the reader's (file, pos)
   * anti-join matches nothing). v3 deletion vectors of REWRITTEN
   * targets are DROPPED (a DV names exactly one file); kept targets'
   * DVs carry. Equality deletes are KEPT: they still apply to
   * untouched old-seq files, and the rewritten rows move to the new
   * sequence number as post-delete survivors — exactly the rows the
   * delete would have left. Row visibility is unchanged BY
   * CONSTRUCTION, so the changelog skips the `replace` snapshot; it
   * adds data files at a new sequence number, so incremental reads
   * across it fail loudly (as across [[compact]]). Selecting EVERY data
   * file degenerates to [[compact]]. Returns the snapshot id (no file
   * selected → no-op, the current id).
   */
  def compactWhere(spark: SparkSession, tablePath: String,
                   cond: org.apache.spark.sql.Column,
                   maxRecordsPerFile: Option[Long] = None): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "compactWhere requires format v2 (explicit sequence numbers)")
    val snap = requireSnapshot(meta, tablePath, "compact")
    val live = IcebergIO.liveFiles(spark, snap)
    val dataFiles = live.filter(_.content == 0)
    val deletes = live.filter(_.content != 0)
    val selected = IcebergIO.pruneDataFilesWhere(meta, dataFiles, cond)
      .filter(_.content == 0)
    if (selected.isEmpty) return snap.snapshotId
    val selectedNorm = selected.map(f => IcebergIO.normalizePath(f.path)).toSet
    val kept = dataFiles.filterNot(f =>
      selectedNorm(IcebergIO.normalizePath(f.path)))
    // post-delete rows of ONLY the selected files (deletes fold away)
    val files = stageDataFiles(liveRows(spark, meta, selected ++ deletes),
      tablePath, meta, maxRecordsPerFile)
    // selecting every data file degenerates to compact: nothing carries;
    // else untouched data + every delete file except DVs of rewritten
    // targets carry EXISTING
    val existing =
      if (kept.isEmpty) Nil
      else kept ++ deletes.filterNot(f => f.content == 1 &&
        f.format == "PUFFIN" && f.referencedDataFile.exists(r =>
          selectedNorm(IcebergIO.normalizePath(r))))
    produce(tablePath, meta, "replace", added = files, existing = existing,
      carry = CarryNone,
      summary = Map("rewritten-data-files" -> selected.size.toString))
  }

  /** MANIFEST compaction (metadata-only): fold the current snapshot's
    * live entries into ONE manifest per (content kind, partition spec)
    * and publish a `replace` snapshot whose list names only those — a
    * table that accumulated one tiny manifest per append plans in
    * O(groups) manifest opens again without touching a single data
    * file (compare [[compact]], which rewrites the data too). Entries
    * are carried as status EXISTING with their ORIGINAL sequence
    * numbers made explicit — the v2 delete-application rule
    * (`data seq < delete seq`) must keep holding across the rewrite —
    * and their original adding snapshot where the manifest recorded
    * one. Carried stats: record counts, bounds, null/NaN counts,
    * equality ids, partition tuples, file sizes. (Optional fields this
    * reader never consumes — value_counts, column_sizes,
    * split_offsets — are not carried; spec-optional.) Earlier
    * snapshots keep their own manifest lists and stay time-travelable.
    * v2 only. Returns the snapshot id. */
  def rewriteManifests(spark: SparkSession, tablePath: String): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "rewriteManifests requires format v2 (explicit sequence numbers)")
    val files = IcebergIO.liveFiles(spark,
      requireSnapshot(meta, tablePath, "rewrite manifests of"))
    require(files.nonEmpty, s"no live content files in $tablePath")
    produce(tablePath, meta, "replace", existing = files, carry = CarryNone)
  }

  /** POSITION-DELETE compaction (the runtime jar's
    * `rewrite_position_deletes` maintenance action): fold the current
    * snapshot's live position-delete files into ONE consolidated file —
    * dropping "dangling" entries whose target data file is no longer
    * live — and publish a `replace` snapshot. Row visibility is
    * unchanged BY CONSTRUCTION (the same (file, pos) identities stay
    * deleted; only their packaging moves), so the snapshot carries the
    * rewritten-manifests marker and CDC/incremental/streaming readers
    * skip it like any other data-preserving rewrite. Data manifests are
    * carried VERBATIM (commit cost independent of table size);
    * equality-delete entries are carried EXISTING with their ORIGINAL
    * sequence numbers (the strict `data seq < delete seq` rule must
    * keep holding). The consolidated file sits at the NEW sequence
    * number — sound for position deletes, which name exact files: every
    * named file still satisfies `data seq <= delete seq`, and future
    * data files have new unique paths. No live position deletes → no-op
    * (returns the current snapshot id). v2 only.
    *
    * Why it matters at scale: every [[deleteWhere]]/[[updateWhere]]
    * commit adds one more delete file that EVERY subsequent read
    * anti-joins; after k delete commits merge-on-read pays k extra
    * scans. This folds them back to one without rewriting a single
    * data file (compare [[compact]], which pays the full data
    * rewrite). */
  def rewritePositionDeletes(spark: SparkSession, tablePath: String): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "rewritePositionDeletes requires format v2 (position deletes)")
    val snap = requireSnapshot(meta, tablePath, "rewrite deletes of")
    val files = IcebergIO.liveFiles(spark, snap)
    val posFiles = files.filter(_.content == 1)
    if (posFiles.isEmpty) return snap.snapshotId
    val dataFiles = files.filter(_.content == 0)
    val eqFiles = files.filter(_.content == 2)
    // format v3: position deletes are DELETION VECTORS (one per target
    // already) — "rewrite" = consolidate every live DV into ONE puffin
    // file, dropping dangling targets
    val added =
      if (meta.formatVersion >= 3)
        stageDvs(spark, tablePath, meta, files, PositionDeletes.empty(spark),
          consolidate = true).added
      else {
        // Consolidated rows: union of the live delete files' (file_path,
        // pos) pairs, restricted to paths that still name a LIVE data
        // file (a dangling entry's target was compacted/overwritten away
        // — dropping it changes nothing any reader can see),
        // deduplicated, sorted into one file. The live-path set is
        // planning metadata (O(files)) and rides a broadcast semi-join,
        // never a shuffle of the delete rows.
        val livePathsDf = spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            dataFiles.map(f => org.apache.spark.sql.Row(
              IcebergIO.normalizePath(f.path))).asJava),
          StructType(Seq(StructField("__gf_lp", StringType, nullable = false))))
        stagePositionDeletes(spark, tablePath, meta,
          PositionDeletes.read(spark, posFiles)
            .join(org.apache.spark.sql.functions.broadcast(livePathsDf),
              col("__gf_file") === col("__gf_lp"), "leftsemi")
            .select("file_path", "pos")
            .distinct()
            .coalesce(1).sortWithinPartitions("file_path", "pos"))
      }
    // data manifests carry verbatim; equality entries EXISTING at their
    // original seqs
    produce(tablePath, meta, "replace", added = added, existing = eqFiles,
      carry = CarryData,
      summary = Map("rewritten-position-deletes" -> "true",
        "removed-delete-files" -> posFiles.size.toString))
  }

  /** Convert accumulated EQUALITY deletes to POSITION deletes — the
    * third delete-maintenance verb (with [[rewritePositionDeletes]] and
    * [[compact]]): every read of a table holding equality deletes pays
    * one value-comparing anti-join per distinct equality-id set, while
    * position deletes are a single cheap (file, pos) anti-join. The
    * rows an equality delete kills are FROZEN by the sequence rule
    * (only data with `seq < delete seq` — all of it already committed),
    * so naming their exact positions once is semantically equivalent
    * for every future read: the killed pairs are computed as the
    * identity diff of the current view WITHOUT vs WITH the equality
    * deletes applied (two merge-on-read scans + one anti-join — a
    * maintenance job, cheaper than [[compact]]'s full rewrite), written
    * as ONE position-delete file at the new sequence number, and the
    * equality-delete files are dropped. Rows re-inserted AFTER the
    * conversion still survive — position deletes name old files only —
    * exactly as they would have under the equality rule. Prior position
    * deletes are carried EXISTING at their original sequence numbers;
    * data manifests are carried verbatim. `replace` +
    * rewritten-manifests markers keep CDC/incremental/streaming readers
    * skipping it (row visibility is unchanged BY CONSTRUCTION). No live
    * equality deletes → no-op. v2 only. Follow with
    * [[rewritePositionDeletes]] to fold everything into one file. */
  def convertEqualityDeletes(spark: SparkSession, tablePath: String): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "convertEqualityDeletes requires format v2")
    val snap = requireSnapshot(meta, tablePath, "convert deletes of")
    val files = IcebergIO.liveFiles(spark, snap)
    val eqFiles = files.filter(_.content == 2)
    if (eqFiles.isEmpty) return snap.snapshotId
    val dataFiles = files.filter(_.content == 0)
    val posFiles = files.filter(_.content == 1)

    // rows the equality deletes kill = identity diff of the view
    // without vs with them (both apply the position deletes, so the
    // diff isolates exactly the equality effect)
    val withoutEq = IcebergIO
      .mergeRead(spark, meta, dataFiles ++ posFiles, withIdentity = true)
      .select(col("__gf_file"), col("__gf_pos"))
    val withEq = IcebergIO.mergeRead(spark, meta, files, withIdentity = true)
      .select(col("__gf_file"), col("__gf_pos"))
    val killed = withoutEq
      .join(withEq, Seq("__gf_file", "__gf_pos"), "left_anti")
      .select(col("__gf_file").as("file_path"),
        col("__gf_pos").cast("long").as("pos"))
    // the killed pairs become one position-delete file (v3: DELETION
    // VECTORS merged into the existing ones) and the equality entries
    // drop; prior position deletes carry EXISTING at their original seqs
    // (dangling/no-op equality deletes kill nothing -> they simply drop)
    val (added, keptDeletes) =
      if (meta.formatVersion >= 3) {
        val dv = stageDvs(spark, tablePath, meta, files, killed)
        (dv.added, dv.kept)
      } else (stagePositionDeletes(spark, tablePath, meta,
        killed.coalesce(1).sortWithinPartitions("file_path", "pos")), posFiles)
    produce(tablePath, meta, "replace", added = added, existing = keptDeletes,
      carry = CarryData,
      summary = Map("converted-equality-deletes" -> eqFiles.size.toString))
  }

  /** Expire snapshots older than `olderThanMs` (metadata-only commit:
    * snapshots + snapshot-log entries are dropped; data/manifest files
    * stay on disk — removing them is a separate GC concern). The current
    * snapshot, every ref target, and the `retainLast` most recent
    * snapshots always survive, mirroring the reference maintenance
    * action's safety rails. Dangling parent-snapshot-ids are fine: the
    * incremental reader's lineage walk degrades gracefully. Returns the
    * number of snapshots expired. */
  def expireSnapshots(tablePath: String, olderThanMs: Long,
                      retainLast: Int = 1): Int = {
    require(retainLast >= 1, "retainLast must be >= 1")
    val meta = IcebergIO.loadMetadata(tablePath)
    def retention(ref: String, field: String): Option[Long] =
      meta.refRetention.getOrElse(ref, Map.empty).get(field)
    // spec ref retention (`max-ref-age-ms`, non-main refs only): a ref
    // whose referenced snapshot is older than its age cap is DROPPED by
    // expiration — its snapshot then unpins like any other (the Iceberg
    // RemoveSnapshots rule; ref age is measured off the snapshot's
    // timestamp, since refs carry none of their own)
    val now = System.currentTimeMillis()
    val byId = meta.snapshots.map(sn => sn.snapshotId -> sn).toMap
    val agedOutRefs: Set[String] = meta.refs.collect {
      case (name, sid) if name != "main" && retention(name, "max-ref-age-ms")
          .exists(cap => now - byId.get(sid).map(_.timestampMs)
            .getOrElse(Long.MaxValue) > cap) => name
    }.toSet
    val liveRefs = meta.refs -- agedOutRefs
    // spec BRANCH retention: a branch ref carrying max-snapshot-age-ms /
    // min-snapshots-to-keep extends the keep set with its own ANCESTRY
    // (lineage snapshots within the age cap, plus at least the newest
    // min-snapshots-to-keep of the lineage — the head is lineage[0] and
    // always kept via the ref pin)
    val branchKeeps: Set[Long] = liveRefs.toSeq.flatMap { case (name, head) =>
      val maxAge = retention(name, "max-snapshot-age-ms")
      val minKeep = retention(name, "min-snapshots-to-keep")
      val lineage =
        if (maxAge.isEmpty && minKeep.isEmpty) Nil
        else Iterator.iterate(byId.get(head))(_.flatMap(_.parentId).flatMap(byId.get))
          .takeWhile(_.isDefined).map(_.get).toSeq
      maxAge.toSeq.flatMap(a => lineage.filter(sn => now - sn.timestampMs <= a)) ++
        minKeep.toSeq.flatMap(k => lineage.take(k.toInt))
    }.map(_.snapshotId).toSet
    val keep: Set[Long] = {
      val pinned = meta.currentSnapshotId.toSet ++ liveRefs.values ++
        branchKeeps
      val recent = meta.snapshots.sortBy(-_.timestampMs)
        .take(retainLast).map(_.snapshotId)
      val young = meta.snapshots.filter(_.timestampMs >= olderThanMs)
        .map(_.snapshotId)
      pinned ++ recent ++ young
    }
    val expired = meta.snapshots.map(_.snapshotId).filterNot(keep).toSet
    if (expired.isEmpty && agedOutRefs.isEmpty) return 0
    updateMetadata(tablePath, meta) { root =>
      agedOutRefs.foreach(objectNode(root, "refs").remove(_): Unit)
      // statistics files of expired snapshots are unreachable (the
      // reader looks up stats by CURRENT snapshot id) — drop their
      // entries so removeOrphanFiles can sweep the files (it keeps every
      // path the metadata still registers)
      Seq("snapshots", "snapshot-log", "statistics", "partition-statistics")
        .foreach(name => retain(arrayNode(root, name))(n =>
          !expired.contains(n.get("snapshot-id").asLong)))
    }
    expired.size
  }

  /** Physically delete files under the table root that NO snapshot in
    * the current metadata references — the GC half [[expireSnapshots]]
    * deliberately leaves to a separate action (expire first, then
    * sweep). Referenced = every content file named by any retained
    * snapshot's manifests (ANY entry status — an older snapshot may
    * still read a DELETED entry's file), every manifest and manifest
    * list, and every `*.metadata.json` + the version hint (metadata
    * history stays; its expired-snapshot manifests do not). Only files
    * modified BEFORE `olderThanMs` are removed, so a concurrent
    * writer's freshly staged files survive the sweep (the
    * remove-orphan-files safety valve; default 3 days back). Returns
    * the deleted paths. */
  def removeOrphanFiles(tablePath: String,
                        olderThanMs: Long =
                          System.currentTimeMillis() - 3L * 24 * 3600 * 1000)
      : Seq[String] = {
    val meta = IcebergIO.loadMetadata(tablePath)
    val referenced = scala.collection.mutable.Set.empty[String]
    def ref(p: String): Unit = { referenced += IcebergIO.normalizePath(p): Unit }
    // a manifest carried forward by k snapshots parses ONCE (same dedupe
    // as the whole-history relations — the naive per-snapshot walk is
    // O(snapshots x manifests) on long-history tables)
    val seenManifests = scala.collection.mutable.Set.empty[String]
    def refManifest(m: String): Unit =
      if (seenManifests.add(IcebergIO.normalizePath(m))) {
        ref(m)
        IcebergIO.foreachAvroRecord(m) { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          ref(df.get("file_path").toString)
        }
      }
    meta.snapshots.foreach { s =>
      s.manifestList match {
        case Some(ml) =>
          ref(ml)
          val manifests = scala.collection.mutable.ArrayBuffer.empty[String]
          IcebergIO.foreachAvroRecord(ml)(
            r => manifests += r.get("manifest_path").toString)
          manifests.foreach(refManifest)
        case None => s.manifests.foreach(refManifest)
      }
    }
    // registered statistics files (table + partition stats) are metadata
    // the manifest walk never sees — keep them while an entry points at
    // them (expireSnapshots drops the entries of expired snapshots, so
    // their files become sweepable then)
    meta.statisticsFiles.foreach { case (_, p) => ref(p) }
    meta.partitionStatistics.foreach { case (_, p) => ref(p) }
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def keepByName(n: String): Boolean =
      n.endsWith(".metadata.json") || n == "version-hint.text" ||
        n == "_SUCCESS"
    def walk(d: String): Unit = GraftFs.list(d).foreach { st =>
      val p = st.getPath.toString
      if (st.isDirectory) walk(p)
      else if (!keepByName(st.getPath.getName) &&
        !referenced.contains(IcebergIO.normalizePath(p)) &&
        st.getModificationTime < olderThanMs) {
        if (GraftFs.delete(p, recursive = false)) deleted += p
      }
    }
    walk(tablePath)
    deleted.toSeq
  }

  /** Compute and REGISTER a partition-statistics file for the current
    * snapshot (spec "Partition statistics"): one parquet row per
    * (partition tuple, spec) carrying data/delete record+file counts and
    * data byte totals, written under `metadata/` with the spec's schema —
    * the unified partition struct (every spec's fields, spec field ids
    * stamped) plus the count fields at their reserved ids (1-9) — and
    * recorded in table metadata's `partition-statistics` list keyed on
    * the snapshot id. Readers ([[IcebergIO.partitionStats]], the
    * `.partition_stats` relation) then answer partition-grain questions
    * from ONE small parquet instead of a whole manifest walk — the point
    * at 100k-file scale. Deletion-vector entries count as position
    * deletes (their record count is the bitmap cardinality, the v3
    * analog). Stats grain is the MANIFEST walk the planner already does;
    * the file itself is partition-count-sized. Returns the stats path. */
  def computePartitionStats(spark: SparkSession, tablePath: String): String = {
    val meta = IcebergIO.loadMetadata(tablePath)
    val snap = requireSnapshot(meta, tablePath, "compute partition stats of")
    val files = IcebergIO.liveFiles(spark, snap)

    // unified partition struct: every spec's fields at their spec field
    // ids (the reuse rule gives one id per (source, transform) — dedupe
    // by id), typed as the STORED representation, all nullable (a file
    // of spec A has nulls in spec B's fields)
    val unified: Seq[(Int, String, DataType)] =
      meta.specsById.keys.toSeq.sorted.flatMap { sid =>
        val (pct, fids) = partitionType(meta, sid)
        fids.zip(pct).map { case (fid, (n, t, _)) => (fid, n, t) }
      }.distinctBy(_._1).sortBy(_._1)
    val partStruct = StructType(unified.map { case (fid, n, t) =>
      StructField(n, t, nullable = true, new MetadataBuilder()
        .putLong("parquet.field.id", fid.toLong).build())
    })
    def countField(name: String, t: DataType, fid: Int): StructField =
      StructField(name, t, nullable = false, new MetadataBuilder()
        .putLong("parquet.field.id", fid.toLong).build())
    val statsSchema = StructType(
      (if (unified.nonEmpty)
         Seq(StructField("partition", partStruct, nullable = false,
           new MetadataBuilder().putLong("parquet.field.id", 1L).build()))
       else Nil) ++ Seq(
        countField("spec_id", IntegerType, 2),
        countField("data_record_count", LongType, 3),
        countField("data_file_count", IntegerType, 4),
        countField("total_data_file_size_in_bytes", LongType, 5),
        countField("position_delete_record_count", LongType, 6),
        countField("position_delete_file_count", IntegerType, 7),
        countField("equality_delete_record_count", LongType, 8),
        countField("equality_delete_file_count", IntegerType, 9)))

    // partition grain: same driver walk the planner does (the row count
    // is bounded by live partitions, not files)
    val rows = files
      .groupBy(f => (f.specId,
        f.partitionValues.toSeq.sortBy(_._1).map(kv => String.valueOf(kv._2))))
      .toSeq
      .map { case ((specId, _), fs) =>
        val tuple = fs.head.partitionValues
        val data = fs.filter(_.content == 0)
        val pos = fs.filter(_.content == 1)
        val eq = fs.filter(_.content == 2)
        val counts = Seq[Any](specId,
          data.map(_.recordCount).sum, data.size,
          data.map(_.bytes).sum,
          pos.map(_.recordCount).sum, pos.size,
          eq.map(_.recordCount).sum, eq.size)
        if (unified.nonEmpty)
          Row.fromSeq(Row.fromSeq(
            unified.map { case (_, n, _) => tuple.getOrElse(n, null) }) +: counts)
        else Row.fromSeq(counts)
      }
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), statsSchema)

    val metaDir = GraftFs.child(tablePath, "metadata")
    val tmp = GraftFs.child(tablePath,
      s"_tmp_pstats_${java.util.UUID.randomUUID().toString.take(8)}")
    val to = GraftFs.child(metaDir,
      s"partition-stats-${snap.snapshotId}-" +
        s"${java.util.UUID.randomUUID().toString.take(8)}.parquet")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val staged = listParquetLeaves(tmp)
      require(staged.size == 1,
        s"expected one staged stats file, got ${staged.size}")
      if (!GraftFs.rename(staged.head.getPath.toString, to))
        throw new java.io.IOException(
          s"rename failed: ${staged.head.getPath} -> $to")
    } finally GraftFs.delete(tmp, recursive = true)

    // register: replace any prior entry for this snapshot (recompute),
    // keep other snapshots' entries (time travel may still want them)
    updateMetadata(tablePath, meta, created = Seq(to)) { root =>
      val e = statsEntry(root, "partition-statistics", snap.snapshotId, to)
      e.put("file-size-in-bytes",
        GraftFs.status(to).map(_.getLen).getOrElse(0L)): Unit
    }
    to
  }

  /** A fresh `list` entry registering stats file `path` for
    * `snapshotId`, replacing any prior entry for that snapshot. */
  private def statsEntry(root: ObjectNode, list: String, snapshotId: Long,
                         path: String): ObjectNode = {
    val e = retain(arrayNode(root, list))(_.get("snapshot-id").asLong != snapshotId)
      .addObject()
    e.put("snapshot-id", snapshotId)
    e.put("statistics-path", path)
    e
  }

  /** Compute and REGISTER a table-statistics Puffin file for the current
    * snapshot (spec "Table statistics"): per-column distinct counts
    * (NDV) over the table's LIVE rows (merge-on-read — deletes applied),
    * one [[PuffinIO.NdvBlobType]] blob per column with the count in both
    * the payload and the blob's `ndv` property (the spec's stats-blob
    * convention), recorded in table metadata's `statistics` list.
    * Readers ([[IcebergIO.tableStats]], the `.statistics` relation)
    * serve NDV without touching a data file — what a cost-based planner
    * or a dedup-rate monitor reads at 100-TB scale.
    *
    * `approximate = true` swaps the exact `count(distinct)` for
    * HyperLogLog (`approx_count_distinct`) — the realistic choice at
    * very large scale (exact NDV of a high-cardinality column is a
    * corpus-sized shuffle); the blob layout is identical. Defaults to
    * exact, which is what the DuckDB oracle replays. Either way it is
    * ONE aggregate job over the selected columns. Complex-typed columns
    * (arrays/structs/maps/binary) are skipped unless explicitly named
    * (then rejected loudly). Returns the statistics path. */
  def computeTableStats(spark: SparkSession, tablePath: String,
                        columns: Seq[String] = Nil,
                        approximate: Boolean = false): String = {
    val meta = IcebergIO.loadMetadata(tablePath)
    val snap = requireSnapshot(meta, tablePath, "compute table stats of")
    def atomic(dt: DataType): Boolean = dt match {
      case _: StructType | _: ArrayType | _: MapType | BinaryType => false
      // the v3 `unknown` bottom type stores no values — an NDV blob for
      // it would be a stat over nothing (same boundary as eq-deletes
      // and defaults on it)
      case org.apache.spark.sql.types.NullType => false
      case _ => true
    }
    val cols: Seq[String] =
      if (columns.isEmpty) meta.schema.fields.toSeq
        .filter(f => atomic(f.dataType)).map(_.name)
      else {
        columns.foreach { c =>
          require(meta.schema.fieldNames.contains(c),
            s"unknown column '$c' (have: ${meta.schema.fieldNames.mkString(", ")})")
          require(atomic(meta.schema(c).dataType),
            s"column '$c' has a complex or valueless type " +
              s"(${meta.schema(c).dataType}) — NDV stats cover atomic " +
              "value types only")
        }
        columns
      }
    require(cols.nonEmpty, "no atomic columns to compute stats for")
    val aggs = cols.map { c =>
      (if (approximate) approx_count_distinct(col(c))
       else countDistinct(col(c))).cast("long").as(c)
    }
    val row = IcebergIO.read(spark, tablePath).agg(aggs.head, aggs.tail: _*)
      .head()
    val idByName = meta.fieldById.map(_.swap)
    val blobs = cols.zipWithIndex.map { case (c, i) =>
      val ndv = row.getLong(i)
      PuffinIO.Blob(PuffinIO.NdvBlobType, PuffinIO.ndvPayload(ndv),
        Map("ndv" -> ndv.toString), fields = Seq(idByName(c)))
    }
    val metaDir = GraftFs.child(tablePath, "metadata")
    val to = GraftFs.child(metaDir,
      s"table-stats-${snap.snapshotId}-" +
        s"${java.util.UUID.randomUUID().toString.take(8)}.puffin")
    PuffinIO.writePuffin(to, blobs, snap.snapshotId, snap.sequenceNumber)
    updateMetadata(tablePath, meta, created = Seq(to)) { root =>
      val e = statsEntry(root, "statistics", snap.snapshotId, to)
      e.put("file-size-in-bytes", GraftFs.status(to).map(_.getLen).getOrElse(0L))
      e.put("file-footer-size-in-bytes", PuffinIO.footerSize(to))
      val bm = e.putArray("blob-metadata")
      blobs.foreach { b =>
        val n = bm.addObject()
        n.put("type", b.blobType)
        n.put("snapshot-id", snap.snapshotId)
        n.put("sequence-number", snap.sequenceNumber)
        val fa = n.putArray("fields")
        b.fields.foreach(fa.add)
        val props = n.putObject("properties")
        b.properties.foreach { case (k, v) => props.put(k, v) }
      }
    }
    to
  }

  /** Roll the table back (or forward) to `snapshotId`: a metadata-only
    * commit that makes it the current snapshot again — the
    * `rollback_to_snapshot` / `set_current_snapshot` maintenance action.
    * Later snapshots stay in metadata (still time-travelable by id,
    * still expirable); `main` and the snapshot log move, so subsequent
    * reads and as-of time travel resolve to the restored state. */
  def setCurrentSnapshot(tablePath: String, snapshotId: Long): Unit = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.snapshots.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId not in table (have: " +
        s"${meta.snapshots.map(_.snapshotId).sorted.mkString(", ")})")
    if (meta.currentSnapshotId.contains(snapshotId)) return
    updateMetadata(tablePath, meta)(
      moveMain(_, snapshotId, Seq(snapshotId), System.currentTimeMillis()))
  }

  /** Create a named TAG pinning `snapshotId` (immutable bookmark; the
    * reader resolves it via `read(ref = Some(name))`). Fails on a
    * duplicate name — refs are create-once, drop, re-create. */
  def createTag(tablePath: String, name: String, snapshotId: Long,
                maxRefAgeMs: Option[Long] = None): Unit =
    createRef(tablePath, name, snapshotId, "tag", maxRefAgeMs)

  /** Create a named BRANCH at `snapshotId`. This writer only commits to
    * `main`, so a created branch is a readable pin like a tag until an
    * external engine moves it — but the type is recorded faithfully. */
  def createBranch(tablePath: String, name: String, snapshotId: Long,
                   maxRefAgeMs: Option[Long] = None,
                   maxSnapshotAgeMs: Option[Long] = None,
                   minSnapshotsToKeep: Option[Int] = None): Unit =
    createRef(tablePath, name, snapshotId, "branch", maxRefAgeMs,
      maxSnapshotAgeMs, minSnapshotsToKeep)

  private def createRef(tablePath: String, name: String, snapshotId: Long,
                        refType: String,
                        maxRefAgeMs: Option[Long] = None,
                        maxSnapshotAgeMs: Option[Long] = None,
                        minSnapshotsToKeep: Option[Int] = None): Unit = {
    require(name != "main", "'main' moves with commits/setCurrentSnapshot")
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.snapshots.exists(_.snapshotId == snapshotId),
      s"snapshot $snapshotId not in table (have: " +
        s"${meta.snapshots.map(_.snapshotId).sorted.mkString(", ")})")
    require(!meta.refs.contains(name), s"ref '$name' already exists")
    // spec ref retention: [[expireSnapshots]] DROPS this ref once its
    // referenced snapshot is older than the age cap (the Iceberg
    // RemoveSnapshots basis — snapshots carry timestamps, refs don't)
    require(maxRefAgeMs.forall(_ >= 0), "max-ref-age-ms must be >= 0")
    // spec BRANCH retention: [[expireSnapshots]] keeps this branch's
    // ANCESTRY per these fields (lineage snapshots younger than the age
    // cap, and at least min-snapshots-to-keep newest) — the branch's
    // history survives a global expire that would otherwise strip it
    require(refType == "branch" ||
        (maxSnapshotAgeMs.isEmpty && minSnapshotsToKeep.isEmpty),
      "max-snapshot-age-ms / min-snapshots-to-keep apply to branches only")
    require(maxSnapshotAgeMs.forall(_ >= 0), "max-snapshot-age-ms must be >= 0")
    require(minSnapshotsToKeep.forall(_ >= 1), "min-snapshots-to-keep must be >= 1")
    updateMetadata(tablePath, meta) { root =>
      val r = setRef(root, name, snapshotId, refType)
      maxRefAgeMs.foreach(r.put("max-ref-age-ms", _))
      maxSnapshotAgeMs.foreach(r.put("max-snapshot-age-ms", _))
      minSnapshotsToKeep.foreach(r.put("min-snapshots-to-keep", _))
    }
  }

  /** Drop a named ref (tag or branch). `main` is not droppable. A
    * dropped ref's snapshot becomes eligible for [[expireSnapshots]]. */
  def dropRef(tablePath: String, name: String): Unit = {
    require(name != "main", "cannot drop the main branch")
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.refs.contains(name),
      s"ref '$name' not found (have: ${meta.refs.keys.toSeq.sorted.mkString(", ")})")
    updateMetadata(tablePath, meta)(objectNode(_, "refs").remove(name): Unit)
  }

  /** Merge-on-read DELETE by predicate: rows of the current snapshot
    * matching `cond` are removed via a v2 POSITION-delete file — the
    * data files are never rewritten. One distributed scan computes the
    * matching (file, row-ordinal) pairs; the reader applies them as an
    * anti-join. Positions name exact files, so this is partition-safe on
    * any table (the delete file is recorded partition-less). Re-deleting
    * an already-deleted row is a harmless no-op. Returns the snapshot
    * id. */
  def deleteWhere(spark: SparkSession, tablePath: String, cond: Column): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2, "position deletes require format v2")
    val live = IcebergIO.liveFiles(spark,
      requireSnapshot(meta, tablePath, "delete from"))
    val dataFiles = live.filter(_.content == 0)
    require(dataFiles.nonEmpty, s"no live data files in $tablePath")
    // planning-time pruning of the DELETE's scan: a file whose partition
    // tuple / stats provably exclude `cond` holds no position to delete
    // — a partition-scoped DELETE must not raw-scan a 100 TB table
    val pruned = IcebergIO.pruneDataFilesWhere(meta, dataFiles, cond)
    commitRowDelta(spark, tablePath, meta, live, "delete",
      matchedPositions(spark, meta, pruned)(_.filter(cond)))
  }

  /** Equality DELETE: any current-or-earlier row equal to a `values` row
    * on ALL of `values`' columns is removed (v2 equality-delete files;
    * the sequence-number rule means rows appended AFTER this delete
    * survive). An unpartitioned table gets ONE global delete file; a
    * partitioned table gets PARTITION-SCOPED files — one per affected
    * partition, derived by joining `values` against the current data
    * ([[stageScopedEqDelete]]; writing a single global file there would
    * read back as scoped to the NULL partition and mis-apply). Returns
    * the snapshot id. */
  def deleteEquality(values: DataFrame, tablePath: String,
                     summaryExtra: Map[String, String] = Map.empty): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2, "equality deletes require format v2")
    require(values.columns.nonEmpty, "deleteEquality needs at least one column")
    require(!values.columns.exists(_.startsWith("__gf")),
      "__gf-prefixed delete columns collide with internal names")
    produce(tablePath, meta, "delete",
      added = stageEqualityDeletes(values, tablePath, meta),
      summary = summaryExtra)
  }

  /** MERGE-style UPSERT in ONE atomic snapshot: table rows whose
    * `keyCols` tuple matches a `df` row are replaced by it; unmatched
    * `df` rows are inserted; everything else is untouched. The commit
    * carries an equality-delete manifest (on the keys) and a data
    * manifest at the SAME sequence number — the spec's strict
    * `data seq < delete seq` rule applies the delete to prior data only,
    * never to the rows being upserted, so no ordering between the two
    * manifests matters and a reader sees either the old or the new state
    * (never a mix). Partitioned tables get partition-scoped delete
    * files; upserting into an empty table degenerates to an append.
    * `df` must carry the full table schema (whole-row replacement).
    *
    * v3 row-lineage: by default an upsert "update" is semantically a
    * delete+insert (the equality delete never names positions), so
    * replaced rows get FRESH `_row_id`s. Pass `preserveLineage = true`
    * (format v3 only) to route matched keys through the MERGE UPDATE
    * carry path instead — a key that exists keeps its `_row_id` across
    * the upsert (the row's content changes, its identity does not),
    * while new keys still insert with fresh ids. Identity-preserving
    * upserts are what a keyed streaming replica chain wants: the
    * replica's lineage then tracks the source row across arbitrary
    * update bursts. The preserving form uses position deletes
    * (deletion vectors) on the matched rows instead of an equality
    * delete — same one-snapshot atomicity, and it requires the SOURCE
    * keys to be unique (the MERGE cardinality rule; plain upsert
    * tolerates duplicate source keys by letting the eq-delete collapse
    * them, which has no well-defined identity anyway).
    * Returns the snapshot id. */
  def upsert(df: DataFrame, tablePath: String, keyCols: Seq[String],
             maxRecordsPerFile: Option[Long] = None,
             summaryExtra: Map[String, String] = Map.empty,
             preserveLineage: Boolean = false): Long = {
    val spark = df.sparkSession
    if (preserveLineage) {
      val m = IcebergIO.loadMetadata(tablePath)
      require(m.formatVersion >= 3,
        "upsert(preserveLineage = true) requires format v3 (row lineage); " +
          "run upgradeFormatVersion first")
      requireTableSchema(df, m) // whole-row contract, same as plain upsert
      val allCols = df.columns.toSeq
        .map(n => n -> col(s"__gf_us.$n")).toMap
      return merge(spark, tablePath, df, keyCols,
        Seq(WhenMatchedUpdate(allCols), WhenNotMatchedInsert(allCols)),
        targetAlias = "__gf_ut", sourceAlias = "__gf_us",
        maxRecordsPerFile = maxRecordsPerFile, summaryExtra = summaryExtra)
    }
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2, "upsert requires format v2 (equality deletes)")
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(keyCols.forall(df.columns.contains),
      s"key columns ${keyCols.mkString(",")} not all in the upsert frame")
    require(!keyCols.exists(_.startsWith("__gf")),
      "__gf-prefixed key columns collide with internal names")
    requireTableSchema(df, meta)
    val keys = df.select(keyCols.map(col): _*).distinct()
    val delFiles = stageEqualityDeletes(keys, tablePath, meta)
    val dataFiles = stageAfter(delFiles)(
      stageDataFiles(df, tablePath, meta, maxRecordsPerFile))
    produce(tablePath, meta, "overwrite", added = delFiles ++ dataFiles,
      summary = summaryExtra)
  }

  /** SQL-UPDATE semantics in ONE atomic snapshot: every current row
    * matching `cond` is replaced by a copy with the `assignments`
    * applied (each SET expression evaluates against the OLD row —
    * simultaneous assignment, exactly SQL UPDATE; an assignment never
    * sees another assignment's result). The commit carries a
    * position-delete manifest (the matched rows' (file, pos) pairs)
    * and a data manifest (the rewritten rows) at the SAME sequence
    * number — position deletes name explicit old-file paths, so the
    * spec's `data seq <= delete seq` rule can't touch the new files
    * and a reader sees either the old or the new state, never a mix.
    * Merge-on-read: no existing data file is rewritten. Assignments to
    * partition SOURCE columns work — the rewritten rows land in their
    * new partitions (the stored tuple is recomputed from the new
    * values) while the position delete removes them from the old ones.
    * Matching no rows commits a no-op snapshot. Each SET value is cast
    * to its column's type under Spark's ANSI store-assignment rule; a
    * value type the rule rejects raises `IllegalArgumentException`
    * before any Spark job. Returns the snapshot
    * id. Reference analog: DML over registered tables
    * (`reference/ballista/client/src/context.rs:522-553` writes; the
    * reference itself has no UPDATE — this rounds out the writer's
    * DML set alongside [[deleteWhere]]/[[deleteEquality]]/[[upsert]]). */
  def updateWhere(spark: SparkSession, tablePath: String, cond: Column,
                  assignments: Map[String, Column],
                  maxRecordsPerFile: Option[Long] = None): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2, "updateWhere requires format v2 (position deletes)")
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    assignments.keys.foreach { n =>
      require(meta.schema.fieldNames.contains(n),
        s"assignment column '$n' not in table schema " +
          s"(known: ${meta.schema.fieldNames.sorted.mkString(", ")})")
    }
    val assigned = storeAssigned(emptyTable(spark, meta), meta, assignments)
    val live = IcebergIO.liveFiles(spark, requireSnapshot(meta, tablePath, "update"))
    val rawFiles = live.filter(_.content == 0)
    require(rawFiles.nonEmpty, s"no live data files in $tablePath")
    // ONE plan at `meta`: files whose tuple/stats exclude `cond` hold no
    // match — (1) the matching rows' position pairs from a raw scan,
    // (2) their rewritten copies from the same files with every live
    // delete applied (a previously-deleted row must not be resurrected);
    // ONE projection applies every assignment against the old row. v3:
    // each rewritten row carries its CURRENT `_row_id` (an UPDATE
    // rewrites content, not identity).
    val pruned = IcebergIO.pruneDataFilesWhere(meta, rawFiles, cond)
    val v3 = meta.formatVersion >= 3
    val updated = liveRows(spark, meta, pruned ++ live.filter(_.content != 0))
      .filter(cond)
      .select(meta.schema.fields.toSeq.map { f =>
        assigned.get(f.name).map(_.as(f.name)).getOrElse(col(f.name))
      } ++ (if (v3) Seq(col(LineageCarryCol)) else Nil): _*)
    requireTableSchema(if (v3) updated.drop(LineageCarryCol) else updated, meta)
    commitRowDelta(spark, tablePath, meta, live, "overwrite",
      matchedPositions(spark, meta, pruned)(_.filter(cond)),
      stageDataFiles(updated, tablePath, meta, maxRecordsPerFile))
  }

  /** Each assigned value cast to its column's type under Spark's ANSI
    * store-assignment rule, the one `INSERT` applies (numeric to numeric,
    * any atomic type to STRING, never STRING to a number or a date). The
    * value types resolve against `scope`, a frame with no rows (see
    * [[emptyTable]]), so a value the rule rejects fails here, before any
    * Spark job. */
  private def storeAssigned(scope: DataFrame, meta: IcebergIO.TableMetadata,
                            assignments: Map[String, Column]): Map[String, Column] =
    assignments.map { case (n, v) =>
      val to = meta.schema(n).dataType
      val from = scope.select(v).schema.head.dataType
      require(org.apache.spark.sql.catalyst.expressions.Cast.canANSIStoreAssign(from, to),
        s"cannot assign a ${from.sql} value to column '$n' of type ${to.sql}")
      n -> v.cast(to)
    }

  /** A frame of the table schema holding no rows: resolves value types
    * without reading the table. */
  private def emptyTable(spark: SparkSession, meta: IcebergIO.TableMetadata): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), meta.schema)

  /** One clause of a conditional [[merge]]. Conditions and assignment /
    * insert-value expressions reference target columns as
    * `<targetAlias>.col` and source columns as `<sourceAlias>.col`
    * (defaults `t` / `s`). A `cond` of None is unconditional; clause
    * ORDER is the SQL order — the FIRST applicable clause wins per row. */
  sealed trait MergeClause { def cond: Option[Column] }
  /** `WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ...` —
    * unassigned columns keep the old row's value; every RHS evaluates
    * against the OLD target row + its matched source row (simultaneous
    * assignment, SQL UPDATE semantics). */
  final case class WhenMatchedUpdate(assignments: Map[String, Column],
                                     cond: Option[Column] = None) extends MergeClause
  /** `WHEN MATCHED [AND cond] THEN DELETE`. */
  final case class WhenMatchedDelete(cond: Option[Column] = None) extends MergeClause
  /** `WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs)` —
    * unlisted columns insert NULL; conditions/values may reference the
    * SOURCE alias only (there is no target row, same as SQL). */
  final case class WhenNotMatchedInsert(values: Map[String, Column],
                                        cond: Option[Column] = None) extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE` — drop target
    * rows whose key matches NO source row: the full-sync (snapshot
    * replication) shape. Conditions reference the TARGET alias only
    * (there is no source row, same as SQL). */
  final case class WhenNotMatchedBySourceDelete(cond: Option[Column] = None) extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ...` — flag
    * or retire target rows absent from the source without deleting
    * them; assignments/conditions reference the TARGET alias only.
    * v3: rewritten rows keep their `_row_id` (same carry as matched
    * UPDATEs). */
  final case class WhenNotMatchedBySourceUpdate(assignments: Map[String, Column],
                                                cond: Option[Column] = None) extends MergeClause

  /** Full conditional `MERGE INTO` in ONE atomic snapshot — the general
    * form [[upsert]] (whole-row, unconditional) is the fast path of.
    * For every current target row with a key-matching source row, the
    * first applicable WHEN MATCHED clause fires (UPDATE rewrites the
    * row, DELETE drops it; no applicable clause leaves the row
    * untouched). Source rows matching no current target row flow
    * through the WHEN NOT MATCHED clauses. The commit carries a
    * position-delete manifest (the affected target rows) and a data
    * manifest (rewrites + inserts) at the SAME sequence number, so a
    * reader sees the old or the new state, never a mix (same contract
    * as [[updateWhere]]). Merge-on-read: no existing file is rewritten.
    *
    * SQL's cardinality rule is enforced: a target row matched by MORE
    * than one source row (when any MATCHED clause exists) throws
    * instead of applying an arbitrary one. Keys compare with plain
    * equality — NULL keys never match (SQL join semantics; note
    * [[upsert]]'s equality deletes are null-safe, the spec's `<=>`).
    * SET and INSERT values follow [[updateWhere]]'s store-assignment
    * rule: a value type the rule rejects fails before any Spark job.
    *
    * Scale shape: the matched pairs (target ∩ source — bounded by the
    * source size, not the table) are persisted once and reused by the
    * cardinality check + rewrite projection; position pairs come from
    * one raw-scan join (re-deleting an already-dead position is a
    * reader no-op, same as [[updateWhere]]); inserts from one anti-join
    * of the source against current keys. Nothing driver-side scales
    * with the table. Reference analog: the reference's SQL surface has
    * no MERGE (client/src/context.rs:377-521 — DDL + SELECT only);
    * this rounds out the writer DML set to the full ANSI shape. */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
            keyCols: Seq[String], clauses: Seq[MergeClause],
            targetAlias: String = "t", sourceAlias: String = "s",
            maxRecordsPerFile: Option[Long] = None,
            summaryExtra: Map[String, String] = Map.empty): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2, "merge requires format v2 (position deletes)")
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(clauses.nonEmpty, "merge needs at least one WHEN clause")
    require(keyCols.forall(source.columns.contains),
      s"key columns ${keyCols.mkString(",")} not all in the source frame")
    require(keyCols.forall(meta.schema.fieldNames.contains),
      s"key columns ${keyCols.mkString(",")} not all in the table schema")
    require(!source.columns.exists(_.startsWith("__gf")),
      "__gf-prefixed source columns collide with internal names")
    require(targetAlias != sourceAlias, "target and source aliases must differ")
    clauses.foreach {
      case WhenMatchedUpdate(as, _) =>
        require(as.nonEmpty, "UPDATE clause needs at least one assignment")
        as.keys.foreach(n => require(meta.schema.fieldNames.contains(n),
          s"assignment column '$n' not in table schema"))
      case WhenNotMatchedBySourceUpdate(as, _) =>
        require(as.nonEmpty,
          "NOT MATCHED BY SOURCE UPDATE needs at least one assignment")
        as.keys.foreach(n => require(meta.schema.fieldNames.contains(n),
          s"assignment column '$n' not in table schema"))
      case WhenNotMatchedInsert(vs, _) =>
        vs.keys.foreach(n => require(meta.schema.fieldNames.contains(n),
          s"insert column '$n' not in table schema"))
      case _ =>
    }

    val src = source.alias(sourceAlias)
    // every SET / INSERT value store-assigned to its column, resolved
    // where its clause runs (matched UPDATE: target x source; NOT
    // MATCHED BY SOURCE UPDATE: target; INSERT: source) — the
    // projections below take the values as they are
    val target = emptyTable(spark, meta).alias(targetAlias)
    val typed: Seq[MergeClause] = clauses.map {
      case c @ WhenMatchedUpdate(as, _) =>
        c.copy(assignments = storeAssigned(target.crossJoin(src), meta, as))
      case c @ WhenNotMatchedBySourceUpdate(as, _) =>
        c.copy(assignments = storeAssigned(target, meta, as))
      case c @ WhenNotMatchedInsert(vs, _) =>
        c.copy(values = storeAssigned(src, meta, vs))
      case c => c
    }
    val matchedClauses = typed.filter {
      case _: WhenNotMatchedInsert => false
      case _: WhenNotMatchedBySourceDelete => false
      case _: WhenNotMatchedBySourceUpdate => false
      case _ => true
    }
    val insertClauses = typed.collect { case c: WhenNotMatchedInsert => c }
    val bySourceClauses: Seq[MergeClause] = typed.filter {
      case _: WhenNotMatchedBySourceDelete => true
      case _: WhenNotMatchedBySourceUpdate => true
      case _ => false
    }
    val keyJoin: Column = keyCols
      .map(k => col(s"$targetAlias.$k") === col(s"$sourceAlias.$k"))
      .reduce(_ && _)
    // first-match-wins action index over a clause list (-1 = none)
    def actionIdx(cs: Seq[MergeClause]): Column =
      cs.zipWithIndex.foldRight(lit(-1): Column) { case ((c, i), acc) =>
        when(c.cond.getOrElse(lit(true)), lit(i)).otherwise(acc)
      }

    // ---- empty table: every source row is NOT MATCHED; pure insert
    val snap = currentSnapshot(meta).getOrElse {
      val rows = insertRows(src, insertClauses, actionIdx(insertClauses), meta)
      return produce(tablePath, meta, "append",
        added = stageDataFiles(rows, tablePath, meta, maxRecordsPerFile),
        summary = summaryExtra)
    }
    val live = IcebergIO.liveFiles(spark, snap)
    val rawFiles = live.filter(_.content == 0)

    // ---- matched pairs from the CURRENT state (deletes applied — a
    // dead row must not be resurrected by an UPDATE). Persisted: the
    // cardinality check and the rewrite projection both read it, and
    // its size is bounded by the source, not the table. v3: the read
    // carries each row's lineage id so UPDATE-rewritten rows keep their
    // `_row_id` (insert rows stage a NULL carry — the reader derives
    // their fresh ids from the new files' assignment).
    val v3 = meta.formatVersion >= 3
    val cur = liveRows(spark, meta, live)
    val pairs = cur.alias(targetAlias).join(src, keyJoin, "inner").persist()
    try {
      if (matchedClauses.nonEmpty) {
        // SQL cardinality rule: >1 source row hitting one target row is
        // ambiguous. Target keys may repeat legitimately, so the check
        // is on the SOURCE side: any key duplicated in the source that
        // also appears among the matched pairs.
        val dupMatched = source
          .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__gf_n"))
          .filter(col("__gf_n") > 1)
          .join(pairs.select(keyCols.map(k => col(s"$targetAlias.$k").as(k)): _*),
            keyCols, "left_semi")
          .limit(1).count()
        require(dupMatched == 0,
          "MERGE cardinality violation: a target row matches more than one source row")
      }

      // ---- (1) position pairs of every AFFECTED target row, from the
      // RAW files: matched rows some MATCHED clause applies to, and rows
      // whose key matches NO source row some NOT MATCHED BY SOURCE
      // clause applies to (UPDATE rewrites and DELETE drops both remove
      // the old position; the OR of the clause conditions is exactly
      // "first applicable exists")
      def positionsWhere(join: String, clauses: Seq[MergeClause]): Option[DataFrame] =
        clauses.map(_.cond.getOrElse(lit(true))).reduceOption(_ || _).map(c =>
          matchedPositions(spark, meta, rawFiles)(
            _.alias(targetAlias).join(src, keyJoin, join).filter(c)))
      val allPosRows = (positionsWhere("inner", matchedClauses) ++
          positionsWhere("left_anti", bySourceClauses))
        .reduceOption(_ unionByName _).getOrElse(PositionDeletes.empty(spark))

      {
        // ---- (2) rewrites: first applicable clause per matched pair;
        // UPDATE rows project through their assignments (old row +
        // source visible), DELETE rows just drop
        val mIdx = actionIdx(matchedClauses)
        val updateIdxs = matchedClauses.zipWithIndex.collect {
          case (_: WhenMatchedUpdate, i) => i
        }
        val rewrites =
          if (updateIdxs.isEmpty) None
          else Some(pairs.withColumn("__gf_action", mIdx)
            .filter(col("__gf_action").isin(updateIdxs.map(Integer.valueOf): _*))
            .select(meta.schema.fields.toSeq.map { f =>
              val old = col(s"$targetAlias.${f.name}")
              matchedClauses.zipWithIndex.foldRight(old) {
                case ((c: WhenMatchedUpdate, i), acc) =>
                  when(col("__gf_action") === i,
                    c.assignments.getOrElse(f.name, old)).otherwise(acc)
                case (_, acc) => acc
              }.as(f.name)
            } ++ (if (v3)
              Seq(col(s"$targetAlias.$LineageCarryCol").as(LineageCarryCol))
            else Nil): _*))

        // ---- (2b) NOT MATCHED BY SOURCE rewrites: first applicable
        // clause per unmatched CURRENT target row (deletes applied — a
        // dead row must not be resurrected); UPDATE rows project through
        // their assignments (target columns only), DELETE rows drop.
        // v3: rewritten rows carry their _row_id like matched UPDATEs.
        val bsIdx = actionIdx(bySourceClauses)
        val bsUpdateIdxs = bySourceClauses.zipWithIndex.collect {
          case (_: WhenNotMatchedBySourceUpdate, i) => i
        }
        val bsRewrites =
          if (bsUpdateIdxs.isEmpty) None
          else Some(cur.alias(targetAlias).join(src, keyJoin, "left_anti")
            .withColumn("__gf_action", bsIdx)
            .filter(col("__gf_action").isin(bsUpdateIdxs.map(Integer.valueOf): _*))
            .select(meta.schema.fields.toSeq.map { f =>
              val old = col(s"$targetAlias.${f.name}")
              bySourceClauses.zipWithIndex.foldRight(old) {
                case ((c: WhenNotMatchedBySourceUpdate, i), acc) =>
                  when(col("__gf_action") === i,
                    c.assignments.getOrElse(f.name, old)).otherwise(acc)
                case (_, acc) => acc
              }.as(f.name)
            } ++ (if (v3)
              Seq(col(s"$targetAlias.$LineageCarryCol").as(LineageCarryCol))
            else Nil): _*))

        // ---- (3) inserts: source rows matching NO current target key
        // (left_anti keeps source columns only — a NOT MATCHED clause
        // referencing the target alias fails resolution, loudly)
        val inserts =
          if (insertClauses.isEmpty) None
          else {
            val unmatched = src.join(
              cur.select(keyCols.map(col): _*).distinct().alias(targetAlias),
              keyJoin, "left_anti")
            val ins = insertRows(unmatched, insertClauses,
              actionIdx(insertClauses), meta)
            Some(if (v3) ins.withColumn(LineageCarryCol,
              lit(null).cast(LongType)) else ins)
          }

        val newRows = (rewrites.toSeq ++ bsRewrites.toSeq ++ inserts.toSeq)
          .reduceOption(_ unionByName _)
        newRows.foreach(r => requireTableSchema(
          if (v3) r.drop(LineageCarryCol) else r, meta))
        commitRowDelta(spark, tablePath, meta, live, "overwrite", allPosRows,
          newRows.toSeq.flatMap(stageDataFiles(_, tablePath, meta, maxRecordsPerFile)),
          summaryExtra)
      }
    } finally {
      pairs.unpersist(): Unit
    }
  }

  /** Project `frame` (source rows, aliased) through the first applicable
    * NOT MATCHED clause into full-table-schema insert rows; unlisted
    * columns insert NULL, listed values arrive store-assigned to their
    * column (SQL INSERT semantics). No applicable clause drops the row. */
  private def insertRows(frame: DataFrame, insertClauses: Seq[WhenNotMatchedInsert],
                         idx: Column, meta: IcebergIO.TableMetadata): DataFrame = {
    require(insertClauses.nonEmpty,
      "merge into an empty table needs a WHEN NOT MATCHED clause")
    frame.withColumn("__gf_action", idx)
      .filter(col("__gf_action") =!= -1)
      .select(meta.schema.fields.toSeq.map { f =>
        val nul = lit(null).cast(f.dataType)
        insertClauses.zipWithIndex.foldRight(nul: Column) { case ((c, i), acc) =>
          when(col("__gf_action") === i, c.values.getOrElse(f.name, nul))
            .otherwise(acc)
        }.as(f.name)
      }: _*)
  }

  /** Resolve the delete/upsert-key columns of `values` to table field
    * ids, name- and type-checked against the table schema. */
  private def resolveEqualityIds(values: DataFrame,
                                 meta: IcebergIO.TableMetadata): Seq[Int] = {
    // eq-delete VALUES on a ns column would store plain INT64 under a
    // timestamp_ns delete schema — same read-only boundary as data writes
    val nsHit = values.columns.filter(meta.nsColumns.contains)
    require(nsHit.isEmpty,
      s"equality delete keys on nanosecond-timestamp columns " +
        s"(${nsHit.sorted.mkString(", ")}) — read-only to this engine")
    val geoHit = values.columns.filter(meta.geoColumns.contains)
    require(geoHit.isEmpty,
      s"equality delete keys on geometry/geography columns " +
        s"(${geoHit.sorted.mkString(", ")}) — read-only to this engine")
    // an `unknown` column has no values, so no row can be addressed by
    // equality on it — refuse before the delete-file write
    val unkHit = values.schema.fields.filter(_.dataType ==
      org.apache.spark.sql.types.NullType).map(_.name)
    require(unkHit.isEmpty,
      s"equality delete keys on v3 `unknown` columns " +
        s"(${unkHit.sorted.mkString(", ")}) — the type stores no values")
    val fieldIdByName: Map[String, Int] = meta.fieldById.map(_.swap)
    values.schema.fields.toSeq.map { f =>
      val id = fieldIdByName.getOrElse(f.name,
        throw new IllegalArgumentException(
          s"delete column '${f.name}' not in table schema " +
            s"(known: ${fieldIdByName.keys.toSeq.sorted.mkString(", ")})"))
      require(meta.schema(f.name).dataType == f.dataType,
        s"delete column '${f.name}' type ${f.dataType} != table type " +
          s"${meta.schema(f.name).dataType}")
      id
    }
  }

  /** Stage equality deletes of `values` (keyed on all its columns): ONE
    * global file on an unpartitioned table, partition-scoped files
    * ([[stageScopedEqDelete]]) on a partitioned one, none on an empty
    * table. */
  private def stageEqualityDeletes(values: DataFrame, tablePath: String,
                                   meta: IcebergIO.TableMetadata): Seq[NewFile] = {
    val ids = resolveEqualityIds(values, meta)
    if (meta.currentSnapshotId.isEmpty) Nil
    else if (meta.partitionFields.isEmpty)
      Seq(stageSingleDeleteFile(values.sparkSession, tablePath, meta,
        values.coalesce(1), content = 2, equalityIds = ids))
    else stageScopedEqDelete(values, tablePath, meta, ids)
  }

  /** Stage position-delete `rows` as one file, or none when `rows` is
    * empty. */
  private def stagePositionDeletes(spark: SparkSession, tablePath: String,
                                   meta: IcebergIO.TableMetadata,
                                   rows: DataFrame): Seq[NewFile] = {
    val nf = stageSingleDeleteFile(spark, tablePath, meta, rows,
      content = 1, equalityIds = Nil)
    if (nf.records > 0) Seq(nf)
    else { GraftFs.delete(nf.path, recursive = false); Nil }
  }

  /** Stage `rows` as ONE delete parquet under `data/` (position deletes,
    * or a GLOBAL equality delete on an unpartitioned table — its
    * manifest entry records no partition tuple). */
  private def stageSingleDeleteFile(spark: SparkSession, tablePath: String,
                                    meta: IcebergIO.TableMetadata,
                                    rows: DataFrame, content: Int,
                                    equalityIds: Seq[Int]): NewFile = {
    val (snapshotId, _) = nextIds(meta)
    val tmp = GraftFs.child(tablePath, s"_tmp_delete_${snapshotId}_${java.util.UUID.randomUUID().toString.take(8)}")
    // delete files carry field ids too: position deletes the spec's
    // reserved ids, equality deletes the table ids they key on
    val idByName =
      if (content == 1) PositionDeletes.FieldIds
      else rows.columns.zip(equalityIds).toMap
    stampFieldIds(rows, idByName).write.mode("overwrite").parquet(tmp)
    try {
      val staged = listParquetLeaves(tmp)
      require(staged.size == 1,
        s"expected one staged delete file, got ${staged.size}")
      val records = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            staged.head.getPath, GraftFs.conf()))
        try r.getRecordCount finally r.close()
      }
      val kind = if (content == 1) "posdelete" else "eqdelete"
      val to = GraftFs.child(GraftFs.child(tablePath, "data"),
        s"$kind-$snapshotId-${staged.head.getPath.getName}")
      if (!GraftFs.rename(staged.head.getPath.toString, to))
        throw new java.io.IOException(
          s"rename failed: ${staged.head.getPath} -> $to")
      NewFile(to, records, GraftFs.status(to).map(_.getLen).getOrElse(0L),
        partitionValues = Nil, bounds = Nil, nullCounts = Nil, nanCounts = Nil,
        content = content, equalityIds = equalityIds)
    } finally {
      GraftFs.delete(tmp, recursive = true)
    }
  }

  /** Stage equality-delete files for a PARTITIONED table, one per
    * affected partition (the spec scopes a delete file to the partition
    * it is written into). Scope derivation: the sequence rule means an
    * equality delete can only remove rows that exist NOW, so joining
    * `values` against the current data (null-safe on every delete
    * column) yields exactly the (partition tuple, delete row) pairs any
    * reader needs — correct even when the delete columns don't include
    * the partition source. ONE distributed join + ONE partitioned write
    * job (repartition on the stored tuple, one file per tuple) + ONE
    * read-back agg for per-file counts and tuples; partitions with no
    * matching row get no delete file, and a `values` row matching rows
    * in several partitions lands in each of them. */
  private def stageScopedEqDelete(values: DataFrame, tablePath: String,
                                  meta: IcebergIO.TableMetadata,
                                  equalityIds: Seq[Int]): Seq[NewFile] = {
    val spark = values.sparkSession
    val (snapshotId, _) = nextIds(meta)
    val dataFiles = currentSnapshot(meta).toSeq
      .flatMap(s => IcebergIO.liveFiles(spark, s)).filter(_.content == 0)
    if (dataFiles.isEmpty) return Nil // nothing live -> nothing to delete
    val partSources: Seq[(String, String, DataType)] = // (transform, src, type)
      meta.partitionFields.map { case (_, transform, srcId) =>
        val src = meta.fieldById.getOrElse(srcId,
          throw new IllegalArgumentException(
            s"partition source field id $srcId not in table schema"))
        (transform, src, meta.schema(src).dataType)
      }
    val valueCols = values.columns.toSeq
    val rows =
      if (partSources.forall { case (_, src, _) => valueCols.contains(src) }) {
        // every partition source is among the delete columns: the stored
        // tuple is computable from the values THEMSELVES — no table scan.
        // Sound because a data row equal on ALL delete columns shares the
        // source values, hence the derived tuple; a tuple with no live
        // rows just yields a delete file that applies to nothing.
        val stored = partSources.zipWithIndex.map { case ((t, src, dt), i) =>
          IcebergTransforms.storedColumn(t, src, dt).as(s"__gf_s$i")
        }
        values.select(stored ++ valueCols.map(col): _*).distinct()
      } else {
        // the delete columns don't pin the partition: derive scope by
        // joining against the current data (the sequence rule means the
        // delete can only affect rows that exist NOW, so the join yields
        // exactly the (tuple, delete row) pairs any reader needs)
        val vren = valueCols.foldLeft(values)( // unambiguous join keys
          (d, n) => d.withColumnRenamed(n, s"__gf_v_$n"))
        val data = IcebergIO.dataBranches(spark, meta, dataFiles,
          withPos = false).reduce(_ unionByName _)
        val joined = data.join(vren,
          valueCols.map(n => col(n) <=> col(s"__gf_v_$n")).reduce(_ && _),
          "inner")
        val stored = partSources.zipWithIndex.map { case ((t, src, dt), i) =>
          IcebergTransforms.storedColumn(t, src, dt).as(s"__gf_s$i")
        }
        joined.select(stored ++
          valueCols.map(n => col(s"__gf_v_$n").as(n)): _*).distinct()
      }
    // one file per tuple: same repartition + partitionBy shape as the
    // data commit. The stored tuple stays IN the file as extra columns
    // (legal — the reader selects equality columns by name) so the
    // read-back recovers each file's tuple without dir-name parsing.
    val rowsIds = stampFieldIds(rows, valueCols.zip(equalityIds).toMap)
    val withP = partSources.indices.foldLeft(rowsIds)(
      (d, i) => d.withColumn(s"__gf_p$i", col(s"__gf_s$i")))
    val tmp = GraftFs.child(tablePath, s"_tmp_delete_${snapshotId}_${java.util.UUID.randomUUID().toString.take(8)}")
    withP.repartition(partSources.indices.map(i => col(s"__gf_p$i")): _*)
      .write.mode("overwrite")
      .partitionBy(partSources.indices.map(i => s"__gf_p$i"): _*)
      .parquet(tmp)
    try {
      val staged = listParquetLeaves(tmp)
      if (staged.isEmpty) return Nil // no current row matches: no-op
      // per-file record count + the (constant-per-file) stored tuple in
      // ONE read-back agg — same discipline as the data commit
      val rb = spark.read.schema(rowsIds.schema)
        .parquet(staged.map(_.getPath.toString): _*)
        .withColumn("__gf_f", IcebergIO.normalizedPath(col("_metadata.file_path")))
      val aggs = count(lit(1)) +:
        partSources.indices.map(i => min(col(s"__gf_s$i")))
      val stats: Map[String, (Long, Seq[Any])] =
        rb.groupBy(col("__gf_f")).agg(aggs.head, aggs.tail: _*)
          .collect().map { row =>
            val raw = row.getString(0)
            val key = try new java.net.URI(raw).getPath
              catch { case _: Exception => raw }
            key -> ((row.getLong(1),
              partSources.indices.map(i => row.get(2 + i): Any)))
          }.toMap
      val dataDir = GraftFs.child(tablePath, "data")
      GraftFs.mkdirs(dataDir)
      var renamed = List.empty[(String, String)]
      try staged.zipWithIndex.map { case (s, i) =>
        val from = s.getPath.toString
        val to = GraftFs.child(dataDir,
          s"eqdelete-$snapshotId-$i-${s.getPath.getName}")
        if (!GraftFs.rename(from, to))
          throw new java.io.IOException(s"rename failed: $from -> $to")
        renamed ::= (from, to)
        val key = IcebergIO.normalizePath(from)
        val (records, tuple) = stats.getOrElse(key,
          throw new IllegalStateException(s"no stats for staged delete file $from"))
        NewFile(to, records, s.getLen, partitionValues = tuple,
          bounds = Nil, nullCounts = Nil, nanCounts = Nil,
          content = 2, equalityIds = equalityIds)
      } catch {
        case e: Throwable =>
          renamed.foreach { case (from, to) => GraftFs.rename(to, from) }
          throw e
      }
    } finally {
      GraftFs.delete(tmp, recursive = true)
    }
  }

  /**
   * Upgrade a v2 table to format-version 3 IN PLACE (the runtime jar's
   * `ALTER TABLE ... SET TBLPROPERTIES('format-version'='3')` path).
   * Two steps: (1) a metadata-only optimistic publish bumping
   * `format-version` and stamping `next-row-id` (0 — pre-upgrade data
   * files keep a null `first_row_id`; this writer never exposes
   * `_row_id`, and post-upgrade commits assign fresh explicit values);
   * (2) if live parquet position-delete files exist, one `replace`
   * commit ABSORBS their rows into deletion vectors (v3 forbids new
   * parquet position deletes, and a mixed table would make every
   * subsequent DV commit's carry logic ambiguous) — dangling rows
   * naming compacted-away files drop, the rewrite rule. Equality
   * deletes stay as they are (still legal in v3). Returns the current
   * snapshot id (-1 for an empty table). */
  def upgradeFormatVersion(spark: SparkSession, tablePath: String): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion == 2,
      s"upgrade targets v2 tables only, got v${meta.formatVersion}")
    updateMetadata(tablePath, meta) { root =>
      root.put("format-version", 3)
      root.put("next-row-id", 0L): Unit
    }
    val meta3 = IcebergIO.loadMetadata(tablePath)
    val snapOpt = currentSnapshot(meta3)
    val live = snapOpt.toSeq.flatMap(IcebergIO.liveFiles(spark, _))
    val posFiles = live.filter(f => f.content == 1 && f.format != "PUFFIN")
    if (posFiles.isEmpty) return snapOpt.map(_.snapshotId).getOrElse(-1L)
    val dv = stageDvs(spark, tablePath, meta3, live,
      PositionDeletes.read(spark, posFiles).select("file_path", "pos"),
      absorbLegacyPos = true)
    produce(tablePath, meta3, "replace", added = dv.added,
      existing = live.filter(_.content == 2) ++ dv.kept, carry = CarryData,
      summary = Map("upgraded-format-version" -> "3",
        "removed-delete-files" -> posFiles.size.toString))
  }

  /** EXISTING-status form of a live content file, carrying every field
    * this reader consumes — stats, partition tuple (aligned with its
    * spec's fields), equality ids, v3 DV blob range, v3 first_row_id —
    * at its ORIGINAL sequence number and adding snapshot. The one
    * construction every manifest-rebuilding verb shares; dropping a
    * field here silently corrupts whichever reader consumed it (a
    * rewrite that lost the DV blob range would fail every subsequent
    * merge-on-read). */
  private def existingEntry(meta: IcebergIO.TableMetadata,
                            f: IcebergIO.ContentFile): NewFile = {
    def missing(what: String) = throw new IllegalStateException(
      s"deletion-vector entry ${f.path} lacks $what")
    val boundKeys = f.lowerBounds.keySet.intersect(f.upperBounds.keySet)
    NewFile(f.path, f.recordCount, f.bytes,
      partitionValues = meta.specsById.getOrElse(f.specId, Nil).map {
        case (n, _, _) => f.partitionValues.getOrElse(n, null) },
      bounds = boundKeys.toSeq.sorted.map(k =>
        (k, f.lowerBounds(k), f.upperBounds(k))),
      nullCounts = f.nullCounts.toSeq.sortBy(_._1),
      nanCounts = f.nanCounts.toSeq.sortBy(_._1),
      content = f.content, equalityIds = f.equalityIds,
      existingSeq = Some(f.seq), addedSnapshotId = f.snapshotId,
      format = f.format,
      dvRef = if (f.content == 1 && f.format == "PUFFIN")
          Some((f.referencedDataFile.getOrElse(missing("referenced_data_file")),
            f.contentOffset.getOrElse(missing("content_offset")),
            f.contentSize.getOrElse(missing("content_size_in_bytes"))))
        else None,
      firstRowId = f.firstRowId, specId = Some(f.specId))
  }

  /** A v3 commit's deletion-vector side ([[stageDvs]]): the ADDED DV
    * entries (one puffin file), the live DVs that stay as they are, and
    * how many live DVs the new ones replace. */
  private final case class DvDelta(added: Seq[NewFile],
                                   kept: Seq[IcebergIO.ContentFile],
                                   removed: Int)

  /**
   * Stage the DELETION VECTORS of a v3 commit: matched (file_path, pos)
   * rows of the `live` data files become one Puffin file holding one
   * roaring bitmap per affected data file (spec v3 "Position Delete
   * Vectors"; [[graft.sources.PuffinIO]]). The spec's invariant — at
   * most ONE live DV per data file, and a new DV REPLACES the previous
   * one, which it must CONTAIN — makes every DV commit rebuild the
   * delete side of the manifest list, exactly the
   * [[rewritePositionDeletes]] shape: the caller carries data manifests
   * verbatim and hands the producer the unaffected DVs (`kept`) and the
   * equality deletes it keeps as EXISTING, while each affected file's
   * new positions are OR-merged with its previous DV into an ADDED
   * entry at the new sequence number (sound for the same reason
   * consolidating position deletes at a new seq is: they name exact
   * files). `consolidate` ([[rewritePositionDeletes]]) folds EVERY live
   * DV into the new file, dropping dangling targets;
   * `absorbLegacyPos` ([[upgradeFormatVersion]]) lets `matches` replay
   * legacy parquet position deletes, whose rows may name
   * compacted-away targets.
   *
   * Scale shape: per-file bitmaps build in EXECUTORS (one groupByKey
   * over the matched rows — the same shuffle a parquet delete write
   * would pay); only the compressed bitmap bytes reach the driver,
   * which assembles the (one) Puffin file. Prior DVs for affected files
   * are read driver-side — bounded by blobs actually being replaced.
   */
  private def stageDvs(spark: SparkSession, tablePath: String,
                       meta: IcebergIO.TableMetadata,
                       live: Seq[IcebergIO.ContentFile], matches: DataFrame,
                       consolidate: Boolean = false,
                       absorbLegacyPos: Boolean = false): DvDelta = {
    import org.roaringbitmap.longlong.Roaring64NavigableMap
    require(meta.formatVersion >= 3, "deletion vectors require format v3")
    val dataFiles = live.filter(_.content == 0)
    val dvFiles = live.filter(f => f.content == 1 && f.format == "PUFFIN")
    val strayPos = live.filter(f => f.content == 1 && f.format != "PUFFIN")
    require(strayPos.isEmpty || absorbLegacyPos,
      s"v3 table holds parquet position-delete files (${strayPos.take(2).map(_.path).mkString(", ")}) " +
        "— this writer emits only deletion vectors on v3; run " +
        "upgradeFormatVersion (which absorbs them) or compact first")
    val (snapshotId, newSeq) = nextIds(meta)

    // per-file bitmaps built in executors; only compressed bytes collect
    import spark.implicits._
    val grouped: Seq[(String, Array[Byte], Long)] =
      matches.select(col("file_path").cast("string").as("f"),
          col("pos").cast("long").as("p"))
        .as[(String, Long)]
        .groupByKey(_._1)
        .mapGroups((f, it) => PuffinIO.bitmapBytesOf(f, it.map(_._2)))
        .collect().toSeq
    // matched paths come from the scan (scheme-carrying, URL-decoded);
    // manifests record the create-time form — key both by normalized
    val recByNorm = dataFiles
      .map(f => IcebergIO.normalizePath(f.path) -> f.path).toMap
    val newBms = scala.collection.mutable.Map.empty[String, Roaring64NavigableMap]
    grouped.foreach { case (raw, bytes, _) =>
      recByNorm.get(IcebergIO.normalizePath(raw)) match {
        case Some(rec) => newBms(rec) = PuffinIO.bitmapFromPortable(bytes)
        case None =>
          // absorb mode replays whole historical delete files, which
          // may name compacted-away targets — dangling rows drop, the
          // v2 rewrite's rule; a live DELETE matching a dead file is
          // a planner bug and stays loud
          if (!absorbLegacyPos) throw new IllegalStateException(
            s"matched file $raw is not a live data file of $tablePath")
      }
    }
    def dvBitmap(f: IcebergIO.ContentFile): org.roaringbitmap.longlong.Roaring64NavigableMap =
      PuffinIO.readDv(f.path,
        f.contentOffset.getOrElse(throw new IllegalStateException(
          s"deletion-vector entry ${f.path} lacks content_offset")),
        f.contentSize.getOrElse(throw new IllegalStateException(
          s"deletion-vector entry ${f.path} lacks content_size_in_bytes")))
    val (oldAffected, oldCarried) =
      if (consolidate) (dvFiles, Seq.empty[IcebergIO.ContentFile])
      else {
        val affectedNorm = newBms.keySet.map(IcebergIO.normalizePath)
        dvFiles.partition(f => f.referencedDataFile.exists(r =>
          affectedNorm.contains(IcebergIO.normalizePath(r))))
      }
    // invariant: the replacement DV must CONTAIN the replaced one; in
    // consolidate mode every live DV folds in, and a DV whose target is
    // no longer a live data file is dangling — dropped, the v2
    // rewrite's dangling-entry rule
    oldAffected.foreach { f =>
      val ref = f.referencedDataFile.getOrElse(
        throw new IllegalStateException(
          s"deletion-vector entry ${f.path} lacks referenced_data_file"))
      recByNorm.get(IcebergIO.normalizePath(ref)) match {
        case Some(target) => newBms.get(target) match {
          case Some(bm) => bm.or(dvBitmap(f))
          case None => newBms(target) = dvBitmap(f)
        }
        case None =>
          require(consolidate, s"DV target $ref is not a live data file")
      }
    }

    val dataDir = GraftFs.child(tablePath, "data")
    val addedDv: Seq[NewFile] =
      if (newBms.isEmpty) Nil
      else {
        val puffinPath = GraftFs.child(dataDir,
          s"dv-$snapshotId-${java.util.UUID.randomUUID().toString.take(8)}.puffin")
        val targets = newBms.keys.toSeq.sorted
        val blobs = targets.map { t =>
          val bm = newBms(t)
          PuffinIO.Blob(PuffinIO.DvBlobType, PuffinIO.dvPayload(bm),
            Map("referenced-data-file" -> t,
              "cardinality" -> bm.getLongCardinality.toString))
        }
        val locs = PuffinIO.writePuffin(puffinPath, blobs, snapshotId, newSeq)
        val fileLen = GraftFs.status(puffinPath).map(_.getLen).getOrElse(0L)
        targets.zip(locs).map { case (t, (off, len)) =>
          NewFile(puffinPath, newBms(t).getLongCardinality, fileLen,
            partitionValues = Nil, bounds = Nil, nullCounts = Nil,
            nanCounts = Nil, content = 1, format = "PUFFIN",
            dvRef = Some((t, off, len)))
        }
      }
    DvDelta(addedDv, oldCarried, oldAffected.size)
  }

  /** Commit a row-level change ([[deleteWhere]], [[updateWhere]],
    * [[merge]]): `positions` (the `(file_path, pos)` of every replaced or
    * deleted row) become one position-delete file — deletion vectors on
    * v3 — in ONE snapshot with the staged `data` at one sequence number.
    * Position deletes name explicit old-file paths, so the spec's
    * `data seq <= delete seq` rule cannot touch the new files and a
    * reader sees the old or the new state, never a mix. */
  private def commitRowDelta(spark: SparkSession, tablePath: String,
                             meta: IcebergIO.TableMetadata,
                             live: Seq[IcebergIO.ContentFile],
                             operation: String, positions: DataFrame,
                             data: Seq[NewFile] = Nil,
                             summary: Map[String, String] = Map.empty): Long =
    if (meta.formatVersion >= 3) {
      // the spec disallows new parquet position-delete files on v3
      val dv = stageAfter(data)(stageDvs(spark, tablePath, meta, live, positions))
      produce(tablePath, meta, operation, added = dv.added ++ data,
        existing = live.filter(_.content == 2) ++ dv.kept, carry = CarryData,
        summary = Map("removed-delete-files" -> dv.removed.toString) ++ summary)
    } else {
      // spec: position delete rows sorted by (file, position); coalesce
      // AFTER the sort keeps the order in the single output file
      val del = stageAfter(data)(stagePositionDeletes(spark, tablePath, meta,
        positions.orderBy("file_path", "pos").coalesce(1)))
      produce(tablePath, meta, operation, added = del ++ data, summary = summary)
    }

  /** Run `stage`, deleting the already-staged `files` if it throws: a
    * verb that stages in two steps leaves no orphan behind. */
  private def stageAfter[A](files: Seq[NewFile])(stage: => A): A =
    try stage
    catch { case e: Throwable => deleteQuietly(files.map(_.path)); throw e }

  private def deleteQuietly(paths: Seq[String]): Unit =
    paths.foreach(p =>
      try { GraftFs.delete(p, recursive = false): Unit }
      catch { case _: Exception => () })

  /** `(file_path, pos)` of every row `keep` retains from a RAW scan of
    * `files` — existing deletes not applied: re-deleting an
    * already-removed position changes nothing in the reader's anti-join.
    * `file_path` is the row's data file as Spark names it, URL-decoded;
    * no file (or a table of none, post-TRUNCATE) gives an empty frame. */
  private def matchedPositions(spark: SparkSession, meta: IcebergIO.TableMetadata,
                               files: Seq[IcebergIO.ContentFile])
                              (keep: DataFrame => DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.functions.udf((s: String) => decodeSparkPath(s))
    IcebergIO.dataBranches(spark, meta, files, withPos = true)
      .map(b => keep(b).select(dec(col("__gf_fileraw")).as("file_path"),
        col("__gf_pos").as("pos")))
      .reduceOption(_ unionByName _).getOrElse(PositionDeletes.empty(spark))
  }

  /** Decode SparkPath's URL-encoding without structural changes —
    * literal '+' is preserved (plain URLDecoder would space it). */
  private def decodeSparkPath(s: String): String =
    try java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
    catch { case _: Exception => s }

  /** Fixture-convention spec field name for (source col, transform). */
  private def partFieldName(src: String, transform: String): String =
    transform match {
      case "identity"                        => src
      case t if t.startsWith("truncate")     => s"${src}_trunc"
      case t if t.startsWith("bucket")       => s"${src}_bucket"
      case t                                 => s"${src}_$t"
    }

  /** The STORED (manifest-recorded) Spark type of a partition field —
    * bucket/time ordinals and void are int; identity over
    * date/timestamp is its epoch ordinal (int / long); truncate and
    * other identity keep the source type. Mirrors
    * [[IcebergTransforms.storedColumn]]'s output types. */
  private def storedType(transform: String, srcType: DataType): DataType =
    transform match {
      case "void" | "year" | "month" | "day" | "hour" => IntegerType
      case t if t.startsWith("bucket")                => IntegerType
      case "identity" => srcType match {
        case DateType                          => IntegerType
        case TimestampType | TimestampNTZType  => LongType
        case other                             => other
      }
      case _ => srcType
    }

  /** Internal column name a rewrite verb uses to thread each surviving
    * row's v3 lineage id into [[stageDataFiles]] (written out as the
    * materialized `_row_id`). `__gf`-prefixed so user frames can never
    * smuggle one in through the public write verbs. */
  private val LineageCarryCol = "__gf_rowid"

  /** Companion carry for `_last_updated_sequence_number` — threaded by
    * CONTENT-PRESERVING rewrites only (compact/compactWhere); the
    * row-modifying verbs (UPDATE/MERGE) deliberately drop it so the new
    * file's data seq becomes the row's last-updated seq. */
  private val LastUpdatedCarryCol = "__gf_lseq"

  /** Annotate `df`'s columns with `parquet.field.id` metadata so Spark's
    * parquet writer stamps spec field ids into the files (public
    * `spark.sql.parquet.fieldId.write.enabled` machinery) — the physical
    * half of the [[IcebergIO.FieldIdsProp]] contract. Columns absent
    * from `idByName` (internal `__gf_*` duplicates) stay unstamped. */
  private def stampFieldIds(df: DataFrame, idByName: Map[String, Int]): DataFrame = {
    df.sparkSession.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    df.select(df.schema.fields.toSeq.map { f =>
      idByName.get(f.name) match {
        case Some(id) => col(f.name).as(f.name, new MetadataBuilder()
          .putLong("parquet.field.id", id.toLong).build())
        case None => col(f.name)
      }
    }: _*)
  }

  /** Schema check by NAME + TYPE (nullability not enforced — parquet
    * carries actual nulls; a required table column receiving nulls
    * would fail spec-reader expectations, caller's responsibility). */
  private def requireTableSchema(df: DataFrame,
                                 meta: IcebergIO.TableMetadata): Unit = {
    val dfSig = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    val tblSig = meta.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(dfSig == tblSig,
      s"append schema ${dfSig.mkString(",")} != table schema ${tblSig.mkString(",")}")
  }

  private def commitData(df: DataFrame, tablePath: String,
                         maxRecordsPerFile: Option[Long],
                         operation: String,
                         summaryExtra: Map[String, String] = Map.empty,
                         branch: Option[String] = None,
                         // the metadata `df` was planned against: a
                         // rewrite raced by another commit must fail as
                         // a concurrent commit, not replace that
                         // commit's files with rows read before it
                         base: Option[IcebergIO.TableMetadata] = None): Long = {
    val meta = base.getOrElse(IcebergIO.loadMetadata(tablePath))
    // v3 lineage carry ([[compact]]'s id-preserving rewrite): the frame
    // is a full-schema table read plus the internal lineage column —
    // validate the data columns, stage the carry through untouched.
    val lineageCols =
      df.columns.filter(Set(LineageCarryCol, LastUpdatedCarryCol)).toSeq
    if (lineageCols.nonEmpty) {
      require(meta.formatVersion >= 3,
        s"${lineageCols.mkString(",")} requires format v3 (row lineage)")
      // ONLY the internal rewrite verb (compact → operation "replace")
      // may thread lineage carries — a user frame reaching append or
      // OVERWRITE with a __gf_rowid column would otherwise materialize
      // arbitrary (possibly colliding) row ids
      require(operation == "replace",
        "lineage carry is a rewrite-verb mechanism (compact); " +
          s"'$operation' frames must not contain ${lineageCols.mkString(",")}")
    }
    val df1 =
      if (lineageCols.nonEmpty) {
        requireTableSchema(df.drop(lineageCols: _*), meta); df
      } else {
        val d = applyWriteDefaults(df, meta); requireTableSchema(d, meta); d
      }
    branch.foreach { b =>
      require(b != "main", "write to main is the default — omit `branch`")
      require(operation == "append",
        s"branch writes support append only, got '$operation'")
    }
    produce(tablePath, meta, operation,
      added = stageDataFiles(df1, tablePath, meta, maxRecordsPerFile),
      carry = if (operation == "append") CarryAll else CarryNone,
      summary = summaryExtra, branch = branch)
  }

  /** Fill `write-default` literals for defaulted columns the input frame
    * omits (v3 defaults, [[addColumnWithDefault]]) — the spec's writer
    * rule. Only fires when the omissions are EXACTLY defaulted columns;
    * any other mismatch falls through untouched so [[requireTableSchema]]
    * raises its usual loud error. */
  private def applyWriteDefaults(df: DataFrame,
                                 meta: IcebergIO.TableMetadata): DataFrame = {
    val have = df.schema.fieldNames.toSet
    val missing = meta.columnDefaults.filterNot(d => have.contains(d.name))
    val othersPresent = meta.schema.fieldNames
      .forall(n => have.contains(n) || missing.exists(_.name == n))
    // An unknown/misspelled input column must NOT be silently dropped by
    // the defaults projection — fall through so requireTableSchema raises
    // its loud error naming the mismatch.
    val noExtras = have.subsetOf(meta.schema.fieldNames.toSet)
    if (missing.isEmpty || !othersPresent || !noExtras) df
    else missing.foldLeft(df)((acc, d) => acc.withColumn(d.name,
        lit(d.write).cast(meta.schema(d.name).dataType)))
      .select(meta.schema.fieldNames.toSeq.map(col): _*)
  }

  /** Stage `df`'s rows as new data files under `data/` (ONE distributed
    * write job + ONE stats read-back + renames); returns the staged
    * [[NewFile]]s. The caller owns the commit — [[upsert]] stages delete
    * files alongside and commits both manifests as one snapshot. */
  private def stageDataFiles(df: DataFrame, tablePath: String,
                             meta: IcebergIO.TableMetadata,
                             maxRecordsPerFile: Option[Long]): Seq[NewFile] = {
    val (snapshotId, _) = nextIds(meta)
    // v3 ns-timestamp tables are READ-ONLY to this writer: Spark cannot
    // produce a NANOS-annotated parquet value, so any data write would
    // store a plain INT64 under a timestamp_ns schema — refused at the
    // one staging choke point every data-writing verb routes through
    require(meta.nsColumns.isEmpty,
      s"table has nanosecond-timestamp columns " +
        s"(${meta.nsColumns.toSeq.sorted.mkString(", ")}) — read-only to " +
        "this engine (Spark has no nanosecond timestamp type)")
    // geometry/geography data files must carry the parquet GEOMETRY/
    // GEOGRAPHY annotation, which Spark's sink cannot produce — a write
    // would store plain BINARY under a geospatial schema
    require(meta.geoColumns.isEmpty,
      s"table has geometry/geography columns " +
        s"(${meta.geoColumns.toSeq.sorted.mkString(", ")}) — read-only " +
        "to this engine (Spark cannot write the geospatial annotation)")
    // v3 `unknown` columns (NullType surface) store NOTHING — the
    // spec's writer behavior is to OMIT the column from data files
    // entirely (readers re-surface null). Drop them from the physical
    // write at this one choke point every data-writing verb routes
    // through; bounds/null-count stats never mention them (optional
    // per spec), and the read path projects the null literal back.
    val writeSchema = IcebergIO.readableFields(meta.schema)
    val unknownCols: Seq[String] =
      meta.schema.fields.filter(_.dataType == NullType).map(_.name).toSeq
    val dfW = if (unknownCols.isEmpty) df else df.drop(unknownCols: _*)
    val spark = df.sparkSession
    val fieldIdByName: Map[String, Int] = meta.fieldById.map(_.swap)

    // ---- partition machinery from the TABLE's spec (authoritative —
    // works against externally created tables too)
    val partFields: Seq[(String, String, String, DataType)] = // (field, transform, srcCol, srcType)
      meta.partitionFields.map { case (name, transform, srcId) =>
        val src = meta.fieldById.getOrElse(srcId,
          throw new IllegalArgumentException(
            s"partition source field id $srcId not in table schema"))
        (name, transform, src, meta.schema(src).dataType)
      }
    val storedCols: Seq[Column] = partFields.map { case (_, t, src, dt) =>
      IcebergTransforms.storedColumn(t, src, dt)
    }

    // ---- 1. ONE distributed write job into a staging dir. Table
    // columns are stamped with their spec field ids (the reader's
    // by-id resolution contract); the __gf_p* duplicates never reach
    // the files (partitionBy consumes them).
    // v3 row lineage: a rewrite verb's input carries `__gf_rowid` (each
    // surviving row's current lineage id) — it persists into the files
    // as a MATERIALIZED `_row_id` column under the spec's reserved
    // field id, which the lineage read prefers over the
    // first_row_id+position derivation. Plain appends never carry it.
    val carries: Seq[(String, String, Int)] = Seq(
      (LineageCarryCol, IcebergIO.RowLineageCol, IcebergIO.RowIdFieldId),
      (LastUpdatedCarryCol, IcebergIO.LastUpdatedCol,
        IcebergIO.LastUpdatedFieldId)).filter(c => dfW.columns.contains(c._1))
    val df0 = carries.foldLeft(dfW)((d, c) => d.withColumnRenamed(c._1, c._2))
    val stampIds = fieldIdByName ++ carries.map(c => c._2 -> c._3)
    val dfIds = stampFieldIds(df0, stampIds)
    val tmp = GraftFs.child(tablePath, s"_tmp_commit_${snapshotId}_${java.util.UUID.randomUUID().toString.take(8)}")
    // clustering expressions, from the metadata-declared layout: a
    // z-order ([[zorderBy]]) clusters on the interleaved Morton value —
    // tight bounds on BOTH dimensions — else the default sort order's
    // identity columns ([[setSortOrder]]); sorted files carry tight,
    // mostly-disjoint min/max bounds, which is what lets statsFilter
    // prune at scale
    val sortCols: Seq[Column] = meta.properties.get(ZorderProp) match {
      case Some(spec) =>
        val zc = spec.split(",").toSeq
        zc.foreach(c0 => require(
          meta.schema.fieldNames.contains(c0) &&
            meta.schema(c0).dataType == IntegerType,
          s"z-order column '$c0' ($ZorderProp) missing from the schema " +
            "or no longer IntegerType — clear or re-declare the z-order"))
        Seq(zValue(zc.map(col)))
      case None => meta.sortOrderFields.map(col)
    }
    val writer0 = {
      val base =
        if (partFields.isEmpty) {
          if (sortCols.isEmpty) dfIds
          // RANGE distribution + in-task sort: file k's bound interval
          // precedes file k+1's — a point/range predicate on the sort
          // key keeps O(1)/O(selectivity) files, not all of them
          else dfIds.repartitionByRange(sortCols: _*)
            .sortWithinPartitions(sortCols: _*)
        } else {
          val withStored = storedCols.zipWithIndex.foldLeft(dfIds) {
            case (d, (c0, i)) => d.withColumn(s"__gf_p$i", c0)
          }
          // repartition on the stored tuple: every tuple in exactly one
          // task, so partitionBy emits one file per tuple (per
          // maxRecordsPerFile split)
          val byTuple = withStored.repartition(
            partFields.indices.map(i => col(s"__gf_p$i")): _*)
          // a task may hold several tuples (hash collision): sort by the
          // tuple FIRST so each per-partition file stays sort-ordered
          if (sortCols.isEmpty) byTuple
          else byTuple.sortWithinPartitions(
            partFields.indices.map(i => col(s"__gf_p$i")) ++ sortCols: _*)
        }
      val w = base.write.mode("overwrite")
      val w2 = maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
      if (partFields.isEmpty) w2
      else w2.partitionBy(partFields.indices.map(i => s"__gf_p$i"): _*)
    }
    writer0.parquet(tmp)

    try {
      // staged leaf files (recursive list via GraftFs — `fs.listFiles`
      // breaks on custom schemes, see GraftFs notes)
      val staged: Seq[org.apache.hadoop.fs.FileStatus] = listParquetLeaves(tmp)
      val bytesByPath: Map[String, Long] =
        staged.map(s => IcebergIO.normalizePath(s.getPath.toString) -> s.getLen).toMap

      // ---- 2. per-file stats + stored tuple in ONE grouped aggregate
      // over a read-back of the staged files (explicit leaf paths: no
      // partition-column inference; every table column is IN the files —
      // partitionBy only dropped the derived __gf_p* duplicates)
      val stats = perFileStats(spark, writeSchema, fieldIdByName,
        staged.map(_.getPath.toString), storedCols)

      // a staged file absent from the stats map contributed no rows to
      // the read-back — an EMPTY part file (a plan with empty partitions
      // writes one per task, e.g. compacting after an anti-join delete).
      // Skip them (tmp cleanup removes the bytes), but VERIFY emptiness
      // first: absence must never paper over a file-path keying bug.
      val (statless, withStats) = staged.partition(
        s => !stats.contains(IcebergIO.normalizePath(s.getPath.toString)))
      if (statless.nonEmpty) {
        val n = spark.read.schema(writeSchema)
          .parquet(statless.map(_.getPath.toString): _*).count()
        require(n == 0L,
          s"read-back produced no stats for ${statless.size} staged " +
            s"file(s) holding $n rows — file-path keying bug: " +
            statless.map(_.getPath).take(3).mkString(", "))
      }

      // ---- 3. promote staged files into data/ (rename, rollback on
      // partial failure — same discipline as the Avro V2 commit)
      val dataDir = GraftFs.child(tablePath, "data")
      GraftFs.mkdirs(dataDir)
      var renamed = List.empty[(String, String)] // (from, to)
      try {
        withStats.zipWithIndex.map { case (s, i) =>
          val from = s.getPath.toString
          // the index disambiguates: one partitionBy task writes the
          // SAME basename into every partition dir it touches
          val to = GraftFs.child(dataDir, s"data-$snapshotId-$i-${s.getPath.getName}")
          if (!GraftFs.rename(from, to))
            throw new java.io.IOException(s"rename failed: $from -> $to")
          renamed ::= (from, to)
          val key = IcebergIO.normalizePath(from)
          val (records, partVals, bounds, nulls, nans) = stats.getOrElse(key,
            throw new IllegalStateException(s"no stats for staged file $from"))
          NewFile(to, records, bytesByPath(key), partVals, bounds, nulls, nans)
        }
      } catch {
        case e: Throwable =>
          renamed.foreach { case (from, to) => GraftFs.rename(to, from) }
          throw e
      }
    } finally {
      GraftFs.delete(tmp, recursive = true)
    }
  }

  /** The base manifests a snapshot carries verbatim: every one, the
    * data manifests only (the verb rebuilds the delete side), or none
    * (the verb names every live entry it keeps itself). */
  private sealed trait Carry
  private case object CarryAll extends Carry
  private case object CarryData extends Carry
  private case object CarryNone extends Carry

  /** The next snapshot id and sequence number after `base`. A verb reads
    * them before staging (staged file names carry the snapshot id); the
    * producer commits under the same pair. */
  private def nextIds(base: IcebergIO.TableMetadata): (Long, Long) =
    (base.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1,
      base.lastSequenceNumber + 1)

  /** The one snapshot producer, after Iceberg Java's `SnapshotProducer`:
    * every snapshot this writer commits goes through it. The verb plans
    * against `base` and hands over only its own work: the ADDED files
    * (staged data, parquet deletes, DVs), the live entries it rewrites
    * as EXISTING, and which base manifests carry verbatim. The producer
    * does the work every commit shares, once: v3 `first_row_id`s for
    * added data files without a preset one and the `next-row-id`
    * advance; one manifest per (content kind, partition spec) — v2
    * keeps data and deletes in separate manifests, and a mixed commit
    * (upsert) puts both at the SAME sequence number, where the spec's
    * strict `data seq < delete seq` rule keeps the delete off its own
    * rows; the manifest list; the standard `added-*` summary counts
    * (`summary` wins on a key collision) and the `rewritten-manifests`
    * marker on a `replace` that adds no data file — the one rewrite
    * incremental readers may cross, since no file changes its sequence
    * number; then the snapshot, its ref (`branch`, else main with
    * `current-snapshot-id` and the snapshot log) and `properties`,
    * published through [[updateMetadata]]. A lost race deletes the
    * added files unless `ownsAdded` is false ([[addFiles]]' files are the
    * user's source data, [[cherrypickSnapshot]]'s the branch's). Returns
    * the snapshot id. */
  private def produce(tablePath: String, base: IcebergIO.TableMetadata,
                      operation: String,
                      added: Seq[NewFile] = Nil,
                      existing: Seq[IcebergIO.ContentFile] = Nil,
                      carry: Carry = CarryAll,
                      summary: Map[String, String] = Map.empty,
                      branch: Option[String] = None,
                      properties: Map[String, String] = Map.empty,
                      ownsAdded: Boolean = true): Long = {
    val fv = base.formatVersion
    val (snapshotId, seq) = nextIds(base)
    val metaDir = GraftFs.child(tablePath, "metadata")
    // the parent: the branch head when writing to a branch (a missing
    // branch bases on the table's current state), else main
    val parent = branch.flatMap(base.refs.get).orElse(base.currentSnapshotId)
    var nextRowId = base.nextRowId
    val stamped = added.map { f =>
      if (fv < 3 || f.content != 0 || f.firstRowId.isDefined) f
      else { val a = f.copy(firstRowId = Some(nextRowId)); nextRowId += f.records; a }
    }
    val addedData = added.filter(_.content == 0)
    val counts = Map(
      "added-data-files" -> addedData.size.toString,
      "added-delete-files" -> added.count(_.content > 0).toString,
      "added-records" -> addedData.map(_.records).sum.toString,
      "added-files-size" -> added.distinctBy(_.path).map(_.bytes).sum.toString) ++
      (if (operation == "replace" && addedData.isEmpty)
         Map("rewritten-manifests" -> "true") else Map.empty)
    updateMetadata(tablePath, base,
        created = if (ownsAdded) added.map(_.path).distinct else Nil) { root =>
      val manifests = (stamped ++ existing.map(existingEntry(base, _)))
        .groupBy(f => (if (f.content > 0) 1 else 0, f.specId.getOrElse(base.defaultSpecId)))
        .toSeq.sortBy(_._1).map { case ((kind, specId), files) =>
          writeManifest(metaDir, base, specId, kind, files, snapshotId, seq)
        }
      val carried = carry match {
        case CarryNone => Nil
        case CarryAll => priorManifestEntries(base, parent)
        case CarryData => priorManifestEntries(base, parent)
          .filter(listNum(_, "content", 0L) == 0L)
      }
      val now = System.currentTimeMillis()
      if (fv >= 2) root.put("last-sequence-number", seq)
      if (fv >= 3) root.put("next-row-id", nextRowId)
      val sn = arrayNode(root, "snapshots").addObject()
      sn.put("snapshot-id", snapshotId)
      parent.foreach(sn.put("parent-snapshot-id", _))
      sn.put("timestamp-ms", now)
      if (fv >= 2) sn.put("sequence-number", seq)
      Option(root.get("current-schema-id")).foreach(n => sn.put("schema-id", n.asInt))
      val sum = sn.putObject("summary")
      sum.put("operation", operation)
      (counts ++ summary).foreach { case (k, v) => sum.put(k, v) }
      sn.put("manifest-list", writeManifestList(metaDir, fv, carried,
        manifests, snapshotId, seq))
      // a BRANCH commit moves only its own ref — the main lineage (and
      // time travel over it) never sees branch snapshots
      branch match {
        case Some(b) => setRef(root, b, snapshotId)
        case None => moveMain(root, snapshotId, Seq(snapshotId), now)
      }
      properties.foreach { case (k, v) => objectNode(root, "properties").put(k, v) }
    }
    snapshotId
  }

  /** The one metadata tail: every commit — the producer's snapshots and
    * every metadata-only verb — re-reads `base`'s metadata JSON, applies
    * `edit`, stamps `last-updated-ms`, logs `base`'s file in
    * `metadata-log` (spec: each new metadata file records its
    * predecessor) and publishes version + 1. A writer that committed
    * since `base` was loaded owns that version, so this commit fails as
    * a concurrent commit (the caller retries from a fresh load), and
    * deletes `created`, the files it wrote for itself. */
  private def updateMetadata(tablePath: String, base: IcebergIO.TableMetadata,
                             created: Seq[String] = Nil)
                            (edit: ObjectNode => Unit): Unit =
    try {
      val (root, version) = loadRawMetadata(base.metadataFile)
      val priorUpdated = Option(root.get("last-updated-ms")).map(_.asLong)
      edit(root)
      val now = System.currentTimeMillis()
      root.put("last-updated-ms", now)
      val log = arrayNode(root, "metadata-log").addObject()
      log.put("timestamp-ms", priorUpdated.getOrElse(now))
      log.put("metadata-file", base.metadataFile)
      publish(GraftFs.child(tablePath, "metadata"), version + 1, root)
    } catch {
      case e: Throwable => deleteQuietly(created); throw e
    }

  /** Point ref `name` at `snapshotId`. */
  private def setRef(root: ObjectNode, name: String, snapshotId: Long,
                     refType: String = "branch"): ObjectNode = {
    val r = objectNode(root, "refs").putObject(name)
    r.put("snapshot-id", snapshotId)
    r.put("type", refType)
  }

  /** Move main and `current-snapshot-id` to `snapshotId`, logging each of
    * `adopted` (in commit order) in the snapshot log at `now`. */
  private def moveMain(root: ObjectNode, snapshotId: Long, adopted: Seq[Long],
                       now: Long): Unit = {
    root.put("current-snapshot-id", snapshotId)
    setRef(root, "main", snapshotId)
    val log = arrayNode(root, "snapshot-log")
    adopted.foreach { id =>
      val e = log.addObject()
      e.put("timestamp-ms", now)
      e.put("snapshot-id", id)
    }
  }

  /** Fast-forward MAIN to a branch head — the publish half of
    * write-audit-publish (the runtime jar's `fast_forward` procedure).
    * Metadata-only and atomic (one optimistic publish): main must be an
    * ANCESTOR of the branch head (the branch owns every commit since the
    * fork), so the move never abandons main-lineage data; anything else
    * fails loudly — resolve by re-basing the branch, not by a silent
    * overwrite. The branch ref itself stays (drop it separately). */
  def fastForward(tablePath: String, branch: String): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    val head = meta.refs.getOrElse(branch,
      throw new IllegalArgumentException(
        s"no such branch '$branch' (refs: " +
          s"${meta.refs.keys.toSeq.sorted.mkString(", ")})"))
    val byId = meta.snapshots.map(s => s.snapshotId -> s).toMap
    meta.currentSnapshotId.foreach { cur =>
      if (cur != head) {
        @annotation.tailrec
        def ancestorOfHead(id: Option[Long]): Boolean = id match {
          case None => false
          case Some(x) if x == cur => true
          case Some(x) => ancestorOfHead(byId.get(x).flatMap(_.parentId))
        }
        require(ancestorOfHead(Some(head)),
          s"main ($cur) is not an ancestor of branch '$branch' head " +
            s"($head) — fast-forward would abandon main-lineage commits")
      }
    }
    // snapshot-log entries for every branch commit main just adopted, in
    // commit order — time travel over the main lineage must resolve
    // through them exactly as if they had been committed to main
    val adopted = {
      @annotation.tailrec
      def walk(id: Option[Long], acc: List[Long]): List[Long] = id match {
        case Some(x) if !meta.currentSnapshotId.contains(x) =>
          walk(byId.get(x).flatMap(_.parentId), x :: acc)
        case _ => acc
      }
      walk(Some(head), Nil)
    }
    updateMetadata(tablePath, meta)(
      moveMain(_, head, adopted, System.currentTimeMillis()))
    head
  }

  /** CHERRY-PICK one APPEND snapshot onto main (the runtime jar's
    * `cherrypick_snapshot` procedure — the other half of
    * write-audit-publish when a branch carries several audited commits
    * and only ONE should publish, or when picking a single commit
    * without [[fastForward]]'s whole-lineage move). Metadata-only: the
    * picked snapshot's ADDED data files (`file seq == source snapshot
    * seq`, the changelog's insert rule) are re-committed on main as a
    * NEW append at main's NEXT sequence number, stats and partition
    * tuples carried. Re-sequencing is the correctness core: an
    * equality delete committed on main AFTER the source snapshot
    * (`delete seq > source seq`) must NOT erase the picked rows — they
    * arrive on main NOW, and the spec's strict `data seq < delete seq`
    * rule is evaluated against the new sequence number, exactly as if
    * the rows had been freshly appended. Guards: the source must be an
    * `append` (delete/overwrite/replace commits don't have well-defined
    * pick semantics onto a diverged main), and none of its files may
    * already be live on main (re-picking or picking an already
    * fast-forwarded commit double-counts rows — rejected loudly).
    * Returns the new main snapshot id. */
  def cherrypickSnapshot(spark: SparkSession, tablePath: String,
                         sourceSnapshotId: Long): Long = {
    val meta = IcebergIO.loadMetadata(tablePath)
    require(meta.formatVersion >= 2,
      "cherrypickSnapshot requires format v2 (sequence numbers)")
    val source = meta.snapshots.find(_.snapshotId == sourceSnapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"no such snapshot: $sourceSnapshotId"))
    require(source.operation == "append",
      s"cherry-pick supports append snapshots only; $sourceSnapshotId " +
        s"is '${source.operation}'")
    // the source's OWN files: exactly those at its sequence number
    // (carried-forward parent files have older seqs)
    val picked = IcebergIO.liveFiles(spark, source)
      .filter(f => f.content == 0 && f.seq == source.sequenceNumber)
    require(picked.nonEmpty,
      s"snapshot $sourceSnapshotId added no data files — nothing to pick")
    // v3 column defaults gate on sequence numbers (file predates the
    // column ⟺ seq <= add-seq); the pick RE-SEQUENCES files to a fresh
    // seq, which would lift a pre-default file past the gate and turn
    // its initial-default rows into NULLs. Refuse that combination.
    meta.columnDefaults.foreach { d =>
      require(source.sequenceNumber > d.addSeq,
        s"cherry-pick of $sourceSnapshotId (seq ${source.sequenceNumber}) " +
          s"would re-sequence files past defaulted column '${d.name}' " +
          s"(added at seq ${d.addSeq}) — their initial-default rows would " +
          "silently read NULL; compact the source branch first")
    }
    val mainLive: Set[String] = currentSnapshot(meta).toSeq
      .flatMap(s => IcebergIO.liveFiles(spark, s))
      .map(f => IcebergIO.normalizePath(f.path)).toSet
    val dupes = picked.filter(f => mainLive(IcebergIO.normalizePath(f.path)))
    require(dupes.isEmpty,
      s"cherry-pick of $sourceSnapshotId would double-count " +
        s"${dupes.size} file(s) already live on main (first: " +
        s"${dupes.head.path}) — already applied?")

    // the picked files ADD to main at its next sequence number (the
    // re-sequencing); v3: their row ids were consumed from next-row-id
    // at the branch commit, so the preset first_row_id carries
    produce(tablePath, meta, "append",
      added = picked.map(existingEntry(meta, _)
        .copy(existingSeq = None, addedSnapshotId = None)),
      summary = Map("cherry-picked-snapshot-id" -> sourceSnapshotId.toString),
      ownsAdded = false)
  }

  private def arrayNode(root: ObjectNode, name: String): ArrayNode =
    Option(root.get(name)) match {
      case Some(a: ArrayNode) => a
      case _ => root.putArray(name)
    }

  private def objectNode(root: ObjectNode, name: String): ObjectNode =
    Option(root.get(name)) match {
      case Some(o: ObjectNode) => o
      case _ => root.putObject(name)
    }

  /** Keep only the elements of `arr` that satisfy `keep`. */
  private def retain(arr: ArrayNode)(keep: JsonNode => Boolean): ArrayNode = {
    val kept = arr.elements().asScala.filter(keep).toSeq
    arr.removeAll()
    kept.foreach(arr.add)
    arr
  }

  /** Parse the current metadata json raw (carried forward verbatim on
    * commit) + its Hadoop-layout version number. */
  private def loadRawMetadata(metadataFile: String): (ObjectNode, Int) = {
    val root = mapper.readTree(GraftFs.readUtf8(metadataFile))
      .asInstanceOf[ObjectNode]
    val name = new org.apache.hadoop.fs.Path(metadataFile).getName
    val v = "^v(\\d+)\\.metadata\\.json$".r.findFirstMatchIn(name)
      .map(_.group(1).toInt)
      .getOrElse(throw new UnsupportedOperationException(
        s"write requires the Hadoop-catalog vN.metadata.json layout, got $name"))
    (root, v)
  }

  /** The current snapshot's manifest-list entries, verbatim, for
    * carry-forward into the new list (the spec rewrites the full
    * manifest list each commit). Empty for an empty table. */
  private def priorManifestEntries(meta: IcebergIO.TableMetadata,
                                   baseSnapshotId: Option[Long]): Seq[GenericRecord] = {
    baseSnapshotId.toSeq.flatMap { id =>
      val snap = meta.snapshots.find(_.snapshotId == id).getOrElse(
        throw new IllegalStateException(s"current snapshot $id missing"))
      val ml = snap.manifestList.getOrElse(
        throw new UnsupportedOperationException(
          "append requires manifest-list snapshots (v1 inline-manifest " +
            "form not supported for write)"))
      val buf = scala.collection.mutable.ArrayBuffer.empty[GenericRecord]
      IcebergIO.foreachAvroRecord(ml)(buf += _)
      buf.toSeq
    }
  }

  /** A manifest a commit wrote, as its manifest-list entry records it. */
  private final case class NewManifest(path: String, length: Long, content: Int,
                                       specId: Int, rows: Long, files: Int)

  /** The manifest partition type of spec `specId`: each field's name and
    * STORED type, every field optional as Iceberg Java's
    * `PartitionSpec.partitionType()` writes it (identity values can be
    * null; position deletes leave the tuple unset), plus the spec's
    * field ids. */
  private def partitionType(meta: IcebergIO.TableMetadata, specId: Int)
      : (Seq[(String, DataType, Boolean)], Seq[Int]) = {
    val pct = meta.specsById.getOrElse(specId, Nil).map { case (name, transform, srcId) =>
      val src = meta.fieldById.getOrElse(srcId, throw new IllegalArgumentException(
        s"partition source field id $srcId not in table schema"))
      (name, storedType(transform, meta.schema(src).dataType), true)
    }
    (pct, meta.specFieldIds.getOrElse(specId, Nil))
  }

  /** Write one manifest of `files` (content kind `manifestContent`,
    * partition spec `specId`) through GraftFs: ADDED entries inherit
    * `seq`, EXISTING ones keep their own. */
  private def writeManifest(metaDir: String, meta: IcebergIO.TableMetadata,
                            specId: Int, manifestContent: Int,
                            files: Seq[NewFile], snapshotId: Long,
                            seq: Long): NewManifest = {
    val fv = meta.formatVersion
    val (partColTypes, specFieldIds) = partitionType(meta, specId)
    val es = IcebergFixture.manifestEntrySchema(fv, partColTypes)
    val dfSchema = es.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    val out = GraftFs.child(metaDir,
      f"manifest-$snapshotId%05d-${java.util.UUID.randomUUID()}.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](es))
    w.setMeta("schema", IcebergFixture.schemaJson(meta.schema, 0).toString)
    w.setMeta("partition-spec",
      partColTypes.zip(specFieldIds).map { case ((n, _, _), fid) =>
        // transform/source-id live in the table metadata; manifest
        // container metadata repeats name/field-id for spec readers
        s"""{"name":"$n","field-id":$fid}"""
      }.mkString("[", ",", "]"))
    w.setMeta("partition-spec-id", specId.toString)
    w.setMeta("format-version", fv.toString)
    if (fv >= 2)
      w.setMeta("content", if (manifestContent == 1) "deletes" else "data")
    w.create(es, GraftFs.create(out))
    try files.foreach { fm =>
      val e = new GenericData.Record(es)
      // a rewrite carries prior files as EXISTING with their ORIGINAL
      // sequence numbers made explicit (inheritance can't apply — the
      // new manifest belongs to the rewrite snapshot)
      e.put("status", if (fm.existingSeq.isDefined) 0 else 1)
      e.put("snapshot_id",
        Long.box(fm.addedSnapshotId.getOrElse(snapshotId)))
      if (fv >= 2) {
        val s = fm.existingSeq.getOrElse(seq)
        e.put("sequence_number", s)
        e.put("file_sequence_number", s)
      }
      val d = new GenericData.Record(dfSchema)
      if (fv >= 2) d.put("content", fm.content)
      d.put("file_path", fm.path)
      d.put("file_format", fm.format)
      if (fv >= 3) {
        fm.firstRowId.foreach(v => d.put("first_row_id", Long.box(v)))
        fm.dvRef.foreach { case (target, off, size) =>
          d.put("referenced_data_file", target)
          d.put("content_offset", Long.box(off))
          d.put("content_size_in_bytes", Long.box(size))
        }
      }
      val partRec = new GenericData.Record(partSchema)
      partColTypes.map(_._1).zip(fm.partitionValues).foreach { case (n, v) =>
        // stored values are already spec primitives (storedColumn emits
        // epoch ordinals for date/timestamp identity) — anything else
        // here is a bug, fail loudly
        v match {
          case null | _: java.lang.Integer | _: java.lang.Long |
               _: String | _: java.lang.Boolean => partRec.put(n, v)
          case other => throw new IllegalStateException(
            s"unexpected stored partition value ${other.getClass}: $other")
        }
      }
      d.put("partition", partRec)
      d.put("record_count", fm.records)
      d.put("file_size_in_bytes", fm.bytes)
      if (fm.bounds.nonEmpty) {
        def boundsArr(fieldName: String, lower: Boolean) = {
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
      if (fv == 1) d.put("block_size_in_bytes", 67108864L)
      if (fv >= 2 && fm.equalityIds.nonEmpty)
        d.put("equality_ids", fm.equalityIds.map(Int.box).asJava)
      e.put("data_file", d)
      w.append(e)
    } finally w.close()
    val len = GraftFs.status(out).map(_.getLen).getOrElse(
      throw new IllegalStateException(s"manifest vanished after write: $out"))
    NewManifest(out, len, manifestContent, specId, files.map(_.records).sum,
      files.size)
  }

  /** A numeric field of a manifest-list entry, `dflt` when absent. */
  private def listNum(r: GenericRecord, f: String, dflt: Long): Long =
    if (r.getSchema.getField(f) == null) dflt
    else r.get(f) match { case n: Number => n.longValue(); case _ => dflt }

  /** Write the new manifest list: carried prior entries (converted
    * defensively across schema revisions) + one entry per new manifest,
    * each recording ITS manifest's spec — the reader keys per-file spec
    * resolution (pruning, delete scoping) on it. */
  private def writeManifestList(metaDir: String, fv: Int,
                                carried: Seq[GenericRecord],
                                added: Seq[NewManifest],
                                snapshotId: Long, seq: Long): String = {
    val ls = IcebergFixture.manifestListSchema(fv)
    val out = GraftFs.child(metaDir,
      f"snap-$snapshotId%05d-manifest-list-${java.util.UUID.randomUUID()}.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](ls))
    w.setMeta("format-version", fv.toString)
    w.create(ls, GraftFs.create(out))
    try {
      carried.foreach { old =>
        val r = new GenericData.Record(ls)
        r.put("manifest_path", old.get("manifest_path").toString)
        r.put("manifest_length", listNum(old, "manifest_length", 0L))
        r.put("partition_spec_id", listNum(old, "partition_spec_id", 0L).toInt)
        if (fv >= 2) {
          r.put("content", listNum(old, "content", 0L).toInt)
          r.put("sequence_number", listNum(old, "sequence_number", 0L))
          r.put("min_sequence_number", listNum(old, "min_sequence_number", 0L))
        }
        r.put("added_snapshot_id", listNum(old, "added_snapshot_id", -1L))
        r.put("added_files_count", listNum(old, "added_files_count", 0L).toInt)
        r.put("existing_files_count", listNum(old, "existing_files_count", 0L).toInt)
        r.put("deleted_files_count", listNum(old, "deleted_files_count", 0L).toInt)
        r.put("added_rows_count", listNum(old, "added_rows_count", 0L))
        r.put("existing_rows_count", listNum(old, "existing_rows_count", 0L))
        r.put("deleted_rows_count", listNum(old, "deleted_rows_count", 0L))
        w.append(r)
      }
      added.foreach { m =>
        val r = new GenericData.Record(ls)
        r.put("manifest_path", m.path)
        r.put("manifest_length", m.length)
        r.put("partition_spec_id", m.specId)
        if (fv >= 2) {
          r.put("content", m.content)
          r.put("sequence_number", seq)
          r.put("min_sequence_number", seq)
        }
        r.put("added_snapshot_id", snapshotId)
        r.put("added_files_count", m.files)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", m.rows)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        w.append(r)
      }
    } finally w.close()
    out
  }

  /** Atomically publish metadata version `v`: create-if-absent the
    * vN file (optimistic concurrency — the loser of a race throws),
    * then move the version hint. */
  private def publish(metaDir: String, v: Int, root: ObjectNode): Unit = {
    val mdPath = GraftFs.child(metaDir, s"v$v.metadata.json")
    val out =
      try GraftFs.createNew(mdPath)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"concurrent commit detected: $mdPath already exists " +
            "(another writer published this version first; retry the append)", e)
      }
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    finally out.close()
    val hint = GraftFs.create(GraftFs.child(metaDir, "version-hint.text"))
    try hint.write(v.toString.getBytes("UTF-8")) finally hint.close()
  }

  /** Recursive .parquet leaf listing through GraftFs (plain listStatus
    * recursion — `fs.listFiles` breaks on custom schemes). */
  private def listParquetLeaves(dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
    def walk(d: String): Unit = GraftFs.list(d).foreach { s =>
      if (s.isDirectory) walk(s.getPath.toString)
      else if (s.getPath.getName.endsWith(".parquet")) out += s
    }
    walk(dir)
    out.toSeq.sortBy(s => s.getPath.toString)
  }

  /** Per-file record counts, bounds (spec 125/128: min/max excluding
    * NaN), null counts (110), NaN counts (137) and the stored partition
    * tuple — ONE grouped aggregate keyed on `_metadata.file_path`.
    * Bounds use the TABLE's field ids (`fieldIdByName`), not column
    * position — correct against externally created tables. */
  private def perFileStats(spark: SparkSession, schema: StructType,
                           fieldIdByName: Map[String, Int],
                           paths: Seq[String], storedCols: Seq[Column])
      : Map[String, (Long, Seq[Any],
                     Seq[(Int, Array[Byte], Array[Byte])],
                     Seq[(Int, Long)], Seq[(Int, Long)])] = {
    if (paths.isEmpty) return Map.empty
    val supported: Set[DataType] =
      Set(IntegerType, LongType, StringType, DateType, DoubleType, FloatType)
    def boundable(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case other => supported.contains(other)
    }
    def floating(dt: DataType) = dt == FloatType || dt == DoubleType
    val boundFields = schema.fields.toSeq.filter(f => boundable(f.dataType))
    val allCols = schema.fields.toSeq.map(_.name)
    val nanCols = schema.fields.toSeq.filter(f => floating(f.dataType)).map(_.name)
    def nonNan(f: StructField) =
      if (floating(f.dataType)) when(isnan(col(f.name)), null).otherwise(col(f.name))
      else col(f.name)
    val rb = spark.read.schema(schema).parquet(paths: _*)
      .withColumn("__gf_f", IcebergIO.normalizedPath(col("_metadata.file_path")))
    val aggs = Seq(count(lit(1))) ++
      boundFields.flatMap(f => Seq(min(nonNan(f)), max(nonNan(f)))) ++
      allCols.map(n => sum(when(col(n).isNull, 1L).otherwise(0L))) ++
      nanCols.map(n => sum(when(isnan(col(n)), 1L).otherwise(0L))) ++
      // stored tuple columns: constant per file by construction
      // (repartition + partitionBy), min() just reads the constant —
      // and yields null for a genuinely-null tuple value
      storedCols.map(min)
    rb.groupBy(col("__gf_f")).agg(aggs.head, aggs.tail: _*).collect().map { row =>
      val base = 2 // key + count
      val bounds = boundFields.zipWithIndex.flatMap { case (f, j) =>
        (Option(row.get(base + 2 * j)), Option(row.get(base + 2 * j + 1))) match {
          case (Some(lo), Some(hi)) => Some((fieldIdByName(f.name),
            IcebergTransforms.serializeBound(lo),
            IcebergTransforms.serializeBound(hi)))
          case _ => None
        }
      }
      val nulls = allCols.zipWithIndex.map { case (n, j) =>
        fieldIdByName(n) -> row.getLong(base + 2 * boundFields.size + j)
      }
      val nans = nanCols.zipWithIndex.map { case (n, j) =>
        fieldIdByName(n) -> row.getLong(base + 2 * boundFields.size + allCols.size + j)
      }
      val pvBase = base + 2 * boundFields.size + allCols.size + nanCols.size
      val partVals = storedCols.indices.map(i => row.get(pvBase + i): Any)
      // `_metadata.file_path` is URL-ENCODED (SparkPath), the GraftFs
      // listing is raw — decode so a hive-escaped partition dir
      // ("a b" -> "a%20b", literal '%' -> "%25") keys consistently
      val raw = row.getString(0)
      val key = try new java.net.URI(raw).getPath catch { case _: Exception => raw }
      key -> ((row.getLong(1), partVals, bounds, nulls, nans))
    }.toMap
  }
}
