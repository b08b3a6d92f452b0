package graft.queries

import org.apache.spark.sql.SparkSession

import Registry._
import graft.sources.{IcebergFixture, IcebergIO}

/**
 * Iceberg scan parity (the reference fork's feature delta — reference:
 * Cargo.toml:43-45 `iceberg-rust`/`datafusion_iceberg`,
 * ballista/core/src/serde/mod.rs:38,92, distributed_query.rs:44,100),
 * served by the NATIVE read-only snapshot scan [[graft.sources.IcebergIO]]
 * — no runtime jar, just the public table spec + the in-repo Avro reader.
 *
 * Oracle pattern is the same parquet-twin used by `avro_read` (DuckDB's
 * iceberg extension cannot install offline): each query builds a
 * spec-conformant fixture table from `nation` with [[IcebergFixture]],
 * scans it through IcebergIO, and the oracle recomputes the expected rows
 * from the parquet source directly.
 */
object IcebergQueries {

  private val tag: String = java.util.UUID.randomUUID().toString.take(8)

  /** nation in deterministic row order: single file, sorted by key, so a
    * row's position in the parquet file EQUALS its n_nationkey (keys are
    * the contiguous range 0..24) — what lets the position-delete oracle be
    * expressed as a key predicate. */
  private def nationSorted(s: SparkSession) =
    s.table("nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .repartition(1).sortWithinPartitions("n_nationkey")

  /** Two-snapshot append-only fixture (snap 1: keys < 10; snap 2: rest),
    * built at most once per JVM per scale dir. */
  private val basicDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def basicFixture(s: SparkSession, sfDir: String): String =
    basicDirs.computeIfAbsent(sfDir, { _ =>
      // key the path on the SCALE DIR, not map size: two dirs first-touched
      // concurrently would both observe size()==0 and collide
      val dir = s"/tmp/graft_iceberg_basic_${tag}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
      IcebergFixture.deleteRecursively(dir)
      val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema)
      w.append(nationSorted(s).filter("n_nationkey < 10"))
      w.append(nationSorted(s).filter("n_nationkey >= 10"))
      dir
    })

  /** Bench-grain fixture: `orders` identity-partitioned by
    * `o_bucket = o_orderkey % 200`, TWO appendFast snapshots (even keys,
    * then odd; each populates the 100 same-parity residues) — 200 data
    * files with per-file stats, so the bench
    * entries regression-protect MANIFEST PLANNING cost (the scan path's
    * driver-side component) at a realistic file count, not a 2-file toy.
    * Built once per JVM per scale dir; iteration 1 of a bench run pays
    * the build, and Bench reports min-of-2 so the build never bills as
    * scan throughput. */
  private val benchDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def benchFixture(s: SparkSession, sfDir: String): String =
    benchDirs.computeIfAbsent(sfDir, { _ =>
      import org.apache.spark.sql.functions.{col, pmod}
      val dir = s"/tmp/graft_iceberg_bench_${tag}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
      IcebergFixture.deleteRecursively(dir)
      val src = s.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          pmod(col("o_orderkey"), org.apache.spark.sql.functions.lit(200L))
            .cast("int").as("o_bucket"))
      val w = new IcebergFixture.Writer(s, dir, src.schema,
        partitionCols = Seq("o_bucket"))
      w.appendFast(src.filter("o_orderkey % 2 = 0"))
      w.appendFast(src.filter("o_orderkey % 2 = 1"))
      dir
    })

  /** Full scan of the 200-file bench table, forced through an exact
    * aggregate — times manifest planning + the vectorized parquet scan. */
  val icebergBenchScan = dfQ("iceberg_bench_scan",
    """SELECT COUNT(*) AS n,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total,
      |       COUNT(DISTINCT o_orderkey % 200) AS nbuckets
      |FROM orders""".stripMargin) { (s, sfDir) =>
    import org.apache.spark.sql.functions._
    IcebergIO.read(s, benchFixture(s, sfDir)).agg(
      count(lit(1)).as("n"),
      sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"),
      countDistinct(col("o_bucket")).as("nbuckets"))
  }

  /** Changelog scan over the bench table's second append: times the CDC
    * planner (two snapshots' manifests + the added-file selection) plus
    * the scan of the ~200 files that append created — the
    * regression guard for [[IcebergIO.readChangelog]]'s per-snapshot
    * planning at a realistic file count. The range holds no deletes, so
    * every change row is an insert (pinned via min(_change_type)). */
  val icebergBenchChangelog = dfQ("iceberg_bench_changelog",
    """SELECT COUNT(*) AS n, COUNT(DISTINCT o_orderkey % 200) AS nbuckets,
      |       'insert' AS ctype
      |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin) { (s, sfDir) =>
    import org.apache.spark.sql.functions._
    IcebergIO.readChangelog(s, benchFixture(s, sfDir),
        fromSnapshotId = Some(1L))
      .agg(count(lit(1)).as("n"), countDistinct(col("o_bucket")).as("nbuckets"),
        min(col("_change_type")).as("ctype"))
  }

  /** Selective readWhere over the bench table: partition pruning keeps
    * 2 of 200 files — times the DERIVATION + pruning path end-to-end. */
  val icebergBenchPrune = dfQ("iceberg_bench_prune",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey % 200 = 7 ORDER BY o_orderkey""".stripMargin) { (s, sfDir) =>
    import org.apache.spark.sql.functions.col
    IcebergIO.readWhere(s, benchFixture(s, sfDir), col("o_bucket") === 7)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** The bench table through the SQL surface: registered live view +
    * plain `WHERE` — times metadata re-resolution + rule-driven pruning
    * + the pruned scan, i.e. the per-query overhead a SQL user actually
    * pays (readWhere's cost plus the optimizer-time materialization). */
  val icebergBenchSql = dfQ("iceberg_bench_sql",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE o_orderkey % 200 = 7 ORDER BY o_orderkey""".stripMargin) { (s, sfDir) =>
    val dir = benchFixture(s, sfDir)
    graft.sources.IcebergTableScan.dataFrame(s, dir)
      .createOrReplaceTempView(s"iceberg_bench_sql_$tag")
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM iceberg_bench_sql_$tag
         |WHERE o_bucket = 7 ORDER BY o_orderkey""".stripMargin)
  }

  /** WRITE throughput: create + one distributed append of the full
    * orders slice through [[graft.sources.IcebergWrite]] (data job,
    * per-file stats read-back, manifest + optimistic commit), verified
    * by an exact read-back aggregate. The dir is recreated each
    * iteration so every timing covers the whole write path. */
  val icebergBenchWrite = dfQ("iceberg_bench_write",
    """SELECT COUNT(*) AS n, MAX(o_orderkey) AS max_key,
      |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
      |FROM orders""".stripMargin) { (s, sfDir) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_bench_write_${tag}_" +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")
    IcebergFixture.deleteRecursively(dir)
    val src = s.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.sources.IcebergWrite.create(s, dir, src.schema)
    graft.sources.IcebergWrite.append(src, dir)
    IcebergIO.read(s, dir).agg(
      count(lit(1)).as("n"), max("o_orderkey").as("max_key"),
      sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total"))
  }

  /** Current-snapshot scan = the full table. */
  val icebergRead = dfQ("iceberg_read",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.read(s, basicFixture(s, sfDir)).orderBy("n_nationkey")
  }

  /** Time travel to snapshot 1 (before the second append). */
  val icebergTimeTravel = dfQ("iceberg_time_travel",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_nationkey < 10 ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.read(s, basicFixture(s, sfDir), snapshotId = Some(1L))
      .orderBy("n_nationkey")
  }

  /** v2 position deletes (merge-on-read): one sorted data file, then a
    * delete snapshot removing the odd positions == odd keys; applied as a
    * distributed `_metadata.(file_path,row_index)` anti-join. */
  val icebergPosDelete = dfQ("iceberg_pos_delete",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_nationkey % 2 = 0 ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    val dir = s"/tmp/graft_iceberg_posdel_$tag"
    IcebergFixture.deleteRecursively(dir)
    val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema)
    w.append(nationSorted(s))
    val oddPositions = (1L until 25L by 2).toSeq
    w.deletePositions(w.dataFilePaths.head, oddPositions)
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** v2 EQUALITY deletes with the spec's sequence rule: delete every
    * nation of region 1 by (n_regionkey) value, then re-append ONE of
    * them — the re-insert's higher data sequence number must survive the
    * earlier delete. The oracle replays exactly that set algebra on the
    * parquet source. */
  val icebergEqDelete = dfQ("iceberg_eq_delete",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_regionkey <> 1
      |   OR n_nationkey = (SELECT MIN(n_nationkey) FROM nation WHERE n_regionkey = 1)
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.col
    val dir = s"/tmp/graft_iceberg_eqdel_$tag"
    IcebergFixture.deleteRecursively(dir)
    val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema)
    w.append(nationSorted(s))
    // field id 3 = n_regionkey (fixture ids follow field order)
    w.deleteEquality(nationSorted(s).select("n_regionkey")
      .filter(col("n_regionkey") === 1).distinct(), Seq(3))
    val back = nationSorted(s).filter(col("n_regionkey") === 1)
      .orderBy("n_nationkey").limit(1)
    w.append(back)
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** PARTITION-SCOPED equality delete on an identity-DATE partition:
    * nation spread over three date partitions (d = 2024-01-01 + key%3,
    * identity transform — the manifest stores the epoch-day ordinal),
    * then one delete file `n_regionkey = 1` written INTO the
    * 2024-01-01 partition. Region-1 rows in the OTHER two partitions
    * must survive — the scan re-derives the stored epoch-day ordinal
    * per row ([[graft.sources.IcebergTransforms.storedColumn]]); a
    * plain date-vs-int comparison would never match (under-delete) and
    * an unscoped join would kill all region-1 rows (over-delete). */
  val icebergEqDeleteDate = dfQ("iceberg_eq_delete_date",
    """SELECT n_nationkey, n_name, n_regionkey,
      |  DATE '2024-01-01' + CAST(n_nationkey % 3 AS INT) AS d
      |FROM nation
      |WHERE NOT (n_regionkey = 1 AND n_nationkey % 3 = 0)
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.{col, date_add, lit, to_date}
    val dir = s"/tmp/graft_iceberg_eqdel_date_$tag"
    IcebergFixture.deleteRecursively(dir)
    val src = nationSorted(s).withColumn("d",
      date_add(to_date(lit("2024-01-01")), (col("n_nationkey") % 3).cast("int")))
    val w = new IcebergFixture.Writer(s, dir, src.schema,
      partitionCols = Seq("d"))
    w.append(src)
    // field id 3 = n_regionkey (fixture ids follow field order)
    w.deleteEqualityInPartition(
      src.select("n_regionkey").filter(col("n_regionkey") === 1).distinct(),
      Seq(3), Seq(java.sql.Date.valueOf("2024-01-01")))
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** Identity-partitioned table + planning-time partition pruning: nation
    * partitioned by n_regionkey (5 data files), scan with a partition
    * filter — only the matching file is ever opened (asserted in
    * IcebergSpec via inputFiles; here the oracle pins the row set). */
  val icebergPartitionPrune = dfQ("iceberg_partition_prune",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_regionkey = 2 ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    val dir = s"/tmp/graft_iceberg_part_$tag"
    IcebergFixture.deleteRecursively(dir)
    val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema,
      partitionCols = Seq("n_regionkey"))
    w.append(nationSorted(s))
    IcebergIO.read(s, dir, partitionFilter = Map("n_regionkey" -> 2L))
      .orderBy("n_nationkey")
  }

  /** bucket[N]-partitioned table + planning-time pruning: nation hashed
    * into 4 buckets of n_name (spec murmur3 bucket transform). The
    * partitionFilter prunes to CANADA's bucket at planning time (file
    * pruning asserted in IcebergSpec); the exact row predicate is then
    * applied as usual, so the oracle is a plain name filter. */
  val icebergBucketPrune = dfQ("iceberg_bucket_prune",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_name = 'NATION_7' ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.col
    val dir = s"/tmp/graft_iceberg_bucket_$tag"
    IcebergFixture.deleteRecursively(dir)
    val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema,
      partitionCols = Seq("n_name"),
      partitionTransforms = Map("n_name" -> "bucket[4]"))
    w.append(nationSorted(s))
    val out = IcebergIO.read(s, dir, partitionFilter = Map("n_name" -> "NATION_7"))
      .filter(col("n_name") === "NATION_7").orderBy("n_nationkey")
    require(out.count() > 0, "bucket-pruned scan must not be empty " +
      "(an empty result would make the oracle compare vacuous)")
    out
  }

  /** year-partitioned table + planning-time pruning: orders partitioned
    * by year(o_orderdate) (spec time-transform ordinal = years from
    * 1970). A filter date anywhere inside 1995 prunes to that year's one
    * data file; the exact row predicate is then applied as usual. */
  val icebergTimePrune = dfQ("iceberg_time_prune",
    """SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS o_orderdate
      |FROM orders
      |WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
      |ORDER BY o_orderkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.{col, year, to_date}
    val dir = s"/tmp/graft_iceberg_time_$tag"
    IcebergFixture.deleteRecursively(dir)
    // testdata o_orderdate is TIMESTAMP_NTZ — the fixture partitions on a
    // true DATE column (the reference-shape for a year transform)
    val base = s.table("orders")
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_orderdate"))
      .repartition(1).sortWithinPartitions("o_orderkey")
    val w = new IcebergFixture.Writer(s, dir, base.schema,
      partitionCols = Seq("o_orderdate"),
      partitionTransforms = Map("o_orderdate" -> "year"))
    w.append(base)
    val out = IcebergIO.read(s, dir,
      partitionFilter = Map("o_orderdate" -> java.sql.Date.valueOf("1995-06-15")))
      .filter(year(col("o_orderdate")) === 1995).orderBy("o_orderkey")
    require(out.count() > 0, "year-pruned scan must not be empty " +
      "(an empty result would make the oracle compare vacuous)")
    out
  }

  /** DATE-identity-partitioned table + derived pruning — the most common
    * real Iceberg layout (tables identity-partitioned by a date column).
    * Manifests store the partition value as the epoch-day INT while the
    * predicate literal is a java.sql.Date; the scan normalizes the
    * literal to the stored form before comparing (a String-compare of the
    * objects would silently prune EVERY file and return wrong empty
    * results — the round-7 advisory bug this entry pins). */
  val icebergDatePrune = dfQ("iceberg_date_prune",
    """SELECT o_orderkey, o_custkey,
      |       CAST(DATE_TRUNC('year', o_orderdate) AS DATE) AS o_year
      |FROM orders
      |WHERE CAST(DATE_TRUNC('year', o_orderdate) AS DATE) = DATE '1995-01-01'
      |ORDER BY o_orderkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.{col, date_trunc, to_date}
    val dir = s"/tmp/graft_iceberg_date_$tag"
    IcebergFixture.deleteRecursively(dir)
    // year-start DATE column -> one partition (and data file) per year
    val base = s.table("orders")
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(date_trunc("year", col("o_orderdate"))).as("o_year"))
      .repartition(1).sortWithinPartitions("o_orderkey")
    val w = new IcebergFixture.Writer(s, dir, base.schema,
      partitionCols = Seq("o_year"))
    w.append(base)
    val out = IcebergIO.readWhere(s, dir,
        col("o_year") === java.sql.Date.valueOf("1995-01-01"))
      .orderBy("o_orderkey")
    require(out.count() > 0, "date-identity-pruned scan must not be empty " +
      "(an empty result would make the oracle compare vacuous — and empty " +
      "IS the failure mode of the un-normalized literal compare)")
    out
  }

  /** Table history as a relation (the runtime jar's `.history` metadata
    * table). The fixture's commit clock is deterministic (2024-01-01 UTC
    * + 1 s per snapshot), so the oracle pins the exact expected rows. */
  val icebergHistory = dfQ("iceberg_history",
    """SELECT * FROM (VALUES
      |  (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1704067201000 AS BIGINT), 'append'),
      |  (CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(1704067202000 AS BIGINT), 'append'))
      |  AS t(snapshot_id, sequence_number, committed_at_ms, operation)
      |ORDER BY snapshot_id""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.history(s, basicFixture(s, sfDir)).orderBy("snapshot_id")
  }

  /** Manifest min/max stats pruning: the basic fixture's two data files
    * carry n_nationkey bounds [0,9] and [10,24], so `n_nationkey >= 15`
    * proves the first file irrelevant at PLANNING time (file-level
    * skipping one level above parquet row-group stats; pruned-file count
    * asserted in IcebergSpec). The exact row predicate then applies as
    * usual. */
  val icebergStatsPrune = dfQ("iceberg_stats_prune",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_nationkey >= 15 ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.col
    IcebergIO.read(s, basicFixture(s, sfDir),
        statsFilter = Seq(("n_nationkey", ">=", 15L)))
      .filter(col("n_nationkey") >= 15).orderBy("n_nationkey")
  }

  /** Per-partition aggregates as a relation (the runtime jar's
    * `.partitions` metadata table): nation identity-partitioned by
    * n_regionkey gives one file per region per append, so the relation
    * must equal a plain GROUP BY over the source — a real recomputation
    * oracle, not a pinned-values one. */
  val icebergPartitions = dfQ("iceberg_partitions",
    """SELECT CONCAT('n_regionkey=', n_regionkey) AS partition,
      |       CAST(1 AS BIGINT) AS file_count,
      |       COUNT(*) AS record_count
      |FROM nation GROUP BY n_regionkey ORDER BY partition""".stripMargin,
    bench = false) { (s, sfDir) =>
    val dir = s"/tmp/graft_iceberg_partsrel_$tag"
    IcebergFixture.deleteRecursively(dir)
    val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema,
      partitionCols = Seq("n_regionkey"))
    w.append(nationSorted(s))
    IcebergIO.partitions(s, dir).orderBy("partition")
  }

  /** Named refs as a relation: the basic fixture's main branch tracks
    * the head snapshot (2 appends -> snapshot 2). */
  val icebergRefs = dfQ("iceberg_refs",
    """SELECT 'main' AS ref_name, CAST(2 AS BIGINT) AS snapshot_id
      |ORDER BY ref_name""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.refs(s, basicFixture(s, sfDir)).orderBy("ref_name")
  }

  /** Automatic pushdown: readWhere derives partition pruning (region
    * equality) AND manifest-stats pruning (key range) from ONE Spark
    * predicate, then applies it exactly — the runtime jar's scan-pushdown
    * contract without manual filter plumbing. */
  val icebergPushdownWhere = dfQ("iceberg_pushdown_where",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_regionkey = 2 AND n_nationkey >= 5 ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.col
    val dir = s"/tmp/graft_iceberg_where_$tag"
    IcebergFixture.deleteRecursively(dir)
    val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema,
      partitionCols = Seq("n_regionkey"))
    w.append(nationSorted(s))
    IcebergIO.readWhere(s, dir,
        col("n_regionkey") === 2L && col("n_nationkey") >= 5L)
      .orderBy("n_nationkey")
  }

  /** Prefix predicate ([[IcebergIO.readWhere]] with `startsWith`; LIKE
    * 'p%' on the SQL surface): derives the `p <= s < p[:-1]+next` range
    * for stats-bounds file pruning. Pruning effectiveness is
    * plan-asserted in IcebergSpec; the oracle pins exactness of the
    * derived range + exact-filter composition. */
  val icebergPrefixPrune = dfQ("iceberg_prefix_prune",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE starts_with(n_name, 'NATION_1') ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.col
    val dir = s"/tmp/graft_iceberg_prefix_$tag"
    IcebergFixture.deleteRecursively(dir)
    val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema)
    // several files with distinct name ranges (sorted input split)
    nationSorted(s).orderBy("n_name").collect()
      .grouped(7).foreach { rows =>
        w.append(s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            java.util.Arrays.asList(rows: _*)), nationSorted(s).schema))
      }
    IcebergIO.readWhere(s, dir, col("n_name").startsWith("NATION_1"))
      .orderBy("n_nationkey")
  }

  /** Incremental append scan over the basic fixture: snapshot 1 holds
    * keys < 10, snapshot 2 the rest — reading "changes after snapshot 1"
    * must return exactly the second append, never re-reading the first
    * (the primitive a daily pipeline uses to process only new data). */
  val icebergIncremental = dfQ("iceberg_incremental",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_nationkey >= 10 ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.readIncremental(s, basicFixture(s, sfDir), fromSnapshotId = 1L)
      .orderBy("n_nationkey")
  }

  /** Snapshots as a relation (the runtime jar's `.snapshots` metadata
    * table) over the deterministic basic fixture: two append snapshots,
    * parent-linked, fixed t0-derived commit times; the summary map is
    * surfaced through its `operation` entry (map columns don't compare
    * stably across engines). */
  val icebergSnapshots = dfQ("iceberg_snapshots",
    """SELECT * FROM (VALUES
      |  (CAST(1704067201000 AS BIGINT), CAST(1 AS BIGINT), CAST(NULL AS BIGINT),
      |   'append', 'snap-00001-manifest-list.avro', 'append'),
      |  (CAST(1704067202000 AS BIGINT), CAST(2 AS BIGINT), CAST(1 AS BIGINT),
      |   'append', 'snap-00002-manifest-list.avro', 'append'))
      |  AS t(committed_at_ms, snapshot_id, parent_id, operation,
      |       manifest_list, summary_operation)
      |ORDER BY snapshot_id""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions.{col, element_at}
    IcebergIO.snapshots(s, basicFixture(s, sfDir))
      .withColumn("summary_operation", element_at(col("summary"), "operation"))
      .drop("summary")
      .orderBy("snapshot_id")
  }

  /** SQL-surface twin of `iceberg_pushdown_where`: the table registers
    * as a LIVE view ([[graft.sources.IcebergTableScan]]) and a plain SQL
    * `WHERE` drives the same partition + stats pruning at optimization
    * time — no readWhere call anywhere. Pruning effectiveness (fewer
    * files scanned) is plan-asserted in IcebergSqlSpec; here the oracle
    * pins exactness. */
  val icebergSqlPushdown = dfQ("iceberg_sql_pushdown",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |WHERE n_regionkey = 2 AND n_nationkey >= 5 ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, sfDir) =>
    val dir = s"/tmp/graft_iceberg_sqlpd_$tag"
    IcebergFixture.deleteRecursively(dir)
    val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema,
      partitionCols = Seq("n_regionkey"))
    w.append(nationSorted(s))
    graft.sources.IcebergTableScan.dataFrame(s, dir)
      .createOrReplaceTempView(s"iceberg_sqlpd_$tag")
    s.sql(
      s"""SELECT n_nationkey, n_name, n_regionkey FROM iceberg_sqlpd_$tag
         |WHERE n_regionkey = 2 AND n_nationkey >= 5
         |ORDER BY n_nationkey""".stripMargin)
  }

  /** End-to-end pipeline showcase: documents land in an Iceberg table
    * partitioned by language, a curation read prunes at planning time
    * (lang partition + n_chars stats from ONE predicate), the curated
    * projection (token count + content fingerprint) is written to Avro
    * containers, and the final answer is the Avro READ-BACK — source,
    * pruned scan, transform and sink all verified in one oracle (which
    * replays the logic over the parquet twin). */
  val icebergPipeline = dfQ("pipe_iceberg_to_avro",
    """SELECT doc_id,
      |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_toks,
      |  md5(text) AS fp
      |FROM documents WHERE lang = 'en' AND n_chars >= 200
      |ORDER BY doc_id""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_pipe_$tag"
    IcebergFixture.deleteRecursively(dir)
    val docs = s.table("documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val w = new IcebergFixture.Writer(s, dir, docs.schema,
      partitionCols = Seq("lang"))
    w.append(docs)
    val curated = IcebergIO.readWhere(s, dir,
        col("lang") === "en" && col("n_chars") >= 200L)
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("bigint").as("n_toks"),
        md5(col("text")).as("fp"))
    val out = s"/tmp/graft_iceberg_pipe_avro_$tag"
    graft.sources.AvroIO.write(curated, out)
    graft.sources.AvroIO.read(s, out).orderBy("doc_id")
  }

  /** Manifest-list entries as a relation (the runtime jar's `.manifests`
    * metadata table) over the deterministic basic fixture: one data
    * manifest per append snapshot. */
  val icebergManifests = dfQ("iceberg_manifests",
    """SELECT * FROM (VALUES
      |  ('manifest-00001.avro', 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT),
      |   CAST(1 AS BIGINT), CAST(10 AS BIGINT)),
      |  ('manifest-00002.avro', 0, CAST(2 AS BIGINT), CAST(2 AS BIGINT),
      |   CAST(1 AS BIGINT), CAST(15 AS BIGINT)))
      |  AS t(manifest_name, content, sequence_number, added_snapshot_id,
      |       added_files_count, added_rows_count)
      |ORDER BY sequence_number""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.manifests(s, basicFixture(s, sfDir)).orderBy("sequence_number")
  }

  /** Live files as a relation (the runtime jar's `.files` metadata
    * table). The basic fixture is fully deterministic — two append
    * snapshots of nation split at key 10 — so the oracle pins the exact
    * expected rows (10- and 15-record parquet files, sequence 1 and 2). */
  val icebergFiles = dfQ("iceberg_files",
    """SELECT * FROM (VALUES
      |  ('data-00001.parquet', 0, 'PARQUET', CAST(10 AS BIGINT), CAST(1 AS BIGINT), ''),
      |  ('data-00002.parquet', 0, 'PARQUET', CAST(15 AS BIGINT), CAST(2 AS BIGINT), ''))
      |  AS t(file_name, content, file_format, record_count, sequence_number, partition)
      |ORDER BY sequence_number""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.files(s, basicFixture(s, sfDir)).orderBy("sequence_number")
  }

  /** `.entries` metadata relation ([[IcebergIO.entries]]): one row per
    * manifest entry of the snapshot — status, snapshot id (inheriting
    * the manifest-list's added_snapshot_id in the v2 form), sequence,
    * file identity, counts. Pinned against the deterministic
    * two-snapshot fixture, like `iceberg_files`. */
  val icebergEntries = dfQ("iceberg_entries",
    """SELECT * FROM (VALUES
      |  (1, CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'data-00001.parquet', 0, CAST(10 AS BIGINT), ''),
      |  (1, CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'data-00002.parquet', 0, CAST(15 AS BIGINT), ''))
      |  AS t(status, snapshot_id, sequence_number, file_name, content, record_count, partition)
      |ORDER BY sequence_number""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.entries(s, basicFixture(s, sfDir)).orderBy("sequence_number")
  }

  /** End-to-end WRITE parity ([[graft.sources.IcebergWrite]]): create a
    * partitioned table, append two order slices through the distributed
    * write path (data job + per-file stats + optimistic commit), then
    * read back with partition pruning and aggregate. The oracle replays
    * the slices straight off the parquet source — byte-identical results
    * prove the commit recorded exactly the appended rows, the partition
    * tuples scope correctly, and the pruned read loses nothing. */
  val icebergWriteRoundtrip = dfQ("iceberg_write_roundtrip",
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  MAX(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_orderkey % 3 IN (0, 1)
      |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_write_rt_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    graft.sources.IcebergWrite.create(s, dir, orders.schema,
      partitionCols = Seq("o_orderpriority"))
    graft.sources.IcebergWrite.append(orders.filter(col("o_orderkey") % 3 === 0), dir)
    graft.sources.IcebergWrite.append(orders.filter(col("o_orderkey") % 3 === 1), dir)
    IcebergIO.readWhere(s, dir,
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** Merge-on-read DELETE parity ([[graft.sources.IcebergWrite]]
    * `deleteWhere`): append orders, delete a keyed slice by predicate
    * (position-delete file written by a distributed scan — no data file
    * rewritten), then aggregate the survivors. The oracle replays the
    * complement filter straight off the parquet source. */
  val icebergDeleteWhere = dfQ("iceberg_delete_where",
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_orderkey % 7 <> 3
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_delete_rt_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    graft.sources.IcebergWrite.create(s, dir, orders.schema,
      partitionCols = Seq("o_orderpriority"))
    graft.sources.IcebergWrite.append(orders, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("o_orderkey") % 7 === 3)
    IcebergIO.read(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** Partition-scoped equality DELETE through the writer
    * ([[graft.sources.IcebergWrite]] `deleteEquality` on a PARTITIONED
    * table): the delete keys (`o_custkey`) span many partitions and do
    * not include the partition source, so the writer derives scope by
    * joining the keys against the current data and emits one scoped
    * delete file per affected partition (a single global file would
    * read back null-partition-scoped and over/under-delete). The oracle
    * replays the complement predicate off the parquet source. */
  val icebergEqDeleteScoped = dfQ("iceberg_eq_delete_scoped",
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_custkey % 50 <> 7
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_eqdel_scoped_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    graft.sources.IcebergWrite.create(s, dir, orders.schema,
      partitionCols = Seq("o_orderpriority"))
    graft.sources.IcebergWrite.append(orders, dir)
    graft.sources.IcebergWrite.deleteEquality(
      orders.select("o_custkey").filter(pmod(col("o_custkey"), lit(50)) === 7)
        .distinct(), dir)
    IcebergIO.read(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** Atomic MERGE/UPSERT ([[graft.sources.IcebergWrite]] `upsert`): one
    * snapshot carries the equality-delete manifest (on the key) AND the
    * data manifest at the same sequence number — updated rows replaced
    * (two of them MOVING partition), new rows inserted, everything else
    * untouched. The oracle recomputes the merged state in SQL. */
  val icebergUpsert = dfQ("iceberg_upsert",
    """WITH up AS (
      |  SELECT n_nationkey, 'UPDATED_' || n_name AS n_name,
      |         (n_regionkey + 2) % 5 AS n_regionkey
      |  FROM nation WHERE n_nationkey < 5
      |  UNION ALL
      |  SELECT n_nationkey + 100, n_name, (n_regionkey + 1) % 5
      |  FROM nation WHERE n_nationkey < 3)
      |SELECT n_nationkey, n_name, n_regionkey FROM (
      |  SELECT * FROM up
      |  UNION ALL
      |  SELECT n_nationkey, n_name, n_regionkey FROM nation
      |  WHERE n_nationkey >= 5) t
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_upsert_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema,
      partitionCols = Seq("n_regionkey"))
    graft.sources.IcebergWrite.append(nation, dir)
    val updates = nation.filter(col("n_nationkey") < 5)
      .select(col("n_nationkey"),
        concat(lit("UPDATED_"), col("n_name")).as("n_name"),
        ((col("n_regionkey") + 2) % 5).as("n_regionkey"))
    val inserts = nation.filter(col("n_nationkey") < 3)
      .select((col("n_nationkey") + 100).as("n_nationkey"), col("n_name"),
        ((col("n_regionkey") + 1) % 5).as("n_regionkey"))
    graft.sources.IcebergWrite.upsert(updates.unionByName(inserts), dir,
      Seq("n_nationkey"))
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** SQL DML surface ([[graft.GraftSession]] `sql`, Spark-parsed plans):
    * DELETE FROM / UPDATE ... SET / whole-row MERGE INTO against a
    * registered native-Iceberg view, routed to the merge-on-read
    * writer verbs. The oracle replays the three statements as
    * set-algebra over the parquet source (delete first, then the
    * old-row update on survivors, then the merge replacing matched
    * keys and inserting unmatched ones). */
  val icebergSqlDml = dfQ("iceberg_sql_dml",
    """WITH src AS (
      |  SELECT o_orderkey, 'M' AS o_orderstatus,
      |         CAST(0.0 AS DOUBLE) AS o_totalprice
      |  FROM orders
      |  WHERE o_orderkey % 13 = 0 OR (o_orderkey % 11 = 5 AND o_orderkey % 2 = 0)),
      |base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1.5
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 11 <> 5),
      |merged AS (
      |  SELECT * FROM src
      |  UNION ALL
      |  SELECT * FROM base
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, 'I', CAST(2.5 AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 97 = 0)
      |SELECT o_orderkey, o_orderstatus, o_totalprice FROM merged
      |WHERE o_orderkey % 37 = 0
      |ORDER BY o_orderkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_sqldml_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val g = graft.GraftSession.wrap(s)
    g.writeIceberg(orders, dir)
    val vn = s"sqldml_$tag"
    g.registerIceberg(vn, dir)
    g.sql(s"DELETE FROM $vn WHERE o_orderkey % 11 = 5")
    g.sql(s"UPDATE $vn SET o_totalprice = o_totalprice + 1.5 " +
      "WHERE o_orderstatus = 'F'")
    orders.filter((pmod(col("o_orderkey"), lit(13L)) === 0L) ||
        (pmod(col("o_orderkey"), lit(11L)) === 5L &&
          pmod(col("o_orderkey"), lit(2L)) === 0L))
      .select(col("o_orderkey"), lit("M").as("o_orderstatus"),
        lit(0.0).as("o_totalprice"))
      .createOrReplaceTempView(s"${vn}_src")
    g.sql(s"MERGE INTO $vn t USING ${vn}_src s ON t.o_orderkey = s.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    g.sql(s"INSERT INTO $vn SELECT o_orderkey + 10000000, 'I', " +
      "CAST(2.5 AS DOUBLE) FROM orders WHERE o_orderkey % 97 = 0")
    g.sql(s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM $vn " +
      "WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey")
  }

  /** Conditional `MERGE INTO` ([[graft.sources.IcebergWrite]] `merge` via
    * the [[graft.GraftSession]] `sql` surface): three clauses — conditional
    * DELETE, conditional UPDATE that MOVES partitions (SET touches the
    * partition source), and a column-list INSERT for unmatched source
    * keys — applied first-match-wins in ONE atomic snapshot
    * (position-delete manifest + data manifest at the same sequence
    * number). A SECOND merge then exercises `WHEN NOT MATCHED BY
    * SOURCE` (the ANSI full-sync shape): target rows absent from the
    * sync source either DELETE or flag via UPDATE, first-match-wins.
    * The oracle replays the clause algebra in SQL: a LEFT JOIN decides
    * each target row's fate, an anti-join produces the inserts, and the
    * by-source pass is one CASE + filter over the merged state. */
  val icebergMergeInto = dfQ("iceberg_merge_into",
    """WITH src AS (
      |  SELECT CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey + 50000000
      |              ELSE o_orderkey END AS o_orderkey,
      |         o_orderkey % 100 AS delta
      |  FROM orders WHERE o_orderkey % 7 = 0),
      |kept AS (
      |  SELECT o.o_orderkey,
      |    CASE WHEN s.o_orderkey IS NOT NULL AND s.delta > 33 THEN 'U'
      |         ELSE o.o_orderstatus END AS o_orderstatus,
      |    CASE WHEN s.o_orderkey IS NOT NULL AND s.delta > 33
      |         THEN o.o_totalprice + s.delta
      |         ELSE o.o_totalprice END AS o_totalprice
      |  FROM orders o LEFT JOIN src s ON o.o_orderkey = s.o_orderkey
      |  WHERE s.o_orderkey IS NULL OR s.delta <= 66),
      |ins AS (
      |  SELECT s.o_orderkey, 'N' AS o_orderstatus,
      |         CAST(s.delta AS DOUBLE) AS o_totalprice
      |  FROM src s LEFT JOIN orders o ON s.o_orderkey = o.o_orderkey
      |  WHERE o.o_orderkey IS NULL),
      |state1 AS (
      |  SELECT * FROM kept UNION ALL SELECT * FROM ins),
      |sync AS (
      |  SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0),
      |synced AS (
      |  SELECT st.o_orderkey,
      |    CASE WHEN y.o_orderkey IS NOT NULL THEN st.o_orderstatus
      |         ELSE 'X' END AS o_orderstatus,
      |    st.o_totalprice
      |  FROM state1 st LEFT JOIN sync y ON st.o_orderkey = y.o_orderkey
      |  WHERE y.o_orderkey IS NOT NULL OR st.o_orderstatus <> 'N')
      |SELECT o_orderkey, o_orderstatus, o_totalprice FROM synced
      |WHERE o_orderkey % 4 = 1
      |ORDER BY o_orderkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_merge_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    graft.sources.IcebergWrite.create(s, dir, orders.schema,
      partitionCols = Seq("o_orderstatus"))
    graft.sources.IcebergWrite.append(orders, dir)
    val g = graft.GraftSession.wrap(s)
    val vn = s"merge_$tag"
    g.registerIceberg(vn, dir)
    val key = col("o_orderkey")
    s.table("orders").filter(pmod(key, lit(7L)) === 0L)
      .select(when(pmod(key, lit(3L)) === 0L, key + 50000000L)
        .otherwise(key).as("o_orderkey"),
        pmod(key, lit(100L)).as("delta"))
      .createOrReplaceTempView(s"${vn}_src")
    g.sql(s"""MERGE INTO $vn t USING ${vn}_src s ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND s.delta > 66 THEN DELETE
             |WHEN MATCHED AND s.delta > 33 THEN UPDATE SET
             |  o_totalprice = t.o_totalprice + s.delta, o_orderstatus = 'U'
             |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, o_totalprice)
             |  VALUES (s.o_orderkey, 'N', s.delta)""".stripMargin)
    // full-sync pass: rows whose key is absent from the sync source
    // either flag ('X') or drop ('N' rows), first-match-wins; matched
    // rows are untouched (no MATCHED clause at all)
    s.table("orders").filter(pmod(key, lit(5L)) === 0L)
      .select(col("o_orderkey"))
      .createOrReplaceTempView(s"${vn}_sync")
    g.sql(s"""MERGE INTO $vn t USING ${vn}_sync s ON t.o_orderkey = s.o_orderkey
             |WHEN NOT MATCHED BY SOURCE AND t.o_orderstatus = 'N' THEN DELETE
             |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_orderstatus = 'X'""".stripMargin)
    g.sql(s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM $vn " +
      "WHERE o_orderkey % 4 = 1 ORDER BY o_orderkey")
  }

  /** SQL DDL/maintenance surface ([[graft.GraftSession]] ALTER TABLE + CALL
    * system.*): ADD COLUMN (old rows read NULL), INSERT carrying the
    * new column, RENAME COLUMN (field-id resolution keeps pre-rename
    * bytes addressable), then `CALL system.rewrite_data_files` folds
    * everything into one compacted snapshot — the rewritten files must
    * carry the evolved schema. Oracle replays the evolution as
    * set-algebra. */
  val icebergSqlAlter = dfQ("iceberg_sql_alter",
    """SELECT n_nationkey, n_name, n_regionkey, category FROM (
      |  SELECT n_nationkey, n_name, n_regionkey,
      |         CAST(NULL AS VARCHAR) AS category
      |  FROM nation
      |  UNION ALL
      |  SELECT n_nationkey + 100, n_name, n_regionkey, 'NEW'
      |  FROM nation WHERE n_nationkey < 5) u
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    val dir = s"/tmp/graft_iceberg_sqlalter_$tag"
    IcebergFixture.deleteRecursively(dir)
    val g = graft.GraftSession.wrap(s)
    g.writeIceberg(
      s.table("nation").select("n_nationkey", "n_name", "n_regionkey"), dir)
    val vn = s"sqlalter_$tag"
    g.registerIceberg(vn, dir)
    g.sql(s"ALTER TABLE $vn ADD COLUMN cat STRING")
    g.sql(s"INSERT INTO $vn SELECT n_nationkey + 100, n_name, n_regionkey, " +
      "'NEW' FROM nation WHERE n_nationkey < 5")
    g.sql(s"ALTER TABLE $vn RENAME COLUMN cat TO category")
    g.sql(s"CALL system.rewrite_data_files('$vn')")
    g.sql(s"SELECT n_nationkey, n_name, n_regionkey, category FROM $vn " +
      "ORDER BY n_nationkey")
  }

  /** Type promotion ([[graft.sources.IcebergWrite]] `widenColumn` via
    * `ALTER TABLE ... ALTER COLUMN ... TYPE`): int -> long is
    * metadata-only — pre-widen files keep 32-bit bytes and upcast on
    * scan, post-widen inserts carry genuinely 64-bit values — and both
    * generations answer one query. Oracle replays the two generations
    * with explicit casts. */
  val icebergWidenColumn = dfQ("iceberg_widen_column",
    """SELECT k, n_name FROM (
      |  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name FROM nation
      |  UNION ALL
      |  SELECT n_nationkey + 4000000000, n_name
      |  FROM nation WHERE n_nationkey < 5) u
      |ORDER BY k""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_widen_$tag"
    IcebergFixture.deleteRecursively(dir)
    val narrow = s.table("nation")
      .select(col("n_nationkey").cast("int").as("k"), col("n_name"))
    graft.sources.IcebergWrite.create(s, dir, narrow.schema)
    graft.sources.IcebergWrite.append(narrow, dir)
    val g = graft.GraftSession.wrap(s)
    val vn = s"widen_$tag"
    g.registerIceberg(vn, dir)
    g.sql(s"ALTER TABLE $vn ALTER COLUMN k TYPE BIGINT")
    g.sql(s"INSERT INTO $vn SELECT n_nationkey + 4000000000, n_name " +
      "FROM nation WHERE n_nationkey < 5")
    g.sql(s"SELECT k, n_name FROM $vn ORDER BY k")
  }

  /** MANIFEST compaction ([[graft.sources.IcebergWrite]]
    * `rewriteManifests`): fold the per-commit manifests into one per
    * content kind WITHOUT touching data — entries carry their ORIGINAL
    * sequence numbers, so an equality delete keeps excluding the rows
    * it deleted while a LATER re-insert of the same keys survives (the
    * invariant a rewrite that reset sequence numbers would destroy).
    * The oracle replays delete + re-insert in SQL. */
  val icebergRewriteManifests = dfQ("iceberg_rewrite_manifests",
    """SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 7 = 3 THEN 'REINSERTED'
      |       ELSE o_orderpriority END AS o_orderpriority
      |FROM orders
      |WHERE o_orderkey % 37 = 0
      |ORDER BY o_orderkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_rewrite_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders").select("o_orderkey", "o_orderpriority")
    graft.sources.IcebergWrite.create(s, dir, orders.schema)
    graft.sources.IcebergWrite.append(orders, dir)
    val victims = orders.filter(pmod(col("o_orderkey"), lit(7L)) === 3L)
    graft.sources.IcebergWrite.deleteEquality(
      victims.select("o_orderkey").distinct(), dir)
    // re-insert the deleted keys at a LATER sequence — they must
    // survive the delete, before and after the manifest rewrite
    graft.sources.IcebergWrite.append(
      victims.select(col("o_orderkey"),
        lit("REINSERTED").as("o_orderpriority")), dir)
    graft.sources.IcebergWrite.rewriteManifests(s, dir)
    IcebergIO.read(s, dir)
      .filter(pmod(col("o_orderkey"), lit(37L)) === 0L)
      .orderBy("o_orderkey")
  }

  /** Atomic UPDATE ([[graft.sources.IcebergWrite]] `updateWhere`): each
    * matching row is position-deleted and rewritten with the SET
    * expressions applied against the OLD row, in one snapshot
    * (merge-on-read — no data file rewritten). Two sequential updates:
    * a price bump keyed on the partition column, then a PARTITION-MOVING
    * status rewrite. The oracle replays both as composed CASE
    * expressions (valid because update 1 ran before update 2 touched
    * the status column it filters on). */
  val icebergUpdateWhere = dfQ("iceberg_update_where",
    """WITH u AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_custkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
      |      AS o_orderstatus,
      |    CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1.5
      |         ELSE o_totalprice END AS o_totalprice
      |  FROM orders)
      |SELECT o_orderkey, o_orderstatus, o_totalprice
      |FROM u WHERE o_orderkey % 37 = 0
      |ORDER BY o_orderkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_update_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    graft.sources.IcebergWrite.create(s, dir, orders.schema,
      partitionCols = Seq("o_orderstatus"))
    graft.sources.IcebergWrite.append(orders, dir)
    // update 1: bump finished orders' price (reads the old price)
    graft.sources.IcebergWrite.updateWhere(s, dir,
      col("o_orderstatus") === "F",
      Map("o_totalprice" -> (col("o_totalprice") + lit(1.5))))
    // update 2: PARTITION-MOVING — rewrites the partition source column,
    // so the new rows land under o_orderstatus=X while the position
    // delete removes them from their old partitions
    graft.sources.IcebergWrite.updateWhere(s, dir,
      pmod(col("o_custkey"), lit(7L)) === 0L,
      Map("o_orderstatus" -> lit("X")))
    IcebergIO.read(s, dir)
      .filter(pmod(col("o_orderkey"), lit(37L)) === 0L)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Schema evolution DROP ([[graft.sources.IcebergWrite]]
    * `dropColumn`): metadata-only — the bytes stay in the files but the
    * reader's projection (always the CURRENT schema) no longer selects
    * them, and a later append carries the reduced schema. The oracle
    * recomputes the narrowed union off the parquet source. */
  val icebergDropColumn = dfQ("iceberg_drop_column",
    """SELECT n_nationkey, n_regionkey
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    val dir = s"/tmp/graft_iceberg_dropcol_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey < 10"), dir)
    graft.sources.IcebergWrite.dropColumn(s, dir, "n_name")
    // post-drop appends carry the narrowed schema
    graft.sources.IcebergWrite.append(
      nation.filter("n_nationkey >= 10").drop("n_name"), dir)
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** Schema evolution RENAME ([[graft.sources.IcebergWrite]]
    * `renameColumn`): metadata-only — the field keeps its id, and the
    * reader resolves columns BY FIELD ID on writer-stamped tables, so
    * pre-rename data files AND an equality delete keyed on the renamed
    * column (old name in the delete file, same id) still resolve. The
    * fixture renames on a PARTITIONED table, deletes by the new name
    * (scope derived through a by-id read of old files), then appends
    * under the new name. The oracle replays the surviving union. */
  val icebergRenameColumn = dfQ("iceberg_rename_column",
    """SELECT n_nationkey, n_name AS n_label, n_regionkey
      |FROM nation
      |WHERE NOT (n_nationkey < 10 AND n_regionkey = 2)
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_rename_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema,
      partitionCols = Seq("n_regionkey"))
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey < 10"), dir)
    graft.sources.IcebergWrite.renameColumn(dir, "n_name", "n_label")
    // equality delete keyed on the RENAMED column; the partition scope
    // derives by joining against the pre-rename files (by-id read)
    graft.sources.IcebergWrite.deleteEquality(
      nation.filter("n_nationkey < 10 AND n_regionkey = 2")
        .select(col("n_name").as("n_label")), dir)
    graft.sources.IcebergWrite.append(
      nation.filter("n_nationkey >= 10").withColumnRenamed("n_name", "n_label"),
      dir)
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** v3 COLUMN DEFAULT VALUES ([[graft.sources.IcebergWrite]]
    * `addColumnWithDefault`, spec "Default values"): a metadata-only add
    * where rows written BEFORE the column existed read `initial-default`
    * (served as a per-file constant for files whose sequence number
    * predates the add — no footer probing, no rewrite) and appends that
    * OMIT the column are filled with `write-default` by the writer. The
    * fixture exercises all three populations: pre-add files (initial 7),
    * an explicit post-add append (own values), and an omitting post-add
    * append (write-default 9). The oracle replays the three-way split. */
  val icebergDefaultValues = dfQ("iceberg_default_values",
    """SELECT n_nationkey, n_name, n_regionkey,
      |  CASE WHEN n_nationkey < 10 THEN 7
      |       WHEN n_nationkey < 20 THEN n_nationkey
      |       ELSE 9 END AS bonus
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.IntegerType
    val dir = s"/tmp/graft_iceberg_default_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema, formatVersion = 3)
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey < 10"), dir)
    graft.sources.IcebergWrite.addColumnWithDefault(dir, "bonus", IntegerType,
      default = 7, writeDefault = Some(9))
    graft.sources.IcebergWrite.append(
      nation.filter("n_nationkey >= 10 AND n_nationkey < 20")
        .withColumn("bonus", col("n_nationkey").cast("int")), dir)
    // omits `bonus` entirely -> the writer fills write-default
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey >= 20"), dir)
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** PARTITION STATISTICS file (spec "Partition statistics",
    * [[graft.sources.IcebergWrite]] `computePartitionStats` / CALL
    * `compute_partition_stats`): one registered parquet row per
    * (partition tuple, spec) with data/delete record+file counts, served
    * by the `.partition_stats` relation WITHOUT a manifest walk. The
    * fixture partitions nation by n_regionkey (one file per region by
    * construction) and deletes two rows merge-on-read, so the stats
    * carry both the per-region data grain and the unscoped
    * position-delete row (declared-but-null tuple, printed
    * `n_regionkey=null` like the other relations); the oracle recomputes
    * every count from nation itself. */
  val icebergPartitionStats = dfQ("iceberg_partition_stats",
    """SELECT 'n_regionkey=' || CAST(n_regionkey AS VARCHAR) AS partition,
      |  CAST(COUNT(*) AS BIGINT) AS data_record_count,
      |  1 AS data_file_count,
      |  CAST(0 AS BIGINT) AS position_delete_record_count,
      |  0 AS position_delete_file_count
      |FROM nation GROUP BY n_regionkey
      |UNION ALL
      |SELECT 'n_regionkey=null' AS partition,
      |  CAST(0 AS BIGINT), 0, CAST(2 AS BIGINT), 1
      |ORDER BY partition""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_pstats_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema,
      partitionCols = Seq("n_regionkey"))
    graft.sources.IcebergWrite.append(nation, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_nationkey") < 2)
    graft.sources.IcebergWrite.computePartitionStats(s, dir)
    IcebergIO.partitionStats(s, dir)
      .select(col("partition"), col("data_record_count"),
        col("data_file_count"), col("position_delete_record_count"),
        col("position_delete_file_count"))
      .orderBy("partition")
  }

  /** TABLE STATISTICS Puffin file (spec "Table statistics",
    * [[graft.sources.IcebergWrite]] `computeTableStats` / CALL
    * `compute_table_stats` / `ANALYZE TABLE`): exact per-column NDV
    * blobs in a registered Puffin file, served by the `.statistics`
    * relation with the payload cross-checked against the blob's `ndv`
    * property. The oracle recomputes each distinct count from nation. */
  val icebergTableStats = dfQ("iceberg_table_stats",
    """SELECT 'n_name' AS col_name, CAST(COUNT(DISTINCT n_name) AS BIGINT) AS ndv
      |FROM nation
      |UNION ALL
      |SELECT 'n_nationkey', CAST(COUNT(DISTINCT n_nationkey) AS BIGINT)
      |FROM nation
      |UNION ALL
      |SELECT 'n_regionkey', CAST(COUNT(DISTINCT n_regionkey) AS BIGINT)
      |FROM nation
      |ORDER BY col_name""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_tstats_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    graft.sources.IcebergWrite.append(nation, dir)
    graft.sources.IcebergWrite.computeTableStats(s, dir)
    IcebergIO.tableStats(s, dir)
      .select(col("column").as("col_name"), col("ndv"))
      .orderBy("col_name")
  }

  /** Table SORT ORDER ([[graft.sources.IcebergWrite]] `setSortOrder`):
    * the writer range-distributes + sorts new files on the declared
    * key, so per-file bounds are tight and disjoint and a range
    * predicate over deliberately SCRAMBLED input prunes to the few
    * overlapping files at planning time (readWhere derives the stats
    * predicate). The oracle replays the range off the parquet source;
    * the pruning itself is plan-asserted in IcebergWriteSpec. */
  val icebergSortOrder = dfQ("iceberg_sort_order",
    """SELECT o_orderkey, o_custkey,
      |  CAST(o_totalprice AS DOUBLE) AS o_totalprice
      |FROM orders WHERE o_orderkey BETWEEN 1000 AND 3000
      |ORDER BY o_orderkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_sort_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.sources.IcebergWrite.create(s, dir, orders.schema)
    graft.sources.IcebergWrite.setSortOrder(dir, Seq("o_orderkey"))
    // round-robin repartition scrambles the key across every task —
    // the layout where an unsorted write would prune NOTHING
    graft.sources.IcebergWrite.append(orders.repartition(8), dir)
    IcebergIO.readWhere(s, dir,
        col("o_orderkey").between(1000L, 3000L))
      .orderBy("o_orderkey")
  }

  /** Z-ORDER clustering ([[graft.sources.IcebergWrite]] `zorderBy`):
    * new files are written in Morton order over two int dimensions, so
    * a range predicate on EITHER column prunes at planning time — a
    * linear sort order only ever prunes its leading column. The oracle
    * replays the 2-D range off the parquet source; both-dimension
    * pruning is plan-asserted in IcebergWriteSpec. */
  val icebergZorder = dfQ("iceberg_zorder",
    """SELECT o_orderkey,
      |  CAST(o_orderkey % 97 AS INT) AS x,
      |  CAST(o_custkey % 89 AS INT) AS y
      |FROM orders
      |WHERE (o_orderkey % 97) BETWEEN 30 AND 49
      |  AND (o_custkey % 89) BETWEEN 10 AND 19
      |ORDER BY o_orderkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_zorder_$tag"
    IcebergFixture.deleteRecursively(dir)
    val src = s.table("orders").select(col("o_orderkey"),
      pmod(col("o_orderkey"), lit(97L)).cast("int").as("x"),
      pmod(col("o_custkey"), lit(89L)).cast("int").as("y"))
    graft.sources.IcebergWrite.create(s, dir, src.schema)
    graft.sources.IcebergWrite.zorderBy(dir, Seq("x", "y"))
    graft.sources.IcebergWrite.append(src.repartition(8), dir,
      maxRecordsPerFile = Some(2000L))
    IcebergIO.readWhere(s, dir,
        col("x").between(30, 49) && col("y").between(10, 19))
      .orderBy("o_orderkey")
  }

  /** Name-mapping UPGRADE ([[graft.sources.IcebergWrite]]
    * `addNameMapping`, spec "Name Mapping Serialization"): an id-less
    * EXTERNAL table (the fixture writer plays the external engine) is
    * upgraded to by-id resolution, renamed, and appended to — the
    * pre-upgrade data file AND a pre-upgrade equality-delete file keep
    * resolving through the frozen mapping while post-upgrade files
    * resolve by stamped ids. The oracle replays the surviving union. */
  val icebergNameMapping = dfQ("iceberg_name_mapping",
    """SELECT n_nationkey, n_name AS n_label, n_regionkey
      |FROM nation
      |WHERE NOT (n_nationkey < 10 AND n_regionkey = 0)
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    val dir = s"/tmp/graft_iceberg_nm_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    val w = new IcebergFixture.Writer(s, dir, nation.schema)
    w.append(nation.filter("n_nationkey < 10")) // id-less legacy bytes
    // pre-upgrade equality delete keyed on n_name (fixture field id 2),
    // itself an id-less file that must resolve through the mapping
    w.deleteEquality(
      nation.filter("n_nationkey < 10 AND n_regionkey = 0").select("n_name"),
      fieldIds = Seq(2))
    graft.sources.IcebergWrite.addNameMapping(dir)
    graft.sources.IcebergWrite.renameColumn(dir, "n_name", "n_label")
    graft.sources.IcebergWrite.append(
      nation.filter("n_nationkey >= 10").withColumnRenamed("n_name", "n_label"),
      dir)
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** Partition-spec EVOLUTION ([[graft.sources.IcebergWrite]]
    * `updatePartitionSpec`): three appends under three different specs
    * (unpartitioned → identity(n_regionkey) → bucket(n_nationkey)), an
    * equality delete spanning them, then a partition-filtered read — the
    * reader prunes each file against the spec it was written under and
    * keeps files whose spec can't resolve the filter, so results stay
    * exact. The oracle replays the surviving region-2 slice. */
  val icebergPartitionEvolution = dfQ("iceberg_partition_evolution",
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation
      |WHERE n_regionkey = 2 AND n_nationkey % 5 <> 0
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_evolve_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey < 8"), dir)
    graft.sources.IcebergWrite.updatePartitionSpec(dir, Seq("n_regionkey"))
    graft.sources.IcebergWrite.append(
      nation.filter("n_nationkey >= 8 AND n_nationkey < 16"), dir)
    graft.sources.IcebergWrite.updatePartitionSpec(dir, Seq("n_nationkey"),
      Map("n_nationkey" -> "bucket[4]"))
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey >= 16"), dir)
    // eq-delete across all three specs
    graft.sources.IcebergWrite.deleteEquality(
      nation.filter("n_nationkey % 5 = 0").select("n_nationkey"), dir)
    // partition filter resolves per spec; exactness via the row filter
    IcebergIO.read(s, dir, partitionFilter = Map("n_regionkey" -> 2))
      .filter(col("n_regionkey") === 2)
      .orderBy("n_nationkey")
  }

  /** Maintenance GC ([[graft.sources.IcebergWrite]] `compact` →
    * `expireSnapshots` → `removeOrphanFiles`): fold deletes away,
    * drop history, physically sweep every file no retained snapshot
    * references — then prove the surviving table still answers exactly.
    * The oracle replays the delete's complement off the parquet
    * source. */
  val icebergGc = dfQ("iceberg_gc",
    """SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n
      |FROM nation WHERE n_nationkey % 3 <> 1
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_gc_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    graft.sources.IcebergWrite.append(nation, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir,
      pmod(col("n_nationkey"), lit(3)) === 1)
    graft.sources.IcebergWrite.compact(s, dir)
    graft.sources.IcebergWrite.expireSnapshots(dir, Long.MaxValue)
    graft.sources.IcebergWrite.removeOrphanFiles(dir,
      System.currentTimeMillis() + 60000)
    IcebergIO.read(s, dir)
      .groupBy("n_regionkey").agg(count(lit(1)).as("n"))
      .orderBy("n_regionkey")
  }

  /** Snapshot ROLLBACK ([[graft.sources.IcebergWrite]]
    * `setCurrentSnapshot`): append two slices, roll main back to the
    * first snapshot, read — the restored state must be exactly slice
    * one (the later snapshot stays time-travelable but is off the main
    * head). The oracle replays slice one off the parquet source. */
  val icebergRollback = dfQ("iceberg_rollback",
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation WHERE n_nationkey < 10
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    val dir = s"/tmp/graft_iceberg_rollback_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    val s1 = graft.sources.IcebergWrite.append(
      nation.filter("n_nationkey < 10"), dir)
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey >= 10"), dir)
    graft.sources.IcebergWrite.setCurrentSnapshot(dir, s1)
    IcebergIO.read(s, dir).orderBy("n_nationkey")
  }

  /** Write-audit-publish ([[graft.sources.IcebergWrite]] branch append +
    * `fastForward`): rows staged on a branch are INVISIBLE to main
    * readers until the fast-forward publishes them atomically. The
    * Spark side reads main at both phases; the oracle replays the two
    * states from the known commit contents. */
  val icebergBranchWap = dfQ("iceberg_branch_wap",
    """SELECT 'staged' AS phase, n_nationkey FROM nation
      |WHERE n_nationkey < 10
      |UNION ALL
      |SELECT 'published', n_nationkey FROM nation
      |ORDER BY phase, n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions.lit
    val dir = s"/tmp/graft_iceberg_wap_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey < 10"), dir)
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey >= 10"), dir,
      branch = Some("stage"))
    val staged = IcebergIO.read(s, dir)
      .select(lit("staged").as("phase"), org.apache.spark.sql.functions.col("n_nationkey"))
    graft.sources.IcebergWrite.fastForward(dir, "stage")
    val published = IcebergIO.read(s, dir)
      .select(lit("published").as("phase"), org.apache.spark.sql.functions.col("n_nationkey"))
    staged.unionByName(published).orderBy("phase", "n_nationkey")
  }

  /** `INSERT OVERWRITE` through the SQL DML surface: the table's live
    * content is replaced by the query result in one snapshot (the
    * TRUNCATE + changelog-view halves of the same surface are
    * scalatest-covered — their outputs are session state, not rows).
    * The oracle is simply the overwriting query itself. */
  val icebergSqlOverwrite = dfQ("iceberg_sql_overwrite",
    """SELECT n_nationkey, n_name FROM nation
      |WHERE n_regionkey = 1 ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    val dir = s"/tmp/graft_iceberg_sqlow_$tag"
    IcebergFixture.deleteRecursively(dir)
    val g = graft.GraftSession.wrap(s)
    g.writeIceberg(s.table("nation").select("n_nationkey", "n_name"), dir)
    val vn = s"sqlow_$tag"
    g.registerIceberg(vn, dir)
    g.sql(s"INSERT OVERWRITE $vn SELECT n_nationkey, n_name FROM nation " +
      "WHERE n_regionkey = 1")
    g.sql(s"SELECT n_nationkey, n_name FROM $vn ORDER BY n_nationkey")
  }

  /** SQL time travel ([[graft.GraftSession]] `rewriteTimeTravel`):
    * `FOR VERSION AS OF <id | 'tag'>` and `FOR TIMESTAMP AS OF '<ts>'`
    * clauses over a registered live Iceberg view, each resolving to a
    * different pinned snapshot in ONE statement. The oracle replays the
    * three pins from the fixture's known snapshot contents (snapshot 1 =
    * keys < 10, tag 'early' = snapshot 1, far-future timestamp =
    * current). */
  val icebergSqlTimeTravel = dfQ("iceberg_sql_time_travel",
    """SELECT 'v1' AS src, n_nationkey FROM nation WHERE n_nationkey < 10
      |UNION ALL
      |SELECT 'tag', n_nationkey FROM nation WHERE n_nationkey < 10
      |UNION ALL
      |SELECT 'now', n_nationkey FROM nation
      |ORDER BY src, n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    val dir = s"/tmp/graft_iceberg_sqltt_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    val s1 = graft.sources.IcebergWrite.append(
      nation.filter("n_nationkey < 10"), dir)
    graft.sources.IcebergWrite.createTag(dir, "early", s1)
    graft.sources.IcebergWrite.append(nation.filter("n_nationkey >= 10"), dir)
    val g = graft.GraftSession.wrap(s)
    val vn = s"sqltt_$tag"
    g.registerIceberg(vn, dir)
    g.sql(
      s"""SELECT 'v1' AS src, n_nationkey FROM $vn FOR VERSION AS OF $s1
         |UNION ALL
         |SELECT 'tag', $vn.n_nationkey FROM $vn FOR VERSION AS OF 'early'
         |UNION ALL
         |SELECT 'now', n_nationkey
         |FROM $vn FOR TIMESTAMP AS OF '2100-01-01 00:00:00'
         |ORDER BY src, n_nationkey""".stripMargin)
  }

  /** Row-level change capture ([[IcebergIO.readChangelog]] — the runtime
    * jar's `create_changelog_view`): a delete commit and an upsert commit
    * surface as typed change rows with commit ordinals. The oracle
    * replays both commits' effects in SQL: ordinal 0 deletes the
    * region-2 rows (snapshot 2); ordinal 1 is the upsert (snapshot 3) —
    * deletes of the matched keys still live at that point, inserts of
    * every upserted row. Snapshot ids are deterministic (the writer
    * assigns max+1 from 1). */
  val icebergChangelog = dfQ("iceberg_changelog",
    """WITH up AS (
      |  SELECT n_nationkey, 'U_' || n_name AS n_name, n_regionkey
      |  FROM nation WHERE n_nationkey < 4
      |  UNION ALL
      |  SELECT n_nationkey + 100, n_name, n_regionkey
      |  FROM nation WHERE n_nationkey < 2),
      |ch AS (
      |  SELECT n_nationkey, n_name, n_regionkey,
      |         'delete' AS _change_type, 0 AS _change_ordinal,
      |         CAST(2 AS BIGINT) AS _commit_snapshot_id
      |  FROM nation WHERE n_regionkey = 2
      |  UNION ALL
      |  SELECT n_nationkey, n_name, n_regionkey, 'delete', 1, CAST(3 AS BIGINT)
      |  FROM nation WHERE n_nationkey < 4 AND n_regionkey <> 2
      |  UNION ALL
      |  SELECT n_nationkey, n_name, n_regionkey, 'insert', 1, CAST(3 AS BIGINT)
      |  FROM up)
      |SELECT n_nationkey, n_name, n_regionkey, _change_type,
      |       _change_ordinal, _commit_snapshot_id
      |FROM ch
      |ORDER BY _change_ordinal, _change_type, n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_changelog_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    val s1 = graft.sources.IcebergWrite.append(nation, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_regionkey") === 2)
    val updates = nation.filter(col("n_nationkey") < 4)
      .select(col("n_nationkey"),
        concat(lit("U_"), col("n_name")).as("n_name"), col("n_regionkey"))
    val inserts = nation.filter(col("n_nationkey") < 2)
      .select((col("n_nationkey") + 100).as("n_nationkey"), col("n_name"),
        col("n_regionkey"))
    graft.sources.IcebergWrite.upsert(updates.unionByName(inserts), dir,
      Seq("n_nationkey"))
    IcebergIO.readChangelog(s, dir, fromSnapshotId = Some(s1))
      .orderBy("_change_ordinal", "_change_type", "n_nationkey")
  }

  /** Fixture for the whole-history metadata relations: an
    * [[graft.sources.IcebergWrite]] table whose CURRENT snapshot hides
    * history (two appends folded by a compact) — exactly what
    * `.all_files` must still surface. Data-file names are
    * nondeterministic (UUID part files), so the oracles pin the
    * per-sequence aggregates and the deterministic vN.metadata.json
    * names, never file names. Built once per JVM per scale dir. */
  private val historyDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def historyFixture(s: SparkSession, sfDir: String): String =
    historyDirs.computeIfAbsent(sfDir, { _ =>
      val dir = s"/tmp/graft_iceberg_history_${tag}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
      IcebergFixture.deleteRecursively(dir)
      val nation = nationSorted(s)
      graft.sources.IcebergWrite.create(s, dir, nation.schema)
      graft.sources.IcebergWrite.append(nation.filter("n_nationkey < 10"), dir)
      graft.sources.IcebergWrite.append(nation.filter("n_nationkey >= 10"), dir)
      graft.sources.IcebergWrite.compact(s, dir)
      dir
    })

  /** `.all_files` over [[historyFixture]]: files of EVERY snapshot,
    * deduped by path — the two pre-compact appends (10 + 15 rows at
    * sequence 1/2) must still be listed after the compact replaced them
    * with a sequence-3 rewrite of all 25. `.files` (current-snapshot
    * grain) would show only sequence 3. */
  val icebergAllFiles = dfQ("iceberg_all_files",
    """SELECT * FROM (VALUES
      |  (0, CAST(1 AS BIGINT), CAST(10 AS BIGINT)),
      |  (0, CAST(2 AS BIGINT), CAST(15 AS BIGINT)),
      |  (0, CAST(3 AS BIGINT), CAST(25 AS BIGINT)))
      |  AS t(content, sequence_number, record_count)
      |ORDER BY sequence_number""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions._
    IcebergIO.allFiles(s, historyFixture(s, sfDir))
      .groupBy("content", "sequence_number")
      .agg(sum("record_count").as("record_count"))
      .orderBy("sequence_number")
  }

  /** `.all_manifests` over the deterministic two-append basic fixture:
    * one row per (manifest, REFERENCING snapshot) — snapshot 1
    * references its own manifest; snapshot 2 references both. */
  val icebergAllManifests = dfQ("iceberg_all_manifests",
    """SELECT * FROM (VALUES
      |  ('manifest-00001.avro', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
      |  ('manifest-00001.avro', CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
      |  ('manifest-00002.avro', CAST(2 AS BIGINT), CAST(2 AS BIGINT)))
      |  AS t(manifest_name, sequence_number, reference_snapshot_id)
      |ORDER BY reference_snapshot_id, sequence_number""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.allManifests(s, basicFixture(s, sfDir))
      .select("manifest_name", "sequence_number", "reference_snapshot_id")
      .orderBy("reference_snapshot_id", "sequence_number")
  }

  /** `.all_entries` over the basic fixture: each DISTINCT manifest
    * parses once, so the carried-forward first manifest contributes its
    * entry a single time — 2 rows, not 3. */
  val icebergAllEntries = dfQ("iceberg_all_entries",
    """SELECT * FROM (VALUES
      |  (1, CAST(1 AS BIGINT), CAST(1 AS BIGINT), 'data-00001.parquet', 0, CAST(10 AS BIGINT), ''),
      |  (1, CAST(2 AS BIGINT), CAST(2 AS BIGINT), 'data-00002.parquet', 0, CAST(15 AS BIGINT), ''))
      |  AS t(status, snapshot_id, sequence_number, file_name, content, record_count, partition)
      |ORDER BY sequence_number""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.allEntries(s, basicFixture(s, sfDir)).orderBy("sequence_number")
  }

  /** `.metadata_log_entries` over [[historyFixture]]: the metadata.json
    * lineage — v1 (create) through v3 recorded in the metadata-log
    * array, plus the CURRENT v4 (compact). Timestamps are wall-clock, so
    * the oracle pins the deterministic file names only. */
  val icebergMetadataLog = dfQ("iceberg_metadata_log",
    """SELECT * FROM (VALUES
      |  ('v1.metadata.json'), ('v2.metadata.json'),
      |  ('v3.metadata.json'), ('v4.metadata.json'))
      |  AS t(metadata_file)
      |ORDER BY metadata_file""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.metadataLogEntries(s, historyFixture(s, sfDir))
      .select("metadata_file").orderBy("metadata_file")
  }

  /** Position-delete compaction parity
    * ([[graft.sources.IcebergWrite.rewritePositionDeletes]]): append
    * nation, two position-delete commits by predicate, then fold the two
    * delete files into one consolidated file — survivors must be
    * byte-identical to the complement filter replayed off the parquet
    * source, and exactly ONE live position-delete file must remain. */
  val icebergRewritePosDeletes = dfQ("iceberg_rewrite_pos_deletes",
    """SELECT n_regionkey,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(n_nationkey) AS max_key,
      |  CAST(1 AS BIGINT) AS pos_delete_files
      |FROM nation
      |WHERE n_nationkey % 7 <> 3 AND n_nationkey % 5 <> 1
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_rpd_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    graft.sources.IcebergWrite.append(nation, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_nationkey") % 7 === 3)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_nationkey") % 5 === 1)
    graft.sources.IcebergWrite.rewritePositionDeletes(s, dir)
    val posFiles = IcebergIO.files(s, dir).filter(col("content") === 1)
      .agg(count(lit(1)).as("pos_delete_files"))
    IcebergIO.read(s, dir)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), max("n_nationkey").as("max_key"))
      .crossJoin(posFiles)
      .orderBy("n_regionkey")
  }

  /** Cherry-pick parity
    * ([[graft.sources.IcebergWrite.cherrypickSnapshot]]): the
    * pick-one-commit half of write-audit-publish. Main holds keys < 10;
    * a `wap` branch stages two audited appends (10..19, then >= 20);
    * ONLY the first is published onto main. The oracle replays the
    * picked state straight off the parquet source — keys < 20, and the
    * second staged commit's rows must NOT leak onto main. */
  val icebergCherrypick = dfQ("iceberg_cherrypick",
    """SELECT n_regionkey,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(n_nationkey) AS max_key
      |FROM nation
      |WHERE n_nationkey < 20
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_cherry_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    val a1 = graft.sources.IcebergWrite.append(
      nation.filter(col("n_nationkey") < 10), dir)
    graft.sources.IcebergWrite.createBranch(dir, "wap", a1)
    val b1 = graft.sources.IcebergWrite.append(
      nation.filter(col("n_nationkey").between(10, 19)), dir,
      branch = Some("wap"))
    graft.sources.IcebergWrite.append(
      nation.filter(col("n_nationkey") >= 20), dir, branch = Some("wap"))
    graft.sources.IcebergWrite.cherrypickSnapshot(s, dir, b1)
    IcebergIO.read(s, dir)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), max("n_nationkey").as("max_key"))
      .orderBy("n_regionkey")
  }

  /** Equality→position delete conversion parity
    * ([[graft.sources.IcebergWrite.convertEqualityDeletes]]): append
    * nation, equality-delete keys `% 4 == 1`, re-insert key 5 (survives
    * the eq sequence rule), CONVERT, then re-insert key 9 (must survive
    * the converted positional form identically). The oracle replays the
    * final visibility straight off the parquet source; a second result
    * column pins that ZERO equality-delete files remain live. */
  val icebergConvertEqDeletes = dfQ("iceberg_convert_eq_deletes",
    """SELECT n_regionkey,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(n_nationkey) AS max_key,
      |  CAST(0 AS BIGINT) AS eq_files
      |FROM nation
      |WHERE n_nationkey % 4 <> 1 OR n_nationkey IN (5, 9)
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_cvteq_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    graft.sources.IcebergWrite.create(s, dir, nation.schema)
    graft.sources.IcebergWrite.append(nation, dir)
    graft.sources.IcebergWrite.deleteEquality(
      nation.filter(col("n_nationkey") % 4 === 1).select("n_nationkey"), dir)
    graft.sources.IcebergWrite.append(
      nation.filter(col("n_nationkey") === 5), dir)
    graft.sources.IcebergWrite.convertEqualityDeletes(s, dir)
    graft.sources.IcebergWrite.append(
      nation.filter(col("n_nationkey") === 9), dir)
    val eqCount = IcebergIO.files(s, dir).filter(col("content") === 2)
      .agg(count(lit(1)).as("eq_files"))
    IcebergIO.read(s, dir)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), max("n_nationkey").as("max_key"))
      .crossJoin(eqCount)
      .orderBy("n_regionkey")
  }

  /** Migration-import parity ([[graft.sources.IcebergWrite.addFiles]]):
    * nation written as PLAIN parquet (two files), committed into an
    * Iceberg table as metadata only — no byte rewritten — then read
    * through the native scan with a merge-on-read delete on top. The
    * oracle replays the complement filter off the parquet source. */
  val icebergAddFiles = dfQ("iceberg_add_files",
    """SELECT n_regionkey,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(n_nationkey) AS max_key
      |FROM nation
      |WHERE n_nationkey % 6 <> 2
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_addfiles_$tag"
    val src = s"/tmp/graft_iceberg_addfiles_src_$tag"
    IcebergFixture.deleteRecursively(dir)
    IcebergFixture.deleteRecursively(src)
    val nation = s.table("nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    nation.filter(col("n_nationkey") < 12).coalesce(1).write.parquet(src)
    nation.filter(col("n_nationkey") >= 12).coalesce(1)
      .write.mode("append").parquet(src)
    graft.sources.IcebergWrite.create(s, dir, nation.schema,
      fieldIds = false)
    graft.sources.IcebergWrite.addFiles(s, dir, src)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_nationkey") % 6 === 2)
    IcebergIO.read(s, dir)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), max("n_nationkey").as("max_key"))
      .orderBy("n_regionkey")
  }

  /** Hive-layout migration import ([[graft.sources.IcebergWrite.addFiles]]
    * on an identity-partitioned table — the reference's
    * `table_partition_cols` listing-table shape,
    * `client/src/context.rs:425-440`): nation written with Spark's own
    * `partitionBy` (files physically LACK `n_regionkey`; the value lives
    * only in the `n_regionkey=K/` directory names), imported as metadata
    * only, then read through the native scan — the partition column is
    * INJECTED per file from the manifest tuple — with partition pruning
    * on the injected column AND a merge-on-read position delete on top.
    * The oracle replays everything off the raw `nation` table. */
  val icebergAddFilesHive = dfQ("iceberg_add_files_hive",
    """SELECT n_regionkey,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(n_nationkey) AS max_key,
      |  MIN(n_name) AS min_name
      |FROM nation
      |WHERE n_nationkey % 5 <> 3 AND n_regionkey >= 1
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_addfiles_hive_$tag"
    val src = s"/tmp/graft_iceberg_addfiles_hive_src_$tag"
    IcebergFixture.deleteRecursively(dir)
    IcebergFixture.deleteRecursively(src)
    val nation = s.table("nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    nation.write.partitionBy("n_regionkey").parquet(src)
    graft.sources.IcebergWrite.create(s, dir, nation.schema,
      partitionCols = Seq("n_regionkey"), fieldIds = false)
    graft.sources.IcebergWrite.addFiles(s, dir, src)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_nationkey") % 5 === 3)
    IcebergIO.readWhere(s, dir, col("n_regionkey") >= 1)
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), max("n_nationkey").as("max_key"),
        min("n_name").as("min_name"))
      .orderBy("n_regionkey")
  }

  /** Fixture for `.position_deletes`: the deterministic fixture writer
    * (data-0000N.parquet names), two appends + one position-delete
    * commit against EACH data file. */
  private val posDelDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def posDelFixture(s: SparkSession, sfDir: String): String =
    posDelDirs.computeIfAbsent(sfDir, { _ =>
      val dir = s"/tmp/graft_iceberg_posdel_${tag}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}"
      IcebergFixture.deleteRecursively(dir)
      val w = new IcebergFixture.Writer(s, dir, nationSorted(s).schema)
      w.append(nationSorted(s).filter("n_nationkey < 10"))
      w.append(nationSorted(s).filter("n_nationkey >= 10"))
      w.deletePositions(w.dataFilePaths.head, Seq(1L, 3L))
      w.deletePositions(w.dataFilePaths(1), Seq(0L, 2L))
      dir
    })

  /** `.position_deletes` over [[posDelFixture]]: the row contents of the
    * live position-delete files — (target file, position, owning delete
    * file, sequence). Everything is deterministic here, so the oracle
    * pins exact rows. */
  val icebergPositionDeletes = dfQ("iceberg_position_deletes",
    """SELECT * FROM (VALUES
      |  ('data-00001.parquet', CAST(1 AS BIGINT), 'delete-00003.parquet', CAST(3 AS BIGINT)),
      |  ('data-00001.parquet', CAST(3 AS BIGINT), 'delete-00003.parquet', CAST(3 AS BIGINT)),
      |  ('data-00002.parquet', CAST(0 AS BIGINT), 'delete-00004.parquet', CAST(4 AS BIGINT)),
      |  ('data-00002.parquet', CAST(2 AS BIGINT), 'delete-00004.parquet', CAST(4 AS BIGINT)))
      |  AS t(file_name, pos, delete_file_name, sequence_number)
      |ORDER BY delete_file_name, pos""".stripMargin,
    bench = false) { (s, sfDir) =>
    IcebergIO.positionDeletes(s, posDelFixture(s, sfDir))
      .orderBy("delete_file_name", "pos")
  }

  /** Format-v3 DELETE parity: deletes land as DELETION VECTORS (Puffin
    * roaring bitmaps, [[graft.sources.PuffinIO]]) instead of parquet
    * position-delete files, and two overlapping deletes exercise the
    * one-DV-per-file merge invariant (the second DV absorbs the first
    * where they share files). The oracle replays the composed
    * complement filter straight off the parquet source — byte-identical
    * results prove the bitmaps cover exactly the deleted positions. */
  val icebergDvDelete = dfQ("iceberg_dv_delete",
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_orderkey % 7 <> 3 AND o_orderkey % 5 <> 1
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_dv_rt_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    graft.sources.IcebergWrite.create(s, dir, orders.schema,
      partitionCols = Seq("o_orderpriority"), formatVersion = 3)
    graft.sources.IcebergWrite.append(orders, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("o_orderkey") % 7 === 3)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("o_orderkey") % 5 === 1)
    IcebergIO.read(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** FILTERED compaction parity ([[graft.sources.IcebergWrite]]
    * `compactWhere` — the runtime jar's `rewrite_data_files(where)`):
    * append partitioned orders, delete a keyed slice, compact ONLY two
    * priorities' partitions (their deletes fold away; the other
    * partitions carry untouched with the delete file still applying),
    * then aggregate everything. The oracle replays the complement
    * filter — identical results prove the rewrite lost nothing and the
    * carried delete file still applies to the untouched partitions. */
  val icebergCompactWhere = dfQ("iceberg_compact_where",
    """SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_orderkey % 9 <> 2
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_cw_rt_$tag"
    IcebergFixture.deleteRecursively(dir)
    val orders = s.table("orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    graft.sources.IcebergWrite.create(s, dir, orders.schema,
      partitionCols = Seq("o_orderpriority"))
    graft.sources.IcebergWrite.append(orders, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("o_orderkey") % 9 === 2)
    graft.sources.IcebergWrite.compactWhere(s, dir,
      col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    IcebergIO.read(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** v3 ROW LINEAGE across physical rewrites: append nation sorted by
    * NAME as one file (row ids 0..24 in name order — a nontrivial
    * permutation of the keys), DV-delete a keyed slice, [[graft.sources
    * .IcebergWrite.compact]], UPDATE one row's name, compact AGAIN
    * (materialized lineage must survive a second rewrite). Surviving
    * rows must read their ORIGINAL ids — the rewrites materialize
    * `_row_id` into the new files (the spec's rewrite rule) and the
    * reader prefers the materialized column. `_last_updated_sequence_
    * number` rides the same machinery: the UPDATE (seq 4) stamps ONLY
    * its row; both compactions (seqs 3 and 5) preserve everything. The
    * oracle replays the id assignment as a window over the original
    * order — the updated row's id still reflects where it WAS, which no
    * post-rewrite recomputation could produce. */
  val icebergRowLineage = dfQ("iceberg_row_lineage",
    """WITH base AS (
      |  SELECT n_nationkey, n_name,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_name) - 1 AS BIGINT) AS row_id
      |  FROM nation
      |)
      |SELECT n_nationkey, row_id,
      |  CASE WHEN n_nationkey = 7 THEN 'REWRITTEN' ELSE n_name END AS name,
      |  CAST(CASE WHEN n_nationkey = 7 THEN 4 ELSE 1 END AS BIGINT)
      |    AS last_upd
      |FROM base
      |WHERE n_nationkey % 6 <> 2
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_rowlin_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name")
      .orderBy("n_name").coalesce(1)
    graft.sources.IcebergWrite.create(s, dir, nation.schema, formatVersion = 3)
    graft.sources.IcebergWrite.append(nation, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_nationkey") % 6 === 2)
    graft.sources.IcebergWrite.compact(s, dir)
    graft.sources.IcebergWrite.updateWhere(s, dir, col("n_nationkey") === 7,
      Map("n_name" -> lit("REWRITTEN")))
    graft.sources.IcebergWrite.compact(s, dir)
    IcebergIO.readWithRowId(s, dir)
      .select(col("n_nationkey"), col("_row_id").as("row_id"),
        col("n_name").as("name"),
        col("_last_updated_sequence_number").as("last_upd"))
      .orderBy("n_nationkey")
  }

  /** Identity-PRESERVING keyed upsert (`upsert(preserveLineage = true)`,
    * round 16): matched keys route through the MERGE UPDATE carry, so
    * an upserted-but-matched row keeps its EXACT `_row_id` while its
    * `_last_updated_sequence_number` advances to the upsert commit's
    * seq (2); untouched rows keep both. Inserted rows get fresh ids
    * whose exact values depend on staged-file order — the spec test
    * pins their freshness; this oracle pins the original keys, where
    * determinism is total. */
  val icebergUpsertLineage = dfQ("iceberg_upsert_lineage",
    """WITH base AS (
      |  SELECT n_nationkey, n_name,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_name) - 1 AS BIGINT) AS row_id
      |  FROM nation
      |)
      |SELECT n_nationkey, row_id,
      |  CASE WHEN n_nationkey % 5 = 0 THEN 'UPSERTED' ELSE n_name END AS name,
      |  CAST(CASE WHEN n_nationkey % 5 = 0 THEN 2 ELSE 1 END AS BIGINT)
      |    AS last_upd
      |FROM base
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_upslin_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name")
      .orderBy("n_name").coalesce(1)
    graft.sources.IcebergWrite.create(s, dir, nation.schema, formatVersion = 3)
    graft.sources.IcebergWrite.append(nation, dir)
    val src = nation.filter(col("n_nationkey") % 5 === 0)
      .select(col("n_nationkey"), lit("UPSERTED").as("n_name"))
      .unionByName(nation.filter(col("n_nationkey") < 3)
        .select((col("n_nationkey") + 100).cast("int").as("n_nationkey"),
          lit("NEW").as("n_name")))
    graft.sources.IcebergWrite.upsert(src, dir, Seq("n_nationkey"),
      preserveLineage = true)
    IcebergIO.readWithRowId(s, dir)
      .filter(col("n_nationkey") < 100)
      .select(col("n_nationkey"), col("_row_id").as("row_id"),
        col("n_name").as("name"),
        col("_last_updated_sequence_number").as("last_upd"))
      .orderBy("n_nationkey")
  }

  /** v3 `timestamp_ns` READ path (round 16, the last practical v3 type):
    * Spark has no nanosecond timestamp, so the documented API boundary
    * is ns-since-epoch LONGs — the read path maps the spec type to
    * LongType and sets Spark's legacy nanos conf automatically (its only
    * effect: the otherwise-ERRORING read of NANOS-annotated parquet
    * returns ns longs). The fixture file is written with parquet-hadoop's
    * Group API (Spark itself cannot produce a NANOS annotation — which is
    * also why such tables are READ-ONLY to the writer, spec-tested).
    * Lenient-read posture: the type is accepted at any format version on
    * read, like `variant`; only writes are version/type-gated. */
  val icebergTimestampNs = dfQ("iceberg_timestamp_ns",
    """SELECT CAST(n_nationkey AS BIGINT) AS id,
      |  CAST(n_nationkey AS BIGINT) * 1000000000 + 123456789 AS ts_ns
      |FROM nation ORDER BY id""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.types._
    val dir = s"/tmp/graft_iceberg_tsns_$tag"
    IcebergFixture.deleteRecursively(dir)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts_ns", LongType, nullable = false,
        metadata = new MetadataBuilder()
          .putString("iceberg.type", "timestamp_ns").build())))
    val w = new IcebergFixture.Writer(s, dir, schema)
    val rows = s.table("nation").select("n_nationkey").collect()
      .map(r => (r.getInt(0).toLong,
        r.getInt(0).toLong * 1000000000L + 123456789L))
      .sortBy(_._1).toSeq
    val file = new java.io.File(s"$dir/data/ns-00001.parquet")
    file.getParentFile.mkdirs()
    IcebergFixture.writeNsParquet(file.getAbsolutePath, "ts_ns", rows)
    w.appendExternalFile(file, rows.size.toLong)
    IcebergIO.read(s, dir).orderBy("id")
  }

  /** v3 `unknown` type READ path (spec: the bottom type stores NOTHING;
    * readers must surface it as null — files omit the column entirely).
    * The fixture declares the column via the metadata override (a
    * foreign writer's shape) and its data file physically lacks it; the
    * read projects a typed-null literal without ever asking parquet for
    * the column. After the foreign load, this engine's OWN writer
    * appends through the same table (the staging choke point omits the
    * column per spec), proving the table stays fully writable — the
    * round-17 loud-fail would have left it unreadable entirely. The
    * NullType result column casts to VARCHAR (a void column cannot land
    * in a parquet result file). Lenient-read posture like
    * `timestamp_ns`: accepted at any format version on read. */
  val icebergUnknownType = dfQ("iceberg_unknown_type",
    """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
      |  CAST(NULL AS VARCHAR) AS u,
      |  CASE WHEN n_nationkey % 2 = 0 THEN 'w' ELSE 'f' END AS src
      |FROM nation ORDER BY id""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = s"/tmp/graft_iceberg_unknown_$tag"
    IcebergFixture.deleteRecursively(dir)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("u", StringType, nullable = true,
        metadata = new MetadataBuilder()
          .putString("iceberg.type", "unknown").build()),
      StructField("src", StringType, nullable = false)))
    val w = new IcebergFixture.Writer(s, dir, schema)
    val base = s.table("nation")
      .select(col("n_nationkey").cast("long").as("id"),
        col("n_name").as("name"),
        when(pmod(col("n_nationkey"), lit(2)) === 0, "w").otherwise("f")
          .as("src"))
    // the foreign file: odd keys, column `u` physically absent
    w.appendRaw(base.filter(col("src") === "f"))
    // this engine's writer: even keys — `u` rides as the null literal
    // the schema contract demands and is OMITTED from the file
    graft.sources.IcebergWrite.append(
      base.filter(col("src") === "w")
        .select(col("id"), col("name"), lit(null).as("u"), col("src")),
      dir)
    IcebergIO.read(s, dir)
      .select(col("id"), col("name"), col("u").cast("string").as("u"),
        col("src"))
      .orderBy("id")
  }

  /** v3 `geometry` READ path (spec: geospatial values are WKB in
    * GEOMETRY-annotated BYTE_ARRAY columns): Spark has no geometry
    * type, so the documented API boundary is the raw WKB bytes
    * (BinaryType) — possible precisely because this reader always scans
    * with an explicit schema (an INFERRED Spark read of the annotation
    * errors with PARQUET_TYPE_ILLEGAL). The fixture file is written
    * with parquet-hadoop's Group API carrying real WKB points
    * (x = key, y = 2·key); the oracle RECONSTRUCTS every point's exact
    * WKB hex from first principles — IEEE754 double bits of the integer
    * coordinates computed with exact BIGINT arithmetic, byte-reversed
    * into little-endian, prefixed with the point type tag — so the
    * byte-level passthrough is verified cross-engine, not just row
    * counts. Such tables are READ-ONLY to the writer (spec-tested).
    * Lenient-read posture like `timestamp_ns`. */
  val icebergGeometry = dfQ("iceberg_geometry",
    """WITH k AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation),
      |vals AS (
      |  SELECT id, 'x' AS wq, id AS v FROM k
      |  UNION ALL SELECT id, 'y', id * 2 FROM k),
      |eb AS (SELECT id, wq, v,
      |    CASE WHEN v = 0 THEN 0
      |      ELSE CAST(floor(log2(CAST(v AS DOUBLE))) AS BIGINT) END AS e
      |  FROM vals),
      |bt AS (SELECT id, wq,
      |    CASE WHEN v = 0 THEN 0
      |      ELSE (1023 + e) * 4503599627370496
      |        + (v * CAST(pow(2.0, 52 - e) AS BIGINT) - 4503599627370496)
      |      END AS b
      |  FROM eb),
      |hx AS (SELECT id, wq, lpad(lower(to_hex(b)), 16, '0') AS h FROM bt),
      |le AS (SELECT id, wq,
      |    substr(h,15,2) || substr(h,13,2) || substr(h,11,2) ||
      |    substr(h,9,2) || substr(h,7,2) || substr(h,5,2) ||
      |    substr(h,3,2) || substr(h,1,2) AS hle
      |  FROM hx)
      |SELECT x.id, '0101000000' || x.hle || y.hle AS geo
      |FROM (SELECT id, hle FROM le WHERE wq = 'x') x
      |JOIN (SELECT id, hle FROM le WHERE wq = 'y') y USING (id)
      |ORDER BY x.id""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val dir = s"/tmp/graft_iceberg_geo_$tag"
    IcebergFixture.deleteRecursively(dir)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("geom", BinaryType, nullable = false,
        metadata = new MetadataBuilder()
          .putString("iceberg.type", "geometry(OGC:CRS84)").build())))
    val w = new IcebergFixture.Writer(s, dir, schema)
    val rows = s.table("nation").select("n_nationkey").collect()
      .map(_.getInt(0).toLong).sorted.toSeq
      .map(k => (k, IcebergFixture.wkbPoint(k.toDouble, k * 2.0)))
    val file = new java.io.File(s"$dir/data/geo-00001.parquet")
    file.getParentFile.mkdirs()
    IcebergFixture.writeGeoParquet(file.getAbsolutePath, "geom",
      "OGC:CRS84", rows)
    w.appendExternalFile(file, rows.size.toLong)
    IcebergIO.read(s, dir)
      .select(col("id"), lower(hex(col("geom"))).as("geo"))
      .orderBy("id")
  }

  /** The geometry WRITE path ([[graft.sources.IcebergWrite.create]]
    * declaring a `geometry` column via the `iceberg.type` override +
    * [[graft.sources.IcebergWrite.addFiles]] importing foreign
    * GEOMETRY-annotated WKB parquet): geo tables are PRODUCIBLE now,
    * not just readable — the import path validates the WKB column's
    * BYTE_ARRAY physical type from the footers (Spark cannot infer over
    * the annotation), and the table stays DML-capable for eq-deletes
    * keyed on ordinary columns. The oracle recomputes every surviving
    * point's WKB hex from integer coordinates via the IEEE-754
    * bit-arithmetic trick. */
  val icebergGeoImport = dfQ("iceberg_geo_import",
    """WITH k AS (SELECT CAST(n_nationkey AS BIGINT) AS id FROM nation
      |  WHERE n_nationkey <> 3),
      |vals AS (
      |  SELECT id, 'x' AS wq, id + 1 AS v FROM k
      |  UNION ALL SELECT id, 'y', id * 3 FROM k),
      |eb AS (SELECT id, wq, v,
      |    CASE WHEN v = 0 THEN 0
      |      ELSE CAST(floor(log2(CAST(v AS DOUBLE))) AS BIGINT) END AS e
      |  FROM vals),
      |bt AS (SELECT id, wq,
      |    CASE WHEN v = 0 THEN 0
      |      ELSE (1023 + e) * 4503599627370496
      |        + (v * CAST(pow(2.0, 52 - e) AS BIGINT) - 4503599627370496)
      |      END AS b
      |  FROM eb),
      |hx AS (SELECT id, wq, lpad(lower(to_hex(b)), 16, '0') AS h FROM bt),
      |le AS (SELECT id, wq,
      |    substr(h,15,2) || substr(h,13,2) || substr(h,11,2) ||
      |    substr(h,9,2) || substr(h,7,2) || substr(h,5,2) ||
      |    substr(h,3,2) || substr(h,1,2) AS hle
      |  FROM hx)
      |SELECT x.id, '0101000000' || x.hle || y.hle AS geo
      |FROM (SELECT id, hle FROM le WHERE wq = 'x') x
      |JOIN (SELECT id, hle FROM le WHERE wq = 'y') y USING (id)
      |ORDER BY x.id""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.sources.IcebergWrite
    val dir = s"/tmp/graft_iceberg_geoimp_$tag"
    val src = s"/tmp/graft_iceberg_geoimp_src_$tag"
    IcebergFixture.deleteRecursively(dir)
    IcebergFixture.deleteRecursively(src)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("geom", BinaryType, nullable = false,
        metadata = new MetadataBuilder()
          .putString("iceberg.type", "geometry(OGC:CRS84)").build())))
    IcebergWrite.create(s, dir, schema, formatVersion = 3,
      fieldIds = false)
    val keys = s.table("nation").select("n_nationkey").collect()
      .map(_.getInt(0).toLong).sorted.toSeq
    val (even, odd) = keys.partition(_ % 2 == 0)
    new java.io.File(src).mkdirs()
    Seq("even" -> even, "odd" -> odd).foreach { case (tagName, ks) =>
      IcebergFixture.writeGeoParquet(s"$src/geo-$tagName.parquet", "geom",
        "OGC:CRS84",
        ks.map(k => (k, IcebergFixture.wkbPoint((k + 1).toDouble, k * 3.0))))
    }
    IcebergWrite.addFiles(s, dir, src)
    // the imported geo table stays DML-capable for eq-deletes keyed on
    // ordinary columns (the WKB column itself is refused as a key)
    val del = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(org.apache.spark.sql.Row(3L))),
      StructType(Seq(StructField("id", LongType, nullable = false))))
    IcebergWrite.deleteEquality(del, dir)
    IcebergIO.read(s, dir)
      .select(col("id"), lower(hex(col("geom"))).as("geo"))
      .orderBy("id")
  }

  /** The `timestamp_ns` WRITE path by the same import route: create
    * declares the ns column via the `iceberg.type` override (LongType
    * surface), addFiles validates INT64 physical types from the
    * footers and imports foreign NANOS-annotated parquet — ns tables
    * are producible end-to-end. The oracle recomputes the closed-form
    * ns payloads. */
  val icebergNsImport = dfQ("iceberg_ns_import",
    """SELECT CAST(n_nationkey AS BIGINT) AS id,
      |  CAST(1500000000000000000 + CAST(n_nationkey AS BIGINT) * 1234567
      |    AS BIGINT) AS ts_ns
      |FROM nation ORDER BY id""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.sources.IcebergWrite
    val dir = s"/tmp/graft_iceberg_nsimp_$tag"
    val src = s"/tmp/graft_iceberg_nsimp_src_$tag"
    IcebergFixture.deleteRecursively(dir)
    IcebergFixture.deleteRecursively(src)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts_ns", LongType, nullable = false,
        metadata = new MetadataBuilder()
          .putString("iceberg.type", "timestamp_ns").build())))
    IcebergWrite.create(s, dir, schema, formatVersion = 3,
      fieldIds = false)
    val rows = s.table("nation").select("n_nationkey").collect()
      .map(_.getInt(0).toLong).sorted.toSeq
      .map(k => (k, 1500000000000000000L + k * 1234567L))
    new java.io.File(src).mkdirs()
    IcebergFixture.writeNsParquet(s"$src/ns-import.parquet", "ts_ns", rows)
    IcebergWrite.addFiles(s, dir, src)
    IcebergIO.read(s, dir).select("id", "ts_ns").orderBy("id")
  }

  /** CDC changelog WITH row lineage: every change row carries the row's
    * permanent `_row_id` — an UPDATE surfaces as a delete+insert pair
    * SHARING one id (the rewrite materializes it), which is what lets a
    * downstream consumer track rows by identity instead of by key
    * columns. The oracle replays the id assignment (name-rank over the
    * single sorted append) and the exact change-row set of the
    * append → UPDATE → DV-delete sequence; the delete attribution also
    * proves the merged-DV diff stays exact (the second DV contains the
    * first's positions, yet only the newly dead row surfaces). */
  val icebergChangelogLineage = dfQ("iceberg_changelog_lineage",
    """WITH base AS (
      |  SELECT n_nationkey, n_name,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_name) - 1 AS BIGINT) AS row_id
      |  FROM nation
      |)
      |SELECT 'insert' AS change_type, 0 AS ord, n_nationkey, row_id,
      |  CAST(1 AS BIGINT) AS last_upd, n_name AS name FROM base
      |UNION ALL
      |SELECT 'delete', 1, n_nationkey, row_id, CAST(1 AS BIGINT), n_name
      |FROM base WHERE n_nationkey = 7
      |UNION ALL
      |SELECT 'insert', 1, n_nationkey, row_id, CAST(2 AS BIGINT), 'REWRITTEN'
      |FROM base WHERE n_nationkey = 7
      |UNION ALL
      |SELECT 'delete', 2, n_nationkey, row_id, CAST(1 AS BIGINT), n_name
      |FROM base WHERE n_nationkey = 3
      |ORDER BY ord, change_type, n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_cdclin_$tag"
    IcebergFixture.deleteRecursively(dir)
    val nation = s.table("nation").select("n_nationkey", "n_name")
      .orderBy("n_name").coalesce(1)
    graft.sources.IcebergWrite.create(s, dir, nation.schema, formatVersion = 3)
    graft.sources.IcebergWrite.append(nation, dir)
    graft.sources.IcebergWrite.updateWhere(s, dir, col("n_nationkey") === 7,
      Map("n_name" -> lit("REWRITTEN")))
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_nationkey") === 3)
    IcebergIO.readChangelog(s, dir, withRowId = true)
      .select(col("_change_type").as("change_type"),
        col("_change_ordinal").as("ord"), col("n_nationkey"),
        col("_row_id").as("row_id"),
        col("_last_updated_sequence_number").as("last_upd"),
        col("n_name").as("name"))
      .orderBy("ord", "change_type", "n_nationkey")
  }

  /** v3 VARIANT column parity: semi-structured rows written through the
    * Iceberg writer (Spark's native VariantType shares the open Parquet
    * VARIANT representation with the v3 spec type), DV-deleted,
    * compacted, then read back BOTH ways — canonical JSON text
    * (`to_json`) and a typed path extraction (`variant_get`). The
    * oracle rebuilds the same JSON strings and arithmetic from the
    * source rows — byte-identical text proves the binary round-trip
    * lost nothing through the delete + rewrite. */
  val icebergVariant = dfQ("iceberg_variant",
    """SELECT n_nationkey,
      |  '{"k":' || CAST(n_nationkey AS VARCHAR) || ',"name":"'
      |    || n_name || '"}' AS vj,
      |  CAST(n_nationkey * 2 AS BIGINT) AS k2
      |FROM nation
      |WHERE n_nationkey % 4 <> 1
      |ORDER BY n_nationkey""".stripMargin,
    bench = false) { (s, _) =>
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft_iceberg_variant_$tag"
    IcebergFixture.deleteRecursively(dir)
    val df = s.table("nation").selectExpr("n_nationkey",
      "parse_json(concat('{\"k\":', n_nationkey, ',\"name\":\"', n_name, '\"}')) AS v")
    graft.sources.IcebergWrite.create(s, dir, df.schema, formatVersion = 3)
    graft.sources.IcebergWrite.append(df, dir)
    graft.sources.IcebergWrite.deleteWhere(s, dir, col("n_nationkey") % 4 === 1)
    graft.sources.IcebergWrite.compact(s, dir)
    IcebergIO.read(s, dir).selectExpr("n_nationkey",
        "to_json(v) AS vj",
        "CAST(variant_get(v, '$.k', 'long') * 2 AS BIGINT) AS k2")
      .orderBy("n_nationkey")
  }

  /** `.data_files` / `.delete_files` content-filtered slices of `.files`
    * ([[IcebergIO.dataFiles]]/[[IcebergIO.deleteFiles]], the runtime
    * jar's dot-suffix tables), pinned against [[posDelFixture]] whose
    * live set is exactly two 10/15-row data files plus two 2-row
    * position-delete files (content 1). One entry unions both slices —
    * proving the filter splits the live set with nothing lost. */
  val icebergDataDeleteFiles = dfQ("iceberg_data_delete_files",
    """SELECT * FROM (VALUES
      |  ('data', 'data-00001.parquet', 0, CAST(10 AS BIGINT), CAST(1 AS BIGINT)),
      |  ('data', 'data-00002.parquet', 0, CAST(15 AS BIGINT), CAST(2 AS BIGINT)),
      |  ('delete', 'delete-00003.parquet', 1, CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
      |  ('delete', 'delete-00004.parquet', 1, CAST(2 AS BIGINT), CAST(4 AS BIGINT)))
      |  AS t(slice, file_name, content, record_count, sequence_number)
      |ORDER BY slice, sequence_number""".stripMargin,
    bench = false) { (s, sfDir) =>
    import org.apache.spark.sql.functions._
    val dir = posDelFixture(s, sfDir)
    val cols = Seq("slice", "file_name", "content", "record_count",
      "sequence_number").map(col)
    IcebergIO.dataFiles(s, dir).withColumn("slice", lit("data")).select(cols: _*)
      .unionByName(IcebergIO.deleteFiles(s, dir)
        .withColumn("slice", lit("delete")).select(cols: _*))
      .orderBy("slice", "sequence_number")
  }

  val all: Seq[Q] = Seq(icebergRead, icebergTimeTravel, icebergPosDelete,
    icebergEqDelete, icebergEqDeleteDate, icebergPartitionPrune,
    icebergBucketPrune,
    icebergTimePrune, icebergDatePrune, icebergHistory, icebergFiles,
    icebergStatsPrune, icebergPartitions, icebergManifests, icebergEntries,
    icebergPushdownWhere, icebergPrefixPrune, icebergSqlPushdown, icebergSnapshots,
    icebergIncremental, icebergChangelog, icebergRefs, icebergPipeline,
    icebergWriteRoundtrip,
    icebergDeleteWhere, icebergEqDeleteScoped, icebergUpsert,
    icebergUpdateWhere, icebergSqlDml, icebergSqlOverwrite,
    icebergSqlTimeTravel, icebergMergeInto,
    icebergSqlAlter,
    icebergRewriteManifests, icebergRollback,
    icebergDropColumn, icebergRenameColumn, icebergWidenColumn,
    icebergDefaultValues, icebergPartitionStats, icebergTableStats,
    icebergNameMapping,
    icebergBranchWap,
    icebergSortOrder, icebergZorder, icebergPartitionEvolution,
    icebergGc,
    icebergAllFiles, icebergAllManifests, icebergAllEntries, icebergMetadataLog, icebergPositionDeletes,
    icebergDataDeleteFiles, icebergDvDelete, icebergCompactWhere,
    icebergRowLineage, icebergVariant, icebergChangelogLineage,
    icebergUpsertLineage, icebergTimestampNs, icebergUnknownType,
    icebergGeometry, icebergGeoImport, icebergNsImport,
    icebergAddFilesHive,
    icebergRewritePosDeletes, icebergCherrypick, icebergAddFiles, icebergConvertEqDeletes,
    icebergBenchScan, icebergBenchPrune, icebergBenchSql, icebergBenchWrite,
    icebergBenchChangelog)
}
