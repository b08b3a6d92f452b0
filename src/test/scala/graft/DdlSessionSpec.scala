package graft

import org.scalatest.funsuite.AnyFunSuite

/** DDL translation round-trips + session façade behavior, mirroring the
  * reference's standalone-context tests (reference:
  * ballista/client/src/context.rs:416-484, 556-640). */
class DdlSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("CREATE EXTERNAL TABLE csv translation") {
    val out = ExternalTableDdl.translate(
      "CREATE EXTERNAL TABLE t (a INT, b STRING) STORED AS CSV WITH HEADER ROW " +
        "DELIMITER '|' LOCATION '/tmp/x'").get
    assert(out.contains("USING csv"))
    assert(out.contains("path '/tmp/x'"))
    assert(out.contains("header 'true'"))
    assert(out.contains("delimiter '|'"))
    assert(out.contains("(a INT, b STRING)"))
  }

  test("CREATE EXTERNAL TABLE parquet + IF NOT EXISTS + partitioning") {
    val out = ExternalTableDdl.translate(
      "CREATE EXTERNAL TABLE IF NOT EXISTS t STORED AS PARQUET " +
        "PARTITIONED BY (dt) LOCATION '/tmp/y'").get
    assert(out.startsWith("CREATE TABLE IF NOT EXISTS t"))
    assert(out.contains("USING parquet"))
    assert(out.contains("PARTITIONED BY (dt)"))
  }

  test("non-DDL statements pass through untouched") {
    assert(ExternalTableDdl.translate("SELECT 1").isEmpty)
    assert(ExternalTableDdl.translate("CREATE TABLE t (a INT) USING parquet").isEmpty)
  }

  test("external CSV table end-to-end: write, register via DDL, read back") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    spark.range(3).selectExpr("id AS k", "concat('v', id) AS v")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    g.sql("DROP TABLE IF EXISTS spec_csv")
    g.sql(s"CREATE EXTERNAL TABLE spec_csv (k BIGINT, v STRING) STORED AS CSV " +
      s"WITH HEADER ROW LOCATION '$dir'")
    val rows = g.sql("SELECT k, v FROM spec_csv ORDER BY k").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(rows.map(_.getString(1)).toSeq == Seq("v0", "v1", "v2"))
    g.sql("DROP TABLE spec_csv")
  }

  test("SHOW TABLES/COLUMNS are gated off by default and on when enabled (reference default false)") {
    spark.conf.unset(GraftSession.InformationSchemaKey)
    val g = GraftSession.wrap(spark)
    g.registerParquet("show_t", s"${TestSpark.sfDir}/region.parquet")
    // the gate matches the parsed plan, so no spelling slips past it
    Seq("SHOW TABLES", "SHOW COLUMNS IN show_t", "SHOW  TABLES",
        "-- c\nSHOW TABLES", "show\ncolumns in show_t").foreach { q =>
      intercept[IllegalStateException](g.sql(q))
    }
    spark.conf.set(GraftSession.InformationSchemaKey, "true")
    assert(g.sql("SHOW TABLES").columns.nonEmpty)
    assert(g.sql("SHOW COLUMNS IN show_t").collect()
      .map(_.getString(0)).contains("r_name"))
    spark.conf.set(GraftSession.InformationSchemaKey, "not_a_bool")
    intercept[IllegalArgumentException] { g.sql("SHOW TABLES") }
    spark.conf.unset(GraftSession.InformationSchemaKey)
  }

  test("CREATE DATABASE / USE / qualified table lifecycle") {
    val g = GraftSession.wrap(spark)
    g.sql("CREATE DATABASE IF NOT EXISTS graft_db")
    g.sql("DROP TABLE IF EXISTS graft_db.t1")
    g.sql(s"CREATE EXTERNAL TABLE graft_db.t1 STORED AS PARQUET " +
      s"LOCATION '${TestSpark.sfDir}/region.parquet'")
    assert(g.sql("SELECT COUNT(*) FROM graft_db.t1").collect()(0).getLong(0) == 5)
    assert(spark.catalog.databaseExists("graft_db"))
    g.sql("DROP TABLE graft_db.t1")
    g.sql("DROP DATABASE graft_db")
  }

  test("explainAnalyze returns runtime metrics for executed operators") {
    val g = GraftSession.wrap(spark)
    g.registerParquet("ea_li", s"${TestSpark.sfDir}/lineitem.parquet")
    val m = g.explainAnalyze(
      "SELECT l_returnflag, COUNT(*) FROM ea_li GROUP BY l_returnflag")
    val rows = m.collect()
    assert(rows.nonEmpty)
    assert(rows.exists(r => r.getString(1) == "numOutputRows" && r.getLong(2) > 0),
      "runtime row counts must be populated")
    assert(rows.exists(r => r.getString(0) == "Exchange" &&
      r.getString(1) == "shuffleRecordsWritten" && r.getLong(2) > 0),
      "shuffle metrics must be populated")
  }

  test("registerCsv without schema defaults to string columns (no inference pass)") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_csvdef").toString
    spark.range(3).selectExpr("id").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dir)
    g.registerCsv("csv_def", dir)
    assert(spark.table("csv_def").schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    g.registerCsv("csv_inf", dir, inferSchema = true)
    assert(spark.table("csv_inf").schema.fields.exists(_.dataType !=
      org.apache.spark.sql.types.StringType))
  }

  test("writeParquet / writeCsv / writeJson round-trip") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_write").toString
    val df = spark.range(4).selectExpr("id", "id * 3 AS t")
    g.writeParquet(df, s"$dir/p")
    g.writeCsv(df, s"$dir/c")
    g.writeJson(df, s"$dir/j")
    assert(spark.read.parquet(s"$dir/p").count() == 4)
    assert(spark.read.option("header", "true").csv(s"$dir/c").count() == 4)
    assert(spark.read.json(s"$dir/j").count() == 4)
  }

  test("session facade DML: deleteIcebergWhere + updateIcebergWhere") {
    import org.apache.spark.sql.functions._
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_dml").toString + "/t"
    val df = spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v")
    g.writeIceberg(df, dir)
    g.deleteIcebergWhere(dir, col("id") >= 8L)
    g.updateIcebergWhere(dir, col("id") < 2L, Map("v" -> (col("v") + 100.0)))
    val got = g.readIceberg(dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((0L, 100.0), (1L, 101.0), (2L, 2.0), (3L, 3.0),
      (4L, 4.0), (5L, 5.0), (6L, 6.0), (7L, 7.0)))
  }

  test("SQL DML: DELETE / UPDATE / MERGE route to the Iceberg writer") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_sqldml").toString + "/t"
    g.writeIceberg(spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir)
    g.registerIceberg("dml_t", dir)
    g.sql("DELETE FROM dml_t WHERE id >= 8")
    g.sql("UPDATE dml_t SET v = coalesce(v, 0) + 100.0 WHERE id < 2")
    // matched (id 7) replaces, not-matched (id 20) inserts
    spark.sql("SELECT * FROM VALUES (7L, 0.5D), (20L, 0.5D) AS s(id, v)")
      .createOrReplaceTempView("dml_src")
    g.sql("MERGE INTO dml_t t USING dml_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // INSERT aligns positionally and casts (int literal -> long column)
    g.sql("INSERT INTO dml_t VALUES (30, 0.25D), (31, 0.25D)")
    g.sql("INSERT INTO dml_t SELECT id + 40, CAST(9.0 AS DOUBLE) " +
      "FROM range(2)")
    // the registered view is LIVE: every statement visible at once
    val got = g.sql("SELECT id, v FROM dml_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === Seq((0L, 100.0), (1L, 101.0), (2L, 2.0), (3L, 3.0),
      (4L, 4.0), (5L, 5.0), (6L, 6.0), (7L, 0.5), (20L, 0.5),
      (30L, 0.25), (31L, 0.25), (40L, 9.0), (41L, 9.0)))
    // INSERT into an UNREGISTERED name falls through to Spark's own path
    intercept[org.apache.spark.sql.AnalysisException](
      g.sql("INSERT INTO not_registered VALUES (1)"))
    // arity mismatch is loud
    intercept[IllegalArgumentException](
      g.sql("INSERT INTO dml_t VALUES (1, 2.0D, 'extra')"))
    // guards: unknown target, pinned target, malformed MERGE ON
    intercept[IllegalArgumentException](g.sql("DELETE FROM nope WHERE 1=1"))
    val pin = graft.sources.IcebergIO.snapshotIds(dir).head
    g.registerIceberg("dml_pinned", dir, snapshotId = Some(pin))
    intercept[IllegalArgumentException](
      g.sql("DELETE FROM dml_pinned WHERE id = 1"))
    intercept[IllegalArgumentException](
      g.sql("MERGE INTO dml_t t USING dml_src s ON t.id > s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    // a DROPPED view must stop resolving as a DML target, even though
    // the session-conf registration key outlives the view
    spark.catalog.dropTempView("dml_t")
    intercept[IllegalArgumentException](
      g.sql("DELETE FROM dml_t WHERE id = 1"))
    g.registerIceberg("dml_t", dir) // re-registering restores DML
    g.sql("DELETE FROM dml_t WHERE id = 999") // resolves again (no-op)
  }

  /** A fresh registered v2 Iceberg table over (id, v, note) with rows
    * (i, i.0, "n<i>") for i < n; returns its directory. */
  private def noteTable(g: GraftSession, name: String, n: Int = 3): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$name").toString + "/t"
    g.writeIceberg(spark.range(n).selectExpr("id", "CAST(id AS DOUBLE) AS v",
      "concat('n', id) AS note"), dir)
    g.registerIceberg(name, dir)
    dir
  }

  private def noteRows(g: GraftSession, name: String): Seq[(Long, Double, String)] =
    g.sql(s"SELECT id, v, note FROM $name ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq

  test("SQL UPDATE: quoted WHERE, quoted and nested commas stay inside the SET list") {
    val g = GraftSession.wrap(spark)
    noteTable(g, "upd_q")
    // a quoted WHERE is part of the value; the real WHERE picks one row
    g.sql("UPDATE upd_q SET note = 'x WHERE y' WHERE id = 1")
    assert(noteRows(g, "upd_q") ===
      Seq((0L, 0.0, "n0"), (1L, 1.0, "x WHERE y"), (2L, 2.0, "n2")))
    // a WHERE inside a call's quoted argument is no top-level WHERE:
    // every row updates
    g.sql("UPDATE upd_q SET note = concat(' WHERE ', note)")
    assert(noteRows(g, "upd_q").map(_._3) ===
      Seq(" WHERE n0", " WHERE x WHERE y", " WHERE n2"))
    // commas inside parentheses and quotes do not split assignments
    g.sql("UPDATE upd_q SET v = coalesce(v, 0) + 10, note = 'p,q' WHERE id = 2")
    assert(noteRows(g, "upd_q").last === ((2L, 12.0, "p,q")))
  }

  test("SQL UPDATE: a trailing -- comment hides the WHERE, so every row updates") {
    val g = GraftSession.wrap(spark)
    noteTable(g, "cmt_upd")
    g.sql("UPDATE cmt_upd SET v = 0D -- WHERE id = 1")
    assert(noteRows(g, "cmt_upd").map(_._2) === Seq(0.0, 0.0, 0.0))
  }

  test("SQL MERGE: a commented-out WHEN clause does not run") {
    val g = GraftSession.wrap(spark)
    noteTable(g, "cmt_mrg")
    spark.sql("SELECT * FROM VALUES (1L, 9.0D, 'm1'), (8L, 8.0D, 'm8') " +
      "AS s(id, v, note)").createOrReplaceTempView("cmt_mrg_src")
    g.sql("MERGE INTO cmt_mrg t USING cmt_mrg_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.v -- WHEN NOT MATCHED THEN INSERT *")
    assert(noteRows(g, "cmt_mrg") ===
      Seq((0L, 0.0, "n0"), (1L, 9.0, "n1"), (2L, 2.0, "n2")))
  }

  test("SQL DML: leading and inline comments and backticked names route to the writer") {
    val g = GraftSession.wrap(spark)
    noteTable(g, "cmt_rt", n = 5)
    g.sql("-- c\nDELETE FROM cmt_rt WHERE id = 0")
    g.sql("UPDATE /* c */ cmt_rt SET v = 7D WHERE id = 2")
    g.sql("DELETE /* c */ FROM cmt_rt WHERE id = 3")
    g.sql("DELETE FROM `cmt_rt` WHERE id = 4")
    g.sql("INSERT INTO `cmt_rt` VALUES (5, 5.0D, 'n5')")
    assert(noteRows(g, "cmt_rt") ===
      Seq((1L, 1.0, "n1"), (2L, 7.0, "n2"), (5L, 5.0, "n5")))
  }

  test("SQL UPDATE: a backslash-escaped quote and a comma stay in the string value") {
    val g = GraftSession.wrap(spark)
    noteTable(g, "esc_upd")
    g.sql("UPDATE esc_upd SET note = 'it\\'s, ok' WHERE id = 1")
    assert(noteRows(g, "esc_upd").map(_._3) === Seq("n0", "it's, ok", "n2"))
  }

  test("SQL UPDATE and MERGE: a SET value takes its column's type; a type store assignment rejects fails before any job") {
    val g = GraftSession.wrap(spark)
    noteTable(g, "cast_upd")
    g.sql("UPDATE cast_upd SET v = 0 WHERE id = 1")
    assert(noteRows(g, "cast_upd") ===
      Seq((0L, 0.0, "n0"), (1L, 0.0, "n1"), (2L, 2.0, "n2")))
    g.sql("UPDATE cast_upd SET note = id + 10, v = v * 2 WHERE id = 2")
    assert(noteRows(g, "cast_upd").last === ((2L, 4.0, "12")))
    spark.sql("SELECT 0L AS id, 'x' AS w, 7 AS n").createOrReplaceTempView("cast_src")
    g.sql("MERGE INTO cast_upd t USING cast_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = s.n")
    assert(noteRows(g, "cast_upd").head === ((0L, 7.0, "n0")))
    Seq("UPDATE cast_upd SET v = 'x' WHERE id = 1",
        "UPDATE cast_upd SET id = DATE'2020-01-01'",
        "MERGE INTO cast_upd t USING cast_src s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = s.w",
        "MERGE INTO cast_upd t USING cast_src s ON t.id = s.id " +
          "WHEN NOT MATCHED THEN INSERT (id, v, note) VALUES (s.id, s.w, s.w)").foreach { q =>
      val jobs = TestSpark.jobs(intercept[IllegalArgumentException](g.sql(q)))
      assert(jobs === 0, q)
    }
    assert(noteRows(g, "cast_upd").map(_._2) === Seq(7.0, 0.0, 4.0))
  }

  test("SQL DELETE prunes data files by its WHERE like the Column DSL does") {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable
    import org.apache.spark.sql.functions.{col, expr}
    import graft.sources.IcebergIO
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_prune_del").toString + "/t"
    g.writeIceberg(spark.range(0, 10, 1, 4).toDF("id"), dir)
    g.registerIceberg("prune_del", dir)
    graft.sources.IcebergWrite.append(spark.range(10, 20, 1, 4).toDF("id"), dir)
    assert(IcebergIO.files(spark, dir).count() === 8L)
    val parsed = GraftShim.parsePlan(spark, "DELETE FROM prune_del WHERE id >= 15") match {
      case d: DeleteFromTable => GraftShim.column(d.condition)
    }
    // the Column GraftSession.sql hands the writer, expr() and the DSL
    // all keep the same 2 of 8 files
    Seq(col("id") >= 15, parsed, expr("id >= 15")).foreach { c =>
      assert(IcebergIO.readWhere(spark, dir, c).inputFiles.length === 2, c)
    }
    g.sql("DELETE FROM prune_del WHERE id >= 15")
    assert(g.sql("SELECT id FROM prune_del ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === (0L until 15L))
  }

  test("SQL DELETE/UPDATE: a string literal against a DATE, TIMESTAMP or INT partition column matches after its implicit cast") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    import graft.sources.{IcebergIO, IcebergWrite}
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_part_lit").toString + "/t"
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("d", DateType), StructField("ts", TimestampType),
      StructField("p", IntegerType)))
    IcebergWrite.create(spark, dir, schema, partitionCols = Seq("d", "ts", "p"))
    val rows = (0 until 5).map(i => Row(i.toLong,
      java.sql.Date.valueOf(s"2020-01-0${i + 1}"),
      java.sql.Timestamp.valueOf(s"2020-01-01 0$i:00:00"), i + 5))
    IcebergWrite.append(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema), dir)
    g.registerIceberg("part_lit", dir)
    def ids(): Seq[Long] = g.sql("SELECT id FROM part_lit ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    // the Column DSL spelling reads the row its implicit cast matches
    assert(IcebergIO.readWhere(spark, dir, col("d") === "2020-01-02")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    g.sql("DELETE FROM part_lit WHERE d = '2020-01-01'")
    assert(ids() === Seq(1L, 2L, 3L, 4L))
    g.sql("UPDATE part_lit SET id = 10 WHERE d = '2020-01-02'")
    assert(ids() === Seq(2L, 3L, 4L, 10L))
    g.sql("DELETE FROM part_lit WHERE ts = '2020-01-01 02:00:00'")
    assert(ids() === Seq(3L, 4L, 10L))
    g.sql("DELETE FROM part_lit WHERE p = '08'")
    assert(ids() === Seq(4L, 10L))
  }

  test("SQL refusals start no Spark job") {
    import org.apache.spark.sql.catalyst.parser.ParseException
    val g = GraftSession.wrap(spark)
    val dir = noteTable(g, "ref_t")
    g.registerIceberg("ref_pin", dir,
      snapshotId = Some(graft.sources.IcebergIO.snapshotIds(dir).head))
    noteTable(g, "ref_gone")
    spark.catalog.dropTempView("ref_gone")
    spark.sql("SELECT 1L AS id, 1.0D AS v, 'a' AS note").createOrReplaceTempView("ref_src")
    val iae = classOf[IllegalArgumentException]
    Seq(
      "MERGE INTO ref_t t USING ref_src s ON t.id > s.id " +
        "WHEN MATCHED THEN UPDATE SET *" -> iae,
      "DELETE FROM ref_pin WHERE id = 1" -> iae,
      "UPDATE ref_gone SET v = 1" -> iae,
      "UPDATE ref_t SET ref_t.v = 1" -> iae,
      "CALL system.nope('ref_t')" -> iae,
      "CALL system.expire_snapshots('ref_t', 'soon')" -> iae,
      "CALL system.rewrite_data_files(table => 'ref_t')" -> iae,
      "MERGE INTO ref_t t USING ref_src s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT * WHEN MATCHED THEN DELETE" ->
        classOf[ParseException]
    ).foreach { case (q, cls) =>
      val jobs = TestSpark.jobs {
        val e = intercept[Exception](g.sql(q))
        assert(cls.isInstance(e), s"$q raised $e")
      }
      assert(jobs === 0, q)
    }
    assert(noteRows(g, "ref_t").map(_._2) === Seq(0.0, 1.0, 2.0))
  }

  test("SQL INSERT OVERWRITE / TRUNCATE / create_changelog_view") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlow").toString + "/t"
    g.writeIceberg(spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir)
    g.registerIceberg("ow_t", dir)
    // overwrite replaces live content in one snapshot; casts positionally
    g.sql("INSERT OVERWRITE ow_t SELECT id + 100, CAST(1.5 AS DOUBLE) FROM range(3)")
    assert(g.sql("SELECT id FROM ow_t ORDER BY id").collect().map(_.getLong(0))
      .toSeq === Seq(100L, 101L, 102L))
    // the pre-overwrite snapshot stays time-travelable
    val first = graft.sources.IcebergIO.snapshotIds(dir).head
    assert(g.sql(s"SELECT count(*) AS c FROM ow_t FOR VERSION AS OF $first")
      .collect().head.getLong(0) === 5L)
    // changelog view over the whole history: 5 + 3 inserts, 5 deletes
    val view = g.sql("CALL system.create_changelog_view('ow_t')")
      .collect().head.getString(0)
    assert(view === "ow_t_changes")
    val byType = g.sql(
      s"SELECT _change_type, count(*) AS c FROM $view GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(byType === Seq(("delete", 5L), ("insert", 8L)))
    // TRUNCATE: metadata-only overwrite commit, no rows after
    g.sql("TRUNCATE TABLE ow_t")
    assert(g.sql("SELECT count(*) AS c FROM ow_t").collect().head.getLong(0) === 0L)
    // truncating commits a snapshot (time travel still sees old data)
    assert(g.sql(s"SELECT count(*) AS c FROM ow_t FOR VERSION AS OF $first")
      .collect().head.getLong(0) === 5L)
    // unregistered names keep Spark's own INSERT OVERWRITE / TRUNCATE
    intercept[org.apache.spark.sql.AnalysisException](
      g.sql("INSERT OVERWRITE no_such_t SELECT 1"))
    intercept[org.apache.spark.sql.AnalysisException](
      g.sql("TRUNCATE TABLE no_such_t"))
  }

  test("SQL conditional MERGE: clauses, CASE in SET, quoted THEN, parse guards") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_cmerge").toString + "/t"
    g.writeIceberg(spark.range(6).selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir)
    g.registerIceberg("cm_t", dir)
    spark.sql("SELECT * FROM VALUES (1L, 10.0D), (2L, 99.0D), (3L, 1.0D), " +
      "(20L, 5.0D), (21L, 99.0D) AS s(id, d)").createOrReplaceTempView("cm_s")
    g.sql("""MERGE INTO cm_t t USING cm_s s ON t.id = s.id
            |WHEN MATCHED AND s.d > 50 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET
            |  v = t.v + (CASE WHEN s.d > 5 THEN s.d ELSE 0 END)
            |WHEN NOT MATCHED AND s.d < 50 THEN INSERT (id, v) VALUES (s.id, s.d)""".stripMargin)
    val got = g.sql("SELECT id, v FROM cm_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // 1: +10 (case fires); 2: deleted; 3: +0 (case 1.0 <= 5); 20: inserted;
    // 21: not matched AND d >= 50 -> dropped; 0,4,5 untouched
    assert(got === Seq((0L, 0.0), (1L, 11.0), (3L, 3.0), (4L, 4.0),
      (5L, 5.0), (20L, 5.0)))

    // malformed clauses are Spark parse errors: BY SOURCE + INSERT (there
    // is no source row), NOT MATCHED + DELETE, MATCHED + INSERT, and a
    // column/value count mismatch
    Seq("WHEN NOT MATCHED BY SOURCE THEN INSERT *",
        "WHEN NOT MATCHED THEN DELETE",
        "WHEN MATCHED THEN INSERT *",
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (1)").foreach { w =>
      intercept[org.apache.spark.sql.catalyst.parser.ParseException](
        g.sql(s"MERGE INTO cm_t t USING cm_s s ON t.id = s.id $w"))
    }
    assert(g.sql("SELECT count(*) FROM cm_t").head.getLong(0) === 6L)
    // SQL cardinality rule surfaces through the session layer
    spark.sql("SELECT * FROM VALUES (1L, 1.0D), (1L, 2.0D) AS s(id, d)")
      .createOrReplaceTempView("cm_dup")
    val e = intercept[IllegalArgumentException](
      g.sql("MERGE INTO cm_t t USING cm_dup s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.d"))
    assert(e.getMessage.contains("cardinality"))
  }

  test("SQL MERGE: quoted THEN, BY TARGET / BY SOURCE, alias-free upsert fast path") {
    val g = GraftSession.wrap(spark)
    val dir = noteTable(g, "mq_t", n = 4)
    spark.sql("SELECT * FROM VALUES (1L, 1.5D, 'a THEN b'), (2L, 2.5D, 'x'), " +
      "(9L, 9.0D, 'new') AS s(id, v, note)").createOrReplaceTempView("mq_s")
    // a quoted THEN in a condition, a 'WHEN MATCHED' string value
    g.sql("MERGE INTO mq_t t USING mq_s s ON t.id = s.id " +
      "WHEN MATCHED AND s.note = 'a THEN b' THEN UPDATE SET note = 'WHEN MATCHED' " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(noteRows(g, "mq_t") === Seq((0L, 0.0, "n0"), (1L, 1.0, "WHEN MATCHED"),
      (2L, 2.0, "n2"), (3L, 3.0, "n3"), (9L, 9.0, "new")))
    // BY TARGET spells the plain NOT MATCHED; BY SOURCE clauses act on
    // target rows the source lacks, first applicable clause wins
    spark.sql("SELECT * FROM VALUES (0L, 0.0D, 'n0'), (3L, 3.0D, 'n3'), " +
      "(7L, 7.0D, 'n7') AS s(id, v, note)").createOrReplaceTempView("mq_sync")
    g.sql("MERGE INTO mq_t t USING mq_sync s ON (t.id = s.id) " +
      "WHEN NOT MATCHED BY TARGET THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND t.note = 'n2' THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET note = 'stale'")
    assert(noteRows(g, "mq_t") === Seq((0L, 0.0, "n0"), (1L, 1.0, "stale"),
      (3L, 3.0, "n3"), (7L, 7.0, "n7"), (9L, 9.0, "stale")))
    // the alias-free canonical pair takes the upsert fast path (an
    // equality-delete commit on v2); a conditional clause takes merge
    // (position deletes)
    def deleteFiles(content: Int): Long =
      graft.sources.IcebergIO.files(spark, dir).filter(s"content = $content").count()
    val (eq0, pos0) = (deleteFiles(2), deleteFiles(1))
    spark.sql("SELECT * FROM VALUES (3L, 30.0D, 'u3'), (11L, 11.0D, 'n11') " +
      "AS s(id, v, note)").createOrReplaceTempView("mq_up")
    g.sql("MERGE INTO mq_t USING mq_up ON mq_t.id = mq_up.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert((deleteFiles(2), deleteFiles(1)) === ((eq0 + 1, pos0)))
    g.sql("MERGE INTO mq_t USING mq_up ON mq_t.id = mq_up.id " +
      "WHEN MATCHED AND mq_up.v > 20 THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert((deleteFiles(2), deleteFiles(1)) === ((eq0 + 1, pos0 + 1)))
    assert(noteRows(g, "mq_t") === Seq((0L, 0.0, "n0"), (1L, 1.0, "stale"),
      (3L, 30.0, "u3"), (7L, 7.0, "n7"), (9L, 9.0, "stale"), (11L, 11.0, "n11")))
    // a subquery source binds through its alias
    g.sql("MERGE INTO mq_t t USING (SELECT id, v + 1 AS v FROM mq_up) s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v")
    assert(noteRows(g, "mq_t").map(_._2) === Seq(0.0, 1.0, 31.0, 7.0, 9.0, 12.0))
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN routes to schema evolution; view refreshes") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_alter").toString + "/t"
    g.writeIceberg(spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir)
    g.registerIceberg("alt_t", dir)
    g.sql("ALTER TABLE alt_t ADD COLUMN note STRING")
    // the re-registered LIVE view sees the evolved schema immediately
    assert(g.sql("SELECT id, note FROM alt_t WHERE id = 1").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSeq === Seq((1L, None)))
    g.sql("INSERT INTO alt_t VALUES (10, 0.5D, 'x')")
    g.sql("ALTER TABLE alt_t RENAME COLUMN note TO remark")
    assert(g.sql("SELECT remark FROM alt_t WHERE id = 10").collect()
      .map(_.getString(0)).toSeq === Seq("x"))
    g.sql("ALTER TABLE alt_t DROP COLUMN remark")
    assert(g.sql("SELECT * FROM alt_t").columns.toSeq === Seq("id", "v"))
    // ALTER on an unregistered name falls through to Spark's own path
    intercept[org.apache.spark.sql.AnalysisException](
      g.sql("ALTER TABLE not_a_graft_table ADD COLUMN x INT"))
    // unsupported ALTER forms fall through too: Spark refuses a view
    intercept[org.apache.spark.sql.AnalysisException](
      g.sql("ALTER TABLE alt_t SET TBLPROPERTIES ('a'='b')"))
  }

  test("CALL system.upgrade_format_version: v3 + DV deletes over SQL DML") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_upg").toString + "/t"
    g.writeIceberg(spark.range(6).selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir)
    g.registerIceberg("upg_t", dir)
    g.sql("DELETE FROM upg_t WHERE id = 5") // v2: parquet position delete
    g.sql("CALL system.upgrade_format_version('upg_t')")
    assert(graft.sources.IcebergIO.loadMetadata(dir).formatVersion === 3)
    assert(g.sql("SELECT count(*) AS n FROM upg_t").collect().head.getLong(0) === 5L)
    // SQL DML over the upgraded table routes through deletion vectors
    // filtered compaction through the CALL surface (where-string arg)
    g.sql("CALL system.rewrite_data_files('upg_t', 'id >= 3')")
    assert(g.sql("SELECT count(*) AS n FROM upg_t").collect().head.getLong(0) === 5L)
    g.sql("DELETE FROM upg_t WHERE id IN (0, 1)")
    assert(g.sql("SELECT count(*) AS n FROM upg_t").collect().head.getLong(0) === 3L)
    g.sql("UPDATE upg_t SET v = 42.0D WHERE id = 2")
    assert(g.sql("SELECT v FROM upg_t WHERE id = 2").collect().head.getDouble(0) === 42.0)
    val dels = graft.sources.IcebergIO.deleteFiles(spark, dir).collect()
    assert(dels.nonEmpty && dels.forall(_.getAs[String]("file_format") == "PUFFIN"))
    spark.catalog.dropTempView("upg_t")
  }

  test("CALL system.* procedures: maintenance surface over registered names") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_call").toString + "/t"
    g.writeIceberg(spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir)
    g.registerIceberg("call_t", dir)
    g.sql("DELETE FROM call_t WHERE id = 4")
    val preSnaps = graft.sources.IcebergIO.snapshotIds(dir).size

    // compact folds the delete away, one new snapshot, data unchanged
    val sid = g.sql("CALL system.rewrite_data_files('call_t')")
      .collect().head.getLong(0)
    assert(graft.sources.IcebergIO.snapshotIds(dir).contains(sid))
    assert(g.sql("SELECT count(*) AS n FROM call_t").collect().head.getLong(0) === 4L)

    // tag the current snapshot, then roll back to the pre-compact one
    assert(g.sql("CALL system.create_tag('call_t', 'stable')")
      .columns.toSeq === Seq("ref", "snapshot_id"))
    val first = graft.sources.IcebergIO.snapshotIds(dir).min
    g.sql(s"CALL system.rollback_to_snapshot('call_t', $first)")
    assert(g.sql("SELECT count(*) AS n FROM call_t").collect().head.getLong(0) === 5L)
    g.sql("CALL system.drop_ref('call_t', 'stable')")

    // expire everything but the current lineage tip
    val expired = g.sql("CALL system.expire_snapshots('call_t', " +
      s"${System.currentTimeMillis() + 100000}, 1)").collect().head.getInt(0)
    assert(expired > 0)
    assert(graft.sources.IcebergIO.snapshotIds(dir).size < preSnaps + 1)

    // a planted stray file is an orphan; referenced files survive
    val stray = s"$dir/data/stray-not-referenced.parquet"
    val os = graft.sources.GraftFs.createNew(stray)
    os.write("junk".getBytes); os.close()
    val orphans = g.sql("CALL system.remove_orphan_files('call_t', " +
      s"${System.currentTimeMillis() + 100000})").collect().map(_.getString(0))
    assert(orphans.exists(_.endsWith("stray-not-referenced.parquet")))
    assert(g.sql("SELECT count(*) AS n FROM call_t").collect().head.getLong(0) === 5L)

    // branch write + fast_forward: staged rows publish atomically
    graft.sources.IcebergWrite.append(
      spark.range(10, 12).selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir,
      branch = Some("stage"))
    assert(g.sql("SELECT count(*) AS n FROM call_t").collect().head.getLong(0) === 5L)
    val ff = g.sql("CALL system.fast_forward('call_t', 'stage')")
      .collect().head.getLong(0)
    assert(graft.sources.IcebergIO.loadMetadata(dir).currentSnapshotId === Some(ff))
    assert(g.sql("SELECT count(*) AS n FROM call_t").collect().head.getLong(0) === 7L)

    // round-12 fourth-session maintenance procedures
    g.sql("DELETE FROM call_t WHERE id = 10")
    g.sql("DELETE FROM call_t WHERE id = 11")
    def posFiles() = graft.sources.IcebergIO.files(spark, dir)
      .filter("content = 1").count()
    assert(posFiles() === 2L)
    g.sql("CALL system.rewrite_position_deletes('call_t')")
    assert(posFiles() === 1L)
    assert(g.sql("SELECT count(*) AS n FROM call_t").collect().head.getLong(0) === 5L)
    graft.sources.IcebergWrite.deleteEquality(
      spark.range(3, 4).selectExpr("id"), dir)
    g.sql("CALL system.convert_equality_deletes('call_t')")
    assert(graft.sources.IcebergIO.files(spark, dir)
      .filter("content = 2").count() === 0L)
    assert(g.sql("SELECT count(*) AS n FROM call_t").collect().head.getLong(0) === 4L)
    // cherry-pick one audited branch commit onto main
    val b1 = graft.sources.IcebergWrite.append(
      spark.range(20, 21).selectExpr("id", "CAST(id AS DOUBLE) AS v"), dir,
      branch = Some("audit2"))
    g.sql(s"CALL system.cherrypick_snapshot('call_t', $b1)")
    assert(g.sql("SELECT count(*) AS n FROM call_t").collect().head.getLong(0) === 5L)
    // add_files needs a name-resolution table — this one is id-stamped
    val srcDir = java.nio.file.Files.createTempDirectory("graft_call_src").toString
    spark.range(30, 32).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    intercept[IllegalArgumentException](
      g.sql(s"CALL system.add_files('call_t', '$srcDir')"))

    // guards: unknown procedure, bad arg types, unregistered table
    intercept[IllegalArgumentException](g.sql("CALL system.nope('call_t')"))
    intercept[IllegalArgumentException](
      g.sql("CALL system.rewrite_data_files(42)"))
    intercept[IllegalArgumentException](
      g.sql("CALL system.rewrite_data_files('unregistered')"))
  }

  test("CREATE EXTERNAL TABLE ... STORED AS ICEBERG AS SELECT (CTAS)") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_ctas").toString + "/t"
    g.sql("CREATE EXTERNAL TABLE ctas_t STORED AS ICEBERG " +
      s"LOCATION '$dir' AS SELECT id, id * 2 AS dbl FROM range(5)")
    val got = g.sql("SELECT id, dbl FROM ctas_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === (0L until 5L).map(i => (i, i * 2)))
    // it is a REAL Iceberg table (readable outside the view) and a
    // valid DML target
    assert(graft.sources.IcebergIO.read(spark, dir).count() === 5)
    g.sql("DELETE FROM ctas_t WHERE id = 0")
    assert(g.sql("SELECT COUNT(*) AS n FROM ctas_t").collect().head.getLong(0) === 4)
    // CTAS over an existing table location is refused
    intercept[IllegalArgumentException](
      g.sql("CREATE EXTERNAL TABLE ctas_t2 STORED AS ICEBERG " +
        s"LOCATION '$dir' AS SELECT 1 AS x"))
    // added-* summary counts are stamped on write commits
    val summaries = graft.sources.IcebergIO.snapshots(spark, dir)
    assert(summaries.count() >= 2)
  }

  test("CREATE EXTERNAL TABLE ... STORED AS ICEBERG registers the live view") {
    import org.apache.spark.sql.types._
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_ddl_ice").toString + "/t"
    val st = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true)))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
      java.util.List.of(org.apache.spark.sql.Row(1L, "a"),
        org.apache.spark.sql.Row(2L, "b")))
    graft.sources.IcebergWrite.create(spark, dir, st)
    graft.sources.IcebergWrite.append(spark.createDataFrame(rows, st), dir)
    g.sql("DROP VIEW IF EXISTS ddl_ice_t")
    g.sql(s"CREATE EXTERNAL TABLE ddl_ice_t STORED AS ICEBERG LOCATION '$dir'")
    assert(g.sql("SELECT id FROM ddl_ice_t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // the view is LIVE: a commit after registration is visible
    val more = new java.util.ArrayList[org.apache.spark.sql.Row](
      java.util.List.of(org.apache.spark.sql.Row(3L, "c")))
    graft.sources.IcebergWrite.append(spark.createDataFrame(more, st), dir)
    assert(g.sql("SELECT COUNT(*) AS n FROM ddl_ice_t").head.getLong(0) === 3L)
    // duplicate create errors; IF NOT EXISTS is a no-op
    val e = intercept[IllegalArgumentException](
      g.sql(s"CREATE EXTERNAL TABLE ddl_ice_t STORED AS ICEBERG LOCATION '$dir'"))
    assert(e.getMessage.contains("already exists"))
    g.sql(s"CREATE EXTERNAL TABLE IF NOT EXISTS ddl_ice_t STORED AS ICEBERG LOCATION '$dir'")
    // a column list is rejected loudly
    intercept[IllegalArgumentException](
      g.sql(s"CREATE EXTERNAL TABLE ddl_ice_2 (id BIGINT) STORED AS ICEBERG LOCATION '$dir'"))
    g.sql("DROP VIEW IF EXISTS ddl_ice_t")
  }

  test("CREATE / DROP VIEW lifecycle (q15 shape)") {
    val g = GraftSession.wrap(spark)
    g.registerParquet("li_v", s"${TestSpark.sfDir}/lineitem.parquet")
    g.sql("CREATE OR REPLACE TEMPORARY VIEW rev_v AS " +
      "SELECT l_suppkey, COUNT(*) AS n FROM li_v GROUP BY l_suppkey")
    assert(g.sql("SELECT MAX(n) FROM rev_v").collect()(0).getLong(0) > 0)
    g.sql("DROP VIEW rev_v")
    intercept[Exception] { g.sql("SELECT * FROM rev_v").collect() }
  }

  test("SIMILAR TO rewrites to anchored RLIKE with SQL pattern semantics") {
    assert(SimilarTo.rewrite("SELECT x SIMILAR TO 'ab%'") ==
      "SELECT x RLIKE '^ab.*$'")
    assert(SimilarTo.rewrite("WHERE b NOT SIMILAR TO 'a_c'") ==
      "WHERE b NOT RLIKE '^a.c$'")
    assert(SimilarTo.convertPattern("a.b%c_d") == "a\\.b.*c.d")
    // Literal '.' must survive Spark's string-literal unescaping: the
    // regex backslash is doubled in the rewritten SQL text.
    assert(SimilarTo.rewrite("SELECT x SIMILAR TO 'a.b'") ==
      "SELECT x RLIKE '^a\\\\.b$'")
    // ^ and $ are literal characters in SIMILAR TO
    assert(SimilarTo.convertPattern("a^b$c") == "a\\^b\\$c")
    // \x escape in the pattern means literal x (no regex-class leakage)
    assert(SimilarTo.convertPattern("a\\%b") == "a\\%b")
    assert(SimilarTo.convertPattern("a\\db") == "adb")
    // % and _ are literal inside bracket expressions
    assert(SimilarTo.convertPattern("a[%_]b") == "a[%_]b")
    val g = GraftSession.wrap(spark)
    val r = g.sql("SELECT 'Brand#12' SIMILAR TO 'Brand#(1|2)' AS a, " +
      "'Brand#1' SIMILAR TO 'Brand#(1|2)' AS b").collect()(0)
    assert(!r.getBoolean(0) && r.getBoolean(1)) // anchored: Brand#12 no match
    // executed dot semantics: '.' is literal, not a wildcard
    val d = g.sql("SELECT 'a.b' SIMILAR TO 'a.b' AS lit, " +
      "'axb' SIMILAR TO 'a.b' AS wild, 'a_b' SIMILAR TO 'a\\_b' AS esc")
      .collect()(0)
    assert(d.getBoolean(0) && !d.getBoolean(1) && d.getBoolean(2))
  }

  test("SIMILAR TO rejects a trailing unpaired escape; paired escapes pass") {
    // Postgres errors on 'abc\'; match that instead of a downstream
    // PatternSyntaxException (ADVICE r3).
    val e = intercept[IllegalArgumentException] {
      SimilarTo.convertPattern("abc\\")
    }
    assert(e.getMessage.contains("must not end with escape character"))
    intercept[IllegalArgumentException] {
      SimilarTo.convertPattern("a\\\\\\") // \\ pair + dangling \
    }
    assert(SimilarTo.convertPattern("a\\\\") == "a\\\\") // escaped backslash ok
  }

  test("SIMILAR TO rewrite honors escapedStringLiterals") {
    // escapedStringLiterals=true: Spark takes the literal verbatim, so the
    // regex must NOT be backslash-doubled (ADVICE r3).
    assert(SimilarTo.rewrite("SELECT x SIMILAR TO 'a.b'",
      escapedStringLiterals = true) == "SELECT x RLIKE '^a\\.b$'")
    val g = GraftSession.wrap(spark)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try {
      val r = g.sql("SELECT 'a.b' SIMILAR TO 'a.b' AS lit, " +
        "'axb' SIMILAR TO 'a.b' AS wild").collect()(0)
      assert(r.getBoolean(0) && !r.getBoolean(1))
    } finally spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")
  }

  test("column-list scan tolerates parens inside quoted literals") {
    val out = ExternalTableDdl.translate(
      "CREATE EXTERNAL TABLE t (a INT COMMENT 'has ) paren', b STRING) " +
        "STORED AS CSV LOCATION '/tmp/x'").get
    assert(out.contains("'has ) paren'"))
    assert(out.contains("USING csv"))
    assert(out.contains("path '/tmp/x'"))
  }

  test("GraftExtensions injects the full alias surface") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must accept every descriptor
    assert(graft.functions.GraftFunctions.injectables.size >= 20)
    assert(graft.functions.GraftFunctions.injectables
      .map(_._1.funcName).contains("date_bin"))
  }

  test("ballista.* config keys translate to Spark confs") {
    assert(GraftSession.translateConfKey("ballista.shuffle.partitions")
      == "spark.sql.shuffle.partitions")
    assert(GraftSession.translateConfKey("ballista.with_information_schema")
      == GraftSession.InformationSchemaKey)
    assert(GraftSession.translateConfKey("unknown.key") == "unknown.key")
  }

  test("registerCsv / registerJson read back what was written") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    val df = spark.range(5).selectExpr("id", "id * 2 AS d")
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    df.coalesce(1).write.mode("overwrite").json(s"$dir/j")
    g.registerCsv("spec_c", s"$dir/c",
      schema = Some(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, d BIGINT")))
    g.registerJson("spec_j", s"$dir/j")
    assert(g.sql("SELECT SUM(d) FROM spec_c").collect()(0).getLong(0) == 20L)
    assert(g.sql("SELECT SUM(d) FROM spec_j").collect()(0).getLong(0) == 20L)
  }

  test("readCsv default never runs schema inference (all-string schema)") {
    val g = GraftSession.wrap(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_csv_ni").toString
    spark.range(3).selectExpr("id", "id * 2 AS d")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
    // default path: no inference pass → numeric columns stay StringType
    assert(g.readCsv(dir).schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.StringType))
    // opt-in inference still works (small ints infer as IntegerType)
    assert(g.readCsv(dir, inferSchema = true).schema("d").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // declared schema wins over both
    val s = org.apache.spark.sql.types.StructType.fromDDL("id INT, d INT")
    assert(g.readCsv(dir, schema = Some(s)).schema("d").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }
}
