package graft.catalog

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.store.UpsertTable

/** SQL surface over the store (S7/Q-d/Q-f): the reference's Trino-role
  * queries (README.md:176-178 `SELECT … ORDER BY ts DESC LIMIT 10`,
  * snapshot_mgmt.py:13 catalog introspection) resolved by name through
  * the GraftCatalog.
  */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val warehouse = {
    val wh = Files.createTempDirectory("graft-cat-wh").toString
    spark.conf.set("spark.sql.catalog.graft_t", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_t.warehouse", wh)
    wh
  }

  test("DDL + store merge + 3-part-name query (the README.md:177 shape)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE graft_t.cdc.account_json " +
      "(user_id INT, email STRING, ts TIMESTAMP) " +
      "TBLPROPERTIES('keys'='user_id')")

    val t = UpsertTable(spark, s"$warehouse/cdc/account_json")
    assert(t.exists && t.keyCols === Seq("user_id"))

    val now = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    t.merge(Seq((1, "alice@example.com", now), (2, "bob@example.com", now))
      .toDF("user_id", "email", "ts"))

    val rows = spark.sql(
      "SELECT * FROM graft_t.cdc.account_json ORDER BY ts DESC LIMIT 10")
      .collect()
    assert(rows.length === 2)
    assert(rows.map(_.getString(1)).toSet ===
      Set("alice@example.com", "bob@example.com"))

    // updates through the store are visible to SQL immediately
    t.merge(Seq((1, "alice+2@example.com", now)).toDF("user_id", "email", "ts"))
    val updated = spark.sql(
      "SELECT email FROM graft_t.cdc.account_json WHERE user_id = 1").collect()
    assert(updated.map(_.getString(0)).toSeq === Seq("alice+2@example.com"))
  }

  test("catalog introspection: SHOW NAMESPACES / SHOW TABLES (Q-d)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_intro (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    val namespaces = spark.sql("SHOW NAMESPACES IN graft_t")
      .collect().map(_.getString(0))
    assert(namespaces.contains("cdc"))
    // the snapshot_mgmt.py:13 filtered-introspection shape
    val tables = spark.sql("SHOW TABLES IN graft_t.cdc")
      .where("tableName LIKE 't_%'").collect().map(_.getString(1))
    assert(tables.contains("t_intro"))
  }

  test("aggregates and zero-column scans work through the DSv2 scan") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_agg (k INT, v DOUBLE) " +
      "TBLPROPERTIES('keys'='k')")
    UpsertTable(spark, s"$warehouse/cdc/t_agg")
      .merge((1 to 20).map(i => (i, i * 1.5)).toDF("k", "v"))
    val n = spark.sql("SELECT COUNT(*) FROM graft_t.cdc.t_agg").head().getLong(0)
    assert(n === 20L)
    val s = spark.sql("SELECT SUM(v) FROM graft_t.cdc.t_agg").head().getDouble(0)
    assert(math.abs(s - (1 to 20).map(_ * 1.5).sum) < 1e-9)
  }

  test("INSERT INTO merges by key (upsert semantics, Q-f DML)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_ins (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    spark.sql("INSERT INTO graft_t.cdc.t_ins VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft_t.cdc.t_ins VALUES (2, 'b2'), (3, 'c')")
    val got = spark.sql("SELECT k, v FROM graft_t.cdc.t_ins ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got === Seq((1, "a"), (2, "b2"), (3, "c")))
  }

  test("key-equality SQL lookups prune to one bucket") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_prune (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k', 'buckets'='64')")
    val t = UpsertTable(spark, s"$warehouse/cdc/t_prune")
    t.merge((1 to 500).map(i => (i, s"v$i")).toDF("k", "v"))
    // API level: the pruned file set is a strict subset (one bucket)
    val all = t.currentSnapshot.get.files
    val pruned = t.bucketFor(Map("k" -> 42)).get
    assert(all.count(_.bucket == pruned) < all.size)
    assert(t.read().where($"k" === 42).count() === 1)
    // SQL level: point lookup is correct and matches the full scan
    val lookup = spark.sql("SELECT v FROM graft_t.cdc.t_prune WHERE k = 42")
    assert(lookup.head().getString(0) === "v42")
    // plan level: the key predicate reaches the vectorized parquet scan
    val phys = lookup.queryExecution.executedPlan.toString
    assert(phys.contains("BatchScan") && phys.contains("EqualTo(k,42)"),
      s"point lookup lost scan pushdown:\n$phys")
    // non-key or partial predicates still answer from the full table
    assert(spark.sql("SELECT COUNT(*) FROM graft_t.cdc.t_prune WHERE v LIKE 'v4%'")
      .head().getLong(0) === 111) // 4, 40-49, 400-499
  }

  test("VERSION AS OF time travel reads an older snapshot") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_tt (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    val t = UpsertTable(spark, s"$warehouse/cdc/t_tt")
    t.merge(Seq((1, "old")).toDF("k", "v"))
    val v1 = t.currentSnapshot.get.version
    t.merge(Seq((1, "new")).toDF("k", "v"))
    val now = spark.sql("SELECT v FROM graft_t.cdc.t_tt").head().getString(0)
    val past = spark.sql(s"SELECT v FROM graft_t.cdc.t_tt VERSION AS OF $v1")
      .head().getString(0)
    assert(now === "new" && past === "old")
  }

  test("TIMESTAMP AS OF time travel resolves by commit time") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_ts (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    val t = UpsertTable(spark, s"$warehouse/cdc/t_ts")
    t.merge(Seq((1, "old")).toDF("k", "v"))
    Thread.sleep(30)
    val between = java.time.Instant.now() // strictly after v1, before v2
    Thread.sleep(30)
    t.merge(Seq((1, "new")).toDF("k", "v"))
    val lit = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC).format(between)
    val past = spark.sql(
      s"SELECT v FROM graft_t.cdc.t_ts TIMESTAMP AS OF '$lit'")
      .head().getString(0)
    val now = spark.sql("SELECT v FROM graft_t.cdc.t_ts").head().getString(0)
    assert(past === "old" && now === "new")
    // before any commit: no snapshot resolves
    val err = intercept[Exception] {
      spark.sql("SELECT v FROM graft_t.cdc.t_ts " +
        "TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
    assert(err.getMessage.contains("no snapshot"))
  }

  test("ALTER TABLE ADD COLUMNS + widen TYPE evolve without rewrite") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_evo (k INT, c INT) " +
      "TBLPROPERTIES('keys'='k')")
    val t = UpsertTable(spark, s"$warehouse/cdc/t_evo")
    t.merge(Seq((1, 10), (2, 20)).toDF("k", "c"))
    val filesBefore = t.currentSnapshot.get.files

    spark.sql("ALTER TABLE graft_t.cdc.t_evo ADD COLUMNS (note STRING)")
    spark.sql("ALTER TABLE graft_t.cdc.t_evo ALTER COLUMN c TYPE BIGINT")

    // manifest-only evolution: same data files, evolved schema
    val t2 = UpsertTable(spark, s"$warehouse/cdc/t_evo")
    assert(t2.currentSnapshot.get.files === filesBefore)
    assert(t2.schema("c").dataType.sql === "BIGINT")
    assert(t2.schema.fieldNames.contains("note"))

    // old int files are served as bigint, absent column as null
    val rows = spark.sql(
      "SELECT k, c, note FROM graft_t.cdc.t_evo ORDER BY k").collect()
    assert(rows.map(_.getLong(1)).toSeq === Seq(10L, 20L))
    assert(rows.forall(_.isNullAt(2)))

    // a merge still carrying the OLD narrow schema keeps working
    t2.merge(Seq((3, 30)).toDF("k", "c"))
    assert(spark.sql("SELECT sum(c) FROM graft_t.cdc.t_evo").head().getLong(0) === 60L)

    // narrowing is rejected, not silently ignored (Spark's analyzer
    // catches bigint->int; the catalog's own guard covers direct API
    // calls and non-widening changes the analyzer lets through)
    val err = intercept[Exception] {
      spark.sql("ALTER TABLE graft_t.cdc.t_evo ALTER COLUMN c TYPE INT")
    }
    assert(err.getMessage.contains("does not widen") ||
      err.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
  }

  test("INSERT OVERWRITE is a truncate-commit preserving time travel") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_ow (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    spark.sql("INSERT INTO graft_t.cdc.t_ow VALUES (1, 'a'), (2, 'b')")
    val vBefore = UpsertTable(spark, s"$warehouse/cdc/t_ow")
      .currentSnapshot.get.version
    spark.sql("INSERT OVERWRITE graft_t.cdc.t_ow VALUES (9, 'z')")
    val got = spark.sql("SELECT k, v FROM graft_t.cdc.t_ow")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got === Seq((9, "z")))
    // the pre-overwrite snapshot is still readable
    val old = spark.sql(
      s"SELECT k FROM graft_t.cdc.t_ow VERSION AS OF $vBefore ORDER BY k")
      .collect().map(_.getInt(0)).toSeq
    assert(old === Seq(1, 2))
  }

  test("metadata tables: <table>.snapshots and <table>.files (Q-d)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_meta (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    val t = UpsertTable(spark, s"$warehouse/cdc/t_meta")
    t.merge(Seq((1, "a")).toDF("k", "v"))
    t.merge(Seq((2, "b")).toDF("k", "v"))
    val snaps = spark.sql("SELECT version, num_files, key_cols, operation " +
      "FROM graft_t.cdc.t_meta.snapshots ORDER BY version").collect()
    // create (0 files) + two merges
    assert(snaps.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(snaps.map(_.getString(3)).toSeq === Seq("create", "merge", "merge"))
    assert(snaps.head.getInt(1) === 0 && snaps.last.getInt(1) > 0)
    assert(snaps.forall(_.getString(2) === "k"))
    assert(spark.sql("SELECT committed_at FROM graft_t.cdc.t_meta.snapshots")
      .collect().forall(!_.isNullAt(0)))
    val files = spark.sql("SELECT path, bucket, size_bytes " +
      "FROM graft_t.cdc.t_meta.files").collect()
    assert(files.nonEmpty)
    assert(files.forall(r => r.getString(0).endsWith(".parquet")
      && r.getLong(2) > 0))
  }

  test("MERGE INTO: pure upsert shape routes to the store merge") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_mrg (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    spark.sql("INSERT INTO graft_t.cdc.t_mrg VALUES (1, 'a'), (2, 'b')")
    Seq((2, "b2"), (3, "c")).toDF("k", "v").createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO graft_t.cdc.t_mrg t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT k, v FROM graft_t.cdc.t_mrg ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got === Seq((1, "a"), (2, "b2"), (3, "c")))
  }

  test("MERGE INTO: CDC shape with mirrored delete guard") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_mrgd (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    spark.sql("INSERT INTO graft_t.cdc.t_mrgd VALUES (1, 'a'), (2, 'b')")
    Seq((1, "x", "d"), (2, "b2", "u"), (3, "c", "u"), (4, "y", "d"))
      .toDF("k", "v", "op").createOrReplaceTempView("mrgd_src")
    spark.sql(
      """MERGE INTO graft_t.cdc.t_mrgd t USING mrgd_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v, k = s.k
        |WHEN NOT MATCHED AND NOT (s.op = 'd') THEN INSERT (k, v) VALUES (s.k, s.v)
        |""".stripMargin)
    val got = spark.sql("SELECT k, v FROM graft_t.cdc.t_mrgd ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    // 1 deleted, 2 updated, 3 inserted, 4 delete-of-absent = no-op
    assert(got === Seq((2, "b2"), (3, "c")))
  }

  test("MERGE INTO: unsupported shapes fail loudly, never silently") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_mrgx (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    Seq((1, "a", "d")).toDF("k", "v", "op").createOrReplaceTempView("mrgx_src")
    // partial UPDATE patches columns — not whole-row upsert
    val e1 = intercept[Exception] { spark.sql(
      """MERGE INTO graft_t.cdc.t_mrgx t USING mrgx_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    assert(e1.getMessage.contains("every column"))
    // conditional delete without the mirrored insert guard
    val e2 = intercept[Exception] { spark.sql(
      """MERGE INTO graft_t.cdc.t_mrgx t USING mrgx_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'd' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    assert(e2.getMessage.contains("negated delete guard"))
    // ON not covering the key
    val e3 = intercept[Exception] { spark.sql(
      """MERGE INTO graft_t.cdc.t_mrgx t USING mrgx_src s ON t.v = s.v
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) }
    assert(e3.getMessage.contains("key columns"))
  }

  test("DELETE FROM and UPDATE route to bucket-local store merges") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_dml (k INT, v STRING, n INT) " +
      "TBLPROPERTIES('keys'='k')")
    spark.sql("INSERT INTO graft_t.cdc.t_dml VALUES " +
      "(1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    spark.sql("DELETE FROM graft_t.cdc.t_dml WHERE n >= 30")
    assert(spark.sql("SELECT k FROM graft_t.cdc.t_dml ORDER BY k")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 2))
    // expression UPDATE referencing current values, partial columns OK
    spark.sql("UPDATE graft_t.cdc.t_dml SET v = concat(v, '!'), n = n + 1 WHERE k = 2")
    val got = spark.sql("SELECT k, v, n FROM graft_t.cdc.t_dml ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got === Seq((1, "a", 10), (2, "b!", 21)))
    // key columns are not assignable
    val e = intercept[Exception] {
      spark.sql("UPDATE graft_t.cdc.t_dml SET k = 9 WHERE k = 1")
    }
    assert(e.getMessage.contains("key column"))
  }

  test("a NULL key is one key for INSERT, UPDATE, DELETE and MERGE") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.cdc")
    spark.sql("CREATE TABLE IF NOT EXISTS graft_t.cdc.t_nullk (k INT, v STRING) " +
      "TBLPROPERTIES('keys'='k')")
    def rows(): Seq[(Option[Int], String)] =
      spark.sql("SELECT k, v FROM graft_t.cdc.t_nullk ORDER BY k NULLS FIRST")
        .collect().map(r => (Option(r.getAs[Integer](0)).map(_.toInt), r.getString(1)))
        .toSeq
    spark.sql("INSERT INTO graft_t.cdc.t_nullk VALUES (NULL, 'a'), (1, 'x')")
    spark.sql("INSERT INTO graft_t.cdc.t_nullk VALUES (NULL, 'b')")
    assert(rows() === Seq((None, "b"), (Some(1), "x")))
    spark.sql("UPDATE graft_t.cdc.t_nullk SET v = 'z' WHERE k IS NULL")
    assert(rows() === Seq((None, "z"), (Some(1), "x")))
    spark.sql("DELETE FROM graft_t.cdc.t_nullk WHERE k IS NULL")
    assert(rows() === Seq((Some(1), "x")))

    // full-sync MERGE with a NULL key on both sides: the NULL-keyed
    // target row is the source's, so it is replaced, not deleted
    spark.sql("INSERT INTO graft_t.cdc.t_nullk VALUES (NULL, 'n'), (2, 'y')")
    Seq((None, "m"), (Some(3), "w")).toDF("k", "v")
      .createOrReplaceTempView("nullk_src")
    spark.sql(
      """MERGE INTO graft_t.cdc.t_nullk t USING nullk_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(rows() === Seq((None, "m"), (Some(3), "w")))
  }

  test("DROP TABLE and missing-table errors") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.tmp")
    spark.sql("CREATE TABLE graft_t.tmp.gone (k INT) TBLPROPERTIES('keys'='k')")
    spark.sql("DROP TABLE graft_t.tmp.gone")
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_t.tmp.gone").collect()
    }
    assert(err.getMessage.toLowerCase.contains("table"))
  }

  test("ALTER TABLE RENAME moves the store directory") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.tmp")
    spark.sql("CREATE TABLE graft_t.tmp.before_rename (k INT) " +
      "TBLPROPERTIES('keys'='k')")
    UpsertTable(spark, s"$warehouse/tmp/before_rename")
      .merge(Seq((1)).toDF("k"))
    spark.sql("ALTER TABLE graft_t.tmp.before_rename RENAME TO tmp.after_rename")
    assert(spark.sql("SELECT k FROM graft_t.tmp.after_rename").head().getInt(0) === 1)
    val gone = intercept[Exception] {
      spark.sql("SELECT * FROM graft_t.tmp.before_rename").collect()
    }
    assert(gone.getMessage.toLowerCase.contains("table"))
  }

  test("DROP NAMESPACE refuses non-empty without CASCADE, obeys with") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.nsdrop")
    spark.sql("CREATE TABLE graft_t.nsdrop.t (k INT) TBLPROPERTIES('keys'='k')")
    intercept[Exception] { spark.sql("DROP NAMESPACE graft_t.nsdrop") }
    assert(spark.sql("SHOW TABLES IN graft_t.nsdrop").count() === 1)
    spark.sql("DROP NAMESPACE graft_t.nsdrop CASCADE")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(warehouse, "nsdrop")))
  }

  test("CREATE TABLE without keys property is rejected") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.tmp")
    val err = intercept[Exception] {
      spark.sql("CREATE TABLE graft_t.tmp.nokeys (k INT)")
    }
    assert(err.getMessage.contains("keys"))
  }

  test("a query reads the snapshot resolved at load, not a commit landing before it runs") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_t.pin")
    // (table, AS OF clause?, commit kind): each query is analyzed on a
    // delta-free 10-row table, then 5 new keys commit, then it runs
    Seq(("delta", false, true), ("rewrite", false, false),
        ("asof", true, true)).foreach { case (name, asOf, delta) =>
      spark.sql(s"CREATE TABLE graft_t.pin.$name (k INT, v STRING) " +
        "TBLPROPERTIES('keys'='k')")
      val t = UpsertTable(spark, s"$warehouse/pin/$name")
      t.merge((1 to 10).map(i => (i, "a")).toDF("k", "v"))
      val clause =
        if (asOf) s" VERSION AS OF ${t.currentSnapshot.get.version}" else ""
      val q = spark.sql(s"SELECT count(*) FROM graft_t.pin.$name$clause")
      t.merge((11 to 15).map(i => (i, "b")).toDF("k", "v"), delta = delta)
      assert(q.collect().head.getLong(0) === 10L,
        s"$name: the query saw a commit made after its table was loaded")
      assert(spark.sql(s"SELECT count(*) FROM graft_t.pin.$name")
        .collect().head.getLong(0) === 15L, s"$name: the commit is not visible")
    }
  }

  test("namespace and table identifiers cannot leave the warehouse") {
    val base = Files.createTempDirectory("graft-escape")
    val wh = Files.createDirectories(base.resolve("a").resolve("wh"))
    spark.conf.set("spark.sql.catalog.graft_esc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_esc.warehouse", wh.toString)
    // `..` names the warehouse's parent; the absolute segment a sibling
    val abs = Files.createDirectories(base.resolve("abs"))
    val keep = Seq(abs.resolve("keep"), base.resolve("a").resolve("keep"))
    keep.foreach(Files.writeString(_, "x"))
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .mkString(" / ")
    Seq(s"`$abs`", "`..`").foreach { seg =>
      Seq(s"SELECT * FROM graft_esc.$seg.t",
          s"SELECT * FROM graft_esc.ns.$seg",
          s"SHOW TABLES IN graft_esc.$seg",
          s"CREATE TABLE graft_esc.$seg.t (k INT) TBLPROPERTIES('keys'='k')",
          s"DROP NAMESPACE graft_esc.$seg CASCADE").foreach { sql =>
        val e = intercept[Exception](spark.sql(sql).collect())
        assert(messages(e).contains("outside the safe name set"),
          s"$sql: ${messages(e)}")
      }
    }
    keep.foreach(p => assert(Files.exists(p), s"$p was deleted"))
    assert(!Files.exists(abs.resolve("t")), "CREATE TABLE wrote outside")
  }
}
