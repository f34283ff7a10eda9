package graft.store

import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Merge-on-read semantics: delta commits are O(batch) appends whose
  * overlay read must agree exactly with what merge-on-write would have
  * materialized — across upserts, deletes, mixed-mode merges, schema
  * evolution, exactly-once replay, and the SQL surface.
  */
class DeltaMergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def tmp(prefix: String): UpsertTable =
    UpsertTable(spark, Files.createTempDirectory(prefix).toString)

  test("delta commits never rewrite existing files") {
    val t = tmp("graft-dm")
    t.create(schema, Seq("id"), numBuckets = 2)
    t.merge((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    val baseFiles = t.currentSnapshot.get.files
    t.merge(Seq((1L, "v1b"), (21L, "v21")).toDF("id", "v"), delta = true)
    val snap = t.currentSnapshot.get
    // base entries carried over verbatim; only delta entries added
    assert(baseFiles.forall(snap.files.contains))
    val deltas = snap.files.filter(FileEntry.isDelta)
    assert(deltas.nonEmpty && deltas.forall(_.seq === snap.version))
  }

  test("overlay agrees with merge-on-write across upserts and deletes") {
    val a = tmp("graft-dm-a") // merge-on-read
    val b = tmp("graft-dm-b") // merge-on-write reference
    Seq(a, b).foreach(_.create(schema, Seq("id"), numBuckets = 4))
    val batches = Seq(
      (1L to 30L).map(i => (i, s"v$i", "u")),
      Seq((5L, "x", "d"), (31L, "v31", "u"), (6L, "v6b", "u")),
      Seq((31L, "x", "d"), (5L, "back", "u")),
      Seq((1L, "v1c", "u"), (2L, "x", "d")))
    batches.foreach { rows =>
      val df = rows.toDF("id", "v", "op")
      a.merge(df, opCol = Some("op"), delta = true)
      b.merge(df, opCol = Some("op"))
    }
    assert(a.hasDeltas)
    val got = a.read().orderBy("id").collect().toSeq
    val want = b.read().orderBy("id").collect().toSeq
    assert(got === want)
    // delete of a key that only ever existed in deltas (31) is hidden
    assert(!got.exists(_.getLong(0) == 31L))
    // delete-then-reinsert (5) serves the reinserted value
    assert(got.find(_.getLong(0) == 5L).get.getString(1) === "back")
  }

  test("a merge-on-write commit absorbs pending deltas in its buckets") {
    val t = tmp("graft-dm-mix")
    t.create(schema, Seq("id"), numBuckets = 1) // all keys share the bucket
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.merge(Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), delta = true)
    t.merge(Seq((2L, "x", "d")).toDF("id", "v", "op"), opCol = Some("op"))
    // the write-mode merge rewrote the bucket: no deltas remain
    assert(!t.hasDeltas)
    val got = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a2"), (3L, "c")))
  }

  test("exactly-once replay guard applies to delta commits") {
    val t = tmp("graft-dm-eo")
    t.create(schema, Seq("id"), numBuckets = 2)
    t.merge(Seq((1L, "a")).toDF("id", "v"), delta = true,
      streamId = Some("s"), batchId = Some(7L))
    val v = t.currentSnapshot.get.version
    t.merge(Seq((1L, "REPLAYED")).toDF("id", "v"), delta = true,
      streamId = Some("s"), batchId = Some(7L))
    assert(t.currentSnapshot.get.version === v, "replay must be a no-op")
    assert(t.read().collect().head.getString(1) === "a")
  }

  test("additive schema evolution works through delta commits") {
    val t = tmp("graft-dm-ev")
    t.create(schema, Seq("id"), numBuckets = 2)
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.merge(Seq((2L, "b2", 9)).toDF("id", "v", "n"), delta = true)
    val got = t.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(got === Seq((1L, "a", -1), (2L, "b2", 9)))
    // overlay + compaction preserve the evolved schema
    t.compact()
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "n"))
    assert(t.read().where("n = 9").count() === 1L)
  }

  test("SQL reads, DML, and time travel see through the overlay") {
    val wh = Files.createTempDirectory("graft-dm-wh")
    spark.conf.set("spark.sql.catalog.graft_dm",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dm.warehouse", wh.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_dm.ns")
    spark.sql("CREATE TABLE graft_dm.ns.t (id BIGINT, v STRING) " +
      "TBLPROPERTIES('keys'='id','buckets'='2')")
    val t = UpsertTable(spark, wh.resolve("ns").resolve("t").toString)
    t.merge(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val baseVersion = t.currentSnapshot.get.version
    t.merge(Seq((2L, "b2")).toDF("id", "v"), delta = true)
    t.merge(Seq((3L, "x", "d")).toDF("id", "v", "op"), opCol = Some("op"),
      delta = true)
    assert(t.hasDeltas)

    // plain SELECT sees the overlay
    val rows = spark.sql("SELECT id, v FROM graft_dm.ns.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "b2")))

    // aggregation and filters over the overlay
    assert(spark.sql("SELECT count(*) AS c FROM graft_dm.ns.t WHERE v LIKE 'b%'")
      .collect().head.getLong(0) === 1L)

    // VERSION AS OF the pre-delta snapshot still takes the fast path
    val old = spark.sql(
      s"SELECT id FROM graft_dm.ns.t VERSION AS OF $baseVersion ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(old === Seq(1L, 2L, 3L))

    // UPDATE on a delta-bearing table: batch scan goes through the
    // overlay (must see v='b2', not the stale base row)
    spark.sql("UPDATE graft_dm.ns.t SET v = concat(v, '!') WHERE id = 2")
    assert(spark.sql("SELECT v FROM graft_dm.ns.t WHERE id = 2")
      .collect().head.getString(0) === "b2!")

    // DELETE keys matched against the overlay, not raw files
    spark.sql("DELETE FROM graft_dm.ns.t WHERE v = 'a'")
    assert(spark.sql("SELECT id FROM graft_dm.ns.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("a rewriting schema evolution keeps the overlaid state of a " +
      "delta-bearing table") {
    val t = tmp("graft-dm-evolve")
    t.create(StructType(Seq(StructField("id", LongType),
      StructField("n", LongType))), Seq("id"), numBuckets = 2)
    t.merge((1L to 6L).map(i => (i, i)).toDF("id", "n"))
    t.merge(Seq((2L, 20L, "u"), (3L, 0L, "d")).toDF("id", "n", "op"),
      opCol = Some("op"), delta = true)
    // long -> double is not served by cast-on-read: the data is rewritten
    t.evolveSchema(StructType(Seq(StructField("id", LongType),
      StructField("n", DoubleType))))
    val got = t.read().orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(got === Seq(1L -> 1.0, 2L -> 20.0, 4L -> 4.0, 5L -> 5.0, 6L -> 6.0))
  }
}
