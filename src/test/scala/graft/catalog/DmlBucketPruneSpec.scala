package graft.catalog

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.store.UpsertTable

/** Pins the q85/q89 efficiency claim in effect, not prose: SQL MERGE /
  * UPDATE / DELETE rewrite ONLY the buckets containing batch keys —
  * every other bucket's data files survive the commit at the SAME
  * path with IDENTICAL bytes. At 100 TB this is the difference
  * between a bounded bucket-local rewrite and rewriting the table.
  */
class DmlBucketPruneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft-dmlprune").toString
    spark.conf.set("spark.sql.catalog.graft_dp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_dp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_dp.dml")
    wh
  }

  private def md5(path: String): String = {
    val md = MessageDigest.getInstance("MD5")
    md.digest(Files.readAllBytes(Paths.get(path))).map("%02x".format(_)).mkString
  }

  /** (path -> md5) inventory of a table's current data files. */
  private def inventory(tbl: String): Map[String, String] = {
    val t = UpsertTable(spark, s"$warehouse/dml/$tbl")
    t.currentSnapshot.get.files.map(f => s"${t.location}/${f.path}")
      .map(p => p -> md5(p)).toMap
  }

  private def bucketOf(path: String): Int =
    "__bucket=(\\d+)".r.findFirstMatchIn(path).get.group(1).toInt

  /** Seed a keyed table with keys 0..199 (spanning every bucket),
    * run `stmt`, and assert only the expected buckets were rewritten.
    */
  private def assertBucketLocal(tbl: String, stmt: String,
      expectRows: Long): Unit = {
    spark.sql(s"CREATE TABLE graft_dp.dml.$tbl " +
      "(k BIGINT, v DOUBLE, tag STRING) TBLPROPERTIES('keys'='k')")
    (0L until 200L).map(k => (k, k * 0.5, s"t${k % 7}"))
      .toDF("k", "v", "tag").createOrReplaceTempView(s"${tbl}_seed")
    spark.sql(s"INSERT INTO graft_dp.dml.$tbl SELECT * FROM ${tbl}_seed")
    val before = inventory(tbl)
    val bucketsBefore = before.keys.map(bucketOf).toSet
    assert(bucketsBefore.size > 1, "seed must span multiple buckets")

    spark.sql(stmt)

    val after = inventory(tbl)
    val survivors = after.keySet.intersect(before.keySet)
    val rewrittenBuckets = (after.keySet -- survivors).map(bucketOf)
    // the statement touches few keys -> few buckets; everything else
    // must survive as the SAME file
    assert(rewrittenBuckets.size < bucketsBefore.size,
      s"DML rewrote every bucket: $rewrittenBuckets")
    val untouchedBuckets = bucketsBefore -- rewrittenBuckets
    assert(untouchedBuckets.nonEmpty)
    for (p <- survivors) {
      assert(before(p) === after(p),
        s"surviving file changed bytes: $p")
    }
    // every untouched bucket's old files all survived verbatim
    for (p <- before.keys if untouchedBuckets.contains(bucketOf(p)))
      assert(after.contains(p), s"untouched bucket lost file $p")
    assert(spark.sql(s"SELECT COUNT(*) FROM graft_dp.dml.$tbl")
      .head().getLong(0) === expectRows)
  }

  test("MERGE INTO rewrites only buckets containing batch keys") {
    warehouse
    // batch touches 3 keys: an update, a delete, an insert
    Seq((5L, 99.0, "up", "u"), (6L, 0.0, "del", "d"), (500L, 1.0, "new", "u"))
      .toDF("k", "v", "tag", "op").createOrReplaceTempView("mp_changes")
    assertBucketLocal("t_merge",
      """MERGE INTO graft_dp.dml.t_merge t USING mp_changes s
        ON t.k = s.k
        WHEN MATCHED AND s.op = 'd' THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND NOT (s.op = 'd') THEN INSERT *""",
      expectRows = 200L) // +1 insert, -1 delete
  }

  test("UPDATE rewrites only buckets containing matched keys") {
    warehouse
    assertBucketLocal("t_update",
      "UPDATE graft_dp.dml.t_update SET v = v + 1000 WHERE k IN (3, 4)",
      expectRows = 200L)
  }

  test("DELETE rewrites only buckets containing matched keys") {
    warehouse
    assertBucketLocal("t_delete",
      "DELETE FROM graft_dp.dml.t_delete WHERE k = 7",
      expectRows = 199L)
  }
}
