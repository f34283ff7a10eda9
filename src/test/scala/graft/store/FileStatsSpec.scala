package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.selectPaths

/** Manifest column bounds + planning-time file skipping: the commit
  * path must record per-file min/max/nullCount, and the file planner must
  * drop files a pushed predicate provably cannot match — without ever
  * changing query answers (conservative-only pruning).
  */
class FileStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpTable(): UpsertTable =
    UpsertTable(spark, Files.createTempDirectory("graft-fs").toString)

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("n", IntegerType),
    StructField("s", StringType)))

  test("commit records per-file bounds for supported columns") {
    val t = tmpTable()
    t.merge(Seq((1L, 10, "apple"), (2L, 20, "pear")).toDF("id", "n", "s"),
      autoCreateKeys = Seq("id"))
    val files = t.currentSnapshot.get.files
    assert(files.nonEmpty)
    val all = files.flatMap(_.stats.get("n"))
    assert(all.nonEmpty)
    // global bounds across files must cover exactly the written range
    assert(all.map(_.min.toInt).min === 10)
    assert(all.map(_.max.toInt).max === 20)
    val sBounds = files.flatMap(_.stats.get("s"))
    assert(sBounds.map(_.min).min === "apple")
    assert(sBounds.map(_.max).max === "pear")
    assert(all.forall(_.nullCount === 0L))
  }

  test("null counts and all-null bounds are recorded") {
    val t = tmpTable()
    val rows = Seq[(java.lang.Long, Integer, String)](
      (1L, null, null), (2L, null, null))
    t.merge(rows.toDF("id", "n", "s"), autoCreateKeys = Seq("id"))
    val stats = t.currentSnapshot.get.files.flatMap(_.stats.get("n"))
    assert(stats.nonEmpty)
    assert(stats.forall(cs => cs.min == null && cs.max == null))
    assert(stats.map(_.nullCount).sum === 2L)
  }

  test("mightMatch prunes exactly the provably-impossible cases") {
    val sch = schema
    val st = Map(
      "n" -> ColStats("10", "20", 0L),
      "s" -> ColStats("apple", "pear", 3L))

    def m(f: Filter) = FileStats.mightMatch(st, sch, f)

    assert(m(EqualTo("n", 15)))
    assert(m(EqualTo("n", 10)) && m(EqualTo("n", 20)))
    assert(!m(EqualTo("n", 9)) && !m(EqualTo("n", 21)))
    assert(!m(GreaterThan("n", 20)) && m(GreaterThan("n", 19)))
    assert(m(GreaterThanOrEqual("n", 20)) && !m(GreaterThanOrEqual("n", 21)))
    assert(!m(LessThan("n", 10)) && m(LessThan("n", 11)))
    assert(m(LessThanOrEqual("n", 10)) && !m(LessThanOrEqual("n", 9)))
    assert(m(In("n", Array(1, 15))) && !m(In("n", Array(1, 2))))
    assert(!m(In("n", Array())))
    // nulls: "s" has 3, "n" has none
    assert(m(IsNull("s")) && !m(IsNull("n")))
    assert(m(IsNotNull("n")) && m(IsNotNull("s")))
    assert(!m(EqualTo("n", null)))
    assert(m(EqualNullSafe("s", null)) && !m(EqualNullSafe("n", null)))
    // strings compare in UTF-8 byte order
    assert(m(EqualTo("s", "banana")) && !m(EqualTo("s", "zebra")))
    assert(m(StringStartsWith("s", "pe")) && !m(StringStartsWith("s", "q")))
    assert(m(StringStartsWith("s", "ap"))) // "apple" starts with it
    // And / Or compose conservatively
    assert(!m(And(EqualTo("n", 15), EqualTo("s", "zebra"))))
    assert(m(Or(EqualTo("n", 99), EqualTo("s", "mango"))))
    assert(!m(Or(EqualTo("n", 99), EqualTo("s", "zebra"))))
    // unknown shapes / missing columns never prune
    assert(m(EqualTo("missing", 1)))
    assert(m(Not(EqualTo("n", 15))))
    // all-null column: no value can equality-match, IS NULL can
    val allNull = Map("n" -> ColStats(null, null, 5L))
    assert(!FileStats.mightMatch(allNull, sch, EqualTo("n", 1)))
    assert(FileStats.mightMatch(allNull, sch, IsNull("n")))
    assert(!FileStats.mightMatch(allNull, sch, IsNotNull("n")))
  }

  test("dataFiles skips files outside a pushed range, answers unchanged") {
    val t = tmpTable()
    // force many buckets so ids spread over many single-row-range files
    t.create(schema, Seq("id"), numBuckets = 8)
    val df = (1L to 800L).map(i => (i, (i / 8).toInt, s"doc$i"))
      .toDF("id", "n", "s")
    t.merge(df)
    val total = selectPaths(t).size
    assert(total === 8)
    // n ranges overlap across buckets (hash spread), so a tight range
    // cannot be proven on every file — but an out-of-domain predicate
    // must drop ALL files, and a broad one must keep them
    assert(selectPaths(t, GreaterThan("n", 1000)).isEmpty)
    assert(selectPaths(t, LessThan("n", -1)).isEmpty)
    assert(selectPaths(t, IsNotNull("n")).size === total)

    // per-bucket disjoint ranges: overwrite with id == n so each
    // bucket's file still spans a wide range; instead check the SQL
    // answer equivalence under pruning directly through read paths
    val wanted = df.where(col("n") > 95).count()
    val paths = selectPaths(t, GreaterThan("n", 95))
    val viaPruned = spark.read.schema(t.schema)
      .parquet(paths: _*).where(col("n") > 95).count()
    assert(viaPruned === wanted)
  }

  test("a selective predicate prunes most files when ranges are disjoint") {
    val t = tmpTable()
    t.create(schema, Seq("id"), numBuckets = 4)
    // 6 delta commits with disjoint n-ranges — merge-on-read files
    // accumulate per bucket, each carrying a narrow n-range (the
    // time-correlated ingest shape manifest skipping exists for)
    (0 until 6).foreach { i =>
      val lo = i * 100
      val rows = (0 until 50).map(j => (i * 1000L + j, lo + j, s"b$i"))
      t.merge(rows.toDF("id", "n", "s"), delta = true)
    }
    t.compact() // collapse to base per bucket: ranges mix again
    // after compaction every file spans everything -> no skip possible
    assert(selectPaths(t, GreaterThanOrEqual("n", 500)).size
      === selectPaths(t).size)

    // fresh table, keep the deltas
    val t2 = tmpTable()
    t2.create(schema, Seq("id"), numBuckets = 4)
    (0 until 6).foreach { i =>
      val lo = i * 100
      val rows = (0 until 50).map(j => (i * 1000L + j, lo + j, s"b$i"))
      t2.merge(rows.toDF("id", "n", "s"), delta = true)
    }
    val total = selectPaths(t2).size
    val hit = selectPaths(t2,
      And(GreaterThanOrEqual("n", 500), LessThan("n", 550)))
    assert(hit.size < total,
      s"expected pruning: $total files total, ${hit.size} after skip")
    // only the last delta commit's files can contain n >= 500
    assert(hit.size <= 4)
    // skipped files provably held no matching row
    val all = spark.read.schema(t2.schema).parquet(selectPaths(t2): _*)
      .where(col("n") >= 500 && col("n") < 550).count()
    val pruned = spark.read.schema(t2.schema).parquet(hit: _*)
      .where(col("n") >= 500 && col("n") < 550).count()
    assert(pruned === all && all === 50L)
  }

  test("SQL over the catalog answers identically with skipping in play") {
    val wh = Files.createTempDirectory("graft-fs-wh")
    spark.conf.set("spark.sql.catalog.graft_fss",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_fss.warehouse", wh.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_fss.m")
    spark.sql("CREATE TABLE graft_fss.m.t (id BIGINT, n INT, s STRING) " +
      "TBLPROPERTIES('keys'='id','buckets'='4')")
    val t = UpsertTable(spark, wh.resolve("m").resolve("t").toString)
    (0 until 4).foreach { i =>
      val rows = (0 until 25).map(j => (i * 100L + j, i * 100 + j, s"g$i"))
      t.merge(rows.toDF("id", "n", "s"), delta = true)
    }
    // merge-on-read overlay answers through SQL
    val got = spark.sql(
      "SELECT count(*) AS c FROM graft_fss.m.t WHERE n >= 300").collect()
    assert(got.head.getLong(0) === 25L)
    // stats-based skip at the file-listing layer sees the delta files
    assert(selectPaths(t, GreaterThanOrEqual("n", 300)).size <
      selectPaths(t).size)
    // compaction restores the pure-scan fast path, same SQL answer
    t.compact()
    assert(!t.hasDeltas)
    val got2 = spark.sql(
      "SELECT count(*) AS c FROM graft_fss.m.t WHERE n >= 300").collect()
    assert(got2.head.getLong(0) === 25L)
  }
}
