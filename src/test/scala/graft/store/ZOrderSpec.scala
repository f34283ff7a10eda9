package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.selectFiles

class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("interleave puts bit b of column i at position b*n + i") {
    // norms (1, 2) over 2 cols: col0 bit0 -> pos 0, col1 bit1 -> pos 3
    val df = Seq((1L, 2L)).toDF("a", "b")
    val z = df.select(ZOrder.interleave(Seq(col("a"), col("b"))).as("z"))
      .head().getLong(0)
    assert(z === (1L << 0 | 1L << 3))
  }

  test("interleave is a bijection over the full 8-bit grid") {
    val grid = spark.range(65536)
      .select((col("id") % 256).as("x"), (col("id") / 256).as("y"))
    val distinctZ = grid
      .select(ZOrder.interleave(Seq(col("x"), col("y")), bits = 8).as("z"))
      .distinct().count()
    assert(distinctZ === 65536L)
  }

  test("normalize clamps, maps min->0 max->top, nulls to 0") {
    val df = Seq(Some(0d), Some(10d), Some(5d), None).toDF("x")
    val out = df.select(ZOrder.normalize(col("x"), 0d, 10d, bits = 4).as("n"))
      .collect().map(r => r.getLong(0))
    assert(out(0) === 0L)
    assert(out(1) === 15L)
    assert(out(2) === 7L) // floor(0.5 * 15)
    assert(out(3) === 0L)
  }

  test("cluster rewrite preserves data, splits z-contiguous files, " +
    "and makes stats skipping effective on clustered columns") {
    val t = UpsertTable(spark, Files.createTempDirectory("graft-zo").toString)
    // 4096 rows = the full 64x64 (x, y) grid; one bucket so the
    // 256-row file splits land exactly on z-quadrant boundaries
    val rows = (0 until 4096).map(i => (i.toLong, (i % 64).toLong, (i / 64).toLong))
      .toDF("id", "x", "y")
    t.merge(rows, autoCreateKeys = Seq("id"), autoCreateBuckets = 1)
    val before = t.read().orderBy("id").collect()
    val v1 = t.currentSnapshot.get.version

    t.cluster(Seq("x", "y"), maxRowsPerFile = 256L)

    val snap = t.currentSnapshot.get
    assert(snap.version === v1 + 1)
    // 4096 rows / 256 per file -> 16 z-contiguous files
    assert(snap.files.size === 16, s"expected 16 files, got ${snap.files.size}")
    // data unchanged
    assert(t.read().orderBy("id").collect().toSeq === before.toSeq)
    // prior version still readable (time travel undisturbed)
    assert(t.readVersion(v1).count() === 4096)

    // skipping: a point predicate on x must prune most files — each
    // z-contiguous file covers a narrow x range
    // each 256-row file is one 16x16 quadrant, so a point predicate on
    // either column keeps exactly the 4 quadrant-files in its strip
    val all = snap.files.size
    val hit = selectFiles(t, EqualTo("x", 3L)).size
    assert(hit === 4, s"x=3 should scan its 4 quadrant-files of $all, got $hit")
    val hitY = selectFiles(t, EqualTo("y", 60L)).size
    assert(hitY === 4, s"y=60 should scan its 4 quadrant-files of $all, got $hitY")
    // a range predicate covering everything keeps every file
    assert(selectFiles(t, GreaterThan("x", -1L)).size === all)
  }

  test("cluster folds outstanding deltas into clustered base files") {
    val t = UpsertTable(spark, Files.createTempDirectory("graft-zo2").toString)
    val rows = (0 until 512).map(i => (i.toLong, i.toLong % 32)).toDF("id", "x")
    t.merge(rows, autoCreateKeys = Seq("id"), autoCreateBuckets = 2)
    t.merge(Seq((7L, 999L)).toDF("id", "x"), delta = true)
    assert(t.hasDeltas)
    t.cluster(Seq("x"), maxRowsPerFile = 128L)
    assert(!t.hasDeltas, "cluster must fold deltas into base files")
    assert(t.read().where(col("id") === 7L).head().getLong(1) === 999L)
  }

  test("clusterAll sweeps a namespace, skipping tables lacking the columns") {
    val wh = Files.createTempDirectory("graft-zo-ns").toString
    import spark.implicits._
    val a = UpsertTable(spark, s"$wh/ns/t_a")
    a.merge((1L to 100L).map(i => (i, i % 10)).toDF("id", "x"),
      autoCreateKeys = Seq("id"), autoCreateBuckets = 1)
    val b = UpsertTable(spark, s"$wh/ns/t_b") // no "x" column
    b.merge(Seq((1L, "v")).toDF("id", "other"), autoCreateKeys = Seq("id"))
    val res = Maintenance.clusterAll(spark, wh, "ns", Seq("x"),
      maxRowsPerFile = 25L).toMap
    assert(res === Map("t_a" -> true, "t_b" -> false))
    assert(a.currentSnapshot.get.operation === "cluster")
    assert(a.currentSnapshot.get.files.size === 4) // 100 rows / 25
    assert(b.currentSnapshot.get.operation === "merge") // untouched
  }

  test("cluster rejects unknown columns and bad file sizes") {
    val t = UpsertTable(spark, Files.createTempDirectory("graft-zo3").toString)
    t.merge(Seq((1L, 2L)).toDF("id", "x"), autoCreateKeys = Seq("id"))
    intercept[IllegalArgumentException](t.cluster(Seq("nope")))
    intercept[IllegalArgumentException](t.cluster(Seq("x"), maxRowsPerFile = 0))
  }
}
