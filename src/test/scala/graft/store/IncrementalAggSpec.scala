package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** refreshCountSum must equal a from-scratch recompute after any mix of
  * inserts, updates, and deletes applied across multiple refreshes. */
class IncrementalAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tables() = {
    val base = Files.createTempDirectory("graft-ia")
    val src = UpsertTable(spark, s"$base/src")
    val tgt = UpsertTable(spark, s"$base/tgt")
    tgt.create(StructType(Seq(
      StructField("g", StringType),
      StructField("n", LongType),
      StructField("sv", DoubleType))), keys = Seq("g"))
    (src, tgt)
  }

  private def check(src: UpsertTable, tgt: UpsertTable): Unit = {
    val want = IncrementalAgg.fullCountSum(src.read(), "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val got = tgt.read()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
  }

  test("multi-refresh with inserts, updates, deletes matches recompute") {
    val (src, tgt) = tables()
    // refresh 1: plain inserts across two groups
    src.merge(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
      .toDF("id", "g", "v"), autoCreateKeys = Seq("id"), delta = true)
    val v1 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1 - 1, v1, "id", "g", "v")
    check(src, tgt)
    // refresh 2: update (1 moves group a->b AND changes value), insert,
    // delete, plus a delete of a key that never existed
    src.merge(Seq((1L, "b", 100L, "u"), (4L, "a", 7L, "u"),
      (2L, "a", 20L, "d"), (99L, "zz", 1L, "d"))
      .toDF("id", "g", "v", "op"), opCol = Some("op"), delta = true)
    val v2 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1, v2, "id", "g", "v")
    check(src, tgt)
    // group "a" now holds only id 4
    assert(tgt.read().where(col("g") === "a").head().getLong(1) === 1L)
  }

  test("a group emptied by deletes disappears from the target") {
    val (src, tgt) = tables()
    src.merge(Seq((1L, "only", 3L)).toDF("id", "g", "v"),
      autoCreateKeys = Seq("id"), delta = true)
    val v1 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1 - 1, v1, "id", "g", "v")
    assert(tgt.read().count() === 1)
    src.merge(Seq((1L, "only", 3L, "d")).toDF("id", "g", "v", "op"),
      opCol = Some("op"), delta = true)
    val v2 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1, v2, "id", "g", "v")
    assert(tgt.read().count() === 0)
    check(src, tgt)
  }

  test("null measures contribute 0, not NULL, to the maintained sum") {
    val (src, tgt) = tables()
    // seed a group with a real value
    src.merge(Seq((1L, "a", Some(10L))).toDF("id", "g", "v"),
      autoCreateKeys = Seq("id"), delta = true)
    val v1 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1 - 1, v1, "id", "g", "v")
    // a refresh whose ONLY change for group a carries a null value:
    // un-coalesced, sum over the all-null __dv leg is NULL and
    // coalesce(sv,0)+NULL would write sv = NULL into the target
    src.merge(Seq((2L, "a", Option.empty[Long]),
      (3L, "nullonly", Option.empty[Long])).toDF("id", "g", "v"),
      delta = true)
    val v2 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1, v2, "id", "g", "v")
    check(src, tgt)
    assert(tgt.read().where(col("g") === "a").head().getDouble(2) === 10d)
    // an all-null group exists with sv = 0 under the nulls-as-zero
    // convention (documented on fullCountSum)
    assert(tgt.read().where(col("g") === "nullonly").head().getDouble(2) === 0d)
  }

  test("refresh touches the source only through a semi-join on changed keys") {
    val (src, tgt) = tables()
    src.merge((1L to 50L).map(i => (i, s"g${i % 5}", i)).toDF("id", "g", "v"),
      autoCreateKeys = Seq("id"), delta = true)
    val v1 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1 - 1, v1, "id", "g", "v")
    src.merge(Seq((3L, "g3", 99L)).toDF("id", "g", "v"), delta = true)
    val v2 = src.currentSnapshot.get.version
    // the delta frame a refresh over (v1, v2] would aggregate: its
    // physical plan must reach the source via LeftSemi on the changed
    // keys — a full-source scan-and-aggregate here is the O(source)
    // rewrite the operator exists to avoid
    val net = IncrementalAgg.netChanges(
      src.readChanges(v1, v2), "id", "g", "v")
    val deltas = IncrementalAgg.groupDeltas(src, v1, net, "id", "g", "v")
    val p = deltas.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"),
      s"refresh lost the changed-key semi-join into the source:\n$p")
    // and the maintained answer still matches the recompute
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1, v2, "id", "g", "v")
    check(src, tgt)
  }

  test("a NULL key's prior contribution is retracted like any key's") {
    val (src, tgt) = tables()
    src.merge(Seq((Option.empty[Long], "g1", 5L), (Some(1L), "g1", 1L))
      .toDF("id", "g", "v"), autoCreateKeys = Seq("id"), delta = true)
    val v1 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1 - 1, v1, "id", "g", "v")
    // the NULL key moves from g1 to g2: its g1 contribution must go
    src.merge(Seq((Option.empty[Long], "g2", 7L)).toDF("id", "g", "v"), delta = true)
    val v2 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1, v2, "id", "g", "v")
    val g1 = tgt.read().where(col("g") === "g1").head()
    assert((g1.getLong(1), g1.getDouble(2)) === ((1L, 1d)))
    check(src, tgt)
  }

  test("a key flapping within one range nets to its last image") {
    val (src, tgt) = tables()
    src.merge(Seq((1L, "a", 1L)).toDF("id", "g", "v"),
      autoCreateKeys = Seq("id"), delta = true)
    val v1 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1 - 1, v1, "id", "g", "v")
    // three commits in ONE refresh range: update, delete, re-insert
    src.merge(Seq((1L, "a", 50L)).toDF("id", "g", "v"), delta = true)
    src.merge(Seq((1L, "a", 50L, "d")).toDF("id", "g", "v", "op"),
      opCol = Some("op"), delta = true)
    src.merge(Seq((1L, "b", 9L)).toDF("id", "g", "v"), delta = true)
    val v2 = src.currentSnapshot.get.version
    IncrementalAgg.refreshCountSum(spark, src, tgt, v1, v2, "id", "g", "v")
    check(src, tgt)
  }
}
