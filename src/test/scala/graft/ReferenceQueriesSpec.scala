package graft

import org.scalatest.funsuite.AnyFunSuite

class ReferenceQueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  // Legitimately empty at sf0.001 and only there: q151's composite
  // (brand, size) blocking spreads the 200-part fixture over 1250
  // blocks, so no block holds a qualifying pair — the CORRECTNESS
  // gate at sf0.01 (139 rows) is the non-degenerate check. Empty must
  // still EXECUTE cleanly here.
  private val emptyAtSmallestSf = Set("q151_jw_entity_match")

  test("every query has an oracle and runs non-empty on sf0.001") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    qs.keys.foreach { name =>
      val rows = TestSpark.inventoryRun(sf, name).rows
      // emptyAtSmallestSf queries must run (inventoryRun rethrows a
      // failure) but may be empty
      if (!emptyAtSmallestSf(name)) assert(rows > 0, s"$name returned 0 rows")
    }
    // every oracle key must have a query (the converse may be relaxed
    // for non-SQL-expressible ops)
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q5 upsert materialization is one row per key") {
    val df = SparkEntry.queries("q5_upsert_latest")(spark, sf)
    val n = df.count()
    assert(n === df.select("user_id").distinct().count())
  }

  test("q6 cdc apply drops keys whose latest op is delete") {
    val q5 = SparkEntry.queries("q5_upsert_latest")(spark, sf).count()
    val q6 = SparkEntry.queries("q6_cdc_apply")(spark, sf).count()
    assert(q6 <= q5)
  }

  test("q7 top-k is exactly 10 rows in descending ts order") {
    val df = SparkEntry.queries("q7_topk_recent")(spark, sf)
    assert(df.count() === 10)
  }

  test("q2 json extraction casts cleanly to int") {
    val df = SparkEntry.queries("q2_json_extract_cast")(spark, sf)
    assert(df.schema("k").dataType.typeName === "integer")
  }
}
