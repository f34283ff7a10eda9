package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.selectPaths

/** Property: file skipping is SOUND for any pushed predicate — a file
  * dropped by [[FileStats.mightMatch]] contains NO row matching the
  * predicate, so a pruned scan returns exactly the full scan's answer.
  * q66 pins this for one predicate; here random point/range/null/set/
  * prefix filters over clustered AND non-clustered columns (longs,
  * doubles with nulls, strings) all preserve it. Completeness (how
  * MUCH is skipped) is a balance property, never asserted — only
  * soundness is correctness.
  */
class SkippingPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // one shared table: 400 rows, clustered along (a, b), split into
  // many small files so predicates genuinely drop some of them
  private lazy val table: UpsertTable = {
    val t = UpsertTable(spark,
      Files.createTempDirectory("graft-skipprop").toString)
    val rows = (0L until 400L).map { id =>
      val a = (id * 37) % 100
      val b = if (id % 7 == 0) None else Some(math.sin(id * 1.3) * 50)
      val s = s"w${(id * 11) % 40}"
      (id, a, b, s)
    }
    t.merge(rows.toDF("id", "a", "b", "s"), autoCreateKeys = Seq("id"))
    t.cluster(Seq("a", "b"), maxRowsPerFile = 32)
    t
  }

  private type Case = (sources.Filter, Column, String)

  private val genCase: Gen[Case] = {
    val genLong = Gen.choose(-10L, 110L)
    val genDouble = Gen.choose(-60d, 60d)
    def ops(a: String, v: Any, c: Column, lit0: Column): Gen[Case] =
      Gen.oneOf(
        (sources.EqualTo(a, v), c === lit0, s"$a = $v"),
        (sources.GreaterThan(a, v), c > lit0, s"$a > $v"),
        (sources.GreaterThanOrEqual(a, v), c >= lit0, s"$a >= $v"),
        (sources.LessThan(a, v), c < lit0, s"$a < $v"),
        (sources.LessThanOrEqual(a, v), c <= lit0, s"$a <= $v"))
    Gen.oneOf(
      genLong.flatMap(v => ops("a", v, col("a"), lit(v))),
      genDouble.flatMap(v => ops("b", v, col("b"), lit(v))),
      Gen.listOfN(3, genLong).map(vs =>
        (sources.In("a", vs.toArray.map(_.asInstanceOf[Any])),
          col("a").isin(vs: _*), s"a IN $vs")),
      Gen.const((sources.IsNull("b"), col("b").isNull, "b IS NULL")),
      Gen.const((sources.IsNotNull("b"), col("b").isNotNull, "b IS NOT NULL")),
      Gen.choose(0, 4).map(p =>
        (sources.StringStartsWith("s", s"w$p"),
          col("s").startsWith(s"w$p"), s"s LIKE w$p%")))
  }

  test("pruned scan == full scan for any pushed predicate (soundness)") {
    val all = selectPaths(table)
    assert(all.size > 3, s"fixture produced only ${all.size} files")
    val prop = Prop.forAll(genCase) { case (filter, pred, label) =>
      val kept = selectPaths(table, filter)
      val full = spark.read.parquet(all: _*).where(pred).count()
      val pruned =
        if (kept.isEmpty) 0L
        else spark.read.parquet(kept: _*).where(pred).count()
      if (pruned != full)
        println(s"SKIPPING UNSOUND for [$label]: pruned=$pruned full=$full " +
          s"(dropped ${all.size - kept.size}/${all.size} files)")
      pruned == full
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(result.passed, result.status.toString)
  }

  test("at least some generated predicates actually drop files") {
    // guard against the property passing vacuously because mightMatch
    // degraded to always-true: a tight point predicate on the leading
    // z-column must prune on a 32-rows-per-file layout
    val kept = selectPaths(table, sources.EqualTo("a", 0L))
    assert(kept.size < selectPaths(table).size,
      "EqualTo on the leading z-column pruned nothing")
  }
}
