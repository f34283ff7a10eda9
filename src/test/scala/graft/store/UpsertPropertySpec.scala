package graft.store

import java.nio.file.Files

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property: replaying ANY changelog (sequence of upsert/delete ops)
  * through UpsertTable.merge in ANY micro-batch split yields exactly
  * the state of a sequentially-applied key->value map — the defining
  * property of the reference's upsert materialization (SURVEY.md §2.3
  * C1/C2: changelog-normalize + CDC apply). A NULL key is drawn too:
  * NULL is a key value, one row per key under any commit layout.
  */
class UpsertPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private case class Op(key: Option[Int], value: String, op: String)

  private val genOps: Gen[List[Op]] = Gen.listOfN(40, for {
    k <- Gen.oneOf((0 to 7).map(Option(_)) :+ None)
    v <- Gen.alphaStr.map(_.take(6))
    op <- Gen.frequency(4 -> Gen.const("u"), 1 -> Gen.const("d"), 1 -> Gen.const("c"))
  } yield Op(k, v, op))

  private val genSplit: Gen[List[Int]] =
    Gen.listOfN(3, Gen.choose(1, 39)).map(_.distinct.sorted)

  private def model(ops: List[Op]): Map[Option[Int], String] =
    ops.foldLeft(Map.empty[Option[Int], String]) {
      case (m, Op(k, v, o)) => if (o == "d") m - k else m + (k -> v)
    }

  /** Rows as a key -> value map, or None when a key appears twice. */
  private def asMap(rows: Array[org.apache.spark.sql.Row])
      : Option[Map[Option[Int], String]] = {
    val m = rows.map(r => Option(r.getAs[Integer](0)).map(_.toInt) -> r.getString(1)).toMap
    if (m.size == rows.length) Some(m) else None
  }

  test("merge ≡ sequential map apply, for any ops and any batch split") {
    val prop = Prop.forAll(genOps, genSplit) { (ops, split) =>
      val expected = model(ops)
      val t = UpsertTable(spark, Files.createTempDirectory("graft-prop").toString)
      val bounds = (0 :: split).distinct.sorted :+ ops.length
      bounds.sliding(2).filter(w => w(1) > w(0)).foreach { w =>
        val slice = ops.slice(w(0), w(1)).zipWithIndex
          .map { case (o, i) => (o.key, o.value, o.op, (w(0) + i).toLong) }
        t.merge(slice.toDF("key", "value", "op", "off"),
          opCol = Some("op"), orderCol = Some("off"),
          autoCreateKeys = Seq("key"))
      }
      asMap(t.read().collect()).contains(expected)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  test("merge ≡ sequential map apply with random delta commits and " +
      "compaction, through read(), SQL and a SQL key lookup") {
    val wh = Files.createTempDirectory("graft-prop-wh").toString
    spark.conf.set("spark.sql.catalog.graft_prop",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_prop.warehouse", wh)
    val tables = new java.util.concurrent.atomic.AtomicInteger
    // per batch (at most four): merge-on-read or not, compact after or not
    val genCommits: Gen[List[(Boolean, Boolean)]] = Gen.listOfN(4,
      Gen.zip(Gen.oneOf(true, false), Gen.frequency(3 -> false, 1 -> true)))
    val prop = Prop.forAll(genOps, genSplit, genCommits, Gen.choose(0, 7)) {
      (ops, split, commits, probe) =>
        val expected = model(ops)
        val name = s"t${tables.incrementAndGet()}"
        val t = UpsertTable(spark, s"$wh/p/$name")
        val bounds = (0 :: split).distinct.sorted :+ ops.length
        bounds.sliding(2).filter(w => w(1) > w(0)).zip(commits).foreach {
          case (w, (delta, compactAfter)) =>
            val slice = ops.slice(w(0), w(1)).zipWithIndex
              .map { case (o, i) => (o.key, o.value, o.op, (w(0) + i).toLong) }
            t.merge(slice.toDF("key", "value", "op", "off"),
              opCol = Some("op"), orderCol = Some("off"),
              autoCreateKeys = Seq("key"), delta = delta)
            if (compactAfter) t.compact()
        }
        val sqlName = s"graft_prop.p.$name"
        asMap(t.read().collect()).contains(expected) &&
          asMap(spark.sql(s"SELECT key, value FROM $sqlName").collect())
            .contains(expected) &&
          asMap(spark.sql(s"SELECT key, value FROM $sqlName WHERE key = $probe")
            .collect()).contains(expected.filter(_._1.contains(probe)))
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }
}
