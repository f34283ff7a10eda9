package graft.store

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.TestSpark.filesRead
import graft.catalog.GraftCatalog

/** Store reads are planned from the manifest ([[StoreFileIndex]]):
  * planning a read launches no Spark job however many files it spans,
  * and a key lookup on a delta-bearing table overlays only the key's
  * bucket under each live spec, returning exactly the rows of the
  * unpruned read — as do key `IN` lists and ranges, `read().where` and
  * lookup-bloom `IN`s, each opening fewer files than the snapshot holds.
  */
class StoreReadPlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val warehouse = {
    val wh = Files.createTempDirectory("graft-readplan-wh").toString
    spark.conf.set("spark.sql.catalog.graft_rp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rp.warehouse", wh)
    wh
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  private def table(name: String, buckets: Int): UpsertTable = {
    val t = UpsertTable(spark, s"$warehouse/rp/$name")
    t.create(schema, Seq("id"), numBuckets = buckets)
    t
  }

  /** Jobs started while `read` is analyzed and planned. */
  private def planningJobs(read: => DataFrame): Seq[String] =
    TestSpark.jobsDuring(read.queryExecution.executedPlan)

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("planning a read of base plus 48 delta files launches no Spark job") {
    val t = table("deltas", 16)
    var model = (1L to 400L).map(i => i -> i).toMap
    t.merge(model.toSeq.toDF("id", "v"))
    (1L to 3L).foreach { c =>
      val batch = (1L to 400L by 3L).map(i => (i + c) -> (i * 10 + c))
      t.merge(batch.toDF("id", "v"), delta = true)
      model ++= batch
    }
    val snap = t.currentSnapshot.get
    assert(snap.files.count(FileEntry.isDelta) >= 33)
    val name = "graft_rp.rp.deltas"
    val reads = Seq[() => DataFrame](
      () => spark.sql(s"SELECT count(*), sum(v) FROM $name"),
      () => spark.sql(s"SELECT id, v FROM $name WHERE id = 7"),
      () => spark.sql(s"SELECT count(*), sum(v) FROM $name VERSION AS OF ${snap.version}"),
      () => t.read())
    reads.foreach { read =>
      val jobs = planningJobs(read())
      assert(jobs.isEmpty, s"planning launched ${jobs.mkString(" | ")}")
    }
    val Row(n: Long, sum: Long) = spark.sql(s"SELECT count(*), sum(v) FROM $name").head()
    assert((n, sum) === (model.size.toLong, model.values.sum))
    assert(rows(spark.sql(s"SELECT id, v FROM $name WHERE id = 7")) === Set(7L -> model(7L)))
  }

  test("planning a read of a 64-bucket delta-free table launches no Spark job") {
    val t = table("wide", 64)
    t.merge((1L to 2000L).map(i => (i, i * 2)).toDF("id", "v"))
    val snap = t.currentSnapshot.get
    assert(snap.files.size >= 33 && !snap.hasDeltas)
    val name = "graft_rp.rp.wide"
    Seq(s"SELECT count(*), sum(v) FROM $name", s"SELECT id, v FROM $name WHERE v > 3000")
      .foreach { q =>
        val jobs = planningJobs(spark.sql(q))
        assert(jobs.isEmpty, s"planning '$q' launched ${jobs.mkString(" | ")}")
      }
    val Row(n: Long, sum: Long) = spark.sql(s"SELECT count(*), sum(v) FROM $name").head()
    assert((n, sum) === (2000L, (1L to 2000L).map(_ * 2).sum))
  }

  test("a key lookup on a delta-bearing table reads the key's bucket per " +
      "live spec and returns the unpruned read's rows") {
    // `v` carries lookup blooms, for the bloom-column IN below
    spark.conf.set(UpsertTable.LookupBloomsConf, "v")
    val t = try table("lookup", 4) finally spark.conf.unset(UpsertTable.LookupBloomsConf)
    val name = "graft_rp.rp.lookup"
    t.merge((1L to 60L).map(i => (i, i)).toDF("id", "v"))
    // 70 only ever lives in deltas; 5 (base) and 70 end as tombstones
    t.merge(Seq((3L, 30L, "u"), (5L, 50L, "u"), (70L, 700L, "u"))
      .toDF("id", "v", "op"), opCol = Some("op"), delta = true)
    t.merge(Seq((5L, 0L, "d"), (70L, 0L, "d"), (9L, 90L, "u"))
      .toDF("id", "v", "op"), opCol = Some("op"), delta = true)
    t.rebucketLazy(8)
    // after the respec: new-spec deltas over old-spec bases, including
    // a tombstone (11) and a re-insert of a tombstoned key (70)
    t.merge(Seq((3L, 31L, "u"), (11L, 0L, "d"), (70L, 701L, "u"), (80L, 800L, "u"))
      .toDF("id", "v", "op"), opCol = Some("op"), delta = true)
    val snap = t.currentSnapshot.get
    assert(snap.hasDeltas && snap.files.exists(_.spec == 4))

    val all = rows(t.read().select("id", "v"))
    val keys = Seq(1L, 3L, 5L, 9L, 11L, 12L, 33L, 60L, 70L, 80L, 99L)
    keys.foreach { k =>
      val pruned = spark.sql(s"SELECT id, v FROM $name WHERE id = $k")
      assert(rows(pruned) === all.filter(_._1 == k), s"key $k")
      assert(filesRead(pruned) < snap.files.size, s"key $k read every file")
    }
    val reads = Seq[(String, DataFrame, ((Long, Long)) => Boolean)](
      ("IN", spark.sql(s"SELECT id, v FROM $name WHERE id IN (3, 5, 70)"),
        r => Set(3L, 5L, 70L)(r._1)),
      ("BETWEEN", spark.sql(s"SELECT id, v FROM $name WHERE id BETWEEN 61 AND 90"),
        r => r._1 >= 61 && r._1 <= 90),
      ("read().where", t.read().where($"id" === 70L).select("id", "v"), _._1 == 70L),
      ("bloom IN", spark.sql(s"SELECT id, v FROM $name WHERE v IN (12, 701)"),
        r => r._2 == 12L || r._2 == 701L))
    reads.foreach { case (label, df, want) =>
      assert(rows(df) === all.filter(want), label)
      val opened = filesRead(df)
      assert(opened < snap.files.size, s"$label opened $opened of ${snap.files.size} files")
    }
    assert(rows(spark.sql(s"SELECT id, v FROM $name WHERE id = 5")).isEmpty)
    assert(rows(spark.sql(s"SELECT id, v FROM $name WHERE id = 11")).isEmpty)
    assert(rows(spark.sql(s"SELECT id, v FROM $name WHERE 70 = id")) === Set(70L -> 701L))
    assert(rows(spark.sql(s"SELECT id, v FROM $name WHERE id = 3 AND v > 0")) ===
      Set(3L -> 31L))
    // a non-deterministic conjunct stays above the overlay
    assert(rows(spark.sql(s"SELECT id, v FROM $name WHERE id = 3 AND rand() < 2")) ===
      Set(3L -> 31L))
  }
}
