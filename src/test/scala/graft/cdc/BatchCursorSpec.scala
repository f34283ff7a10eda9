package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.store.UpsertTable

/** The cross-table consistency cursor: published only after a batch's
  * LAST table commits, carried forward per table, replay-safe — so
  * [[CdcSink.readConsistent]] can never serve a torn batch, even in
  * the crash window between two tables' commits.
  */
class BatchCursorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def env(table: String, rows: Seq[(Long, Long)],
      op: String = "u"): DataFrame =
    rows.toDF("id", "v").select(to_json(struct(
      lit(op).as("op"),
      struct(lit(table).as("table"), col("id").as("lsn"),
        col("id").as("txId")).as("source"),
      struct(col("id"), col("v")).as("after"),
      struct(col("id"), col("v")).as("before"))).as("value"))

  private def view(wh: String, table: String): Seq[(Long, Long)] =
    CdcSink.readConsistent(spark, wh, table)
      .select("id", "v").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("kill between tables: consistent view is the previous batch " +
      "until the restart replay completes") {
    val wh = Files.createTempDirectory("graft-cursor").toString
    val sid = Some(s"$wh/sid")
    CdcSink.applyBatch(spark,
      env("ta", Seq((1L, 10L), (2L, 20L))).unionByName(
        env("tb", Seq((1L, 100L)))),
      wh, _ => Seq("id"), streamId = sid, batchId = Some(1L))
    val c1 = CdcSink.consistentVersions(wh).get
    assert(c1.batchId === 1L)
    assert(c1.versions.keySet === Set("ta", "tb"))

    // CRASH between tables: ta's merge lands under batchId 2, tb's
    // never runs, NO cursor — exactly what the dead sink leaves
    UpsertTable(spark, CdcSink.targetPath(wh, "ta")).merge(
      Seq((2L, 21L)).toDF("id", "v").withColumn("__op", lit("u")),
      opCol = Some("__op"), streamId = sid, batchId = Some(2L))
    assert(CdcSink.consistentVersions(wh).get.batchId === 1L)
    // torn window invisible: ta's head moved, the consistent view not
    assert(view(wh, "ta") === Seq((1L, 10L), (2L, 20L)))
    assert(view(wh, "tb") === Seq((1L, 100L)))

    // RESTART: the full batch 2 replays — ta no-ops on the batchId
    // guard, tb catches up, cursor 2 publishes
    CdcSink.applyBatch(spark,
      env("ta", Seq((2L, 21L))).unionByName(env("tb", Seq((1L, 101L)))),
      wh, _ => Seq("id"), streamId = sid, batchId = Some(2L))
    assert(CdcSink.consistentVersions(wh).get.batchId === 2L)
    assert(view(wh, "ta") === Seq((1L, 10L), (2L, 21L)))
    assert(view(wh, "tb") === Seq((1L, 101L)))
  }

  test("carry-forward: a table untouched by a batch keeps its last " +
      "consistent version in the new cursor") {
    val wh = Files.createTempDirectory("graft-cursor-cf").toString
    val sid = Some(s"$wh/sid")
    CdcSink.applyBatch(spark,
      env("ta", Seq((1L, 1L))).unionByName(env("tb", Seq((1L, 2L)))),
      wh, _ => Seq("id"), streamId = sid, batchId = Some(1L))
    val vTb1 = CdcSink.consistentVersions(wh).get.versions("tb")
    CdcSink.applyBatch(spark, env("ta", Seq((2L, 3L))),
      wh, _ => Seq("id"), streamId = sid, batchId = Some(2L))
    val c2 = CdcSink.consistentVersions(wh).get
    assert(c2.batchId === 2L)
    assert(c2.versions("tb") === vTb1,
      "untouched table must carry its batch-1 version forward")
    assert(view(wh, "tb") === Seq((1L, 2L)))
  }

  test("table_consistent SQL TVF == readConsistent API, loud failures") {
    val wh = Files.createTempDirectory("graft-cursor-sql").toString
    spark.conf.set("spark.sql.catalog.graft_bc",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_bc.warehouse", wh)
    // no cursor yet: analysis must fail loudly, not return empty
    val e0 = intercept[Exception] {
      spark.sql("SELECT * FROM table_consistent('graft_bc', 'ta')")
    }
    assert(e0.getMessage.contains("no consistent cross-table point"))
    CdcSink.applyBatch(spark, env("ta", Seq((1L, 10L))),
      wh, _ => Seq("id"), streamId = Some(s"$wh/sid"), batchId = Some(1L))
    val viaSql = spark.sql(
      "SELECT id, v FROM table_consistent('graft_bc', 'ta') ORDER BY id")
      .collect().toSeq
    val viaApi = CdcSink.readConsistent(spark, wh, "ta")
      .select("id", "v").orderBy("id").collect().toSeq
    assert(viaSql === viaApi && viaSql.nonEmpty)
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM table_consistent('graft_bc', 'nope')")
    }
    assert(e1.getMessage.contains("not covered"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM table_consistent('graft_bc', '/etc/x')")
    }
    assert(e2.getMessage.contains("safe name set"))
  }

  test("one table rejected in a concurrent batch: its own error, no " +
      "cursor, and a corrected replay converges") {
    val wh = Files.createTempDirectory("graft-cursor-fail").toString
    val sid = Some(s"$wh/sid")
    CdcSink.applyBatch(spark,
      env("ta", Seq((1L, 10L))).unionByName(env("tb", Seq((1L, 100L)))),
      wh, _ => Seq("id"), streamId = sid, batchId = Some(1L))
    val tb = UpsertTable(spark, CdcSink.targetPath(wh, "tb"))

    // batch 2: ta's v turns into a string (rejected loudly by the
    // evolve rules) while tb's merge succeeds beside it
    val badTa = Seq((2L, "oops")).toDF("id", "v").select(to_json(struct(
      lit("u").as("op"),
      struct(lit("ta").as("table"), col("id").as("lsn"),
        col("id").as("txId")).as("source"),
      struct(col("id"), col("v")).as("after"))).as("value"))
    val err = intercept[IllegalArgumentException] {
      CdcSink.applyBatch(spark,
        badTa.unionByName(env("tb", Seq((1L, 101L)))),
        wh, _ => Seq("id"), streamId = sid, batchId = Some(2L))
    }
    assert(err.getClass === classOf[IllegalArgumentException])
    assert(err.getMessage.startsWith("incompatible evolution of v"))
    // tb committed batch 2 on its own; no cursor names batch 2, so the
    // consistent view is still batch 1 on BOTH tables
    val tbAfterFailure = tb.currentSnapshot.get
    assert(tbAfterFailure.committed(sid.get) === 2L)
    assert(CdcSink.consistentVersions(wh).get.batchId === 1L)
    assert(view(wh, "ta") === Seq((1L, 10L)))
    assert(view(wh, "tb") === Seq((1L, 100L)))

    // corrected replay of batch 2: ta lands, tb no-ops on its batchId
    // guard (no new version), cursor 2 publishes
    CdcSink.applyBatch(spark,
      env("ta", Seq((2L, 20L))).unionByName(env("tb", Seq((1L, 101L)))),
      wh, _ => Seq("id"), streamId = sid, batchId = Some(2L))
    assert(tb.currentSnapshot.get.version === tbAfterFailure.version)
    val c2 = CdcSink.consistentVersions(wh).get
    assert(c2.batchId === 2L)
    assert(c2.versions("tb") === tbAfterFailure.version)
    assert(view(wh, "ta") === Seq((1L, 10L), (2L, 20L)))
    assert(view(wh, "tb") === Seq((1L, 101L)))
  }

  test("every job of a two-table batch carries the caller's scheduler " +
      "pool and local properties") {
    val wh = Files.createTempDirectory("graft-cursor-props").toString
    val sc = spark.sparkContext
    val (marker, tag, group) =
      ("graft.test.marker", "graft.test.client", "batch-cursor-props")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val ended = new java.util.concurrent.CountDownLatch(1)
    // records every job started between the two marker jobs (the bus
    // delivers job starts in submission order)
    val listener = new org.apache.spark.scheduler.SparkListener {
      @volatile private var recording = false
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new java.util.Properties)
        props.getProperty(marker) match {
          case "start" => recording = true
          case "end" => recording = false; ended.countDown()
          case _ => if (recording) jobs.add(props)
        }
      }
    }
    def markerJob(m: String): Unit = {
      sc.setLocalProperty(marker, m)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(marker, null)
    }
    sc.addSparkListener(listener)
    try {
      markerJob("start")
      sc.setLocalProperty("spark.scheduler.pool", "cdc-writer")
      sc.setLocalProperty(tag, "cdc-spec")
      sc.setJobGroup(group, "two-table batch")
      try CdcSink.applyBatch(spark,
        env("ta", Seq((1L, 1L), (2L, 2L))).unionByName(env("tb", Seq((1L, 3L)))),
        wh, _ => Seq("id"), streamId = Some(s"$wh/sid"), batchId = Some(1L))
      finally {
        sc.setLocalProperty("spark.scheduler.pool", null)
        sc.setLocalProperty(tag, null)
        sc.clearJobGroup()
      }
      markerJob("end")
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)

    // jobs of some other streaming query carry that query's own group;
    // every other job in the window is the batch's
    import scala.jdk.CollectionConverters._
    val batchJobs = jobs.asScala.toSeq.filter(p =>
      Option(p.getProperty("spark.jobGroup.id")).forall(_ == group))
    assert(batchJobs.size >= 4, s"only ${batchJobs.size} jobs recorded")
    batchJobs.foreach { p =>
      assert(p.getProperty("spark.scheduler.pool") === "cdc-writer")
      assert(p.getProperty(tag) === "cdc-spec")
      assert(p.getProperty("spark.jobGroup.id") === group)
    }
    assert(CdcSink.consistentVersions(wh).get.versions.keySet === Set("ta", "tb"))
  }

  test("replayed cursor commit is a no-op: the first record stands") {
    val wh = Files.createTempDirectory("graft-cursor-replay").toString
    BatchCursor.commit(wh, 5L, Map("x" -> 1L))
    BatchCursor.commit(wh, 5L, Map("x" -> 99L, "y" -> 7L))
    val c = BatchCursor.latest(wh).get
    assert(c.batchId === 5L)
    assert(c.versions === Map("x" -> 1L))
  }
}
