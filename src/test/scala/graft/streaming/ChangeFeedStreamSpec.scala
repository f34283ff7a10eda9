package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.store.UpsertTable

/** [[ChangeFeed]] — the DSv2 MicroBatchStream over an UpsertTable's
  * change feed: stream == batch feed, incremental restarts consume
  * only new versions, exactly-once through a mid-stream kill (the
  * source's offset log + the store's (streamId, batchId) replay
  * guard), and the batch servability contract (non-delta data commits
  * fail the stream loudly).
  */
class ChangeFeedStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(tag: String) =
    Files.createTempDirectory(s"graft-cfs-$tag").toString

  /** Run the standing stream over `src` into collected batches via
    * foreachBatch(f), AvailableNow, shared checkpoint.
    */
  private def runStream(src: String, cp: String, fromVersion: Long = 0L)(
      f: (DataFrame, Long) => Unit): Unit = {
    val q = ChangeFeed.readStream(spark, src, startingVersion = fromVersion)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()
    q.awaitTermination()
  }

  test("stream delivers exactly the batch change feed, incrementally across restarts") {
    val src = tmpDir("src")
    val t = UpsertTable(spark, src)
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      autoCreateKeys = Seq("id"))
    val v0 = t.currentSnapshot.get.version
    t.merge(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), delta = true)
    t.merge(Seq((1L, "x")).toDF("id", "v").withColumn("__op", lit("d")),
      opCol = Some("__op"), delta = true)

    val cp = tmpDir("cp")
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[String], String, Long)]
    def collect(b: DataFrame, id: Long): Unit =
      got ++= b.select("id", "v", "_change_op", "_commit_version").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString),
          r.getString(2), r.getLong(3)))

    runStream(src, cp, fromVersion = v0)(collect)
    // versions BEFORE v0 are the non-delta create+merge: the stream
    // starts at startingVersion past them (full-history default would
    // fail loudly like the batch feed — separately asserted below)
    val expected = t.readChanges(v0, v0 + 2)
      .select("id", "v", "_change_op", "_commit_version").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString),
        r.getString(2), r.getLong(3))).toSet
    assert(got.toSet === expected)
    assert(got.size === expected.size) // no duplicate delivery

    // restart with NO new commits: zero new rows (offset log replay guard)
    val n0 = got.size
    runStream(src, cp, fromVersion = v0)(collect)
    assert(got.size === n0)

    // new delta commit, restart: ONLY the new version arrives
    t.merge(Seq((4L, "d4")).toDF("id", "v"), delta = true)
    runStream(src, cp, fromVersion = v0)(collect)
    assert(got.drop(n0).toSet ===
      Set((4L, Some("d4"), "u", v0 + 3)))
  }

  test("additive schema evolution inside the stream null-fills older files") {
    val src = tmpDir("srcev")
    val t = UpsertTable(spark, src)
    t.merge(Seq((1L, "a")).toDF("id", "v"), autoCreateKeys = Seq("id"))
    val v0 = t.currentSnapshot.get.version
    t.merge(Seq((2L, "b")).toDF("id", "v"), delta = true)
    // additive evolution: later commit carries an extra column
    t.merge(Seq((3L, "c", 7L)).toDF("id", "v", "extra"), delta = true)

    val cp = tmpDir("cpev")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Any)]
    // the stream pins the CURRENT (evolved) schema at definition time;
    // the v0+1 file lacks `extra` and must read back as null
    val q = ChangeFeed.readStream(spark, src, startingVersion = v0)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.select("id", "v", "extra").collect()
          .map(r => (r.getLong(0), r.getString(1), r.get(2)))
        ()
      }
      .start()
    q.awaitTermination()
    assert(got.toSet === Set((2L, "b", null), (3L, "c", 7L)))
  }

  test("int->long widening inside the stream is served by parquet promotion") {
    val src = tmpDir("srcw")
    val t = UpsertTable(spark, src)
    t.merge(Seq((1L, 7)).toDF("id", "age"), autoCreateKeys = Seq("id"))
    val v0 = t.currentSnapshot.get.version
    t.merge(Seq((2L, 8)).toDF("id", "age"), delta = true) // int32 file
    t.merge(Seq((3L, 9L)).toDF("id", "age"), delta = true) // widens to int64
    assert(t.read().schema("age").dataType ===
      org.apache.spark.sql.types.LongType)

    // the stream pins the WIDENED schema; the v0+1 delta file still
    // holds int32 pages and must come back as long via the vectorized
    // reader's own type promotion (the Spark 4 promotable set) — the
    // stream has no per-commit alignTypes leg, unlike batch readChanges
    val cp = tmpDir("cpw")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    runStream(src, cp, fromVersion = v0) { (b: DataFrame, _: Long) =>
      assert(b.schema("age").dataType ===
        org.apache.spark.sql.types.LongType)
      got ++= b.select("id", "age").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      ()
    }
    assert(got.toSet === Set((2L, 8L), (3L, 9L)))
  }

  test("full-history default fails loudly over a non-delta data commit") {
    val src = tmpDir("srcfail")
    val t = UpsertTable(spark, src)
    t.merge(Seq((1L, "a")).toDF("id", "v"), autoCreateKeys = Seq("id"))
    t.merge(Seq((1L, "a2")).toDF("id", "v"), delta = true)
    val cp = tmpDir("cpfail")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(src, cp)((_, _) => ())
    }
    assert(ex.getMessage.contains("unservable") ||
      Option(ex.getCause).exists(_.getMessage.contains("unservable")))
  }

  test("exactly-once into a downstream table through a mid-stream kill") {
    val src = tmpDir("srck")
    val t = UpsertTable(spark, src)
    t.merge(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      autoCreateKeys = Seq("id"))
    val v0 = t.currentSnapshot.get.version
    t.merge(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), delta = true)

    val dstDir = tmpDir("dst")
    val cp = tmpDir("cpk")
    def sinkBatch(b: DataFrame, batchId: Long): Unit =
      UpsertTable(spark, dstDir).merge(
        b.drop("_change_op", "_commit_version"),
        streamId = Some("cfs-kill"), batchId = Some(batchId),
        autoCreateKeys = Seq("id"), delta = true)

    // pass 1: sink commits batch 0, then the stream is killed BEFORE
    // the engine can commit the batch to its offset log (simulated by
    // throwing AFTER the store merge — the classic post-sink crash)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = ChangeFeed.readStream(spark, src, startingVersion = v0)
        .writeStream
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          sinkBatch(b, id); throw new RuntimeException("injected kill")
        }
        .start()
      q.awaitTermination()
    }
    // restart: the engine REPLAYS batch 0 from its offset log — the
    // immutable manifests plan the identical file set, and the store's
    // (streamId, batchId) guard makes the replayed merge a no-op
    val q2 = ChangeFeed.readStream(spark, src, startingVersion = v0)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sinkBatch _)
      .start()
    q2.awaitTermination()

    val dst = UpsertTable(spark, dstDir)
    assert(dst.read().orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((2L, "b2"), (3L, "c")))
    // exactly one data commit landed besides create (no double apply)
    assert(dst.history().count(_._2 == "delta-merge") === 1)
  }

  test("planning a micro-batch over 48 delta files launches no Spark job") {
    val src = tmpDir("plan")
    val t = UpsertTable(spark, src)
    t.create(new org.apache.spark.sql.types.StructType()
      .add("id", "long").add("v", "string"), Seq("id"), numBuckets = 16)
    (1 to 3).foreach(c =>
      t.merge((1L to 200L).map(i => (i, s"v$c")).toDF("id", "v"), delta = true))
    val deltas = t.currentSnapshot.get.files.count(graft.store.FileEntry.isDelta)
    assert(deltas >= 33)
    val stream = new ChangeFeedStream(src, ChangeFeed.rawSchema(spark, src), 0L)
    var parts = Array.empty[org.apache.spark.sql.connector.read.InputPartition]
    val jobs = TestSpark.jobsDuring {
      parts = stream.planInputPartitions(stream.initialOffset(), stream.latestOffset())
    }
    assert(jobs.isEmpty, s"planning launched ${jobs.mkString(" | ")}")
    // the planned batch covers every delta file of the range
    assert(parts.map(_.asInstanceOf[org.apache.spark.sql.execution.datasources
      .FilePartition].files.length).sum === deltas)
  }
}
