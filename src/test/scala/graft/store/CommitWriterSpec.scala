package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Every data-writing commit goes through one bucketed writer sized
  * from the bucket count: on a 16-bucket table in the 4-core test
  * session (fewer write tasks than buckets) each commit kind writes
  * one file per written bucket, under the bucket its manifest entry
  * names, and a delta commit computes no touch set.
  */
class CommitWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): UpsertTable =
    UpsertTable(spark, Files.createTempDirectory(prefix).toString)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  test("a delta commit with orderCol launches no collect job") {
    assert(spark.conf.getOption(UpsertTable.LookupBloomsConf).isEmpty)
    val t = tmp("graft-cw-jobs")
    t.create(schema, Seq("id"), numBuckets = 16)
    t.merge((1L to 50000L).map(i => (i, i)).toDF("id", "v"))
    assert(t.currentSnapshot.get.lookupCols.isEmpty)
    var model = (1L to 50000L).map(i => i -> i).toMap
    // a merge-on-write commit folds the batch through the read overlay:
    // its touch-set collect and its write, and no job more
    locally {
      val batch = (1L to 500L).map(i => (i * 89, -i, i))
      val jobs = TestSpark.jobsDuring {
        t.merge(batch.toDF("id", "v", "ord"), orderCol = Some("ord"))
      }
      model ++= batch.map(r => r._1 -> r._2)
      assert(jobs.count(_.contains("collect at UpsertTable")) === 1, jobs.mkString(" | "))
      assert(jobs.size === 7, jobs.mkString(" | "))
    }
    (1 to 3).foreach { round =>
      val batch = (1L to 500L).map(i => (i * 97 + round, round * 1000L + i, i))
      val jobs = TestSpark.jobsDuring {
        t.merge(batch.toDF("id", "v", "ord"), orderCol = Some("ord"), delta = true)
      }
      model ++= batch.map(r => r._1 -> r._2)
      assert(!jobs.exists(_.contains("collect at UpsertTable")),
        s"round $round: ${jobs.mkString(" | ")}")
      assert(jobs.size === 4, s"round $round: ${jobs.mkString(" | ")}")
    }
    assert(t.read().as[(Long, Long)].collect().toMap === model)
  }

  test("every commit kind writes one file per written bucket under its own bucket") {
    val t = tmp("graft-cw-kinds")
    t.create(schema, Seq("id"), numBuckets = 16)
    var model = Map.empty[Long, Double]

    def bucketsOf(keys: Iterable[Long]): Set[Int] =
      keys.map(k => t.bucketFor(Map("id" -> k)).get).toSet

    /** The commit just made wrote exactly `written` buckets, with
      * `filesIn(b)` files in bucket b (1 unless a file size cap splits
      * it), each under the `__bucket=` directory its entry names; the
      * table reads as `model`. */
    def check(step: String, written: Set[Int],
        filesIn: Int => Int = _ => 1): Unit = {
      val snap = t.currentSnapshot.get
      val fresh = snap.files.filter(_.path.startsWith(s"data/v${snap.version}-"))
      fresh.foreach(f => assert(f.path.contains(s"/__bucket=${f.bucket}/"),
        s"$step: ${f.path} recorded as bucket ${f.bucket}"))
      val perBucket = fresh.groupBy(_.bucket).map { case (b, fs) => b -> fs.size }
      assert(perBucket.keySet === written, s"$step: written buckets")
      perBucket.foreach { case (b, n) =>
        assert(n === filesIn(b), s"$step: files in bucket $b") }
      val got = t.read().collect().map(r =>
        r.getLong(0) -> r.getAs[Number](1).doubleValue).toMap
      assert(got === model, s"$step: read()")
    }

    def longs(rows: Seq[(Long, Long)]): DataFrame = rows.toDF("id", "v")

    val base = (1L to 2000L).map(i => (i, i))
    t.merge(longs(base))
    model = base.map { case (k, v) => k -> v.toDouble }.toMap
    check("first merge", bucketsOf(model.keys))

    // delta-merge: in-batch duplicate keys resolved by orderCol, deletes
    // written as tombstones into their buckets
    val deltaBatch = (1L to 300L).map(i => (i * 7, i * 10, if (i % 10 == 0) "d" else "u", i)) ++
      Seq((14L, 99L, "u", 1000L), (2100L, 1L, "u", 1001L))
    t.merge(deltaBatch.toDF("id", "v", "op", "ord"), opCol = Some("op"),
      orderCol = Some("ord"), delta = true)
    deltaBatch.sortBy(_._4).foreach { case (k, v, op, _) =>
      model = if (op == "d") model - k else model + (k -> v.toDouble) }
    check("delta-merge", bucketsOf(deltaBatch.map(_._1)))

    // merge-on-write: rewrites the touched buckets, absorbing their deltas
    val mergeBatch = (1L to 200L).map(i => (i * 11, i, if (i % 5 == 0) "d" else "u"))
    t.merge(mergeBatch.toDF("id", "v", "op"), opCol = Some("op"))
    mergeBatch.foreach { case (k, v, op) =>
      model = if (op == "d") model - k else model + (k -> v.toDouble) }
    check("merge", bucketsOf(mergeBatch.map(_._1)) & bucketsOf(model.keys))

    val lateDelta = (1L to 40L).map(i => (i * 13, -i))
    t.merge(longs(lateDelta), delta = true)
    model ++= lateDelta.map { case (k, v) => k -> v.toDouble }
    val deep = t.currentSnapshot.get.files.groupBy(_.bucket)
      .collect { case (b, fs) if fs.size > 1 => b }.toSet
    assert(t.compact() === deep.size)
    check("compact", deep)

    t.rebucket(8)
    assert(t.currentSnapshot.get.numBuckets === 8)
    check("rebucket(8)", bucketsOf(model.keys))

    t.merge(longs((1L to 30L).map(i => (i * 17, i))), delta = true)
    model ++= (1L to 30L).map(i => (i * 17) -> i.toDouble)
    t.rewriteData()
    check("rewriteData", bucketsOf(model.keys))

    t.evolveSchema(StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType))))
    assert(t.schema("v").dataType === DoubleType)
    check("evolveSchema long->double", bucketsOf(model.keys))

    val replaced = (1L to 1500L).map(i => (i * 3, i * 0.5))
    t.overwrite(replaced.toDF("id", "v"))
    model = replaced.toMap
    check("overwrite", bucketsOf(model.keys))

    val maxRows = 40L
    t.cluster(Seq("v"), maxRowsPerFile = maxRows)
    val rowsIn = model.keys.groupBy(k => t.bucketFor(Map("id" -> k)).get)
      .map { case (b, ks) => b -> ks.size }
    check("cluster", rowsIn.keySet,
      b => ((rowsIn(b) + maxRows - 1) / maxRows).toInt)
  }
}
