package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The writer reports what it wrote: every commit's manifest entries
  * come from its write tasks, so they carry exactly the footer bounds
  * and lookup blooms a re-read of the new files gives, blooms cost no
  * Spark job of their own, and a write that fails publishes nothing
  * and leaves no file behind.
  */
class WriterReportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("v", LongType), StructField("user_id", LongType),
    StructField("email", StringType)))

  /** A 16-bucket table; `lookups` is declared at create and persists
    * in the manifest. */
  private def table(prefix: String, lookups: String = ""): UpsertTable = {
    val t = UpsertTable(spark, Files.createTempDirectory(prefix).toString)
    if (lookups.nonEmpty) spark.conf.set(UpsertTable.LookupBloomsConf, lookups)
    try t.create(schema, Seq("id"), numBuckets = 16)
    finally spark.conf.unset(UpsertTable.LookupBloomsConf)
    t
  }

  /** Rows (id, v, user_id, email) for `ids`; a tenth of user_id and a
    * seventh of email null. */
  private def rows(ids: Seq[Long], salt: Long): DataFrame =
    ids.map { i =>
      (i, i * 10 + salt, if (i % 10 == 0) None else Some(i / 3),
        if (i % 7 == 0) None else Some(s"u${i / 3}@example.com"))
    }.toDF("id", "v", "user_id", "email")

  test("lookup blooms cost no Spark job") {
    val plain = table("graft-wr-plain")
    val bloomed = table("graft-wr-bloomed", "email")
    assert(bloomed.currentSnapshot.get.lookupCols === Seq("email"))
    val both = Seq(plain, bloomed)
    both.foreach(_.merge(rows(1L to 2000L, 0L)))
    def jobs(step: String)(commit: UpsertTable => Unit): Unit = {
      val Seq(p, b) = both.map(t => TestSpark.jobsDuring(commit(t)))
      assert(p.size === b.size,
        s"$step: without blooms ${p.mkString(" | ")}; with ${b.mkString(" | ")}")
    }
    jobs("merge-on-write")(_.merge(rows((1L to 200L).map(_ * 9), 1L)))
    jobs("delta")(_.merge(rows((1L to 200L).map(_ * 11), 2L), delta = true))
    jobs("compact")(_.compact())
    assert(bloomed.currentSnapshot.get.files.forall(_.blooms.contains("email")))
  }

  test("every commit kind records what a re-read of its files gives") {
    val t = table("graft-wr-kinds", "user_id,email")
    val lookups = Seq("user_id", "email")
    val conf = spark.sessionState.newHadoopConf()

    /** Every fresh entry of the commit just made: stats equal its
      * footer, each bloom equals the one its values give, and the
      * entries are ordered by (bucket, path). */
    def check(step: String): Unit = {
      val snap = t.currentSnapshot.get
      val fresh = snap.files.filter(_.path.startsWith(s"data/v${snap.version}-"))
      assert(fresh.nonEmpty, step)
      assert(fresh === fresh.sortBy(f => (f.bucket, f.path)), s"$step: order")
      // one read of the fresh files; a file is named by its bucket
      // directory and file name, which are unique within a commit
      def tail(p: String): String = p.split('/').takeRight(2).mkString("/")
      val values = spark.read.parquet(fresh.map(f => s"${t.location}/${f.path}"): _*)
        .select((input_file_name() +: lookups.map(col)): _*)
        .collect().groupBy(r => tail(new java.net.URI(r.getString(0)).getPath))
      fresh.foreach { f =>
        val footer = FileStats.collect(conf, s"${t.location}/${f.path}", snap.schema)
        assert(footer.exists(_._2.nonEmpty) && f.stats === footer.get._2,
          s"$step: ${f.path} stats")
        lookups.zipWithIndex.foreach { case (c, i) =>
          val vs = values.getOrElse(tail(f.path), Array.empty[org.apache.spark.sql.Row])
            .map(_.get(i + 1)).filter(_ != null)
          val built = BloomFilter.create(math.max(vs.length, 64).toLong, 0.01)
          vs.foreach {
            case l: java.lang.Long => built.putLong(l)
            case s: String => built.putString(s)
          }
          val stored = BloomFilter.readFrom(new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(f.blooms(c))))
          assert(stored == built, s"$step: ${f.path} / $c")
        }
      }
    }

    t.merge(rows(1L to 2000L, 0L))
    check("first merge")
    val deltaIds = (1L to 300L).map(_ * 7)
    t.merge(rows(deltaIds, 1L).withColumn("op",
        when(col("id") % 70 === 0, "d").otherwise("u")),
      opCol = Some("op"), delta = true)
    check("delta-merge")
    t.merge(rows((1L to 200L).map(_ * 11), 2L))
    check("merge")
    t.merge(rows((1L to 40L).map(_ * 13), 3L), delta = true)
    assert(t.compact() > 0)
    check("compact")
    t.rebucket(8)
    check("rebucket(8)")
    t.merge(rows((1L to 30L).map(_ * 17), 4L), delta = true)
    t.rewriteData()
    check("rewriteData")
    t.evolveSchema(schema.copy(fields = schema.fields.map(f =>
      if (f.name == "v") f.copy(dataType = DoubleType) else f)))
    assert(t.schema("v").dataType === DoubleType)
    check("evolveSchema long->double")
    t.overwrite(rows((1L to 1500L).map(_ * 3), 5L)
      .withColumn("v", col("v").cast(DoubleType)))
    check("overwrite")
    // ~190 rows per bucket in 8 buckets: each bucket splits into
    // several files inside one write task
    t.cluster(Seq("v"), maxRowsPerFile = 60L)
    val snap = t.currentSnapshot.get
    assert(snap.files.groupBy(_.bucket).forall(_._2.size > 1))
    check("cluster")
  }

  test("a failed write publishes nothing and leaves no file behind") {
    val t = table("graft-wr-fail")
    t.merge(rows(1L to 2000L, 0L))
    var model = t.read().collect().toSet
    val bad = 707L
    val boom = udf { (id: Long, v: Long) =>
      if (id == bad) throw new IllegalStateException(s"boom at $id")
      v
    }

    /** `commit` fails: no version, reads unchanged, and after orphan GC
      * no `.parquet` anywhere under data/ that no manifest names. */
    def failsCleanly(step: String)(commit: => Unit): Unit = {
      val before = t.currentSnapshot.get.version
      val e = intercept[Exception](commit)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("boom")), s"$step: $e")
      assert(t.currentSnapshot.get.version === before, step)
      assert(t.read().collect().toSet === model, step)
      t.removeOrphanFiles(olderThanMs = -1, allowShortRetention = true)
      val live = SnapshotLog.listVersions(t.location)
        .flatMap(v => SnapshotLog.read(t.location, v).files.map(_.path)).toSet
      val root = Paths.get(t.location)
      val stray = Files.walk(root.resolve("data")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString).filterNot(live).toList
      assert(stray.isEmpty, s"$step: $stray")
    }

    Seq(true, false).foreach { delta =>
      val step = if (delta) "delta merge" else "merge-on-write"
      val batch = rows((1L to 300L).map(_ * 7), if (delta) 1L else 2L)
        .withColumn("ord", col("id"))
      // repartitioned, so the UDF runs in a task rather than being
      // folded into the local relation on the driver
      failsCleanly(s"$step, throwing UDF") {
        t.merge(batch.repartition(4).withColumn("v", boom(col("id"), col("v"))),
          orderCol = Some("ord"), delta = delta)
      }
      if (delta) failsCleanly(s"$step, task failing after others committed") {
        FailingCommitProtocol.armed = true
        spark.conf.set("spark.sql.sources.commitProtocolClass",
          classOf[FailingCommitProtocol].getName)
        try t.merge(batch, orderCol = Some("ord"), delta = delta)
        finally {
          spark.conf.unset("spark.sql.sources.commitProtocolClass")
          FailingCommitProtocol.armed = false
        }
      }
      t.merge(batch, orderCol = Some("ord"), delta = delta)
      val written = batch.drop("ord").collect()
      model = model.filterNot(r => written.exists(_.getLong(0) == r.getLong(0))) ++ written
      assert(t.read().collect().toSet === model, s"$step: retry")
    }
  }
}

/** Commits each write task's files, then fails the task of partition 1
  * while armed — so other tasks of the job have already committed. */
class FailingCommitProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val msg = super.commitTask(ctx)
    if (FailingCommitProtocol.armed && ctx.getTaskAttemptID.getTaskID.getId == 1)
      throw new IllegalStateException("boom: task 1 failed after its commit")
    msg
  }
}

object FailingCommitProtocol {
  @volatile var armed = false
}
