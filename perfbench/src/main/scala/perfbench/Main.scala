package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.FileScan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQuery

import graft.store.SnapshotLog
import graft.streaming.Topic

/** One benchmark run: set up a workload's pipeline several times, bring
  * the last one to its steady state, time SQL reads of that state, commit
  * a warm-up batch, drive the writer
  * in a closed loop for `--seconds` (with a paced reader beside it where
  * the workload has one), verify every table against the generator's model
  * and write the raw facts of the run as JSON to `--out`. `run.py` turns
  * them into metrics.
  *
  * {{{
  *   Main --workload W --seed N --seconds S --trace 0|1 --out FILE --work DIR
  *        [--corrupt-model]
  * }}}
  *
  * With `--trace 1`, the timed reads and even-numbered commits are traced:
  * the job and progress recorders are attached around them (and the store
  * probed after the commit), while odd-numbered commits run with no
  * recorder attached, so the run also measures its own tracing overhead.
  */
object Main extends AdaptiveSparkPlanHelper {

  /** A workload: how to build its pipeline, and how it is driven. */
  final case class Workload(
      pipeline: (SparkSession, Path, String, Long) => Pipeline,
      liveReadsPerSecond: Double) // > 0: a paced reader runs beside the writer

  val workloads: Map[String, Workload] = Map(
    // 50k preloaded keys; 50k Zipf-keyed raw-JSON records per commit into
    // the default merge-on-write job, so every commit rewrites a table of
    // the same size
    "ingest_bulk" -> Workload(
      (s, w, ns, seed) => new IngestPipeline(s, w, ns, seed, keySpace = 50000,
        zipfS = 0.9, batchRows = 50000, preloadKeys = 50000, delta = false,
        compactEvery = 0),
      liveReadsPerSecond = 0),
    // ~200 Debezium events per commit through CdcJob into two tables
    "cdc_small" -> Workload(
      (s, w, ns, seed) => new CdcPipeline(s, w, ns, seed, snapshotPerTable = 500,
        batchEvents = 200),
      liveReadsPerSecond = 0),
    // 50k preloaded keys, 500-row merge-on-read commits, a paced SQL reader
    "read_while_ingest" -> Workload(
      (s, w, ns, seed) => new IngestPipeline(s, w, ns, seed, keySpace = 55000,
        zipfS = 0, batchRows = 500, preloadKeys = 50000, delta = true, compactEvery = 6),
      liveReadsPerSecond = 0.2))

  private val commitStallMs = 60000L
  private val setupRounds = 3 // start the job, commit the preload
  // untimed passes over the read classes until this much time has passed:
  // a query's first runs in a JVM get faster for several passes while
  // the JIT compiles it
  private val warmReadMs = 3000.0
  // timed passes of the set-up state: at least this many, and more until
  // this much time has passed, so that cheap reads get the samples their
  // shorter, noisier latencies need
  private val quietPasses = 4
  private val quietReadMs = 5000.0
  private val warmupCommits = 1 // after the timed reads, before the loop

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val name = opt("--workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val record = new Run(name, wl, opt("--seed").toLong, opt("--seconds").toInt,
      opt("--trace") == "1", Paths.get(opt("--work")), args.contains("--corrupt-model")).go()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(opt("--out")).toFile, record)
  }

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val (wall0, nano0) = (System.currentTimeMillis(), System.nanoTime())
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  /** Files the plan's scans read (the scan node's file count). */
  def filesRead(plan: SparkPlan): Long = collectWithSubqueries(plan) {
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case b: BatchScanExec => b.scan match {
      case f: FileScan => f.fileIndex.inputFiles.length.toLong
      case _ => 0L
    }
  }.sum

  final class Run(name: String, wl: Workload, seed: Long, seconds: Int, trace: Boolean,
      work: Path, corrupt: Boolean) {
    private val cpus = Runtime.getRuntime.availableProcessors()
    private val t0 = now()
    val spark: SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // the writer and the reader schedule from pools of their own, as a
      // query engine beside an ingest job would, instead of queueing
      // behind each other's jobs
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", work.resolve("wh").toString)
      .getOrCreate()
    private val sessionMs = now() - t0
    spark.sparkContext.setLogLevel("WARN")
    private val sc = spark.sparkContext
    private val jobs = new JobRecorder
    private val progress = new ProgressRecorder
    // odd while the recorders are attached
    private val epoch = new AtomicInteger

    private val commits = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val reads = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val errors = mutable.ArrayBuffer.empty[String]
    private val watchdog = Executors.newSingleThreadScheduledExecutor()
    private def error(e: String): Unit = errors.synchronized(errors += e)

    /** Tag the jobs this thread (and any query it starts) launches. */
    private def client(name: String): Unit = {
      sc.setLocalProperty(JobRecorder.Client, name)
      sc.setLocalProperty("spark.scheduler.pool", name)
    }

    /** Attach the recorders (traced runs only). */
    private def attach(): Unit = if (trace) {
      sc.addSparkListener(jobs)
      spark.streams.addListener(progress)
      epoch.incrementAndGet()
    }

    /** Detach the recorders once they hold the progress of `batch` (a
      * query run and batch id) and every event queued so far.
      */
    private def detach(batch: Option[(String, Long)]): Unit = if (trace) {
      batch.foreach { case (run, id) => progress.await(run, id, 10000L) }
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
      epoch.incrementAndGet()
    }

    /** Append one batch and wait until the snapshot holding it is
      * committed; a commit that throws or outlives the stall limit stops
      * the query and returns false.
      */
    private def commit(q: StreamingQuery, topic: String,
        lines: Seq[String]): (Double, Double, Double, Boolean) = {
      val stall = watchdog.schedule(new Runnable { def run(): Unit = q.stop() },
        commitStallMs, TimeUnit.MILLISECONDS)
      val t0 = now()
      Topic.appendLines(topic, lines)
      val tA = now()
      val ok = try { q.processAllAvailable(); q.isActive } catch {
        case e: Exception => error(s"commit: $e"); false
      }
      val t1 = now()
      stall.cancel(false)
      (t0, tA, t1, ok)
    }

    def go(): Map[String, Any] = try {
      // set-up rounds: same seed, fresh namespace each; the last one runs on
      val roundMs = mutable.ArrayBuffer.empty[Double]
      var pipe: Pipeline = null
      var q: StreamingQuery = null
      for (r <- 1 to setupRounds) {
        if (q != null) q.stop()
        val start = now()
        pipe = wl.pipeline(spark, work, s"r$r", seed)
        client("writer")
        Topic.appendLines(pipe.topic, pipe.preload)
        q = pipe.start()
        q.processAllAvailable()
        roundMs += now() - start
      }
      def setupCommits(n: Int): Double = {
        val start = now()
        for (_ <- 1 to n)
          require(commit(q, pipe.topic, pipe.next())._4, s"set-up commit failed: $errors")
        now() - start
      }
      // bring the table to the state the writer keeps it in, so the timed
      // reads and the `asof` version see it rather than the bare preload
      val settleMs = setupCommits(pipe.settleCommits)
      pipe.pin()

      // reads of the pinned set-up state while the query idles, so every run
      // reads the same table
      val rnd = new java.util.Random(seed ^ 0x5eed)
      val classes = Pipeline.ReadClasses
      def passes(phase: String, min: Int, ms: Double): Unit = {
        val start = now()
        var n = 0
        while (n < min * classes.size || n % classes.size != 0 || now() - start < ms) {
          read(pipe.read(classes(n % classes.size), rnd, live = false), phase, n, now())
          n += 1
        }
      }
      client("reader")
      passes("warmup", 1, warmReadMs)
      attach()
      passes("quiet", quietPasses, quietReadMs)
      detach(None)
      client("writer")

      // the first commits of a fresh JVM, and the first after the reads,
      // run slow: absorb them in set-up
      val warmupMs = setupCommits(warmupCommits)
      var batches = 1 + pipe.settleCommits + warmupCommits

      val loopStart = now()
      val deadline = loopStart + seconds * 1000.0
      // reads fall due mid-period and are rare enough that most commits run
      // without one, so the writer's median stays clear of the commits a
      // read slows; the class sequence starts at a seeded class, so that
      // across seeds every class is read beside the writer
      val reader = if (wl.liveReadsPerSecond > 0) Some(new Thread(() => {
        client("reader")
        val first = Math.floorMod(seed, classes.size.toLong).toInt
        var j = 0
        def due = loopStart + (j + 0.5) * 1000.0 / wl.liveReadsPerSecond
        while (due < deadline) {
          val wait = due - now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          read(pipe.read(classes((first + j) % classes.size), rnd, live = true), "live", j, due)
          j += 1
        }
      })) else None
      reader.foreach(_.start())

      var i = 0
      var failed = false
      while (!failed && now() < deadline) {
        val traced = trace && i % 2 == 0
        val lines = pipe.next()
        val bytes = lines.iterator.map(_.length + 1L).sum
        if (traced) attach()
        val (t0, tA, t1, ok) = commit(q, pipe.topic, lines)
        if (traced) detach(if (ok) Some(q.runId.toString -> batches.toLong) else None)
        failed = !ok
        val c = mutable.LinkedHashMap[String, Any]("i" -> i, "rows" -> lines.size, "bytes" -> bytes,
          "t0_ms" -> t0, "append_end_ms" -> tA, "t1_ms" -> t1, "ok" -> ok,
          "traced" -> traced, "run_id" -> q.runId.toString, "batch_id" -> batches,
          "compaction" -> pipe.compacts(batches))
        if (traced && ok) c ++= storeProbe(pipe)
        commits += c.toMap
        batches += 1
        i += 1
      }
      reader.foreach(_.join())
      q.stop()

      if (corrupt) pipe.corruptModel()
      val mismatches = pipe.verify()
      Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "cpus" -> cpus, "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "session_ms" -> sessionMs, "setup_round_ms" -> roundMs.toSeq,
        "settle_ms" -> settleMs, "warmup_ms" -> warmupMs,
        "commits" -> commits.toSeq.map(withProgress), "reads" -> reads.toSeq,
        "jobs" -> jobs.records,
        "mismatches" -> mismatches, "errors" -> errors.synchronized(errors.toSeq))
    } finally {
      watchdog.shutdownNow()
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }

    private def withProgress(c: Map[String, Any]): Map[String, Any] =
      progress.get(c("run_id").toString, c("batch_id").asInstanceOf[Int].toLong)
        .map(p => c + ("progress" -> p)).getOrElse(c)

    /** Manifest and layout facts after a traced commit (outside its window). */
    private def storeProbe(pipe: Pipeline): Map[String, Any] = {
      val perTable = pipe.tablePaths.map { path =>
        val t = now()
        val snap = SnapshotLog.current(path).get
        val readMs = now() - t
        val versions = SnapshotLog.listVersions(path)
        val manifest = SnapshotLog.snapshotsDir(path).resolve(f"v${versions.last}%08d.json")
        (readMs, Files.size(manifest), snap.files.size,
          snap.files.count(_.kind == "delta"), versions.size)
      }
      Map("manifest_read_ms" -> perTable.map(_._1).sum,
        "manifest_bytes" -> perTable.map(_._2).sum,
        "files" -> perTable.map(_._3).sum, "delta_files" -> perTable.map(_._4).sum,
        "versions" -> perTable.map(_._5).sum,
        "topic_files" -> {
          val ls = Files.list(Paths.get(pipe.topic))
          try ls.iterator().asScala.count(_.toString.endsWith(".jsonl")) finally ls.close()
        })
    }

    /** One SQL read, timed from `due`; plan time is forcing the physical
      * plan, execution is collecting the rows. The read is traced when the
      * recorders were attached throughout it.
      */
    private def read(r: Read, phase: String, j: Int, due: Double): Unit = {
      val span = s"$phase-read-$j"
      sc.setLocalProperty(JobRecorder.Span, span)
      val e0 = epoch.get
      val start = now()
      var planEnd = start
      var plan: SparkPlan = null
      // "wrong": rows disagree with the model; "failed": the read threw
      val (outcome, message) = try {
        val df = spark.sql(r.sql)
        plan = df.queryExecution.executedPlan
        planEnd = now()
        r.check(df.collect()).map("wrong" -> _).getOrElse("ok" -> "")
      } catch { case e: Exception => "failed" -> s"${r.cls}: $e" }
      val end = now()
      sc.setLocalProperty(JobRecorder.Span, null)
      val traced = e0 % 2 == 1 && epoch.get == e0
      // after the timed window: listing a scan's files can touch storage
      val files = if (traced && plan != null) filesRead(plan) else 0L
      if (message.nonEmpty) error(message)
      reads.synchronized {
        reads += Map("phase" -> phase, "cls" -> r.cls, "span" -> span, "due_ms" -> due,
          "start_ms" -> start, "plan_end_ms" -> planEnd, "end_ms" -> end,
          "outcome" -> outcome, "traced" -> traced, "files_read" -> files)
      }
    }
  }
}
