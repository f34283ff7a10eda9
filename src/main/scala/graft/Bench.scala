package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftSparkShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Benchmark main. Prints ONE JSON line:
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Contention-proofing: the sandbox this runs in is shared, and a
  * co-running workload once inflated the official record 8× (a <2 s
  * query recorded at 78 s). Each query therefore runs `SPARK_GRAFT_REPS`
  * times (default 3) and reports the per-query MIN — the steady-state
  * cost of the plan, which external load can only inflate, never
  * deflate. Repeats are whole-suite passes (not back-to-back), so a
  * transient load spike can't poison all repeats of one query.
  *
  * Noise retries: a query whose FASTEST `reps` samples still spread
  * more than 3× was load-poisoned — up to `SPARK_GRAFT_NOISE_RETRIES`
  * (default 2) extra passes re-run just those queries; calm samples
  * displace the poisoned ones from the fastest set. Queries still
  * spread-noisy after retries land in `load_warning` — persistent
  * contention, not the code.
  *
  * Each query's fastest rep also records its execution counters —
  * input bytes, shuffle read/write bytes, task CPU, jobs and stages —
  * in the full record file. Unlike wall-clock they are (nearly)
  * insensitive to external load, so they tell a real plan change
  * (fewer bytes scanned or shuffled, fewer stages) from noise.
  *
  * Exits 1, after writing the record and printing its lines, when any
  * query failed.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup at the smallest SF: JIT + codegen + reader init
    // land here instead of inflating whichever query runs first
    // optional comma-separated query filter (dev tooling: time a
    // single query without the whole suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def selected(n: String): Boolean = only.forall(_.contains(n))
    val warmupDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir) {
      SparkEntry.queries.foreach { case (name, fn) =>
        if (selected(name))
          try fn(spark, warmupDir).write.format("noop").mode("overwrite").save()
          catch { case _: Throwable => () }
      }
    }
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(selected)
    require(names.nonEmpty,
      s"SPARK_GRAFT_ONLY=${sys.env.getOrElse("SPARK_GRAFT_ONLY", "")} " +
        "matches no query — check the names against SparkEntry.queries")
    // input, shuffle read, shuffle write bytes, task CPU ns, jobs, stages
    val counters = Seq.fill(6)(new AtomicLong)
    val Seq(inBytes, shufRead, shufWrite, cpuNs, jobs, stages) = counters
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(t.taskMetrics).foreach { m =>
          inBytes.addAndGet(m.inputMetrics.bytesRead)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          cpuNs.addAndGet(m.executorCpuTime)
        }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    // query -> (seconds, counters) of its fastest successful rep
    val profile = scala.collection.mutable.Map.empty[String, (Double, Seq[Long])]
    // a failed rep records +Inf, never its (near-zero) failure time —
    // min-reporting must not let broken code improve the record
    def timeOne(name: String): Double = {
      counters.foreach(_.set(0))
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      // noop sink: fully executes the physical plan (sorts, projections,
      // exchanges) without Catalyst pruning it the way `.count()` would
      val t = try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => Double.PositiveInfinity }
      // the listener bus is async: drain it before reading the counters
      GraftSparkShims.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      if (!t.isInfinity && profile.get(name).forall(t < _._1))
        profile(name) = (t, counters.map(_.get))
      t
    }
    val acc = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    (1 to reps).foreach(_ => names.foreach(n => acc(n) :+= timeOne(n)))
    // spread over the FASTEST `reps` samples: extra calm passes push
    // load-poisoned outliers out of the window, so transient spikes
    // clear while persistent contention still warns
    def spreadNoisy(n: String): Boolean = {
      val ok = acc(n).filterNot(_.isInfinity).sorted.take(reps)
      ok.nonEmpty && ok.head > 0 && ok.last / ok.head > 3.0
    }
    val noiseRetries =
      sys.env.getOrElse("SPARK_GRAFT_NOISE_RETRIES", "2").toInt.max(0)
    var retry = 0
    while (retry < noiseRetries && names.exists(spreadNoisy)) {
      names.filter(spreadNoisy).foreach(n => acc(n) :+= timeOne(n))
      retry += 1
    }
    val failed = names.filter(n => acc(n).exists(_.isInfinity))
    val best = names.map { n =>
      val ok = acc(n).filterNot(_.isInfinity)
      n -> (if (ok.isEmpty) Double.PositiveInfinity else ok.min)
    }.toMap
    val noisy = names.filter(spreadNoisy)
    def fmt(d: Double): String = if (d.isInfinity) "\"failed\"" else d.toString
    val qs = names.map(n => "\"" + n + "\":" + fmt(best(n))).mkString("{", ",", "}")
    val total = best.values.filterNot(_.isInfinity).sum
    val warn =
      if (noisy.isEmpty) ""
      else ",\"load_warning\":" + noisy.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fail =
      if (failed.isEmpty) ""
      else ",\"failed\":" + failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def jstr(s: String): String = // minimal JSON string escape
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val prof = names.filter(profile.contains).map { n =>
      val Seq(in, sr, sw, cpu, j, st) = profile(n)._2
      s""""$n":{"input_bytes":$in,"shuffle_read_bytes":$sr,"shuffle_write_bytes":$sw,"task_cpu_ms":${cpu / 1000000},"jobs":$j,"stages":$st}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"queries":$qs$warn$fail,"profile":$prof,"sf":${jstr(sfDir)}}"""
    // Persist the FULL canonical record (every query, full-precision
    // seconds) to a file — the tracked BENCH_LOCAL.json copy is the
    // durable per-query record. Default under the build dir: a bare
    // `sbt runMain graft.Bench` from the repo root must never silently
    // clobber the TRACKED record (refreshing that is a deliberate copy)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "target/bench/BENCH_LOCAL.json")
    try {
      val p = java.nio.file.Paths.get(out)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write $out: $e") }
    // STDOUT LAYOUT CONTRACT — every line short enough to survive the
    // driver's capture. Two historical failure modes drive it:
    //   (a) a line-level cut around ~8 KB once chopped the full
    //       name-keyed map mid-JSON (BENCH_r06/r07 "parsed": null) —
    //       so NO stdout line here exceeds ~3 KB, and the line whose
    //       metric is "total" (the one a parser greps for) is a SHORT
    //       FLAT object, never the full map;
    //   (b) the round file keeps only a ~2 KB TAIL — so the last two
    //       lines are (values-only per-query ms record, short total),
    //       which together fit the tail with room to spare.
    def fmt3(d: Double): String =
      if (d.isInfinity) "\"failed\"" else f"$d%.3f"
    // 1) name-keyed per-query map in ~40-query chunk lines (~1.2 KB
    //    each, individually parseable) for full-stdout consumers
    names.grouped(40).zipWithIndex.foreach { case (chunk, i) =>
      val m = chunk.map(n => "\"" + n + "\":" + fmt3(best(n)))
        .mkString("{", ",", "}")
      println(s"""{"metric":"queries_chunk","chunk":$i,"n_chunks":${(names.size + 39) / 40},"queries":$m}""")
    }
    // 2) whole-suite values-only ms record (second-to-last; ~1.6 KB):
    //    names are implied by sorted-key order, guarded by names_md5
    //    (md5 of the comma-joined sorted names — reproducible from the
    //    repo or any CORRECTNESS file at the same commit); -1 = failed.
    //    Round-over-round comparison of EVERY query parses from the
    //    round file's tail alone.
    val msArr = names.map(n =>
      if (best(n).isInfinity) -1L else math.round(best(n) * 1000)).mkString("[", ",", "]")
    val namesMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(names.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    println(s"""{"metric":"bench_ms","n":${names.size},"names_md5":"$namesMd5","ms":$msArr}""")
    // 3) the canonical "total" line LAST: short, FLAT apart from a
    //    3-slowest headline map, always complete in the tail — this is
    //    the line a driver-side json parse should land on
    val slow = names.sortBy(n => -best(n).min(1e18)).take(3)
      .map(n => "\"" + n + "\":" + fmt3(best(n))).mkString("{", ",", "}")
    // value at ms precision and a terse note: this line + the full
    // bench_ms line + sbt's success line must all fit the ~2 KB tail
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","reps":$reps,"n_queries":${names.size},"n_failed":${failed.size},"queries":$slow,"queries_note":"3 slowest; full map in chunks + full_record"$warn$fail,"full_record":${jstr(out)},"sf":${jstr(sfDir)}}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
