package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool: run named SparkEntry queries against the noop sink and
  * print per-query EXECUTION-BEHAVIOR totals from the listener bus —
  * input bytes/records, shuffle write bytes, job/stage/task counts,
  * summed task CPU time. Unlike wall-clock these are (nearly)
  * insensitive to external sandbox load, so they distinguish a real
  * plan improvement (fewer bytes scanned / shuffled, fewer stages)
  * from measurement noise — the evidence layer under the Bench
  * numbers when the shared host is in a noisy window.
  *
  * `sbt "runMain graft.Profile q136_triangle_count"` (env:
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val inputBytes = new AtomicLong; val inputRecs = new AtomicLong
    val shufWrite = new AtomicLong; val shufRead = new AtomicLong
    val cpuNs = new AtomicLong; val tasks = new AtomicInteger
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          inputBytes.addAndGet(m.inputMetrics.bytesRead)
          inputRecs.addAndGet(m.inputMetrics.recordsRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          cpuNs.addAndGet(m.executorCpuTime)
        }
        tasks.incrementAndGet(); ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
    }
    for (q <- args) {
      // reset, attach, run, drain, report
      inputBytes.set(0); inputRecs.set(0); shufWrite.set(0); shufRead.set(0)
      cpuNs.set(0); tasks.set(0); jobs.set(0); stages.set(0)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val err =
        try {
          SparkEntry.queries(q)(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); ""
        } catch { case e: Throwable => e.getClass.getSimpleName }
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async: drain before reading the counters
      org.apache.spark.GraftSparkShims.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      println(f"""{"query":"$q","input_mb":${inputBytes.get / 1e6}%.1f,"input_recs":${inputRecs.get},"shuffle_write_mb":${shufWrite.get / 1e6}%.2f,"shuffle_read_mb":${shufRead.get / 1e6}%.2f,"cpu_sec":${cpuNs.get / 1e9}%.2f,"tasks":${tasks.get},"stages":${stages.get},"jobs":${jobs.get},"wall_sec":$wall%.2f,"err":"$err"}""")
    }
    spark.stop()
  }
}
