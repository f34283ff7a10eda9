package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Traced runs only: per-job counters from the listener bus. Each job
  * carries the `perfbench.client` and `perfbench.span` local properties
  * of the thread that launched it (a streaming query's thread inherits
  * them from the thread that started it), so jobs are charged to the
  * writer or the reader, and reads to their own span.
  *
  * The recorder is attached to the bus only around traced commits and
  * reads, so untraced commits run without it.
  */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val client: String, val span: String) {
    @volatile var endMs = -1L
    var stages, tasks = 0
    var cpuNs, shuffleWriteBytes, inputBytes, outputBytes, outputRows = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val byStage = new ConcurrentHashMap[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new Job(e.jobId, e.time, prop(JobRecorder.Client), prop(JobRecorder.Span))
    jobs.put(e.jobId, j)
    e.stageIds.foreach(byStage.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(byStage.get(e.stageInfo.stageId)).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.outputRows += m.outputMetrics.recordsWritten
      }
    }

  def records: Seq[Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "client" -> j.client, "span" -> j.span, "stages" -> j.stages,
      "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
      "shuffle_write_bytes" -> j.shuffleWriteBytes,
      "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes,
      "output_rows" -> j.outputRows))
}

object JobRecorder {
  val Client = "perfbench.client"
  val Span = "perfbench.span"
}

/** Traced runs only: every micro-batch's progress (trigger start time,
  * the `durationMs` phases, input rows), keyed by query run and batch.
  */
final class ProgressRecorder extends StreamingQueryListener {
  private val batches = new ConcurrentHashMap[(String, Long), Map[String, Any]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      batches.put((p.runId.toString, p.batchId), Map(
        "trigger_start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }

  def get(runId: String, batchId: Long): Option[Map[String, Any]] =
    Option(batches.get((runId, batchId)))

  /** Wait up to `timeoutMs` for a batch's progress to arrive. */
  def await(runId: String, batchId: Long, timeoutMs: Long): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (get(runId, batchId).isEmpty && System.nanoTime() < deadline) Thread.sleep(2)
  }
}
