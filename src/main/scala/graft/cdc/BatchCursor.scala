package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The CDC sink's CROSS-TABLE consistency cursor: one record per fully
  * committed micro-batch, mapping every table the sink has ever
  * touched to the version that table reached when the batch completed.
  *
  * [[CdcSink.applyBatch]] commits a batch's tables concurrently (each
  * merge atomic and replay-guarded per table, none ordered against
  * another); a crash, or one table's failure, mid-batch therefore
  * leaves sibling tables at DIFFERENT batchIds until restart replays —
  * transient and self-healing, but a reader joining across tables in
  * that window would observe a torn batch. The cursor closes the
  * window: it is written ONLY after every table of the batch has
  * committed, so the latest cursor always names a point where all
  * tables are mutually consistent, and
  * [[CdcSink.readConsistent]] serves each table AS OF its recorded
  * version (an ordinary pinned time-travel scan — identical cost to
  * any versioned read).
  *
  * Crash analysis, replay-driven like the q180 packed cursor:
  *  - crash or failure before EVERY table has committed → cursor
  *    still names the previous batch; restart replays the batch
  *    (committed tables no-op on the batchId guard, the rest catch
  *    up), then the cursor advances with the post-replay versions —
  *    which ARE the batch's versions, since no-op replays do not
  *    re-commit;
  *  - crash AFTER the cursor write → the whole replay is a no-op and
  *    the cursor write is atomic-exclusive (hard-link publish, the
  *    [[graft.store.Snapshot.commit]] idiom), so the existing record
  *    is kept untouched.
  * Tables untouched by a batch carry forward from the previous cursor,
  * so the consistent view always covers every table the sink manages.
  */
case class BatchCursor(batchId: Long, versions: Map[String, Long])

object BatchCursor {

  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def dir(warehouseDir: String): Path =
    Paths.get(warehouseDir, "cdc", "_consistent")

  private def normalize(c: BatchCursor): BatchCursor =
    // Long erases to Object in the Map's generic signature; Jackson
    // materializes small values as Integer (the Snapshot.committed
    // precedent) — normalize
    c.copy(versions = (c.versions: Map[String, Any]).map { case (k, v) =>
      k -> v.asInstanceOf[Number].longValue() })

  /** Latest fully-committed cursor, if any batch has completed. */
  def latest(warehouseDir: String): Option[BatchCursor] =
    graft.Fs.children(dir(warehouseDir))
      .filter(_.getFileName.toString.matches("b\\d{20}\\.json"))
      .sortBy(_.getFileName.toString)
      .lastOption
      .map(p => normalize(
        mapper.readValue(Files.readAllBytes(p), classOf[BatchCursor])))

  /** Publish the cursor for a completed batch: previous table→version
    * map carried forward, this batch's versions layered on top,
    * hard-link atomic-exclusive publish. A replay of an
    * already-published batch is a NO-OP (the record on disk is the
    * truth from the run that completed first).
    */
  def commit(warehouseDir: String, batchId: Long,
      tableVersions: Map[String, Long]): Unit = {
    val d = dir(warehouseDir)
    Files.createDirectories(d)
    val target = d.resolve(f"b$batchId%020d.json")
    if (Files.exists(target)) return
    val merged = latest(warehouseDir).map(_.versions).getOrElse(Map.empty) ++
      tableVersions
    val tmp = Files.createTempFile(d, f".b$batchId%020d", ".tmp")
    Files.write(tmp, mapper.writeValueAsString(
      BatchCursor(batchId, merged)).getBytes(StandardCharsets.UTF_8))
    try Files.createLink(target, tmp)
    catch {
      // lost a publish race (or replayed past a crash-after-cursor):
      // the first writer's record stands
      case _: java.nio.file.FileAlreadyExistsException => ()
    } finally Files.deleteIfExists(tmp)
  }
}
