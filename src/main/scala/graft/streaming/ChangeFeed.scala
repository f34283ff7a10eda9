package graft.streaming

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.{SnapshotLog, StoreFileIndex, UpsertTable}

/** Streaming source over an [[UpsertTable]]'s change feed — the
  * "dynamic table" role at the heart of the reference (a continuously
  * updating relation downstream queries STAND ON,
  * flink_json_to_iceberg.py:96-119) and the Delta/Paimon
  * streaming-source analog: `spark.readStream` tails the row-level
  * changelog the table's delta-merge commits record, so a downstream
  * pipeline is a standing `StreamingQuery` instead of a self-scheduled
  * batch poll of [[UpsertTable.readChanges]].
  *
  * Offsets are SNAPSHOT VERSIONS: each micro-batch covers the
  * half-open version range `(start, end]`, planned from the SAME
  * delta-file evidence (and the same servability contract — expired or
  * non-delta data commits fail loudly, layout-only commits are
  * transparent) as the batch feed, via
  * [[UpsertTable.changeFeedEntries]]. Manifests are immutable, so a
  * replayed range plans the identical file set — with the engine's
  * offset log this gives exactly-once delivery across kill/restart
  * (proved in ChangeFeedStreamSpec), and a downstream
  * [[UpsertTable.merge]] carrying (streamId, batchId) is idempotent
  * even under post-commit crashes.
  *
  * Scale design: a micro-batch plans ONLY the delta files of its
  * version range — O(changed rows) per trigger on a 100 TB table, the
  * whole point of the feed. Rows are served by Spark's own DSv2
  * vectorized parquet `Batch` (one per micro-batch over a pinned file
  * list — the [[graft.catalog.GraftCatalog]] S7 scan shape), so
  * columnar reading, codegen and per-file parallelism are inherited,
  * not reimplemented. The raw source schema is the stream-start table
  * schema plus the delta metadata columns (`__op` raw source op,
  * `__seq` = commit version); [[ChangeFeed.readStream]] normalizes to
  * the documented feed contract (`_change_op` u/d, `_commit_version`)
  * declaratively, exactly like [[UpsertTable.readChanges]]. Additive
  * schema evolution inside the stream null-fills older files
  * (user-specified-schema parquet reads). Widenings differ from the
  * batch path: batch readChanges reads each commit under its own
  * schema and casts per-commit (alignTypes), while the stream reads
  * every delta file under the pinned stream-start schema — so only
  * widenings the vectorized parquet reader itself promotes (the
  * Spark 4 set: int→long, float→double, int→double, decimal scale-up)
  * are served; an exotic widening alignTypes could cast but parquet
  * cannot promote fails the stream loudly rather than silently
  * diverging (ChangeFeedStreamSpec pins the promotable set).
  */
class ChangeFeedProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = ChangeFeed.ShortName

  private def location(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      s"${ChangeFeed.ShortName} needs .option(\"path\", <table dir>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeFeed.rawSchema(SparkSession.active, location(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangeFeedTable(
      location(new CaseInsensitiveStringMap(properties)), schema)
}

private[streaming] class ChangeFeedTable(location: String,
    feedSchema: StructType) extends Table with SupportsRead {

  override def name(): String = s"${ChangeFeed.ShortName}(`$location`)"
  override def schema(): StructType = feedSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = feedSchema
        override def description(): String = name()
        override def toMicroBatchStream(checkpointLocation: String)
            : MicroBatchStream =
          new ChangeFeedStream(location, feedSchema,
            Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L))
      }
    }
}

/** One streaming run's offset tracker + per-batch scan planner. Not
  * thread-safe across concurrent batches — micro-batches of one
  * StreamingQuery execute sequentially (the engine's contract), and
  * `planInputPartitions` always runs before `createReaderFactory`
  * for the batch it planned.
  */
private[streaming] class ChangeFeedStream(location: String,
    feedSchema: StructType, startingVersion: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active
  private def store = UpsertTable(spark, location)

  private case class VersionOffset(v: Long) extends Offset {
    override def json(): String = v.toString
  }

  private def currentVersion: Long =
    SnapshotLog.current(location).map(_.version).getOrElse(startingVersion)

  // Trigger.AvailableNow contract: pin the end offset ONCE at query
  // start, drain up to it, terminate — commits landing mid-drain wait
  // for the next run (they are not lost: the offset log resumes there)
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(currentVersion)

  override def initialOffset(): Offset = VersionOffset(startingVersion)

  override def latestOffset(): Offset =
    VersionOffset(availableNowCap.getOrElse(currentVersion))

  // admission control (inherited via SupportsTriggerAvailableNow):
  // versions are drained whole — a commit is the feed's atomic unit
  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    latestOffset()

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)

  // the feed's retention is governed by snapshot expiry on the TABLE
  // (readChanges parity) — nothing to release per processed batch
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // the batch planned by the latest planInputPartitions call; its
  // reader factory serves that same micro-batch (sequential by the
  // engine's execution contract, see class doc)
  @volatile private var currentBatch: Batch = _

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val from = start.asInstanceOf[VersionOffset].v
    val to = end.asInstanceOf[VersionOffset].v
    val paths: Seq[String] =
      if (to <= from) Seq.empty
      else store.changeFeedEntries(from, to).flatMap { case (_, _, deltas) =>
        deltas.map(f => s"$location/${f.path}")
      }
    // Spark's own DSv2 parquet batch over the pinned file list (the
    // store's manifest-built index: no listing job): the files already
    // carry __op and __seq(=commit version) columns, so no per-row
    // custom reader is needed — vectorized reading and whole-stage
    // codegen come for free (the S7 batch-scan shape)
    currentBatch = new FeedScanBuilder(StoreFileIndex(spark, paths))
      .buildAll().toBatch
    currentBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    require(currentBatch != null,
      "createReaderFactory before planInputPartitions — engine contract violated")
    currentBatch.createReaderFactory()
  }

  /** Thin [[ParquetScanBuilder]] subclass that reads the full feed
    * schema with no pushdown (streaming consumers take the whole
    * changelog; filters apply above the scan).
    */
  private class FeedScanBuilder(index: StoreFileIndex)
      extends ParquetScanBuilder(spark, index, feedSchema, feedSchema,
        CaseInsensitiveStringMap.empty()) {
    def buildAll(): Scan = { pruneColumns(feedSchema); build() }
  }
}

object ChangeFeed {

  val ShortName = "graft-changes"

  /** Raw source schema: the table's CURRENT data columns plus the
    * delta metadata columns the files physically carry. Pinned when
    * the streaming DataFrame is defined (Delta's contract: a restart
    * picks up later evolution).
    */
  def rawSchema(spark: SparkSession, location: String): StructType = {
    val t = UpsertTable(spark, location)
    require(t.exists, s"change-feed source: table does not exist: $location")
    StructType(t.schema.fields ++ Seq(
      StructField(UpsertTable.OpCol, StringType),
      StructField(UpsertTable.SeqCol, LongType)))
  }

  /** The standing-stream twin of [[UpsertTable.readChanges]]: tail the
    * table's change feed as a streaming DataFrame with the SAME
    * columns and op contract as the batch feed — data columns +
    * `_change_op` (u/d) + `_commit_version`.
    *
    * @param startingVersion exclusive low-water mark; 0 (default)
    *                        replays the full retained feed
    */
  def readStream(spark: SparkSession, location: String,
      startingVersion: Long = 0L): DataFrame = {
    val raw = spark.readStream.format(ShortName)
      .option("path", location)
      .option("startingVersion", startingVersion.toString)
      .load()
    val dataCols = raw.columns
      .filterNot(c => c == UpsertTable.OpCol || c == UpsertTable.SeqCol)
    raw.select(dataCols.map(col) :+
      when(col(UpsertTable.OpCol) === "d", "d").otherwise("u")
        .as("_change_op") :+
      col(UpsertTable.SeqCol).as("_commit_version"): _*)
  }
}
