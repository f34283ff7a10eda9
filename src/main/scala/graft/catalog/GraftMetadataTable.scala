package graft.catalog

import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.store.SnapshotLog

/** Read-only metadata tables over a store table's manifest log — the
  * Iceberg `t.snapshots` / `t.files` introspection surface (reference
  * snapshot_mgmt.py inspects exactly this state before expiring).
  * Served as a [[LocalScan]]: the manifest list is driver-resident and
  * bounded by retention, so shipping it through executors would only
  * add overhead.
  */
private[catalog] class GraftMetadataTable(
    tableName: String,
    tableSchema: StructType,
    rowsFn: () => Array[InternalRow]) extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = tableSchema
        override def rows(): Array[InternalRow] = rowsFn()
      }
    }
}

private[catalog] object GraftMetadataTable {

  private val SnapshotsSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("num_buckets", IntegerType, nullable = false),
    StructField("num_files", IntegerType, nullable = false),
    StructField("key_cols", StringType, nullable = false),
    StructField("schema", StringType, nullable = false)))

  private val FilesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))

  /** One row per live snapshot, oldest first. */
  def snapshots(name: String, tableRoot: String): GraftMetadataTable =
    new GraftMetadataTable(name, SnapshotsSchema, () =>
      SnapshotLog.listVersions(tableRoot).map { v =>
        val s = SnapshotLog.read(tableRoot, v)
        new GenericInternalRow(Array[Any](
          s.version,
          UTF8String.fromString(s.operation),
          s.timestampMs * 1000L, // TimestampType carries epoch micros
          s.numBuckets,
          s.files.size,
          UTF8String.fromString(s.keyCols.mkString(",")),
          UTF8String.fromString(s.schema.toDDL))): InternalRow
      }.toArray)

  /** One row per data file of the CURRENT snapshot. */
  def files(name: String, tableRoot: String): GraftMetadataTable =
    new GraftMetadataTable(name, FilesSchema, () =>
      SnapshotLog.current(tableRoot).toSeq.flatMap(_.files).map { f =>
        val p = Paths.get(tableRoot, f.path)
        val size = if (Files.exists(p)) Files.size(p) else 0L
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(f.path), f.bucket, size)): InternalRow
      }.toArray)
}
