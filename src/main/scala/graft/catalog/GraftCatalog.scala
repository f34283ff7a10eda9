package graft.catalog

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.{EqualTo, Filter, InsertableRelation}
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.store.{Snapshot, SnapshotLog, StoreFileIndex, UpsertTable}

/** SQL addressability for the upsert store (SURVEY.md §2.1 S7, §2.4
  * Q-d/Q-f): a `TableCatalog` + `SupportsNamespaces` over a warehouse
  * directory of [[UpsertTable]]s, so the reference's Trino-role
  * queries run verbatim in Spark SQL:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  *   SELECT * FROM graft.cdc.account_json ORDER BY ts DESC LIMIT 10
  *   SHOW TABLES IN graft.cdc
  *   CREATE TABLE graft.cdc.t (...) TBLPROPERTIES('keys'='user_id')
  * }}}
  *
  * Layout: `{warehouse}/{namespace...}/{table}` — each table dir is an
  * UpsertTable (data + `_snapshots`). Reads go through a V1Scan
  * relation with column pruning; writes go through the store's `merge`
  * API (the reference's query layer is likewise read-only — its writes
  * arrive via connectors).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    warehouse = Paths.get(wh)
    Files.createDirectories(warehouse)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** The warehouse directory `segments` name. Each passes the TVFs'
    * [[TvfResolve.requireSafe]] gate first, so no quoted `/abs` or `..`
    * segment can address (or drop) a directory outside the warehouse.
    */
  private def dirOf(segments: Array[String]): Path = {
    segments.foreach(TvfResolve.requireSafe(_, msg =>
      throw new IllegalArgumentException(s"catalog $catalogName: $msg")))
    segments.foldLeft(warehouse)(_.resolve(_))
  }

  private def tablePath(ident: Identifier): Path =
    dirOf(ident.namespace() :+ ident.name())

  private def isTableDir(p: Path): Boolean =
    Files.isDirectory(p.resolve("_snapshots"))

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = dirOf(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    graft.Fs.children(dir)
      .filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(tablePath(ident))

  /** The table pinned to its current snapshot: the query reads that
    * snapshot only; writes re-resolve inside [[UpsertTable.merge]]
    * (see [[GraftSqlTable]]).
    */
  override def loadTable(ident: Identifier): Table = {
    val p = tablePath(ident)
    val current = SnapshotLog.current(p.toString)
    if (current.nonEmpty)
      return new GraftSqlTable(ident, UpsertTable(spark, p.toString), current.get)
    // Iceberg-style metadata tables (`SELECT * FROM cat.ns.t.snapshots`)
    // — the snapshot_mgmt.py introspection role as SQL. Resolution:
    // the name itself is not a table, but its parent is.
    if (ident.namespace().nonEmpty && isTableDir(p.getParent)) {
      val tableRoot = p.getParent.toString
      ident.name() match {
        case "snapshots" =>
          return GraftMetadataTable.snapshots(ident.toString, tableRoot)
        case "files" =>
          return GraftMetadataTable.files(ident.toString, tableRoot)
        case _ => ()
      }
    }
    throw new NoSuchTableException(ident)
  }

  /** Time travel (`VERSION AS OF n`) — the Iceberg snapshot-read
    * analog over the store's manifest log (SURVEY.md §2.3 C6).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    new GraftSqlTable(ident, UpsertTable(spark, p.toString),
      SnapshotLog.read(p.toString, version.toLong))
  }

  /** Time travel (`TIMESTAMP AS OF t`) — Spark hands micros since
    * epoch; resolve to the newest snapshot committed at or before it.
    * The time-denominated twin of `VERSION AS OF`, matching the
    * reference's retention world (snapshot_mgmt.py:18 `'6h'`).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val loc = p.toString
    val tsMs = Math.floorDiv(timestamp, 1000L)
    val at = SnapshotLog.listVersions(loc).reverseIterator
      .map(SnapshotLog.read(loc, _))
      .find(_.timestampMs <= tsMs)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot of $ident committed at or before epoch ${tsMs} ms"))
    new GraftSqlTable(ident, UpsertTable(spark, loc), at)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val keys = Option(properties.get("keys")).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(throw new IllegalArgumentException(
        "CREATE TABLE requires TBLPROPERTIES('keys'='k1,k2') — the " +
          "PRIMARY KEY NOT ENFORCED analog (flink_json_to_iceberg.py:66)"))
    val buckets = Option(properties.get("buckets")).map(_.toInt).getOrElse(0)
    UpsertTable(spark, tablePath(ident).toString).create(schema, keys, buckets)
    loadTable(ident)
  }

  /** SQL schema evolution, routed through the store's evolve
    * semantics (the reference sink's evolve mode as DDL): `ADD
    * COLUMNS` appends nullable columns, `ALTER COLUMN … TYPE` widens
    * int→long / float→double. Both commit a manifest-only snapshot —
    * existing data files are served by cast-on-read, no rewrite.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = tablePath(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val store = UpsertTable(spark, p.toString)
    val target = changes.foldLeft(store.schema) { (sch, ch) => ch match {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "nested ADD COLUMN is not supported")
        StructType(sch.fields :+
          StructField(add.fieldNames()(0), add.dataType(), nullable = true))
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames.length == 1,
          "nested column types are not supported")
        val name = upd.fieldNames()(0)
        val cur = sch(name).dataType
        // only widenings are storable without rewriting history; evolve
        // rejects incompatible pairs, this rejects silent narrowing
        val widened = UpsertTable.evolve(
          StructType(Seq(StructField(name, cur))),
          StructType(Seq(StructField(name, upd.newDataType()))))._1.head.dataType
        require(widened == upd.newDataType(),
          s"ALTER COLUMN $name TYPE ${upd.newDataType().sql} does not widen ${cur.sql}")
        StructType(sch.fields.map(f =>
          if (f.name == name) f.copy(dataType = upd.newDataType()) else f))
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other")
    }}
    store.evolveSchema(target)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = tablePath(ident)
    if (!isTableDir(p)) false
    else {
      graft.Fs.deleteRecursively(p)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    Files.createDirectories(tablePath(newIdent).getParent)
    Files.move(tablePath(oldIdent), tablePath(newIdent))
  }

  // ---- SupportsNamespaces ----

  override def listNamespaces(): Array[Array[String]] =
    graft.Fs.children(warehouse)
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => Array(p.getFileName.toString))
      .toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = dirOf(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    graft.Fs.children(dir)
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(dirOf(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map(SupportsNamespaces.PROP_LOCATION ->
      dirOf(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    Files.createDirectories(dirOf(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata is immutable")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = dirOf(namespace)
    if (!Files.isDirectory(dir)) false
    else {
      val empty = graft.Fs.children(dir).isEmpty
      if (!empty && !cascade)
        throw new IllegalStateException(s"namespace not empty: ${namespace.mkString(".")}")
      graft.Fs.deleteRecursively(dir)
      true
    }
  }
}

/** DSv2 table over one [[UpsertTable]]: batch-readable via Spark's own
  * vectorized DSv2 parquet scan over the snapshot's file list (column
  * pruning and filter pushdown reach the parquet reader; whole-stage
  * codegen sees a columnar `BatchScan`, no `RDD[Row]` conversion),
  * batch-writable via `INSERT INTO` (each insert is an upsert merge —
  * the store's only write semantic, matching the reference's
  * `write.upsert.enabled` tables where INSERT replaces rows with equal
  * keys). Time travel and maintenance stay on the store API.
  *
  * Isolation: a query reads exactly `snapshot`, resolved once when the
  * catalog loaded the table (current, `VERSION AS OF` or `TIMESTAMP AS
  * OF`). Schema, key pruning, the scan's files and [[GraftDeltaReadRule]]'s
  * overlay all derive from it, so a commit landing after analysis is
  * never seen. Both read its files through a
  * [[graft.store.StoreFileIndex]] built from the manifest's file list:
  * no directory is listed and planning launches no Spark job. Writes
  * re-resolve inside [[UpsertTable.merge]].
  */
private[catalog] class GraftSqlTable(ident: Identifier,
    private[catalog] val store: UpsertTable,
    private[catalog] val snapshot: Snapshot)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = ident.toString
  override def schema(): StructType = snapshot.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
  override def properties(): util.Map[String, String] =
    Map("keys" -> snapshot.keyCols.mkString(",")).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder
      with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
      private val dataSchema: StructType = schema()
      private var required: StructType = dataSchema
      private var filters: Array[Filter] = Array.empty
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        // kept whole: equality-on-full-key predicates drive BUCKET
        // PRUNING at build time, and all filters are handed to the
        // parquet scan for row-group/page skipping; everything is also
        // returned as residual — Spark re-applies above the scan (the
        // standard file-source contract: parquet stats are advisory)
        filters = fs
        fs
      }
      // key-equality filters are fully answered by bucket pruning +
      // parquet stats; report them so EXPLAIN shows the point lookup
      override def pushedFilters(): Array[Filter] =
        pruneKeys.map(m => m.map { case (k, v) => EqualTo(k, v): Filter }.toArray)
          .getOrElse(Array.empty)
      private def pruneKeys: Option[Map[String, Any]] = {
        val keyEq = filters.collect { case EqualTo(a, v) => a -> v }.toMap
        if (snapshot.keyCols.forall(keyEq.contains))
          Some(keyEq.filter { case (k, _) => snapshot.keyCols.contains(k) })
        else None
      }
      override def build(): Scan = {
        val spark = SparkSession.active
        // a raw file scan cannot apply the merge-on-read overlay —
        // GraftDeltaReadRule replaces delta-bearing relations before
        // any scan is built, so reaching here with deltas means the
        // session is missing graft.GraftExtensions: fail loudly
        // rather than serve stale base rows and tombstones
        require(!snapshot.hasDeltas,
          s"table ${name()} has merge-on-read delta files; reads require " +
            "spark.sql.extensions=graft.GraftExtensions (or compact() first)")
        // three pruning layers before a byte is read: key-bucket
        // (equality lookups), manifest min/max file skipping (range /
        // equality / null predicates), then parquet row-group stats
        // inside the files that survive
        // snapshot-pinned: the index holds exactly the manifest's
        // surviving files, so concurrent commits never change what this
        // scan reads (Iceberg-style isolation)
        val index = StoreFileIndex(spark,
          store.dataFiles(snapshot, pruneKeys, filters.toSeq))
        new GraftParquetScanBuilder(spark, index, dataSchema)
          .withPushdown(required, filters)
      }
    }

  /** Thin subclass whose only job is to apply externally-decided
    * pushdown state (required columns + source filters) and build —
    * `pushedDataFilters` is protected in [[FileScanBuilder]], so the
    * convertible-filter handoff to the parquet reader has to happen
    * from a subclass.
    */
  private class GraftParquetScanBuilder(
      spark: SparkSession,
      index: StoreFileIndex,
      dataSchema: StructType)
      extends ParquetScanBuilder(spark, index, dataSchema, dataSchema,
        CaseInsensitiveStringMap.empty()) {
    def withPushdown(required: StructType, filters: Array[Filter]): Scan = {
      pruneColumns(required)
      pushedDataFilters = pushDataFilters(filters)
      build()
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // INSERT INTO ≙ upsert merge by the table's keys (the store's
      // write semantic, reference write.upsert.enabled); INSERT
      // OVERWRITE ≙ truncate-commit: the new snapshot holds only the
      // inserted rows, prior versions stay time-travelable
      private var overwriteAll = false
      override def truncate(): WriteBuilder = { overwriteAll = true; this }
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit =
              if (overwriteAll || overwrite) store.overwrite(data)
              else store.merge(data)
          }
      }
    }
}

