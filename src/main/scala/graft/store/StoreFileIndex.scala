package graft.store

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Murmur3Hash}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, PartitionDirectory, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

/** The file planner of every read of store data files: the index over
  * the [[FileEntry]]s a manifest names (nothing found by listing), and
  * the only code that decides which of them a read opens. Spark hands
  * [[listFiles]] the predicates it pushed to the scan, and [[select]]
  * keeps an entry unless one of three checks proves none of its rows
  * can match, as Iceberg's scan planning prunes manifest entries:
  *
  *  - key buckets: predicates pinning every key column to finitely many
  *    values (`=`, `<=>`, `IN`, `IS NULL`) keep, under each live bucket
  *    spec, only the buckets those key tuples hash to;
  *  - column bounds: [[FileStats.mightMatch]] against the entry's
  *    manifest min/max/null counts;
  *  - lookup blooms: an `=`/`IN` on a declared lookup column drops the
  *    base entries whose Bloom filter admits none of the values.
  *
  * Pruning an entry is only ever the file-level form of a predicate
  * Spark applies to that scan's rows anyway, so every read — the
  * catalog's DSv2 scan, the merge-on-read overlay's base and delta
  * scans, time travel, the TVFs and `read().where(…)` — prunes through
  * Spark's own pushdown. The overlay applies key-only predicates to its
  * raw deltas itself ([[graft.catalog.GraftDeltaReadRule]]).
  *
  * Each file's `FileStatus` comes from a driver-side stat of its own
  * path, so building the index never lists a directory and never
  * launches a Spark job (Spark's listing of more than
  * `parallelPartitionDiscovery.threshold` paths runs one). No partition
  * columns: the `__bucket=` directories are layout only. A missing file
  * fails the read loudly.
  */
final class StoreFileIndex private[graft] (spark: SparkSession, location: String,
    entries: Seq[FileEntry], keyCols: Seq[String], numBuckets: Int,
    schema: StructType)
    extends InMemoryFileIndex(spark,
      entries.map(f => new HadoopPath(s"$location/${f.path}")), Map.empty, None,
      userSpecifiedPartitionSpec = Some(PartitionSpec.emptySpec)) {

  // runs inside the parent constructor: only the argument and the
  // parent's Hadoop conf are initialized yet. Each status takes the
  // shape Spark's listing gives a file (block locations, no owner or
  // permission, which a local file system would fetch by running a
  // subprocess), so split planning and task locality are unchanged
  override def listLeafFiles(paths: Seq[HadoopPath])
      : mutable.LinkedHashSet[FileStatus] =
    mutable.LinkedHashSet.from(paths.map { p =>
      val fs = p.getFileSystem(hadoopConf)
      val st = fs.getFileStatus(fs.makeQualified(p))
      new LocatedFileStatus(st.getLen, st.isDirectory, st.getReplication,
        st.getBlockSize, st.getModificationTime, 0L, null, null, null, null,
        st.getPath, fs.getFileBlockLocations(st, 0L, st.getLen))
    })

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    narrow(dataFilters).listAll(partitionFilters, dataFilters)

  private def listAll(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    super.listFiles(partitionFilters, dataFilters)

  /** This index over only the entries a scan under `dataFilters` (its
    * pushed Catalyst predicates) opens; itself when it keeps them all.
    */
  def narrow(dataFilters: Seq[Expression]): StoreFileIndex = {
    val kept = select(dataFilters.flatMap(GraftSqlShims.translateFilter))
    if (kept.size == entries.size) this
    else new StoreFileIndex(spark, location, kept, keyCols, numBuckets, schema)
  }

  /** The entries a read under the conjuncts `filters` must open: each
    * passes the key-bucket, column-bound and lookup-bloom checks (see
    * the class doc). Conservative: a filter shape or value it cannot
    * interpret keeps the entry.
    */
  def select(filters: Seq[Filter]): Seq[FileEntry] = {
    val tuples = keyTuples(filters)
    val buckets = mutable.Map.empty[Int, Set[Int]]
    def inKeyBuckets(f: FileEntry): Boolean = tuples.forall { ts =>
      val n = f.specUnder(numBuckets)
      buckets.getOrElseUpdate(n, scala.util.Try(ts.map(
        StoreFileIndex.bucketOf(schema, keyCols, _, n)).toSet)
        .getOrElse((0 until n).toSet)).contains(f.bucket)
    }
    entries.filter(f => inKeyBuckets(f) && filters.forall(c =>
      FileStats.mightMatch(f.stats, schema, c) && bloomAdmits(f, c)))
  }

  /** Every key tuple `filters` admit, when they pin each key column to
    * finitely many values (the smallest such set per column). */
  private def keyTuples(filters: Seq[Filter]): Option[Seq[Seq[Any]]] = {
    val pinned = keyCols.map(k => filters.collect {
      case EqualTo(`k`, v) => Seq(v)
      case EqualNullSafe(`k`, v) => Seq(v)
      case In(`k`, vs) => vs.toSeq
      case IsNull(`k`) => Seq(null)
    }.minByOption(_.size))
    if (keyCols.isEmpty || pinned.exists(_.isEmpty)) None
    else Some(pinned.flatten.foldLeft(Seq(Seq.empty[Any])) { (ts, vs) =>
      for (t <- ts; v <- vs) yield t :+ v
    })
  }

  /** False when `filter` equates a lookup column with values a base
    * entry's Bloom filter admits none of (no false negatives: sound).
    * Delta entries are always kept, as reverse lookups always had it:
    * they are the recent commits, few and small until compaction folds
    * them, and a re-keyed update or tombstone must never be skipped. */
  private def bloomAdmits(f: FileEntry, filter: Filter): Boolean = {
    def admits(c: String, values: Seq[Any]): Boolean = f.blooms.get(c).forall { b64 =>
      val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(
        java.util.Base64.getDecoder.decode(b64)))
      values.exists {
        case null => false
        case l: Long => bf.mightContainLong(l)
        case i: Int => bf.mightContainLong(i.toLong)
        case s: String => bf.mightContainString(s)
        case _ => true // no bloom is built over other types
      }
    }
    FileEntry.isDelta(f) || (filter match {
      case EqualTo(c, v) => admits(c, Seq(v))
      case In(c, vs) => admits(c, vs.toSeq)
      case And(l, r) => bloomAdmits(f, l) && bloomAdmits(f, r)
      case Or(l, r) => bloomAdmits(f, l) || bloomAdmits(f, r)
      case _ => true
    })
  }
}

object StoreFileIndex {

  /** The index over `files` of snapshot `snap` of the table at `location`. */
  def apply(spark: SparkSession, location: String, snap: Snapshot,
      files: Seq[FileEntry]): StoreFileIndex =
    new StoreFileIndex(spark, location, files, snap.keyCols, snap.numBuckets, snap.schema)

  /** `files` of `snap` read under `schema`: a column a file lacks reads
    * as null and a promotable narrower type is cast on read — additive
    * evolution without rewrites.
    */
  def read(spark: SparkSession, location: String, snap: Snapshot,
      files: Seq[FileEntry], schema: StructType): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else
      spark.baseRelationToDataFrame(HadoopFsRelation(apply(spark, location, snap, files),
        new StructType(), GraftSqlShims.asNullable(schema), None,
        new ParquetFileFormat, Map.empty)(spark))

  /** The bucket under `n` buckets of the key tuple `values` — the same
    * murmur3(42) pmod n as [[UpsertTable.bucketExpr]], evaluated on the
    * driver (a literal hashes as its column does).
    */
  private[store] def bucketOf(schema: StructType, keyCols: Seq[String],
      values: Seq[Any], n: Int): Int = {
    val h = new Murmur3Hash(keyCols.zip(values).map { case (k, v) =>
      Literal.create(v, schema(k).dataType)
    }).eval(null).asInstanceOf[Int]
    ((h % n) + n) % n
  }
}
