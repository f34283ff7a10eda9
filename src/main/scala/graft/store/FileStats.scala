package graft.store

import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.sketch.BloomFilter

/** Per-file column bounds recorded in the manifest, the Iceberg
  * manifest-stats analog (reference: the Iceberg v2 tables written by
  * flink_json_to_iceberg.py:68-69 carry these in every manifest entry).
  *
  * Invariant when a column appears in [[FileEntry.stats]]: `nullCount`
  * is exact, and `min`/`max` are exact bounds over the file's non-null
  * values (both null iff the file has no non-null value for the
  * column). Columns with unreliable or unsupported footer stats are
  * simply OMITTED — absence always means "cannot prune", never "no
  * rows", so skipping stays conservative.
  *
  * Scale rationale: at 100 TB a `WHERE ts > X` scan must not open
  * every file's footer to discover that 99% of them cannot match.
  * Bounds in the manifest let the driver drop files at PLANNING time —
  * the same trick as Iceberg's `lower_bounds`/`upper_bounds` — on top
  * of (orthogonal to) key-bucket pruning and parquet row-group skipping.
  */
case class ColStats(min: String, max: String, nullCount: Long)

object FileStats {

  /** Types with a total order we can serialize losslessly as strings.
    * Timestamps/dates/decimals are deliberately out (testdata carries
    * them as long/string after ingest); omission only costs pruning.
    */
  private def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | StringType |
        BooleanType => true
    case _ => false
  }

  /** Read one just-written file's footer: its row count, and
    * row-group statistics aggregated per supported top-level column.
    * Runs in the write task, on the file that task just closed
    * ([[FileEntryTracker]]), so the writer hands the commit its files'
    * metrics as Iceberg's writers do. Any anomaly → None (stats are an
    * optimization, never a correctness dependency).
    */
  def collect(conf: Configuration, absPath: String,
      schema: StructType): Option[(Long, Map[String, ColStats])] = {
    val byName = schema.fields.filter(f => supported(f.dataType))
      .map(f => f.name -> f.dataType).toMap
    try {
      val in = HadoopInputFile.fromPath(new HadoopPath(absPath), conf)
      val reader = ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val chunks = blocks
          .flatMap(_.getColumns.asScala)
          .filter(c => c.getPath.toArray.length == 1 &&
            byName.contains(c.getPath.toDotString))
          .groupBy(_.getPath.toDotString)
        val stats = chunks.flatMap { case (name, cols) =>
          val dt = byName(name)
          // every row group must carry trustworthy stats, else omit
          val ok = cols.forall { c =>
            val s = c.getStatistics
            s != null && !s.isEmpty && s.isNumNullsSet &&
              (s.hasNonNullValue || s.getNumNulls == c.getValueCount)
          }
          if (!ok) None
          else {
            val nulls = cols.map(_.getStatistics.getNumNulls).sum
            val nonNull = cols.filter(_.getStatistics.hasNonNullValue)
            if (nonNull.isEmpty) Some(name -> ColStats(null, null, nulls))
            else {
              val mins = nonNull.map(c =>
                render(c.getStatistics.genericGetMin.asInstanceOf[AnyRef]))
              val maxs = nonNull.map(c =>
                render(c.getStatistics.genericGetMax.asInstanceOf[AnyRef]))
              for {
                mn <- mins.reduceOption((a: String, b: String) =>
                  if (boundLt(dt, a, b)) a else b)
                mx <- maxs.reduceOption((a: String, b: String) =>
                  if (boundLt(dt, a, b)) b else a)
              } yield name -> ColStats(mn, mx, nulls)
            }
          }
        }.toMap
        Some((blocks.map(_.getRowCount).sum, stats))
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  private def render(v: AnyRef): String = v match {
    case b: Binary => b.toStringUsingUTF8
    case other => other.toString
  }

  /** Strict order between two RENDERED bounds of the same column. */
  private def boundLt(dt: DataType, a: String, b: String): Boolean = dt match {
    case IntegerType | LongType => a.toLong < b.toLong
    case FloatType | DoubleType => a.toDouble < b.toDouble
    case StringType => utf8Cmp(a, b) < 0
    case BooleanType => !a.toBoolean && b.toBoolean
    case _ => false
  }

  /** Conservative skip test: true unless the file's stats PROVE no row
    * can satisfy `filter`. Unknown filter shapes, missing columns, and
    * parse surprises all return true.
    */
  def mightMatch(stats: Map[String, ColStats], schema: StructType,
      filter: Filter): Boolean = {
    def dtOf(a: String): Option[DataType] =
      schema.fields.find(_.name == a).map(_.dataType).filter(supported)
    def withStats(a: String)(f: (DataType, ColStats) => Boolean): Boolean =
      (dtOf(a), stats.get(a)) match {
        case (Some(dt), Some(cs)) => f(dt, cs)
        case _ => true
      }
    // bounds over non-null values exist?
    def hasValues(cs: ColStats): Boolean = cs.min != null && cs.max != null

    def eqMatch(a: String, v: Any): Boolean = withStats(a) { (dt, cs) =>
      if (v == null) false // SQL equality with null matches nothing
      else hasValues(cs) && cmp(dt, cs.min, v).exists(_ <= 0) &&
        cmp(dt, cs.max, v).exists(_ >= 0)
    }

    filter match {
      case EqualTo(a, v) => eqMatch(a, v)
      case EqualNullSafe(a, null) => mightMatch(stats, schema, IsNull(a))
      case EqualNullSafe(a, v) => eqMatch(a, v)
      case In(a, vs) =>
        // null list members never equality-match; empty/all-null → no row
        Option(vs).map(_.filter(_ != null)).exists(_.exists(eqMatch(a, _)))
      case GreaterThan(a, v) => withStats(a) { (dt, cs) =>
        hasValues(cs) && cmp(dt, cs.max, v).forall(_ > 0) }
      case GreaterThanOrEqual(a, v) => withStats(a) { (dt, cs) =>
        hasValues(cs) && cmp(dt, cs.max, v).forall(_ >= 0) }
      case LessThan(a, v) => withStats(a) { (dt, cs) =>
        hasValues(cs) && cmp(dt, cs.min, v).forall(_ < 0) }
      case LessThanOrEqual(a, v) => withStats(a) { (dt, cs) =>
        hasValues(cs) && cmp(dt, cs.min, v).forall(_ <= 0) }
      case IsNull(a) => stats.get(a).forall(_.nullCount > 0)
      case IsNotNull(a) => stats.get(a).forall(hasValues)
      case StringStartsWith(a, prefix) => withStats(a) { (dt, cs) =>
        // rows with prefix p live in [p, p+∞): skip iff max < p or
        // min is already past every p-prefixed string
        dt != StringType || (hasValues(cs) &&
          utf8Cmp(cs.max, prefix) >= 0 &&
          (cs.min.length < prefix.length || utf8Cmp(
            cs.min.substring(0, prefix.length), prefix) <= 0))
      }
      case And(l, r) =>
        mightMatch(stats, schema, l) && mightMatch(stats, schema, r)
      case Or(l, r) =>
        mightMatch(stats, schema, l) || mightMatch(stats, schema, r)
      case Not(IsNull(a)) => mightMatch(stats, schema, IsNotNull(a))
      case Not(IsNotNull(a)) => mightMatch(stats, schema, IsNull(a))
      case _ => true
    }
  }

  /** Compare a stored bound against a filter value under the column
    * type's order; None when the value cannot be interpreted (→ no
    * pruning). Strings compare as unsigned UTF-8 bytes — the order
    * parquet used to compute the bounds.
    */
  private def cmp(dt: DataType, bound: String, v: Any): Option[Int] =
    try {
      dt match {
        case IntegerType | LongType => v match {
          case n: Number => Some(java.lang.Long.compare(bound.toLong, n.longValue()))
          case _ => None
        }
        case FloatType | DoubleType => v match {
          case n: Number => Some(java.lang.Double.compare(bound.toDouble, n.doubleValue()))
          case _ => None
        }
        case StringType => v match {
          case s: String => Some(utf8Cmp(bound, s))
          case u => Some(utf8Cmp(bound, u.toString))
        }
        case BooleanType => v match {
          case b: java.lang.Boolean =>
            Some(java.lang.Boolean.compare(bound.toBoolean, b))
          case _ => None
        }
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Unsigned lexicographic UTF-8 byte order (parquet's UTF8 sort order). */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }
}

/** The write job's report of what it wrote: one [[FileEntry]] per
  * committed file, built by the write task that wrote it — the bucket
  * the file was opened under, bounds from its footer once it is closed
  * ([[FileStats.collect]]), and a Bloom filter per lookup column over
  * the non-null values the task wrote into it. A commit takes its
  * manifest entries from here, as Iceberg's writers hand the committer
  * their `DataFile` metrics: nothing lists the output directory or
  * re-reads a new file.
  *
  * Each bloom is sized by its file's non-null count, at least 64, at
  * [[UpsertTable.LookupBloomFpp]]. Integral values go in with
  * `putLong` and strings as their UTF-8 bytes (what `putString` does),
  * which is what [[UpsertTable.lookupFiles]] probes with, so blooms of
  * earlier versions stay compatible. A file's values are buffered until
  * it closes.
  *
  * @param dir     manifest-relative output directory of the write
  * @param schema  table schema the footer bounds are read under
  * @param lookups name, ordinal in the written data row, and type of
  *                each lookup column
  */
private[store] final class FileEntryTracker(dir: String, schema: StructType,
    lookups: Seq[(String, Int, DataType)], conf: SerializableConfiguration)
    extends WriteJobStatsTracker {
  @transient private var written: Seq[FileEntry] = Nil

  /** The committed files' entries, ordered by (bucket, path). */
  def entries: Seq[FileEntry] = written

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    // the writer announces a new bucket before it closes the previous
    // bucket's file, so each file keeps the bucket it was opened under
    private var bucket = -1
    private val open = mutable.HashMap.empty[String, (Int, Seq[mutable.ArrayBuffer[Any]])]
    private val closed = mutable.ArrayBuffer.empty[FileEntry]

    override def newPartition(values: InternalRow): Unit = bucket = values.getInt(0)

    override def newFile(path: String): Unit =
      open(path) = (bucket, lookups.map(_ => mutable.ArrayBuffer.empty[Any]))

    override def newRow(path: String, row: InternalRow): Unit =
      if (lookups.nonEmpty) lookups.zip(open(path)._2).foreach {
        case ((_, i, dt), values) if !row.isNullAt(i) => values += (dt match {
          case IntegerType => row.getInt(i).toLong
          case LongType => row.getLong(i)
          case _ => row.getUTF8String(i).getBytes
        })
        case _ => ()
      }

    override def closeFile(path: String): Unit = {
      val (b, buffers) = open.remove(path).get
      val blooms = lookups.zip(buffers).map { case ((c, _, _), values) =>
        val bf = BloomFilter.create(math.max(values.size, 64).toLong,
          UpsertTable.LookupBloomFpp)
        values.foreach {
          case l: Long => bf.putLong(l)
          case bytes: Array[Byte] => bf.putBinary(bytes)
        }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        c -> java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
      }.toMap
      closed += FileEntry(s"$dir/__bucket=$b/${new HadoopPath(path).getName}", b,
        FileStats.collect(conf.value, path, schema).map(_._2).getOrElse(Map.empty),
        blooms = blooms)
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      WrittenFiles(closed.toSeq)
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    written = stats.flatMap { case WrittenFiles(fs) => fs }.sortBy(f => (f.bucket, f.path))
}

private case class WrittenFiles(files: Seq[FileEntry]) extends WriteTaskStats
