package graft.store

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, GraftSqlShims, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The file index of every read of store data files: exactly the
  * parquet files a manifest names, nothing found by listing. Each
  * file's `FileStatus` comes from a driver-side stat of its own path,
  * so building the index never lists a directory and never launches a
  * Spark job. Spark's listing of an explicit path list runs a Spark job
  * once it passes `spark.sql.sources.parallelPartitionDiscovery
  * .threshold` (32) paths — every query of a 64-bucket table, or of a
  * table with deltas between compactions, paid one. Iceberg plans its
  * reads the same way: from the manifest, never from a listing.
  *
  * No partition columns: the `__bucket=` directories are layout only,
  * the manifest records each file's bucket. A missing file fails the
  * read loudly (the stat throws), as a listed one did.
  */
final class StoreFileIndex private (spark: SparkSession, paths: Seq[HadoopPath])
    extends InMemoryFileIndex(spark, paths, Map.empty, None,
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
}

object StoreFileIndex {

  /** The index over absolute data-file paths. */
  def apply(spark: SparkSession, paths: Seq[String]): StoreFileIndex =
    new StoreFileIndex(spark, paths.map(new HadoopPath(_)))

  /** The files at `paths` read under `schema`: a column a file lacks
    * reads as null and a promotable narrower type is cast on read —
    * additive evolution without rewrites.
    */
  def read(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else
      spark.baseRelationToDataFrame(HadoopFsRelation(apply(spark, paths),
        new StructType(), GraftSqlShims.asNullable(schema), None,
        new ParquetFileFormat, Map.empty)(spark))
}
