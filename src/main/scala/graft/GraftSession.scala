package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: `local[cpus]` with as many
  * shuffle partitions, UTC, nanosecond parquet timestamps read as
  * longs (see [[Tables]]), the [[GraftExtensions]] functions and rules,
  * and no UI. Callers set their own log level.
  */
object GraftSession {
  def local(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
