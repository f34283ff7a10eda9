package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Changelog-normalize (last-row-per-key, SURVEY.md §2.3 C1) as a
  * `max_by` aggregation rather than a `row_number` window.
  *
  * Why it matters at 100 TB: the window plan shuffles EVERY row to its
  * key's partition and sorts there — a skewed key concentrates its
  * whole history on one task. `max_by(struct(...), ord)` gets partial
  * aggregation (map-side combine): each input partition reduces to at
  * most one row per key before the exchange, so shuffle volume is
  * bounded by distinct keys per partition and hot keys reduce in
  * parallel. Ties on `ord` are broken arbitrarily (callers pass a
  * total order — offset/LSN — exactly like the window formulation).
  *
  * The one latest-per-key, NULL a key value: [[UpsertTable.merge]]'s
  * batch and delta normalize, [[IncrementalAgg.netChanges]],
  * [[IncrementalJoin]]'s net facts, [[graft.cdc.JdbcUpsert]].
  */
object ChangelogNormalize {

  /** Latest row per key by `ordCol` (dropped from the output). With
    * `withCount` the per-key row count rides along as `__cnt` in the
    * SAME aggregation — callers that must reject ambiguous batches
    * (duplicate keys, no order) check it off the normalized result
    * instead of paying a second full-batch shuffle for a groupBy
    * count. */
  def latestByKey(df: DataFrame, keys: Seq[String], ordCol: String,
      withCount: Boolean = false): DataFrame = {
    // __cnt rides beside the expanded payload in withCount mode: a
    // data column with the same name would come back twice and make
    // every downstream reference ambiguous — reject it loudly here
    // instead of failing with an opaque AnalysisException later
    if (withCount && df.columns.contains("__cnt"))
      throw new IllegalArgumentException(
        "ChangelogNormalize: column name __cnt is reserved by the " +
          "normalize aggregation — rename the data column")
    val payload = struct(df.columns.toSeq.filterNot(_ == ordCol).map(col): _*)
    val cnt = if (withCount) Seq("__cnt") else Nil
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, col(ordCol)).as("__row"),
        cnt.map(c => count(lit(1)).as(c)): _*)
      .select(col("__row.*") +: cnt.map(col): _*)
  }
}
