package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance over the change feed —
  * the capability [[UpsertTable.readChanges]] exists to serve: keep
  * `target = SELECT group, count(*), sum(value) FROM source GROUP BY
  * group` fresh in O(changed rows) per refresh instead of re-scanning
  * a 100 TB source.
  *
  * Algorithm per refresh over `(fromV, toV]`:
  *  1. net change per key = the feed's LAST image per key in range
  *     (earlier intra-range images are superseded);
  *  2. prior contribution per changed key = time-travel read of the
  *     source AT `fromV`, semi-joined to the changed keys (the only
  *     part that touches the source — and only its affected rows);
  *  3. group delta = Σ(new contributions) − Σ(prior contributions),
  *     a partial-agg groupBy of O(changed keys) rows;
  *  4. target rows for affected groups read, deltas applied, merged
  *     back (groups whose count reaches 0 are deleted).
  *
  * Every step is bounded by the change volume, never the source size —
  * the classic upsert-changelog view-maintenance formulation (Flink's
  * retract streams / Materialize-style deltas) on batch Spark.
  */
object IncrementalAgg {

  /** Step 1: the feed's last image per key in `(fromV, toV]` (max
    * _commit_version wins; within one commit a key appears once —
    * merge normalized it). Exposed for plan-shape assertions. */
  private[graft] def netChanges(changes: DataFrame, keyCol: String,
      groupCol: String, valueCol: String): DataFrame =
    ChangelogNormalize.latestByKey(
      changes.select(keyCol, groupCol, valueCol, "_change_op", "_commit_version"),
      Seq(keyCol), "_commit_version")

  /** Steps 2-3: group-level deltas from the net changes — prior
    * contributions come from a time-travel read of the source AT
    * `fromV` SEMI-JOINED to the changed keys, null-safely as
    * `netChanges` groups them (the refresh's only touch of the source;
    * never a full-source aggregate — pinned in PlanShapeSpec). Null
    * measures contribute 0 (matching [[fullCountSum]]): an
    * un-coalesced null would poison sum(__dv) for a group whose only
    * in-range change carries a null value, writing sv = NULL into the
    * target where the from-scratch sum says otherwise. */
  private[graft] def groupDeltas(source: UpsertTable, fromV: Long,
      net: DataFrame, keyCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val prior = UpsertTable
      .keyJoin(source.readVersion(fromV), net, Seq(keyCol), "left_semi")
      .select(col(keyCol), col(groupCol), col(valueCol))
    val adds = net.where(col("_change_op") =!= "d")
      .select(col(groupCol), lit(1L).as("__dn"),
        coalesce(col(valueCol).cast("double"), lit(0d)).as("__dv"))
    val subs = prior
      .select(col(groupCol), lit(-1L).as("__dn"),
        (-coalesce(col(valueCol).cast("double"), lit(0d))).as("__dv"))
    adds.unionByName(subs)
      .groupBy(col(groupCol))
      .agg(sum(col("__dn")).as("__dn"), sum(col("__dv")).as("__dv"))
  }

  /** Refresh `target` (keyed by `groupCol`, columns `n` + `sv`) with
    * the source changes in `(fromV, toV]`. `valueCol` must be numeric;
    * deletes retract the key's prior contribution.
    *
    * FP caveat: for non-integer measures, incremental add/subtract
    * accumulates rounding drift relative to a from-scratch sum (as in
    * any retraction-based maintenance); integer-valued measures are
    * exact under any order. Schedule a periodic full recompute
    * ([[fullCountSum]]) when exact float sums matter.
    */
  def refreshCountSum(spark: SparkSession, source: UpsertTable,
      target: UpsertTable, fromV: Long, toV: Long,
      keyCol: String, groupCol: String, valueCol: String): Unit = {
    val changes = source.readChanges(fromV, toV)
    // cached: net feeds the prior semi-join AND the adds leg — the
    // change-feed scan must not re-run per consumer
    val net = netChanges(changes, keyCol, groupCol, valueCol).cache()
    try {
      val deltas = groupDeltas(source, fromV, net, keyCol, groupCol, valueCol)
        .cache() // feeds the current semi-join AND the final left join
      try {
        // null group keys (in the changes OR the prior images) would
        // silently corrupt the view: every equi-join below and the
        // keyed target merge skip null keys, leaving stale rows
        // behind. The target is a PK store — reject loudly; COALESCE
        // nulls to a sentinel upstream if needed.
        require(deltas.where(col(groupCol).isNull).limit(1).count() == 0,
          s"refreshCountSum: null $groupCol in the change range — " +
            "coalesce null groups to a sentinel before aggregating")
        // 4. read-modify-write the affected target groups
        val current = target.read()
          .join(deltas.select(groupCol), Seq(groupCol), "left_semi")
        val merged = deltas
          .join(current, Seq(groupCol), "left")
          .select(col(groupCol),
            (coalesce(col("n"), lit(0L)) + col("__dn")).as("n"),
            (coalesce(col("sv"), lit(0d)) + col("__dv")).as("sv"))
          .withColumn("__op", when(col("n") <= 0L, "d").otherwise("u"))
        target.merge(merged, opCol = Some("__op"))
      } finally deltas.unpersist()
    } finally net.unpersist()
  }

  /** Full recompute into a fresh frame — the correctness oracle for
    * [[refreshCountSum]] (and the bootstrap for an empty target).
    * Null measures contribute 0, so an all-null group has sv = 0 (not
    * NULL) — the same convention the incremental path uses. */
  def fullCountSum(source: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    source.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col(valueCol).cast("double"), lit(0d))).as("sv"))
}
