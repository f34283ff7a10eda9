package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Merge-on-read for SQL: replace every READ of a store table whose
  * snapshot carries delta files with the store's overlay plan (base ∪
  * deltas → latest-`__seq`-per-key → drop tombstones), so
  * `SELECT … FROM cat.ns.t` stays correct between delta commits and
  * compaction. Delta-free tables never hit this rule — they keep the
  * pure vectorized DSv2 scan (with bucket pruning and manifest
  * min/max skipping) untouched.
  *
  * The substituted plan is ordinary Catalyst (two file scans, a
  * union, a `max_by` partial aggregation), so pushdown and AQE apply
  * to it like any query. Write commands keep their original relation:
  * only the query side of a [[V2WriteCommand]] is rewritten —
  * substituting the write TARGET would break the V1 write path.
  * `MERGE INTO`/`DELETE`/`UPDATE` never reach this rule at the outer
  * level ([[GraftMergeRule]] runs first and translates them to a
  * [[GraftMergeCommand]]); their inner batch plans are re-analyzed at
  * execution, where this rule overlays any delta-bearing source scan.
  */
case class GraftDeltaReadRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case w: V2WriteCommand => w.withNewQuery(substitute(w.query))
    case other => substitute(other)
  }

  private def substitute(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      case r: DataSourceV2Relation if needsOverlay(r) => overlay(r)
    }

  private def needsOverlay(r: DataSourceV2Relation): Boolean =
    r.table match {
      case t: GraftSqlTable => t.snapshot.hasDeltas
      case _ => false
    }

  private def overlay(r: DataSourceV2Relation): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftSqlTable]
    val merged = t.store.readSnapshot(t.snapshot).queryExecution.analyzed
    // graft the overlay under the relation's attribute ids so every
    // reference above the former relation still resolves
    Project(r.output.map { to =>
      val from = merged.output.find(_.name == to.name).getOrElse(
        throw new IllegalStateException(
          s"store read of ${t.name()} lost column ${to.name}"))
      Alias(from, to.name)(exprId = to.exprId)
    }, merged)
  }
}
