package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, AttributeSet, Expression, OuterReference, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Merge-on-read for SQL: replace every READ of a store table whose
  * snapshot carries delta files with the store's overlay plan (the
  * latest delta row per key replaces the key's base row, tombstones
  * drop), so `SELECT … FROM cat.ns.t` stays correct between delta
  * commits and compaction. Delta-free tables never hit this rule —
  * they keep the pure vectorized DSv2 scan.
  *
  * The substituted plan is ordinary Catalyst over the pinned
  * snapshot's files, read through [[graft.store.StoreFileIndex]] (no
  * listing, no Spark job at planning), which picks each scan's files
  * from the predicates Spark pushes to it: the deltas are normalized by
  * a `max_by` partial aggregation, the base is anti-joined on the
  * changed keys and the two are unioned. A filter above the overlay
  * reaches the base scan but not the deltas (nothing is inferred across
  * the null-safe anti-join or into the aggregation), so the one job
  * left here is that: every conjunct of a filter directly above the
  * relation (through its alias) that is deterministic, has no subquery
  * and references only key columns is also applied to the base and raw
  * delta rows before the fold — sound because it keeps or drops whole
  * key groups. `WHERE id = 7`, `id IN (…)` and key ranges then prune
  * both sides; the filter stays and Spark re-applies it.
  *
  * Write commands keep their original relation: only the query side
  * of a [[V2WriteCommand]] is rewritten — substituting the write
  * TARGET would break the V1 write path. `MERGE INTO`/`DELETE`/`UPDATE`
  * never reach this rule at the outer level ([[GraftMergeRule]] runs
  * first and translates them to a [[GraftMergeCommand]]); their inner
  * batch plans are re-analyzed at execution, where this rule overlays
  * any delta-bearing source scan.
  */
case class GraftDeltaReadRule(session: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case w: V2WriteCommand => w.withNewQuery(substitute(w.query))
    case other => substitute(other)
  }

  private def substitute(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      case f @ Filter(cond, a @ SubqueryAlias(_, r: DataSourceV2Relation))
          if needsOverlay(r) =>
        f.copy(child = a.copy(child = overlay(r, keyConjuncts(cond, r))))
      case r: DataSourceV2Relation if needsOverlay(r) => overlay(r, Nil)
    }

  private def needsOverlay(r: DataSourceV2Relation): Boolean =
    r.table match {
      case t: GraftSqlTable => t.snapshot.hasDeltas
      case _ => false
    }

  /** The conjuncts of `cond` the overlay may apply before its fold. */
  private def keyConjuncts(cond: Expression,
      r: DataSourceV2Relation): Seq[Expression] = {
    val keyCols = r.table.asInstanceOf[GraftSqlTable].snapshot.keyCols
    val keys = AttributeSet(r.output.filter(a => keyCols.contains(a.name)))
    splitConjunctivePredicates(cond).filter(c => c.deterministic &&
      !SubqueryExpression.hasSubquery(c) && c.find(_.isInstanceOf[OuterReference]).isEmpty &&
      c.references.nonEmpty && c.references.subsetOf(keys))
  }

  private def overlay(r: DataSourceV2Relation, keyConds: Seq[Expression]): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftSqlTable]
    val read = t.store.readSnapshot(t.snapshot).queryExecution.analyzed
    // the overlay's leaves are its base and delta file scans: each gets
    // the key conjuncts, bound by name to its own columns
    val merged = keyConds.reduceOption(And).fold(read)(cond => read.transformUp {
      case l: LogicalRelation => Filter(cond.transform {
        case a: AttributeReference => l.output.find(_.name == a.name).get
      }, l)
    })
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
