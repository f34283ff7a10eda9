package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Merge-on-read for SQL: replace every READ of a store table whose
  * snapshot carries delta files with the store's overlay plan (the
  * latest delta row per key replaces the key's base row, tombstones
  * drop), so `SELECT … FROM cat.ns.t` stays correct between delta
  * commits and compaction. Delta-free tables never hit this rule —
  * they keep the pure vectorized DSv2 scan (with bucket pruning and
  * manifest min/max skipping) untouched.
  *
  * The substituted plan is ordinary Catalyst over the pinned
  * snapshot's files, read through [[graft.store.StoreFileIndex]] (no
  * listing, no Spark job at planning): the deltas are normalized by a
  * `max_by` partial aggregation, the base is anti-joined on the changed
  * keys and the two are unioned, so pushdown and AQE apply to it like
  * any query. A full-key equality filter directly above the relation
  * (`WHERE id = 7`, through its alias) overlays only that key's bucket
  * under each live spec; the filter stays and Spark re-applies it.
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
        f.copy(child = a.copy(child = overlay(r, keyLiterals(cond, r))))
      case r: DataSourceV2Relation if needsOverlay(r) => overlay(r, None)
    }

  private def needsOverlay(r: DataSourceV2Relation): Boolean =
    r.table match {
      case t: GraftSqlTable => t.snapshot.hasDeltas
      case _ => false
    }

  /** The key values `cond` pins when its conjuncts equate every key
    * column of `r` to a constant. */
  private def keyLiterals(cond: Expression,
      r: DataSourceV2Relation): Option[Map[String, Any]] = {
    val keys = r.table.asInstanceOf[GraftSqlTable].snapshot.keyCols
    // a constant that fails to evaluate (1/0 under ANSI) prunes
    // nothing and fails, if ever, where Spark evaluates it
    def constant(a: AttributeReference, v: Expression): Option[(String, Any)] =
      if (!v.foldable || !r.outputSet.contains(a)) None
      else scala.util.Try(v.eval()).toOption.map(x =>
        a.name -> CatalystTypeConverters.convertToScala(x, a.dataType))
    val pinned = splitConjunctivePredicates(cond).flatMap {
      case EqualTo(a: AttributeReference, v) => constant(a, v)
      case EqualTo(v, a: AttributeReference) => constant(a, v)
      case _ => None
    }.toMap
    if (keys.forall(pinned.contains)) Some(pinned.filter(kv => keys.contains(kv._1)))
    else None
  }

  private def overlay(r: DataSourceV2Relation,
      keyValues: Option[Map[String, Any]]): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftSqlTable]
    val read = keyValues.map(t.store.readWhere(t.snapshot, _))
      .getOrElse(t.store.readSnapshot(t.snapshot))
    val merged = read.queryExecution.analyzed
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
