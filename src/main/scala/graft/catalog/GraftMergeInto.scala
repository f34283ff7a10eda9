package graft.catalog

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.store.{Snapshot, UpsertTable}

/** SQL `MERGE INTO` for store tables, translated to the store's native
  * keyed upsert merge (the same path every streaming sink commit takes)
  * instead of Spark's group-based row-level rewrite — an upsert store
  * applies a merge WITHOUT scanning or rewriting the unmatched side,
  * touching only the buckets that contain batch keys.
  *
  * Supported shapes (everything else fails loudly, never silently):
  *
  * {{{
  *   -- pure upsert
  *   MERGE INTO cat.ns.t t USING src s ON t.k = s.k
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  *
  *   -- CDC apply (delete guard mirrored on the insert branch)
  *   MERGE INTO cat.ns.t t USING src s ON t.k = s.k
  *   WHEN MATCHED AND s.op = 'd' THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED AND NOT (s.op = 'd') THEN INSERT *
  * }}}
  *
  * The ON condition must be key equality over exactly the table's key
  * columns; UPDATE and INSERT must assign every column to the same
  * source values (whole-row upsert semantics — the store replaces
  * rows, it does not patch columns). A conditional DELETE requires the
  * insert branch to carry the negated guard: the store cannot know
  * whether a delete-marked key exists, so "insert unmatched delete
  * rows" (what an unguarded INSERT would mean) is not expressible.
  */
case class GraftMergeRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m: MergeIntoTable if m.resolved && graftRelation(m.targetTable).isDefined =>
      translate(m, graftRelation(m.targetTable).get)
    case d @ DeleteFromTable(target, cond)
        if d.resolved && graftRelation(target).isDefined =>
      translateDelete(cond, graftRelation(target).get)
    case u @ UpdateTable(target, assignments, cond)
        if u.resolved && graftRelation(target).isDefined =>
      translateUpdate(assignments, cond, graftRelation(target).get)
  }

  /** `DELETE FROM t WHERE c` → scan the matching rows' KEYS (filter
    * pushed into the DSv2 scan) and merge them with op `d` — only the
    * buckets containing matched keys are rewritten.
    */
  private def translateDelete(cond: Expression,
      rel: DataSourceV2Relation): LogicalPlan = {
    val (store, snap) = storeOf(rel)
    val keys = snap.keyCols.map(n => rel.output.find(_.name == n).get)
    val batch = Project(
      keys :+ Alias(Literal("d"), "__merge_op")(),
      Filter(cond, rel))
    GraftMergeCommand(store.location, batch, Some("__merge_op"))
  }

  /** `UPDATE t SET … WHERE c` → project the matching rows with the
    * assignments applied (current values fill the unassigned columns)
    * and upsert them back. Key columns are not assignable — that would
    * be a move, not an in-place update.
    */
  private def translateUpdate(assignments: Seq[Assignment],
      cond: Option[Expression], rel: DataSourceV2Relation): LogicalPlan = {
    val (store, snap) = storeOf(rel)
    val assigned = assignments.map {
      case Assignment(k: AttributeReference, v) => k.name -> v
      case other => fail(s"UPDATE assigns a non-column target: ${other.sql}")
    }.toMap
    snap.keyCols.filter(assigned.contains).foreach(k =>
      fail(s"cannot UPDATE key column $k (delete + insert instead)"))
    val proj = snap.schema.fieldNames.toSeq.map { n =>
      assigned.get(n)
        .map(v => Alias(v, n)(): NamedExpression)
        .getOrElse(rel.output.find(_.name == n).get)
    }
    val batch = Project(proj, cond.map(Filter(_, rel)).getOrElse(rel))
    GraftMergeCommand(store.location, batch, None)
  }

  /** The target store and the snapshot its relation was loaded at. */
  private def storeOf(rel: DataSourceV2Relation): (UpsertTable, Snapshot) = {
    val table = rel.table.asInstanceOf[GraftSqlTable]
    if (rel.timeTravelSpec.isDefined) fail("cannot write to a time-travel read")
    (table.store, table.snapshot)
  }

  private def graftRelation(plan: LogicalPlan): Option[DataSourceV2Relation] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftSqlTable] => r
    }

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"MERGE INTO graft store: $msg")

  private def translate(m: MergeIntoTable, rel: DataSourceV2Relation): LogicalPlan = {
    val (store, snap) = storeOf(rel)
    val targetAttrs = AttributeSet(rel.output)
    val sourceAttrs = m.sourceTable.outputSet

    // ON: conjunction of target-key = source-col over exactly the keys
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val onKeys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetAttrs.contains(a) && sourceAttrs.contains(b) => a.name
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetAttrs.contains(b) && sourceAttrs.contains(a) => b.name
      case other => fail(s"ON must be target-key = source-column equality, got: ${other.sql}")
    }
    if (onKeys.toSet != snap.keyCols.toSet)
      fail(s"ON must cover exactly the key columns ${snap.keyCols.mkString(", ")}")

    // full-sync form: target keys the source no longer carries are
    // deleted. This is the ONE merge branch that must look at the
    // target — and it reads KEY COLUMNS only (left-anti against the
    // batch keys), never full target rows. Conditional / UPDATE
    // by-source variants would force a full-row target scan, so they
    // stay unsupported (fail loudly).
    val pruneUnmatched = m.notMatchedBySourceActions match {
      case Seq() => false
      case Seq(d: DeleteAction) if d.condition.isEmpty => true
      case _ => fail("WHEN NOT MATCHED BY SOURCE supports exactly one " +
        "unconditional THEN DELETE")
    }

    val insert = m.notMatchedActions match {
      case Seq(i: InsertAction) => i
      case _ => fail("exactly one WHEN NOT MATCHED ... INSERT branch is required")
    }
    val (deleteCond, update) = m.matchedActions match {
      case Seq(u: UpdateAction) if u.condition.isEmpty => (None, u)
      case Seq(d: DeleteAction, u: UpdateAction)
          if d.condition.isDefined && u.condition.isEmpty =>
        (d.condition, u)
      case _ => fail("matched branches must be UPDATE SET *, optionally " +
        "preceded by one conditional DELETE")
    }

    // conditions may only reference the source (they are evaluated on
    // the batch; target rows are never scanned)
    (deleteCond.toSeq ++ insert.condition.toSeq).foreach { c =>
      if (!c.references.subsetOf(sourceAttrs))
        fail(s"condition may only reference source columns: ${c.sql}")
    }
    // a delete guard must be mirrored (negated) on the insert branch —
    // otherwise an unmatched delete-marked row would have to INSERT,
    // which a store-side delete-by-key cannot express
    (deleteCond, insert.condition) match {
      case (None, None) => ()
      case (Some(d), Some(i)) if i.canonicalized == Not(d).canonicalized => ()
      case (Some(d), _) =>
        fail(s"WHEN NOT MATCHED must carry the negated delete guard: AND NOT (${d.sql})")
      case (None, Some(_)) =>
        fail("a conditional INSERT without a matching DELETE guard is not supported")
    }

    def assignmentMap(as: Seq[Assignment], label: String): Map[String, Expression] = {
      val pairs = as.map {
        case Assignment(k: AttributeReference, v) => k.name -> v
        case other => fail(s"$label assigns a non-column target: ${other.sql}")
      }
      val cols = snap.schema.fieldNames.toSet
      if (pairs.map(_._1).toSet != cols)
        fail(s"$label must assign every column (${cols.mkString(", ")}) — " +
          "the store replaces whole rows, it does not patch columns")
      pairs.toMap
    }
    val updateVals = assignmentMap(update.assignments, "UPDATE")
    val insertVals = assignmentMap(insert.assignments, "INSERT")
    updateVals.foreach { case (k, v) =>
      if (v.canonicalized != insertVals(k).canonicalized)
        fail(s"UPDATE and INSERT must assign the same value to $k " +
          "(whole-row upsert semantics)")
    }

    val opCol = deleteCond.map { d =>
      Alias(If(d, Literal("d"), Literal("u")), "__merge_op")()
    }
    val batch = Project(
      snap.schema.fieldNames.toSeq.map(n => Alias(insertVals(n), n)()) ++ opCol,
      m.sourceTable)
    GraftMergeCommand(store.location, batch, opCol.map(_.name), pruneUnmatched)
  }
}

/** Driver command executing the translated merge through the store. */
case class GraftMergeCommand(location: String, batch: LogicalPlan,
    opCol: Option[String], deleteUnmatchedTarget: Boolean = false)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[QueryPlan[_]] = Seq(batch)
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = org.apache.spark.sql.GraftSqlShims.ofRows(session, batch)
    val store = UpsertTable(session, location)
    if (!deleteUnmatchedTarget) {
      store.merge(df, opCol = opCol)
    } else {
      // WHEN NOT MATCHED BY SOURCE THEN DELETE: target keys absent
      // from the batch (NULL a key value) become delete rows in the same
      // changelog — one key-projected target scan, then the ordinary
      // keyed merge applies upserts and prunes in one commit
      val snap = store.currentSnapshot.getOrElse(
        throw new IllegalStateException(s"table does not exist: $location"))
      val op = opCol.getOrElse("__merge_op")
      val upserts =
        if (opCol.isDefined) df else df.withColumn(op, lit("u"))
      val dels = UpsertTable.keyJoin(store.readSnapshot(snap)
        .select(snap.keyCols.map(col): _*), df, snap.keyCols, "left_anti")
      store.merge(upserts.unionByName(dels.withColumn(op, lit("d")),
        allowMissingColumns = true), opCol = Some(op))
    }
    Seq.empty
  }
}
