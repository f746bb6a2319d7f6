package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.catalyst.optimizer.CollapseProject
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, PROJECT}

/** Plan-normalization rule: a chain of `Project`s over a `LocalRelation`
  * (a [[graft.sources.DriverFrame]] with its derived measures stacked on
  * it, e.g. `toFrame → addRse → withPairs → select`) is collapsed by
  * Spark's own `CollapseProject` before the optimizer runs.
  *
  * Spark's "LocalRelation early" batch (`ConvertToLocalRelation`) runs
  * before the operator-optimization batch that collapses projections, so
  * without this rule it folds a stacked chain one `Project` at a time,
  * each an interpreted pass over every row that evaluates every column of
  * that level. Collapsed, the chain is folded once and evaluates only
  * what the top `Project` outputs. `CollapseProject` keeps a level apart
  * where merging would duplicate a non-cheap or non-deterministic
  * expression, so no expression is evaluated more often than before.
  *
  * Consequence: a column that the top `Project` drops is no longer
  * evaluated at all, so an error it would raise (an ANSI divide by zero,
  * say) no longer fails the query — the behaviour of a file-backed frame,
  * whose dropped columns Spark's column pruning removes as well.
  *
  * Injected by [[graft.GraftExtensions]] as a plan-normalization rule,
  * which runs between analysis and the optimizer; plans without such a
  * chain are returned unchanged.
  */
object CollapseLocalProjects extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithPruning(_.containsAllPatterns(PROJECT, LOCAL_RELATION)) {
      case p @ Project(_, _: Project) if overLocalRelation(p) => CollapseProject(p)
    }

  @tailrec private def overLocalRelation(p: LogicalPlan): Boolean = p match {
    case Project(_, child) => overLocalRelation(child)
    case _: LocalRelation => true
    case _ => false
  }
}
