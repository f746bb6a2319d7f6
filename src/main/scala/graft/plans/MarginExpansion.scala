package graft.plans

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.AcsMath

/** Analyzer resolution rule giving SQL users the census pairing
  * convention ([[graft.CensusFrame.selectCensus]]): a `with_m90(col)`
  * select item expands, pre-resolution, into `col, col_m90` — selecting
  * an estimate auto-carries its margin, exactly like the DataFrame API
  * (ref `test/test_basic.py:176-195` for the convention).
  *
  * In an aggregate select list the expansion follows the grouped
  * semantics of [[graft.CensusFrame.groupBySum]] (ref
  * `test/test_basic.py:197-207`, notebook cell 12): estimates are summed
  * and margins combine as root-sum-of-squares ([[AcsMath.aggSumM]]), so
  * `SELECT g, with_m90(qty) FROM t GROUP BY g` becomes
  * `SELECT g, sum(qty) AS qty, sqrt(sum(qty_m90 * qty_m90)) AS qty_m90`
  * (the margin squared in double).
  * Any other position (WHERE, GROUP BY, nested inside an expression)
  * fails analysis with an actionable message instead of the generic
  * "undefined function".
  *
  * This is the `injectResolutionRule` leg of `SparkSessionExtensions`
  * (strategies and functions are injected alongside in
  * [[graft.GraftExtensions]]); the rewrite happens during analysis, so
  * downstream optimization (column pruning to the scan) sees only plain
  * attribute references.
  */
object MarginExpansionRule extends Rule[LogicalPlan] {

  private def marker(e: Expression): Option[Expression] = e match {
    case UnresolvedAlias(inner, _) => marker(inner)
    case Alias(inner, _) => marker(inner)
    case f: UnresolvedFunction
        if f.nameParts.map(_.toLowerCase) == Seq("with_m90") &&
          f.arguments.length == 1 =>
      Some(f.arguments.head)
    case _ => None
  }

  private def isMarkerFn(e: Expression): Boolean = e match {
    case f: UnresolvedFunction => f.nameParts.map(_.toLowerCase) == Seq("with_m90")
    case _ => false
  }

  private def pair(arg: Expression): (String, Expression, UnresolvedAttribute) = arg match {
    case a: UnresolvedAttribute =>
      (a.nameParts.last, a,
        UnresolvedAttribute(a.nameParts.init :+ (a.nameParts.last + "_m90")))
    case a: AttributeReference =>
      (a.name, a, UnresolvedAttribute(Seq(a.name + "_m90")))
    case other => throw new IllegalArgumentException(
      s"with_m90 takes a single column reference, got: $other")
  }

  private def expand(arg: Expression): Seq[NamedExpression] = {
    val (_, est, m90) = pair(arg)
    Seq(est.asInstanceOf[NamedExpression], m90)
  }

  /** Grouped expansion: [[AcsMath.aggSumM]]'s pair, named `est, est_m90`. */
  private def expandAgg(arg: Expression): Seq[NamedExpression] = {
    val (name, est, m90) = pair(arg)
    AcsMath.aggSumM(GraftSqlBridge.column(est), GraftSqlBridge.column(m90)).named(name)
      .map(c => GraftSqlBridge.expression(c).asInstanceOf[NamedExpression])
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case Project(list, child) if list.exists(e => marker(e).isDefined) =>
      Project(list.flatMap(e => marker(e).map(expand).getOrElse(Seq(e))), child)
    case a: Aggregate if a.aggregateExpressions.exists(e => marker(e).isDefined) =>
      a.copy(aggregateExpressions = a.aggregateExpressions
        .flatMap(e => marker(e).map(expandAgg).getOrElse(Seq(e))))
    case p if p.expressions.exists(_.exists(isMarkerFn)) =>
      throw new UnsupportedOperationException(
        "with_m90(col) is only supported as a top-level select item of a " +
          "projection or aggregation (where it expands to the estimate/margin " +
          s"pair); found it in: ${p.nodeName}. Move it to the select list, or " +
          "reference col and col_m90 explicitly.")
  }
}
