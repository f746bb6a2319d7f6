package graft.plans

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, TreePattern}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.SortBasedAggregationIterator
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructType, UserDefinedType}

/** The rows of a [[DriverRelation]]: not a `Seq` or any other `Iterable`,
  * so Catalyst's tree transforms, which map every collection among a
  * node's arguments, pass it through uncopied; and equal only to itself,
  * so distinct frames never share a canonical form or a cache entry.
  */
final class DriverRows(val all: IndexedSeq[InternalRow]) {
  override def toString: String = s"${all.length} rows"
}

/** A frame whose rows sit on the driver ([[graft.sources.DriverFrame]]),
  * tagged with the pattern of Spark's own `LocalRelation`.
  */
case class DriverRelation(output: Seq[Attribute], rows: DriverRows)
    extends LeafNode with MultiInstanceRelation {
  override val nodePatterns: Seq[TreePattern] = Seq(LOCAL_RELATION)
  override def newInstance(): DriverRelation = copy(output = output.map(_.newInstance()))
  override def maxRows: Option[Long] = Some(rows.all.length)
  override def computeStats(): Statistics = Statistics(
    EstimationUtils.getSizePerRow(output) * rows.all.length, Some(rows.all.length))
}

/** Optimizer rule: `Project`, `Filter`, `Aggregate` and `LocalLimit` over
  * a [[DriverRelation]] fold into a new one (`EliminateLimits` then drops
  * the `GlobalLimit`). Injected at the end of operator optimization, after
  * `ColumnPruning` and `CollapseProject`, it sees a stacked `addRse →
  * withPairs → select` as one `Project` over the columns kept and
  * evaluates it once; a dropped column's error (an ANSI divide by zero)
  * does not fail the query, as over a file. Projections and filters run as
  * generated code (`UnsafeProjection`, `Predicate`) with Spark's
  * interpreted fallback; aggregates run group by group through Spark's
  * `SortBasedAggregationIterator` in `Complete` mode. An aggregate over a
  * non-streaming `LocalRelation` (`toDF`) folds to a `LocalRelation`.
  *
  * Left unfolded: an operator with a non-deterministic, subquery or
  * unevaluable expression or whose evaluation throws (the error surfaces
  * at execution); an aggregate over no rows, with a DISTINCT, FILTERed or
  * Python aggregate, or a key that is not byte-comparable (Spark
  * normalizes -0.0/NaN float keys and compares collated strings by key).
  * Switched off through `spark.sql.optimizer.excludedRules`.
  */
object FoldDriverRelation extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION))(fold)

  private val fold: PartialFunction[LogicalPlan, LogicalPlan] = {
    case p @ Project(list, d: DriverRelation) if foldable(list) => evaluate(p) {
      val project = UnsafeProjection.create(list, d.output)
      d.rows.all.map(r => project(r).copy())
    }
    case f @ Filter(condition, d: DriverRelation) if foldable(Seq(condition)) => evaluate(f) {
      val predicate = Predicate.create(condition, d.output)
      predicate.initialize(0)
      d.rows.all.filter(predicate.eval)
    }
    case l @ LocalLimit(IntegerLiteral(n), d: DriverRelation) => evaluate(l)(d.rows.all.take(n))
    case a: Aggregate if eligible(a) => driverRows(a.child).flatMap(aggregate(a, _)).map { rows =>
      if (a.child.isInstanceOf[DriverRelation]) DriverRelation(a.output, new DriverRows(rows))
      else LocalRelation(a.output, rows)
    }.getOrElse(a)
  }

  private def evaluate(p: LogicalPlan)(rows: => IndexedSeq[InternalRow]): LogicalPlan =
    try DriverRelation(p.output, new DriverRows(rows)) catch { case NonFatal(_) => p }

  private def foldable(es: Seq[Expression]): Boolean = es.forall(e => e.deterministic &&
    !SubqueryExpression.hasSubquery(e) &&
    !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[Attribute]))

  /** An aggregate's input: a driver relation, or a folded chain over a `LocalRelation`. */
  private def driverRows(p: LogicalPlan): Option[DriverRelation] = p match {
    case d: DriverRelation => Some(d)
    case LocalRelation(out, data, false, _) =>
      Some(DriverRelation(out, new DriverRows(data.toIndexedSeq)))
    case u: UnaryNode => driverRows(u.child).map(c => u.withNewChildren(Seq(c)))
      .flatMap(fold.lift).collect { case d: DriverRelation => d }
    case _ => None
  }

  private def eligible(a: Aggregate): Boolean =
    a.resolved && a.deterministic && !a.expressions.exists(SubqueryExpression.hasSubquery) &&
      a.groupingExpressions.forall(k => byteComparable(k.dataType)) &&
      a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae }).forall(ae =>
        !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
          case _: DeclarativeAggregate | _: ImperativeAggregate => true
          case _ => false
        }))

  private def byteComparable(dt: DataType): Boolean = UnsafeRowUtils.isBinaryStable(dt) &&
    (dt match {
      case FloatType | DoubleType | _: ArrayType | _: StructType | _: MapType |
          _: UserDefinedType[_] => false
      case _ => true
    })

  private def aggregate(a: Aggregate, in: DriverRelation) = a match {
    case PhysicalAggregation(keys, aggs, results, _) if in.rows.all.nonEmpty =>
      try {
        val complete = aggs.map(_.copy(mode = Complete))
        val keyOf = UnsafeProjection.create(keys, in.output)
        val groups = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
        in.rows.all.foreach { r =>
          groups.getOrElseUpdate(keyOf(r).copy(), mutable.ArrayBuffer.empty) += r
        }
        val out = new SortBasedAggregationIterator(0, keys, in.output,
          groups.valuesIterator.flatMap(_.iterator), complete, complete.map(_.resultAttribute),
          0, results, (exprs, schema) => MutableProjection.create(exprs, schema),
          new SQLMetric("sum", 0L))
        Some(out.map(_.copy()).toIndexedSeq)
      } catch { case NonFatal(_) => None }
    case _ => None
  }
}

/** Plans a [[DriverRelation]] left unfolded, as Spark plans a
  * `LocalRelation`: a collect over it starts no job.
  */
object DriverRelationStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DriverRelation(output, rows) => LocalTableScanExec(output, rows.all, None) :: Nil
    case _ => Nil
  }
}
