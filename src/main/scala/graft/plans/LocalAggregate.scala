package graft.plans

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{MutableProjection, SubqueryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, LOCAL_RELATION}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.aggregate.SortBasedAggregationIterator
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructType, UserDefinedType}

/** Optimizer rule: an `Aggregate` whose input already sits on the driver
  * (its child folds to a non-streaming `LocalRelation`, e.g. a
  * [[graft.sources.DriverFrame]]) becomes a `LocalRelation` of its result.
  * A grouped `with_m90` SQL request or `groupBySum(...)` over a decoded
  * census table then starts no Spark job, where the physical aggregate
  * costs two (AQE's map stage, then the result stage) and a shuffle.
  *
  * The rows are grouped by their `UnsafeRow` key and fed, one group after
  * another, to Spark's own `SortBasedAggregationIterator` in `Complete`
  * mode, so every aggregate function keeps Spark's update/evaluate
  * semantics (nulls, decimals, ANSI errors). Spark's "LocalRelation" batch
  * then folds the `Project`/`Filter`/`Limit` above the result.
  *
  * The rule leaves the plan to Spark unless the aggregate is resolved,
  * deterministic and subquery-free, the relation is non-empty, no
  * aggregate is DISTINCT, FILTERed or not Spark-evaluable (a Python UDAF),
  * and every grouping key is byte-comparable: Spark normalizes -0.0/NaN
  * float keys and compares collated strings by collation key, which
  * hashing the raw bytes would not. If evaluation throws, the `Aggregate`
  * stays, so the error surfaces at execution as it would without the rule.
  *
  * Injected by [[graft.GraftExtensions]]; switched off only through
  * Spark's `spark.sql.optimizer.excludedRules` (`graft.plans.LocalAggregate`).
  */
object LocalAggregate extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAllPatterns(AGGREGATE, LOCAL_RELATION)) {
      case a: Aggregate if eligible(a) =>
        // Runs inside operator optimization, where the child may still be
        // a Project (e.g. PullOutGroupingExpressions') over the relation.
        ConvertToLocalRelation(a.child) match {
          case child @ LocalRelation(_, data, false, _) if data.nonEmpty =>
            fold(a, child).getOrElse(a)
          case _ => a
        }
    }

  private def eligible(a: Aggregate): Boolean =
    a.resolved && a.deterministic &&
      !a.expressions.exists(SubqueryExpression.hasSubquery) &&
      a.groupingExpressions.forall(k => byteComparable(k.dataType)) &&
      a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression => ae })
        .forall(evaluable)

  /** Not DISTINCT, not FILTERed, and an aggregate Spark evaluates itself. */
  private def evaluable(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case _: DeclarativeAggregate | _: ImperativeAggregate => true
      case _ => false
    })

  private def byteComparable(dt: DataType): Boolean = UnsafeRowUtils.isBinaryStable(dt) &&
    (dt match {
      case FloatType | DoubleType | _: ArrayType | _: StructType | _: MapType |
          _: UserDefinedType[_] => false
      case _ => true
    })

  private def fold(a: Aggregate, child: LocalRelation): Option[LocalRelation] = a match {
    case PhysicalAggregation(keys, aggs, results, _) =>
      try {
        val complete = aggs.map(_.copy(mode = Complete))
        val keyOf = UnsafeProjection.create(keys, child.output)
        val groups = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
        child.data.foreach { r =>
          groups.getOrElseUpdate(keyOf(r).copy(), mutable.ArrayBuffer.empty) += r
        }
        val out = new SortBasedAggregationIterator(0, keys, child.output,
          groups.valuesIterator.flatMap(_.iterator), complete, complete.map(_.resultAttribute),
          0, results, (exprs, schema) => MutableProjection.create(exprs, schema),
          new SQLMetric("sum", 0L))
        Some(LocalRelation(a.output, out.map(_.copy()).toIndexedSeq))
      } catch { case NonFatal(_) => None }
    case _ => None
  }
}
