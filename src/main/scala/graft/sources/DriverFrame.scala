package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.StructType

/** The one driver-side frame builder of the sources: rows decoded on the
  * driver ([[CensusReporterDecoder.toFrame]], [[CensusApi.toDataFrame]],
  * [[VarRep.loadVarRep]]) become a `LocalRelation` whose output is an
  * `IndexedSeq`.
  *
  * Why not `createDataFrame`: it maps the `StructType` into a `List` of
  * attributes, and every `Project` built over that output inherits the
  * `List` (`withColumn`, and `PullOutGroupingExpressions`'
  * `child.output ++ …` under a grouped SQL aggregate). Spark's
  * `ConvertToLocalRelation` (optimizer batch "LocalRelation early", before
  * column pruning) evaluates each such `Project` row by row with
  * `InterpretedMutableProjection`, which indexes its expression list per
  * field, so on a `List` every row costs O(width²).
  *
  * Aggregates over such a frame run on the driver too:
  * [[graft.plans.LocalAggregate]] folds them to a `LocalRelation` of their
  * result, so a frame's derived measures and grouped sums start no Spark
  * job.
  */
private[graft] object DriverFrame {
  def apply(spark: SparkSession, schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
    ofInternalRows(spark, schema, internalRows(schema, rows))

  /** The builder: rows already in Spark's internal form, as a decoder
    * that parses with Spark's own code ([[VarRep.loadVarRep]]) emits them.
    */
  def ofInternalRows(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    GraftSqlBridge.ofRows(spark, LocalRelation(schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable, f.metadata)()), rows))

  /** The one converter of decoded rows to Spark rows; the DSv2 scan
    * ([[CensusReporterDataSource]]) serves its result.
    */
  private[sources] def internalRows(schema: StructType, rows: Seq[Seq[Any]]): Seq[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(r => toCatalyst(Row.fromSeq(r)).asInstanceOf[InternalRow])
  }
}
