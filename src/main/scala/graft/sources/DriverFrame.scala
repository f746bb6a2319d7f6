package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.types.StructType

import graft.plans.{DriverRelation, DriverRelationStrategy, DriverRows}

/** The one driver-side frame builder of the sources: rows decoded on the
  * driver ([[CensusReporterDecoder.toFrame]], [[CensusApi.toDataFrame]],
  * [[VarRep.loadVarRep]]) become a [[graft.plans.DriverRelation]] leaf,
  * whose rows Catalyst's rules pass through uncopied and over which
  * [[graft.plans.FoldDriverRelation]] folds derived measures, filters and
  * grouped sums once, with generated code: a census request starts no
  * Spark job. Its output is an `IndexedSeq`, which project lists built on
  * it inherit (`withColumn`), so an interpreted projection indexes them
  * in constant time. The leaf's strategy is registered on the session, so
  * a frame plans in a session without [[graft.GraftExtensions]] too.
  */
private[graft] object DriverFrame {
  def apply(spark: SparkSession, schema: StructType, rows: Seq[Seq[Any]]): DataFrame =
    ofInternalRows(spark, schema, internalRows(schema, rows))

  /** The builder: rows already in Spark's internal form, as a decoder
    * that parses with Spark's own code ([[VarRep.loadVarRep]]) emits them.
    */
  def ofInternalRows(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame = {
    GraftSqlBridge.addStrategy(spark, DriverRelationStrategy)
    GraftSqlBridge.ofRows(spark, DriverRelation(schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, f.nullable, f.metadata)()),
      new DriverRows(rows.toIndexedSeq)))
  }

  /** The one converter of decoded rows to Spark rows; the DSv2 scan
    * ([[CensusReporterDataSource]]) serves its result.
    */
  private[sources] def internalRows(schema: StructType, rows: Seq[Seq[Any]]): Seq[InternalRow] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    rows.map(r => toCatalyst(Row.fromSeq(r)).asInstanceOf[InternalRow])
  }
}
