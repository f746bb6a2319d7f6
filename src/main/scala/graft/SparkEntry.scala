package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.AcsMath
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every declared operator (SURVEY §2 + north-star [EXT] set) appears in
  * [[queries]]; the SQL-expressible ones also appear in [[oracleSql]] with
  * an exactly-equivalent DuckDB query (same column names, same ordering,
  * deterministic float handling — see [[graft.queries.Det]]).
  */
object SparkEntry {

  /** All query packs. */
  def packs: Seq[Q] =
    RelationalQueries.all ++ AcsQueries.all ++ PipelineQueries.all ++ StreamingQueries.all

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    *
    * The notebook's analysis chain (SURVEY §3.2) transplanted onto the
    * testdata: construct (estimate, m90) pairs, propagate errors through
    * sum/proportion/RSE, then aggregate with RSS margins — one logical
    * plan, one shuffle.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables(spark, d, "lineitem")
    val a = col("l_quantity")
    val am = lit(1.0) + lit(10.0) * col("l_tax")
    val b = lit(100.0) * col("l_discount")
    val bm = lit(1.0) + lit(5.0) * col("l_tax")
    val sm = AcsMath.sumM(Seq((a, am), (b, bm)))
    val prop = AcsMath.proportion(b, bm, a, am)
    val aggs = AcsMath.aggSumM(col("s"), col("s_m90")).named("s") ++
      Seq(avg(col("p")).as("p_mean"), count(lit(1)).as("n"))
    li.select(Seq(col("l_returnflag")) ++ sm.named("s") ++ prop.named("p")
        :+ AcsMath.rse(sm.est, sm.m90).as("s_rse"): _*)
      .na.fill(0.0, Seq("s_m90", "p_m90"))
      .groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("l_returnflag"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline queries timed by Bench at sf0.1. */
  def benchQueries: Seq[String] = packs.filter(_.bench).map(_.name)
}
