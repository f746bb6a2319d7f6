package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.AcsMath
import graft.sources.VarRep

/** The ACS error-propagation operators (SURVEY §2.3 M1-M5, §2.4 A1) run
  * over the driver testdata so the DuckDB oracle can check them at sf0.01.
  *
  * The testdata has no native margin columns, so each query *constructs*
  * deterministic (estimate, m90) pairs from lineitem columns:
  *   a = l_quantity         a_m90 = 1 + 10·l_tax
  *   b = 100·l_discount     b_m90 = 1 + 5·l_tax
  * Row-wise arithmetic on doubles is IEEE-deterministic, so the Spark and
  * DuckDB expressions produce bit-identical results with no tolerance.
  */
object AcsQueries {
  import Det._

  // shared pair definitions (Spark side)
  private def pairs = {
    val a = col("l_quantity")
    val am = lit(1.0) + lit(10.0) * col("l_tax")
    val b = lit(100.0) * col("l_discount")
    val bm = lit(1.0) + lit(5.0) * col("l_tax")
    (a, am, b, bm)
  }
  // shared pair definitions (DuckDB side) — must mirror the above exactly
  private val A = "l_quantity"
  private val AM = "(1.0 + 10.0 * l_tax)"
  private val B = "(100.0 * l_discount)"
  private val BM = "(1.0 + 5.0 * l_tax)"
  private val Key = "ORDER BY l_orderkey, l_linenumber"

  /** Fixed path where q38 dumps its decoded census inputs so the DuckDB
    * oracle (which cannot decode the census JSON) can replay the
    * downstream MOE pipeline over the same rows.
    */
  private val Q38BasePath = "/tmp/graft_oracle_fixtures/q38_base.parquet"

  val all: Seq[Q] = Seq(
    // ---- M1: row-wise sum with RSS margin ----
    Q("q30_acs_sum_m", (s, d) => {
      val (a, am, b, bm) = pairs
      val p = AcsMath.sumM(Seq((a, am), (b, bm)))
      Tables(s, d, "lineitem")
        .select(Seq(col("l_orderkey"), col("l_linenumber")) ++ p.named("s"): _*)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(s"""
      SELECT l_orderkey, l_linenumber, $A + $B AS s,
        sqrt($AM*$AM + $BM*$BM) AS s_m90
      FROM lineitem $Key""")),

    // ---- M2: proportion with guarded radicand ----
    Q("q31_acs_proportion", (s, d) => {
      val (a, am, b, bm) = pairs
      val p = AcsMath.proportion(b, bm, a, am) // b ⊆ a (b can exceed → guard fires)
      Tables(s, d, "lineitem")
        .select(Seq(col("l_orderkey"), col("l_linenumber")) ++ p.named("p"): _*)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(s"""
      SELECT l_orderkey, l_linenumber, $B / $A AS p,
        CASE WHEN $BM*$BM - ($B/$A)*($B/$A)*($AM*$AM) >= 0
             THEN sqrt($BM*$BM - ($B/$A)*($B/$A)*($AM*$AM)) / $A
             ELSE sqrt($BM*$BM + ($B/$A)*($B/$A)*($AM*$AM)) / $A
        END AS p_m90
      FROM lineitem $Key""")),

    // ---- M3: ratio ----
    Q("q32_acs_ratio", (s, d) => {
      val (a, am, b, bm) = pairs
      val p = AcsMath.ratio(b, bm, a, am)
      Tables(s, d, "lineitem")
        .select(Seq(col("l_orderkey"), col("l_linenumber")) ++ p.named("r"): _*)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(s"""
      SELECT l_orderkey, l_linenumber, $B / $A AS r,
        sqrt($BM*$BM + ($B/$A)*($B/$A)*($AM*$AM)) / $A AS r_m90
      FROM lineitem $Key""")),

    // ---- M4: product ----
    Q("q33_acs_product", (s, d) => {
      val (a, am, b, bm) = pairs
      val p = AcsMath.product(a, am, b, bm)
      Tables(s, d, "lineitem")
        .select(Seq(col("l_orderkey"), col("l_linenumber")) ++ p.named("pr"): _*)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(s"""
      SELECT l_orderkey, l_linenumber, $A * $B AS pr,
        sqrt($A*$A*($BM*$BM) + $B*$B*($AM*$AM)) AS pr_m90
      FROM lineitem $Key""")),

    // ---- M5: relative standard error ----
    Q("q34_acs_rse", (s, d) => {
      val (a, am, _, _) = pairs
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          AcsMath.rse(a, am).as("a_rse"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }, Some(s"""
      SELECT l_orderkey, l_linenumber, $AM / 1.645 / $A * 100.0 AS a_rse
      FROM lineitem $Key""")),

    // ---- A1: grouped sum with RSS margin combination ----
    Q("q35_acs_grouped_rss", (s, d) => {
      val (a, am, _, _) = pairs
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          dsum(a, 2).as("a"),
          // m90² sums are order-dependent in double; round after sqrt —
          // the ~1e-10 cross-engine jitter is far below 1e-6
          round(AcsMath.aggSumM(a, am).m90, 6).as("a_m90"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, Some(s"""
      SELECT l_returnflag, ${duckSum(A, 2)} AS a,
        round(sqrt(sum($AM*$AM)), 6) AS a_m90, count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- A2: grouped mean with RSS/count margin (the groupByMean
    // semantics of CensusFrame through the oracle gate: estimate mean
    // via exact decimal sum / count, margin = sqrt(sum m²)/n rounded
    // like q35's RSS) ----
    Q("q83_acs_grouped_mean", (s, d) => {
      val (a, am, _, _) = pairs
      Tables(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          davg(a, 2).as("a_mean"),
          round(AcsMath.aggMeanM(a, am).m90, 6).as("a_mean_m90"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }, Some(s"""
      SELECT l_returnflag, ${duckAvg(A, 2)} AS a_mean,
        round(sqrt(sum($AM*$AM)) / count(*), 6) AS a_mean_m90, count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- F7/F8: k-value step function + average-weight lookup ----
    Q("q36_kval_weight", (s, d) => {
      Tables(s, d, "orders")
        .withColumn("k", VarRep.kVal(col("o_totalprice")))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }, Some(s"""
      SELECT ${VarRep.kValSql("o_totalprice")} AS k, count(*) AS n
      FROM orders GROUP BY k ORDER BY k""")),

    Q("q37_ave_weight", (s, d) => {
      Tables(s, d, "nation")
        .select(col("n_nationkey"), VarRep.aveWeightCol(col("n_nationkey")).as("ave_weight"))
        .orderBy(col("n_nationkey"))
    }, Some(s"""
      SELECT n_nationkey, ${VarRep.aveWeightSql("n_nationkey")} AS ave_weight
      FROM nation ORDER BY n_nationkey""")),

    // ---- the SQL surface of the margin-pairing convention: the
    // MarginExpansionRule (injected via GraftExtensions) expands
    // `with_m90(qty)` to `qty, qty_m90` during analysis — the SQL twin
    // of selectCensus. The rewrite happens pre-optimization, so column
    // pruning still reaches the scan. ----
    Q("q74_margin_sql", (s, d) => {
      Tables(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").as("qty"),
          (lit(1.0) + lit(10.0) * col("l_tax")).as("qty_m90"))
        .createOrReplaceTempView("margins")
      s.sql("""SELECT l_orderkey, l_linenumber, with_m90(qty)
               FROM margins ORDER BY l_orderkey, l_linenumber""")
    }, Some(s"""
      SELECT l_orderkey, l_linenumber, l_quantity AS qty,
        (1.0 + 10.0 * l_tax) AS qty_m90
      FROM lineitem $Key""")),

    // ---- with_m90 inside an aggregate select list: the rule expands to
    // the groupBySum RSS semantics (AcsMath.aggSumM) — sum(qty) AS qty,
    // sqrt(sum(qty_m90 * qty_m90)) AS qty_m90 — so SQL users get grouped
    // margin propagation for free (VERDICT r2 #7). Group sums of doubles
    // are order-dependent, so both sides round to 6 (same mitigation as
    // q35/q38; 60k-row sums carry ~1e-9 absolute error, far below it). ----
    Q("q85_margin_sql_agg", (s, d) => {
      Tables(s, d, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_quantity").as("qty"),
          (lit(1.0) + lit(10.0) * col("l_tax")).as("qty_m90"))
        .createOrReplaceTempView("margins_agg")
      s.sql("SELECT g, with_m90(qty) FROM margins_agg GROUP BY g")
        .select(col("g"), round(col("qty"), 6).as("qty"),
          round(col("qty_m90"), 6).as("qty_m90"))
        .orderBy(col("g"))
    }, Some(s"""
      SELECT l_returnflag AS g,
        round(sum(l_quantity), 6) AS qty,
        round(sqrt(sum($AM * $AM)), 6) AS qty_m90
      FROM lineitem GROUP BY 1 ORDER BY g""")),

    // ---- the reference's end-to-end slice (SURVEY §7.5): censusreporter
    // source → metadata frame → margin-carrying select → MOE algebra →
    // RSS group-by, on the checked-in B17001-format fixture. The JSON
    // decode itself is not SQL-expressible, so the query materializes the
    // decoded (estimate, m90) inputs to a fixed parquet path and the
    // oracle replays the ENTIRE downstream pipeline (sumM, guarded
    // proportion, fillna, RSS group-by) over it in DuckDB — closing the
    // loop that was rows-only in round 1. Group sums are a handful of
    // doubles, so both sides round to 6 (same mitigation as q35).
    Q("q38_census_pipeline", (s, _) => {
      val cf = graft.sources.CensusReporter
        .loadJsonResource(s, "censusreporter/acs_fixture.json", "B17001")
      cf.df.select(col("geoid"),
        cf.pair("004")._1.as("e004"), cf.pair("004")._2.as("m004"),
        cf.pair("007")._1.as("e007"), cf.pair("007")._2.as("m007"),
        cf.pair("002")._1.as("e002"), cf.pair("002")._2.as("m002"),
        cf.pair("001")._1.as("e001"), cf.pair("001")._2.as("m001"))
        .coalesce(1).write.mode("overwrite").parquet(Q38BasePath)
      val enriched = cf
        .withPairs(
          "under5" -> cf.sumM("004", "007"), // male + female under 5
          "poor_share" -> cf.proportion("002", "001"))
        .addRse("under5")
        .fillNaMargins()
      val grouped = enriched.copy(df = enriched.df
          .withColumn("g", substring(col("geoid"), -1, 1)))
        .selectCensus("g", "under5", "poor_share")
        .groupBySum("g")
        .sortColumns
      val out = grouped.df
      out.select(col("g") +: out.columns.filterNot(_ == "g")
          .map(c => round(col(c), 6).as(c)).toSeq: _*)
        .orderBy(col("g"))
    }, Some(s"""
      WITH base AS (SELECT * FROM parquet_scan('$Q38BasePath/*.parquet')),
      d AS (SELECT substr(geoid, length(geoid), 1) AS g,
        e004 + e007 AS under5,
        sqrt(m004*m004 + m007*m007) AS u_m90,
        e002 / e001 AS poor_share,
        CASE WHEN m002*m002 - (e002/e001)*(e002/e001)*(m001*m001) >= 0
             THEN sqrt(m002*m002 - (e002/e001)*(e002/e001)*(m001*m001)) / e001
             ELSE sqrt(m002*m002 + (e002/e001)*(e002/e001)*(m001*m001)) / e001
        END AS p_m90
        FROM base),
      f AS (SELECT g, under5,
        coalesce(CASE WHEN isnan(u_m90) THEN 0.0 ELSE u_m90 END, 0.0) AS under5_m90,
        poor_share,
        coalesce(CASE WHEN isnan(p_m90) THEN 0.0 ELSE p_m90 END, 0.0) AS poor_share_m90
        FROM d)
      SELECT g, round(sum(poor_share), 6) AS poor_share,
        round(sqrt(sum(poor_share_m90*poor_share_m90)), 6) AS poor_share_m90,
        round(sum(under5), 6) AS under5,
        round(sqrt(sum(under5_m90*under5_m90)), 6) AS under5_m90
      FROM f GROUP BY g ORDER BY g"""))
  )
}
