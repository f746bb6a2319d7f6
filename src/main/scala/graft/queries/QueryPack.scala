package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructType}

/** A declared engine capability: a Spark query over the driver testdata plus
  * (when SQL-expressible) an equivalent DuckDB oracle query. The driver
  * hash-compares the two at sf0.01 (`BASELINE.json.metric`).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** headline queries are also timed by Bench at sf0.1 */
    bench: Boolean = false)

/** The testdata tables, each read with its one declared layout — no
  * schema-inference job per read. The layouts are the files' footers,
  * identical at sf0.001, sf0.01 and sf0.1. Dates and `events.ts` are
  * parquet TIMESTAMP(MICROS) with no zone; declared `TIMESTAMP`, they read
  * as the stored micros under the UTC sessions of [[graft.GraftConf]],
  * which is the DuckDB oracle's naive reading of the same files.
  *
  * A file of another layout fails its read: a column of another type
  * (a STRING `doc_id`, an INT64 or TIMESTAMP(NANOS) `ts`) raises
  * `PARQUET_COLUMN_DATA_TYPE_MISMATCH`; only lossless widenings (an INT32
  * `n_chars`) read. A declared column absent from a file reads as null,
  * so a narrower file of the same names stays readable.
  *
  * Scan parallelism: the testdata ships ONE row group per file, so each
  * scan stage runs on a single core locally. A repartition-after-scan was
  * measured and REJECTED: the extra exchange defeats map-side combine
  * (bench: 5.2s → 16.9s). On a cluster the writer sizes row groups and
  * scans split naturally.
  */
object Tables {
  /** The declared layout of each testdata table, by table name. */
  val schema: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey LONG, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey LONG, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey LONG, l_partkey LONG, l_suppkey LONG, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events" -> ("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    "embeddings" -> "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  def apply(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.schema(schema(name)).parquet(s"$dir/$name.parquet")
}

/** Cross-engine float determinism helpers.
  *
  * Summing doubles is order-dependent, and both engines aggregate in
  * nondeterministic partial orders — so sums that must hash-match are done
  * in exact decimal arithmetic on both sides:
  *
  *  - Spark: `sum(x.cast(DecimalType(p, s)))` — double→decimal cast rounds
  *    HALF_UP.
  *  - DuckDB: `sum(CAST(CAST(x AS VARCHAR) AS DECIMAL(p, s)))` — the
  *    varchar hop matters: DuckDB's double→decimal cast TRUNCATES (0.125 →
  *    0.12) which would disagree with Spark for values like 901.82 stored
  *    as 901.819999…; its string→decimal parse rounds half-up like Spark.
  *
  * Inputs here are money/quantity columns with ≤2 decimal digits (verified
  * on the testdata), or products of them (≤6 digits), so the decimal cast
  * is lossless and both engines sum identical exact values.
  */
object Det {
  /** Exact decimal sum surfaced as double. */
  def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18 + scale, scale))).cast(DoubleType)

  /** DuckDB rendering of [[dsum]]. */
  def duckSum(expr: String, scale: Int): String =
    s"CAST(sum(CAST(CAST($expr AS VARCHAR) AS DECIMAL(${18 + scale},$scale))) AS DOUBLE)"

  /** Exact mean: decimal sum / count, divided in double (both engines
    * divide the same two exact numbers — IEEE-deterministic).
    */
  def davg(c: Column, scale: Int): Column =
    (sum(c.cast(DecimalType(18 + scale, scale))).cast(DoubleType) / count(lit(1)))

  def duckAvg(expr: String, scale: Int): String =
    s"(${duckSum(expr, scale)} / count(*))"

  /** Sample stddev derived from exact decimal sums (x has ≤`scale/2`
    * decimals so x² is exact at `scale`): deterministic in both engines
    * with no rounding tolerance needed.
    */
  def dstddev(c: Column, scale: Int): Column = {
    val n = count(lit(1)).cast(DoubleType)
    val s1 = sum(c.cast(DecimalType(18 + scale, scale))).cast(DoubleType)
    val s2 = sum((c * c).cast(DecimalType(30 + scale, scale))).cast(DoubleType)
    // the sums are exact, but the final float expression can differ by an
    // ULP between engines (FMA contraction) — round to 6 places
    round(sqrt((s2 - s1 * s1 / n) / (n - lit(1))), 6)
  }

  def duckStddev(expr: String, scale: Int): String = {
    val s1 = duckSum(expr, scale)
    val s2 = s"CAST(sum(CAST(CAST(($expr)*($expr) AS VARCHAR) AS DECIMAL(${30 + scale},$scale))) AS DOUBLE)"
    s"round(sqrt(($s2 - $s1*$s1/count(*)) / (count(*) - 1)), 6)"
  }
}
