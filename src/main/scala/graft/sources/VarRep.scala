package graft.sources

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateArray, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}

import graft.functions.VectorFunctions

/** Variance-replicate utilities (reference `varrep.py`, absent from the
  * snapshot; observable surface pinned by `test/test_basic.py:221-234`).
  *
  * The published ACS Variance Replicate Estimate tables are long-format
  * CSVs, one row per (geography, table line), with 80 replicate columns:
  * `TBLID, GEOID, ORDER, TITLE, CME, ESTIMATE, MOE, Var_Rep1..Var_Rep80`
  * (FIXTURES.md §5). Variance is computed from replicate deviations with
  * the 4/80 factor of the successive-difference-replication method.
  */
object VarRep {

  /** k-value step function (ref `test/test_basic.py:229-234` pins
    * f(1000)=4, f(10000)=10, f(49999)=18, f(50001)=22). The reference's
    * full breakpoint table is not in the snapshot; these monotone
    * breakpoints reproduce every pinned constant.
    */
  val kBreakpoints: Seq[(Double, Int)] =
    Seq((5000.0, 4), (15000.0, 10), (50000.0, 18), (Double.MaxValue, 22))

  /** k-value as a `when()` chain — no UDF, codegen-friendly (SURVEY F7). */
  def kVal(pop: Column): Column =
    kBreakpoints.init.foldRight(lit(kBreakpoints.last._2): Column) {
      case ((upper, k), rest) => when(pop < upper, k).otherwise(rest)
    }

  /** [[kVal]] rendered as an equivalent SQL CASE chain for oracles. */
  def kValSql(expr: String): String =
    kBreakpoints.init.map { case (u, k) => s"WHEN $expr < $u THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${kBreakpoints.last._2} END")

  /** Average sampling weight per state FIPS (ref `test/test_basic.py:227`
    * pins state 11 (DC) → 13; the remaining rows of the reference's lookup
    * are not in the snapshot — synthesized deterministically and documented
    * as such).
    */
  def aveWeight(stateFips: Int): Int = if (stateFips == 11) 13 else 10 + stateFips % 7

  /** Broadcast-lookup column form of [[aveWeight]] (SURVEY F8). */
  def aveWeightCol(stateFips: Column): Column =
    when(stateFips === 11, 13).otherwise(lit(10) + pmod(stateFips, lit(7)))

  def aveWeightSql(expr: String): String =
    s"CASE WHEN $expr = 11 THEN 13 ELSE 10 + ($expr) % 7 END"

  private val repNames = (1 to 80).map(i => s"Var_Rep$i")

  /** The documented VRE layout (FIXTURES.md §5). Declared rather than
    * inferred: inference costs two extra Spark jobs and a pass over the
    * file per load, and would read an all-digit GEOID such as
    * `01001020100` as a number, losing its leading zero.
    */
  private[graft] val varRepSchema: StructType = StructType(
    Seq("TBLID" -> StringType, "GEOID" -> StringType, "ORDER" -> IntegerType,
      "TITLE" -> StringType, "CME" -> StringType, "ESTIMATE" -> DoubleType,
      "MOE" -> DoubleType).map { case (n, t) => StructField(n, t) } ++
      repNames.map(StructField(_, DoubleType)))

  /** Load a variance-replicate CSV (long format, FIXTURES.md §5) and pack
    * the 80 wide replicate columns into one array column for the variance
    * math — the scalable layout (one shuffle key, no 80-column fanout).
    * The header must name [[varRepSchema]]'s columns in order
    * (`enforceSchema=false`): a file of another layout fails here, not by
    * being read by position.
    *
    * The load is eager and runs on the driver: Spark's own CSV reader
    * ([[org.apache.spark.sql.GraftSqlBridge.readCsv]], the code of a
    * `spark.read.csv` scan, so header check, PERMISSIVE nulls and number
    * parsing are Spark's) decodes the file in line-aligned byte ranges,
    * one per driver core with at least 1 MB each, on a shared daemon pool.
    * Only the range at offset 0 checks the header; a compressed file is one
    * range. Each range packs its lines into the 8-column layout with its
    * own projection, and the rows are kept in file order. The result is a
    * [[DriverFrame]], so the replicate MOE over it folds on the driver and
    * a VRE request starts no Spark job.
    *
    * Driver bound: one VRE file covers one table in one state — 8,771 rows
    * for DC, about 395k (≈ 8k tracts × 49 lines, 171 MB) for the largest
    * state — at about 0.8 KB per packed row, so ≈ 330 MB held at the
    * largest; the reference's `get_varrep_dataframe` holds the same file
    * in memory. Measured warm with `local[3]` on a 4-vCPU VM (3 ranges),
    * the DC file (3.8 MB) loads in 70–90 ms and the largest in 1.6–2.2 s,
    * 2.7–3.6 s with its MOE collected; read as one range they took
    * 110–150 ms and 3.5–4.4 s.
    */
  def loadVarRep(spark: SparkSession, path: String): DataFrame =
    loadVarRep(spark, path, None)

  /** [[loadVarRep]] with the range count of an uncompressed file forced. */
  private[graft] def loadVarRep(spark: SparkSession, path: String,
      ranges: Option[Int]): DataFrame = {
    val fields = varRepSchema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      BoundReference(i, f.dataType, f.nullable) }
    val packed = fields.take(7) :+ CreateArray(fields.drop(7))
    val schema = StructType(varRepSchema.take(7) :+
      StructField("replicates", packed.last.dataType, packed.last.nullable))
    DriverFrame.ofInternalRows(spark, schema, GraftSqlBridge.readCsv(spark, path,
      varRepSchema, Map("header" -> "true", "enforceSchema" -> "false"), ranges) { () =>
      val pack = UnsafeProjection.create(packed)
      pack(_).copy()
    })
  }

  /** URL of a published ACS Variance Replicate Estimates file — the
    * download behind the reference's
    * `get_varrep_dataframe(2015, 'B01001', '140', state='11', cache=False)`
    * (ref `test/test_basic.py:221-225`; layout per the Census Bureau's
    * public VRE documentation: one zipped long-format CSV per
    * (table, state) under the year + summary-level directory).
    */
  def varRepUrl(year: Int, tableId: String, summaryLevel: String, state: String): String =
    s"https://www2.census.gov/programs-surveys/acs/replicate_estimates/" +
      s"$year/data/5-year/$summaryLevel/${tableId}_$state.csv.zip"

  /** Cache key mirroring the censusreporter cache layout (S3). */
  private def cacheKey(year: Int, tableId: String, summaryLevel: String,
      state: String): String =
    s"varrep/$year/${tableId}_${summaryLevel}_$state.csv"

  /** If the payload is a ZIP archive (the published files are), extract
    * the first entry; otherwise treat it as plain CSV bytes (test
    * transports inject either).
    */
  private[graft] def unwrapCsv(payload: Array[Byte]): Array[Byte] =
    if (payload.length >= 4 && payload(0) == 'P' && payload(1) == 'K') {
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(payload))
      require(zin.getNextEntry != null, "empty zip payload")
      zin.readAllBytes()
    } else payload

  /** Fetch a remote VRE file to a local CSV path, consulting the cache
    * first (same shape as CensusReporter.getResource: injectable
    * transport, cache-hit skips the fetch entirely). With `cache=false`
    * the CSV still lands in the cache dir ([[loadVarRep]] reads a path)
    * but is always re-fetched.
    */
  def fetchVarRep(year: Int, tableId: String, summaryLevel: String, state: String,
      cache: Boolean = true,
      cacheDir: Path = CensusReporter.defaultCacheDir,
      fetch: String => Array[Byte] = CensusApi.httpGetBytes): Path = {
    val cached = cacheDir.resolve(cacheKey(year, tableId, summaryLevel, state))
    if (!(cache && Files.exists(cached))) {
      CensusReporter.writeCacheFile(cached,
        unwrapCsv(fetch(varRepUrl(year, tableId, summaryLevel, state))))
    }
    cached
  }

  /** One-call remote load — the engine's `get_varrep_dataframe`
    * (ref `test/test_basic.py:221-225`): URL construction → cached fetch
    * → long-format CSV → packed-replicate frame via [[loadVarRep]].
    */
  def load(spark: SparkSession, year: Int, tableId: String, summaryLevel: String,
      state: String, cache: Boolean = true,
      cacheDir: Path = CensusReporter.defaultCacheDir,
      fetch: String => Array[Byte] = CensusApi.httpGetBytes): DataFrame =
    loadVarRep(spark,
      fetchVarRep(year, tableId, summaryLevel, state, cache, cacheDir, fetch).toString)

  /** Successive-difference-replication variance: `4/80 · Σ (repᵢ − est)²`,
    * computed by the codegen'd [[graft.functions.SumSqDev]] kernel: the
    * same left fold in element order as `aggregate(replicates, 0.0,
    * (acc, r) => acc + (r - est) * (r - est))`, so bit-identical to it,
    * but in doubles, so an int-typed input cannot overflow. A null array
    * gives null; an empty array gives 0; otherwise a null estimate or
    * replicate gives null. MOE at 90%: `1.645 · sqrt(variance)`.
    */
  def replicateVariance(est: Column, replicates: Column): Column =
    VectorFunctions.sumSqDev(replicates, est) * lit(4.0 / 80.0)

  def replicateMoe(est: Column, replicates: Column): Column =
    sqrt(replicateVariance(est, replicates)) * lit(graft.functions.AcsMath.Z90)
}
