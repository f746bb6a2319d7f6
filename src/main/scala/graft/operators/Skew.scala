package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation primitives (SURVEY §4 / the 100 TB checklist).
  *
  * AQE's skew-join handling covers joins automatically in Spark 4; the
  * remaining gap is *aggregation* skew — a handful of hot keys funneling
  * into single reducer tasks. The standard fix is two-phase (salted)
  * aggregation: shuffle once on (key, salt) spreading each hot key over
  * `salts` reducers, combine partials, then shuffle the much smaller
  * partial set on key alone.
  *
  * Salting uses a deterministic hash of secondary columns, not rand() —
  * keeps results reproducible and retry-safe (a rand() salt re-rolls on
  * task retry, which can double-count with non-idempotent sinks).
  */
object Skew {

  /** Deterministic salt in [0, salts) from arbitrary discriminator
    * columns (e.g. the row's natural unique key).
    */
  def salt(salts: Int, discriminators: Column*): Column =
    pmod(hash(discriminators: _*), lit(salts))

  /** Two-phase salted sum: `df.groupBy(keys).sum(value)` semantics with
    * hot keys spread across `salts` partial aggregations.
    *
    * Decomposable aggregates only (sum/count/min/max — anything with an
    * associative merge). The partial shuffle carries
    * |keys| × salts rows at most; the final shuffle is tiny.
    */
  def saltedSum(df: DataFrame, keys: Seq[String], value: Column,
      valueName: String, salts: Int, discriminators: Seq[Column]): DataFrame = {
    val keyCols = keys.map(col)
    val partial = df
      .withColumn("__salt", salt(salts, discriminators: _*))
      .groupBy(keyCols :+ col("__salt"): _*)
      .agg(sum(value).as("__partial"))
    partial
      .groupBy(keyCols: _*)
      .agg(sum(col("__partial")).as(valueName))
  }

  /** Salted broadcast join for a skewed build side is unnecessary —
    * `broadcast()` already avoids the shuffle entirely; for skewed
    * shuffle joins rely on AQE (`spark.sql.adaptive.skewJoin.enabled`,
    * on by default in Spark 4). This object intentionally does not
    * reimplement it.
    */
}
