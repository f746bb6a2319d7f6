package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

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

  /** Buckets per superbucket: the third [[prefixSum]] level of an
    * unpartitioned running total.
    */
  private val SuperBucket = 4096

  /** The bucketed prefix sum: appends as `out` the running total of
    * `measure` — or, with no measure, the 1-based row rank — over `order`
    * within `keys`. The result equals
    * `sum(measure)` (`row_number()`) over
    * `partitionBy(keys).orderBy(order).rowsBetween(unboundedPreceding, currentRow)`,
    * but no task ever sorts more than one (keys, bucket) slice: a single
    * window would send a hot key's whole row set through one task.
    *
    * The caller's `bucket` column must be non-decreasing in `order`
    * within `keys` (a prefix of the ordering key, or a monotone function
    * of it), so the buckets concatenate to the single-window order.
    * Per-(keys, bucket) totals get an exclusive running window within
    * `keys`, are broadcast back as offsets, and each row adds its
    * in-bucket running total. Null keys and buckets match null-safely,
    * as the single window would group them.
    *
    * With no keys the offset window itself would be one unpartitioned
    * task over every bucket, so a third level groups buckets into
    * superbuckets of [[SuperBucket]] (`bucket DIV 4096`, so the bucket
    * must be integral): one unpartitioned window over superbucket totals,
    * then one window per superbucket.
    *
    * The broadcast offsets side holds one row per (keys, bucket). It is
    * bounded by construction when the bucket is a fixed-width hex prefix
    * of a hash (q124, q133, q160 stages 5 and 6: sources × 4096 or × 256)
    * or when the input is budget-bounded (q160 stage 7 runs after stage
    * 5's token cut). It grows with the corpus when the bucket is
    * `doc_id DIV 50` over the whole corpus (q95, q162).
    */
  def prefixSum(df: DataFrame, keys: Seq[String], bucket: String,
      order: Seq[Column], measure: Option[String], out: String): DataFrame = {
    // exclusive running total of `v` over `ord` within `part`
    def before(v: String, part: Seq[String], ord: String): Column =
      coalesce(sum(col(v)).over(Window.partitionBy(part.map(col): _*)
        .orderBy(col(ord)).rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    // null-safe broadcast join of `small` back onto `big` on `on`
    def joinBack(big: DataFrame, small: DataFrame, on: Seq[String]): DataFrame = {
      val renamed = small.select(small.columns.map(c =>
        if (on.contains(c)) col(c).as(s"__r_$c") else col(c)): _*)
      big.join(broadcast(renamed), on.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _))
        .drop(on.map(c => s"__r_$c"): _*)
    }
    val part = keys :+ bucket
    val totals = df.groupBy(part.map(col): _*)
      .agg(measure.fold(count(lit(1)))(m => sum(col(m))).as("__btotal"))
    val offsets =
      if (keys.nonEmpty) totals.withColumn("__boffset", before("__btotal", keys, bucket))
      else {
        require(Seq(ByteType, ShortType, IntegerType, LongType)
            .contains(df.schema(bucket).dataType),
          s"prefixSum with no keys needs an integral bucket; " +
            s"'$bucket' is ${df.schema(bucket).dataType.simpleString}")
        val sb = totals.withColumn("__sbucket", expr(s"`$bucket` DIV $SuperBucket"))
        val soffsets = sb.groupBy(col("__sbucket"))
          .agg(sum(col("__btotal")).as("__stotal"))
          .select(col("__sbucket"), before("__stotal", Nil, "__sbucket").as("__soffset"))
        joinBack(sb.withColumn("__woffset", before("__btotal", Seq("__sbucket"), bucket)),
            soffsets, Seq("__sbucket"))
          .withColumn("__boffset", col("__soffset") + col("__woffset"))
      }
    val w = Window.partitionBy(part.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBucket = measure.fold(row_number().over(w).cast("long"))(m => sum(col(m)).over(w))
    joinBack(df, offsets.select((part :+ "__boffset").map(col): _*), part)
      .withColumn(out, col("__boffset") + inBucket)
      .drop("__boffset")
  }

  /** Salted broadcast join for a skewed build side is unnecessary —
    * `broadcast()` already avoids the shuffle entirely; for skewed
    * shuffle joins rely on AQE (`spark.sql.adaptive.skewJoin.enabled`,
    * on by default in Spark 4). This object intentionally does not
    * reimplement it.
    */
}
