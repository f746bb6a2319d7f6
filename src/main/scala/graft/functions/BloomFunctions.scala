package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Bloom-filter build/probe over long keys, exposed as Columns via the
  * same internal expressions Spark's own runtime row-level filtering
  * injects (`BloomFilterAggregate` / `BloomFilterMightContain`) — so the
  * probe side stays codegen'd and map-side.
  *
  * The 100 TB decontamination shape this enables (q101): an eval set's
  * n-gram inventory is often too large to broadcast as an exact hash set
  * (tens of GB of grams), but its bloom filter is a few MB — build it
  * once, ship it as a task literal, and prune the corpus gram stream
  * map-side before the exact verification join, which then only sees the
  * tiny might-contain survivor fraction. No false negatives means the
  * final result is still exact.
  */
object BloomFunctions {

  /** Aggregate a LongType key column into a serialized bloom filter
    * (binary). Partial aggregation merges per-partition filters, so only
    * fixed-size `numBits/8`-byte buffers cross the exchange — never keys.
    */
  def bloomAgg(key: Column, expectedItems: Long, numBits: Long): Column =
    GraftSqlBridge.column(
      new BloomFilterAggregate(GraftSqlBridge.expression(key),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Build the filter eagerly and hand it back as a foldable binary
    * literal — the same driver-side-literal pattern as the IVF centroid
    * table ([[graft.operators.Ivf]]): one small aggregate job now, then
    * the filter rides into every task closure with zero joins.
    */
  def trainBloom(keys: DataFrame, key: Column, expectedItems: Long,
      numBits: Long): Column = {
    val bin = keys.select(bloomAgg(key, expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    lit(bin)
  }

  /** [[trainBloom]] memoized per (tag, parameters): a trained filter is
    * a published model artifact (like the IVF centroids and BPE merge
    * table) — the eval set is static across corpus batches, so
    * production trains once and every later scan reuses the literal.
    * The tag MUST uniquely identify an immutable key set (e.g.
    * "evalgrams:<dir>" over a directory that is never rewritten in this
    * process); the filter parameters are folded into the cache key here,
    * so the same tag at different sizes never serves a stale filter.
    */
  def trainBloomCached(tag: String, keys: => DataFrame, key: => Column,
      expectedItems: Long, numBits: Long): Column =
    bloomCache.computeIfAbsent(s"$tag|items=$expectedItems|bits=$numBits",
      _ => trainBloom(keys, key, expectedItems, numBits))

  /** [[trainBloomCached]] with capacity derived from the KEY SET's
    * actual cardinality instead of a fixed dial: one `count()` on the
    * key frame (a partial-aggregated scan the build was about to read
    * anyway), then `m = -n·ln(fpp)/ln²2` bits — the standard sizing for
    * the target false-positive rate. A constant-capacity filter
    * silently saturates when the key inventory outgrows it (fp-rate →
    * 1, the map-side prune stops pruning, and every probe falls through
    * to the exact join); sizing from the inventory makes the degraded
    * regime degrade at the budget you chose, not at a constant you
    * forgot. `floorItems`/`floorBits` keep small inventories on the old
    * dials so a filter is never sized DOWN below the pinned defaults;
    * `MaxBits` caps the task-literal budget (2^29 bits = 64 MB — one
    * torrent-broadcast task binary per probing stage) — past it
    * the TRUE item count still drives the hash-function choice, so fp
    * degrades GRACEFULLY (e.g. 100M items at 64 MB → k=4, fp ≈ 8%,
    * still pruning 92%) instead of saturating. The count runs once per
    * tag (inside the cache fill), like the build itself.
    *
    * Spark silently CLAMPS [[BloomFilterAggregate]]'s (items, bits) to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
    * (defaults 4M / 2^26 — guards for the optimizer's own injected
    * runtime filters; a clamped n mis-sizes k and the filter saturates
    * exactly like the constant it replaced), so the build raises both
    * confs to cover the computed size — under a CLONED session, so the
    * raised caps never leak into concurrent planning on the shared one.
    */
  /** NOTE: `keys` must be the DISTINCT key frame — the sizing count is
    * a row count, and a non-distinct frame inflates n (a 10×-duplicated
    * gram stream would size straight to `MaxBits`). Every dial is part
    * of the cache key, so same-tag calls at different dials never serve
    * each other's filter.
    */
  def trainBloomSizedCached(tag: String, keys: => DataFrame, key: => Column,
      fpp: Double, floorItems: Long, floorBits: Long): Column =
    bloomCache.computeIfAbsent(
      s"$tag|sized|fpp=$fpp|floor=$floorItems/$floorBits",
      _ => {
        val n = math.max(keys.count(), floorItems)
        val bits = math.min(MaxBits, math.max(floorBits,
          math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong))
        // build under a CLONED session (same SparkContext, private
        // SQLConf) so the raised clamps are SCOPED to this one build:
        // mutating the shared session's confs let any concurrently
        // planned query size its optimizer-injected runtime bloom
        // filters under the raised caps, and racing cache fills could
        // interleave the save/restore and leave the confs permanently
        // altered. The key frame's analyzed plan is re-rooted into the
        // clone — no recomputation, just a session rebind.
        val owner = keys.sparkSession
        val scoped = owner.newSession()
        // newSession() starts from the BUILDER-time confs, not the
        // owner's runtime ones — copy them across so a conf-sensitive
        // key expression (timezone, ANSI mode) evaluates identically at
        // build time and probe time (a divergence would manufacture
        // bloom false NEGATIVES, breaking the filter's one contract).
        // Static/immutable confs reject the set — skip them (they are
        // identical across sessions of one SparkContext anyway).
        owner.conf.getAll.foreach { case (k, v) =>
          try scoped.conf.set(k, v) catch { case _: Exception => () } }
        scoped.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
          math.max(n, 4000000L))
        scoped.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
          math.max(bits, 67108864L))
        trainBloom(GraftSqlBridge.ofRows(scoped,
          GraftSqlBridge.analyzedPlan(keys)), key, n, bits)
      })

  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Column]()

  /** The sized filter's bit budget: 2^29 bits = 64 MB. */
  private val MaxBits = 1L << 29

  /** Probe: true when `key` MIGHT be in the filter (false positives
    * possible at the configured bits-per-item rate, false negatives
    * never — callers needing exactness verify survivors with an exact
    * join, see q101).
    */
  def mightContain(bloom: Column, key: Column): Column =
    GraftSqlBridge.column(BloomFilterMightContain(
      GraftSqlBridge.expression(bloom), GraftSqlBridge.expression(key)))
}
