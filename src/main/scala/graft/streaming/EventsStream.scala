package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-user streaming state for [[EventsStream.statefulUserTotals]]. */
final case class UserTotals(n: Long, sum: Double)

/** [[EventsStream.funnelCompletions]] keyed state: first-view anchor,
  * buffered step-2/3 times inside the live window, completion tombstone.
  */
final case class FunnelState(t1: Long, clicks: List[Long],
    purchases: List[Long], done: Boolean)

/** [[EventsStream.retentionActivations]] keyed state: the cohort-week
  * anchor (micros) and the bitmask of week offsets already emitted, as
  * an Array[Long] of ⌈(horizon+1)/64⌉ words — 8·⌈(h+1)/64⌉ + 8 bytes of
  * payload per user by construction (16 B at the default 63-week
  * horizon), independent of the user's event volume or active weeks.
  * State exists only for users with a signup (no anchor → nothing worth
  * remembering → no state row at all).
  */
final case class RetentionState(cohort: Long, seen: Array[Long])

/** Structured Streaming surface for the `events` table (SURVEY §2.7 [EXT]).
  *
  * Transforms are written as plain `DataFrame => DataFrame` so the *same*
  * logical plan runs in batch and in streaming — streaming-batch parity is
  * then by construction and checked in `StreamingSpec` via the memory sink.
  * At scale: the watermark bounds state; tumbling windows aggregate with
  * partial aggregation before the shuffle; dedup state is keyed and expires
  * with the watermark.
  */
object EventsStream {

  /** File-source stream over a directory of events parquet, read with
    * the batch loader's declared layout ([[graft.queries.Tables]]): an
    * empty landing directory needs no footer, and a file of another `ts`
    * layout fails its batch instead of being reinterpreted.
    */
  def readStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(graft.queries.Tables.schema("events"))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
  }

  /** Tumbling 10-minute windowed counts/sums per event type, 30-minute
    * watermark. Works on batch and streaming frames alike.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding 10-minute window every 5 minutes. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
        col("event_type"), col("n"))

  /** Session windows with a 30-minute gap per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sstart"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("send"),
        col("user_id"), col("n_events"))

  /** Stream-stream interval join: each purchase matched to the signup(s)
    * of the same user in the preceding 2 hours. Both sides are
    * watermarked and the join condition carries the time range, so Spark
    * can bound and expire the join state (without the range, stream-stream
    * state grows forever). Works on batch frames too (watermark is a
    * no-op there), which is how the DuckDB oracle checks it (q92).
    * Scale: equi-key on user_id → hash-partitioned state, no
    * nested-loop; state per key bounded by watermark + 2 h window.
    */
  def intervalJoin(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val sg = events.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "30 minutes")
    p.join(sg, col("user_id") === col("s_user") &&
        col("p_ts") >= col("s_ts") &&
        col("p_ts") <= col("s_ts") + expr("INTERVAL 2 HOURS"), joinType)
      .select(col("p_id"), col("user_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("p_ts_s"),
        date_format(col("s_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("s_ts_s"))
  }

  /** Stateful stream dedup on event_id, state bounded by the watermark. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state via `mapGroupsWithState` (SURVEY §2.7): per-user
    * running totals that survive across triggers. State is per-key and
    * bounded by the key cardinality; at scale the store shuffles on
    * user_id and checkpoints incrementally.
    */
  def statefulUserTotals(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoders, Row}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
      .groupByKey(_._1)
      .mapGroupsWithState[UserTotals, (Long, Long, Double)](GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val prev = state.getOption.getOrElse(UserTotals(0L, 0.0))
          var n = prev.n
          var sum = prev.sum
          rows.foreach { r => n += 1; sum += r._2 }
          val next = UserTotals(n, sum)
          state.update(next)
          (user, next.n, next.sum)
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** `flatMapGroupsWithState` variant: emits an alert row whenever a
    * user's cumulative value crosses a multiple of `threshold` — zero or
    * many outputs per group per trigger, which is exactly what
    * flatMapGroupsWithState exists for (mapGroups must emit exactly one).
    */
  def spendAlerts(threshold: Double)(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserTotals, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state) =>
          val prev = state.getOption.getOrElse(UserTotals(0L, 0.0))
          var sum = prev.sum
          var alerts = List.empty[(Long, Long)]
          rows.foreach { r =>
            val before = (sum / threshold).toLong
            sum += r._2
            val after = (sum / threshold).toLong
            if (after > before) alerts ::= (user, after)
          }
          state.update(UserTotals(prev.n, sum))
          alerts.reverseIterator
      }
      .toDF("user_id", "milestone")
  }

  /** Streaming twin of q153's ordered funnel: per-user completions
    * (view → click → purchase, each strictly after the previous, all
    * within `windowMicros` of the FIRST view), emitted EAGERLY — the
    * trigger where the funnel first completes appends one
    * (user_id, t1, t2, t3) row; the `done` flag makes re-emission
    * impossible. Batch parity (spec-locked): over a drained in-order
    * replay, completions are exactly the batch query's step-3 users
    * with identical timestamps.
    *
    * State per user: min view + the click/purchase times still
    * relevant to the funnel — after t1 is known, only times in
    * (t1, t1+W] are kept, so the buffer is bounded by the user's
    * event volume inside ONE funnel window (the session-window bound,
    * not stream lifetime); completed users drop their buffers
    * entirely (the `done` tombstone is 3 longs). Within a trigger the
    * batch's rows are SORTED by time first, so emission is
    * independent of partition iteration order (the [[DocsStream]]
    * discipline). `ttlMs > 0` adds the same processing-time GC
    * horizon as [[DocsStream.nearDupCandidates]]: a user idle past
    * the TTL is dropped, bounding state by horizon churn.
    *
    * Out-of-order input across triggers: the anchor is FROZEN — a view
    * arriving after t1 is established with an earlier timestamp is
    * ignored (semantics stay monotone; the old rewind silently lost
    * completions whose step-2/3 events were already pruned against the
    * previous anchor) and counted in [[anchorRewinds]] so out-of-order
    * input is observable. On in-order replay the first view IS the min
    * view, so batch parity is unchanged. Pre-anchor buffers are bounded
    * too: a step-2/3 time more than `windowMicros` older than the
    * newest buffered time can never satisfy t1 < t2 < t3 ≤ t1+W
    * together with a later completion event, so only the newest
    * window's worth is kept — an anchor-less high-traffic user holds
    * one window of events, not the stream's lifetime.
    */
  /** Views that arrived AFTER a user's funnel anchor was established but
    * with an EARLIER timestamp (out-of-order across triggers) — ignored
    * under the frozen-anchor rule, counted here so the lossy regime is
    * observable instead of silent (the [[EmbedStream.capOverflows]]
    * discipline: one named accumulator per SparkContext, task-side adds,
    * driver-side reads).
    */
  def anchorRewinds(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    graft.operators.PhaseStats.accumulator(spark.sparkContext, "eventsstream.anchor_rewind")

  def funnelCompletions(windowMicros: Long = 86400000000L, ttlMs: Long = 0L)(
      events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._
    val rewinds = anchorRewinds(spark)
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tu"))
      .as[(Long, String, Long)](Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong))
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, (Long, Long, Long, Long)](
        OutputMode.Append, timeout) {
        case (user, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var s = state.getOption.getOrElse(
              FunnelState(Long.MaxValue, Nil, Nil, done = false))
            val out =
              if (s.done) Iterator.empty
              else {
                val batch = rows.toArray.sortBy(_._3)
                batch.foreach { case (_, tp, tu) =>
                  if (!s.done) tp match {
                    case "view" =>
                      if (s.t1 == Long.MaxValue) s = s.copy(t1 = tu)
                      // frozen anchor: earlier views are counted, not
                      // applied (see class doc)
                      else if (tu < s.t1) rewinds.add(1L)
                    case "click" => s = s.copy(clicks = tu :: s.clicks)
                    case "purchase" => s = s.copy(purchases = tu :: s.purchases)
                    case _ => ()
                  }
                }
                // prune to the live window once anchored (see class doc)
                if (s.t1 != Long.MaxValue) s = s.copy(
                  clicks = s.clicks.filter(t =>
                    t > s.t1 && t <= s.t1 + windowMicros),
                  purchases = s.purchases.filter(t =>
                    t > s.t1 && t <= s.t1 + windowMicros))
                else {
                  // anchor-less bound: keep only the newest window's worth
                  val newest = math.max(
                    if (s.clicks.isEmpty) Long.MinValue else s.clicks.max,
                    if (s.purchases.isEmpty) Long.MinValue else s.purchases.max)
                  if (newest != Long.MinValue) s = s.copy(
                    clicks = s.clicks.filter(_ >= newest - windowMicros),
                    purchases = s.purchases.filter(_ >= newest - windowMicros))
                }
                // no emission without the view anchor: the buffers are
                // only window-pruned once t1 exists
                val t2 = if (s.t1 == Long.MaxValue) None
                         else s.clicks.minOption
                val t3 = t2.flatMap(c => s.purchases.filter(_ > c).minOption)
                t3 match {
                  case Some(p) =>
                    s = FunnelState(s.t1, Nil, Nil, done = true)
                    Iterator.single((user, s.t1, t2.get, p))
                  case None => Iterator.empty
                }
              }
            state.update(s)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            out
          }
      }
      .toDF("user_id", "t1", "t2", "t3")
  }

  /** EXACT streaming twin of q153's ordered funnel under ANY
    * within-watermark disorder — the watermark-finalized complement of
    * [[funnelCompletions]] (which emits EAGERLY and freezes the anchor,
    * trading out-of-order losses for latency; this form trades latency
    * for exactness). The watermark trails by 30 minutes, as in every
    * other query here.
    *
    * Semantics: identical to batch q153 — t1 = the user's MINIMUM view
    * time, t2 = min click in (t1, t1+W], t3 = min purchase in (t2,
    * t1+W] — restricted to users whose result is FINALIZABLE by the
    * stream's final watermark (an infinite stream finalizes everything
    * eventually; a finite replay leaves the watermark tail pending, the
    * ST8/ST17 law). A result is emitted only once no in-watermark
    * arrival can change it:
    *  - completion (t1, t2, t3) emits when watermark ≥ t3 — any event
    *    that could lower t1/t2/t3 carries ts < t3 ≤ watermark and the
    *    engine has already excluded it (EventTimeTimeout input
    *    filtering);
    *  - an anchored user with no completion finalizes silently when
    *    watermark ≥ t1 + W (every slot in the window is settled).
    * Candidate anchors are BUFFERED within the watermark: an earlier
    * view arriving out-of-order REWINDS the pending anchor (the frozen
    * twin counts-and-drops instead), and step-2/3 times are retained
    * exactly while they could still matter — t ≤ t1+W and (t > t1 or
    * t > watermark); a future rewound anchor t1' satisfies
    * watermark ≤ t1' < t1, so anything older than the watermark and
    * outside the current window is provably useless. Beyond-watermark
    * disorder never reaches the handler (the engine drops it and
    * counts it in `numRowsDroppedByWatermark` — the observable loss
    * regime). State per user is therefore bounded by the watermark
    * horizon plus one funnel window of that user's events; finalized
    * users hold a 3-long tombstone (required: batch anchors on the
    * GLOBAL min view, so a post-finalization view must not re-anchor).
    * By default tombstones live forever — the price of the strict
    * no-re-anchor guarantee on an unbounded user universe. Production
    * deployments can bound that growth with `tombstoneTtlMs > 0`: a
    * tombstone expires after that much event-time quiescence, trading
    * the guarantee PAST the horizon (a view arriving later than the
    * TTL after finalization re-anchors and may emit a second row —
    * choose a TTL ≫ any plausible revisit gap).
    *
    * Wake-ups ride on event-time timeouts (watermark ≥ t3 / t1+W /
    * newest pre-anchor buffer), so finalization needs no further input
    * for the user — a finite replay flushes everything the final
    * watermark covers.
    */
  def funnelCompletionsExact(windowMicros: Long = 86400000000L,
      tombstoneTtlMs: Long = 0L)(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "30 minutes")
      // the raw ts column rides along UNUSED: the event-time-timeout
      // checker requires the watermarked attribute itself in the
      // grouped child output (a derived unix_micros column drops the
      // watermark tag)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tu"), col("ts"))
      .as[(Long, String, Long, java.sql.Timestamp)](Encoders.tuple(
        Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong,
        Encoders.TIMESTAMP))
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state) =>
          val wm = state.getCurrentWatermarkMs() * 1000L
          var s = state.getOption.getOrElse(
            FunnelState(Long.MaxValue, Nil, Nil, done = false))
          if (s.done) {
            // tombstone GC dial: ttl == 0 keeps tombstones forever (the
            // strict global-min-anchor contract); ttl > 0 expires a
            // tombstone after tombstoneTtlMs of event-time quiescence —
            // a view arriving PAST the horizon can then re-anchor (and
            // re-emit) for that user, the documented trade for bounding
            // state on long-lived streams
            if (state.hasTimedOut) { state.remove(); Iterator.empty }
            else {
              if (tombstoneTtlMs > 0)
                state.setTimeoutTimestamp(
                  state.getCurrentWatermarkMs() + tombstoneTtlMs)
              Iterator.empty
            }
          } else {
            rows.foreach { case (_, tp, tu, _) =>
              tp match {
                case "view" => if (tu < s.t1) s = s.copy(t1 = tu)
                case "click" => s = s.copy(clicks = tu :: s.clicks)
                case "purchase" => s = s.copy(purchases = tu :: s.purchases)
                case _ => ()
              }
            }
            // retain exactly what can still matter (see class doc)
            def keep(t: Long): Boolean =
              if (s.t1 == Long.MaxValue) t > wm
              else t <= s.t1 + windowMicros && (t > s.t1 || t > wm)
            s = s.copy(clicks = s.clicks.filter(keep),
              purchases = s.purchases.filter(keep))
            val t2 = if (s.t1 == Long.MaxValue) None
              else s.clicks.filter(t => t > s.t1 && t <= s.t1 + windowMicros)
                .minOption
            val t3 = t2.flatMap(c =>
              s.purchases.filter(p => p > c && p <= s.t1 + windowMicros)
                .minOption)
            val windowClosed =
              s.t1 != Long.MaxValue && wm >= s.t1 + windowMicros
            if (t3.exists(wm >= _) || windowClosed) {
              // settled: emit iff complete, then tombstone (no timeout
              // — the batch anchor is global, later views must not
              // re-anchor)
              val out = t3 match {
                case Some(p) if p <= wm || windowClosed =>
                  Iterator.single((user, s.t1, t2.get, p))
                case _ => Iterator.empty
              }
              state.update(FunnelState(s.t1, Nil, Nil, done = true))
              if (tombstoneTtlMs > 0)
                state.setTimeoutTimestamp(
                  state.getCurrentWatermarkMs() + tombstoneTtlMs)
              out
            } else if (s.t1 == Long.MaxValue &&
                s.clicks.isEmpty && s.purchases.isEmpty) {
              // nothing buffered, nothing anchored — hold no state
              if (state.exists) state.remove()
              Iterator.empty
            } else {
              state.update(s)
              // wake when the watermark settles the next decision point
              // unanchored: when the watermark passes the NEWEST buffered
              // time everything prunes and the state removes itself
              val targetMicros =
                if (s.t1 == Long.MaxValue) (s.clicks ++ s.purchases).max
                else t3.getOrElse(s.t1 + windowMicros)
              state.setTimeoutTimestamp(
                math.max(targetMicros / 1000L + 1L, wm / 1000L + 1L))
              Iterator.empty
            }
          }
      }
      .toDF("user_id", "t1", "t2", "t3")
  }

  /** Streaming twin of q154's retention cohorts: emits one
    * (user_id, cohort_week, week_offset) row the FIRST time a user is
    * active at each week offset from their cohort anchor (the week of
    * their first signup). The batch rollup (n_active per cohort/offset)
    * is then a stateless aggregation over these exactly-once rows —
    * the ST16 parity spec folds the drained sink and compares to the
    * batch query.
    *
    * State per user: the cohort anchor (one long) + a BITMASK of
    * already-emitted offsets (⌈(h+1)/64⌉ longs — one word at the
    * default 63-week horizon, two through 127 weeks, a multi-year
    * report still a few dozen bytes) — bounded by construction, the
    * keyed-state analogue of q154's bounded (cohort, offset) grid;
    * offsets past the horizon are dropped (a retention report has a
    * horizon; the mask IS that horizon — the horizon-free batch q154
    * diverges only past it, by contract). Users that never sign up
    * hold NO state row: absent state ≡ (no anchor, empty mask), so
    * only the cohorted population occupies the store. No pre-anchor
    * buffering is needed under in-order replay: an activity event
    * earlier than the first signup has week ≤ cohort week, and the
    * only week that could ever count (== cohort week, offset 0) is
    * emitted by the signup itself.
    * Weeks are Spark's own `date_trunc("week", ts)` (Monday 00:00,
    * UTC session) computed in the PLAN, so stream and batch truncate
    * identically by construction; offsets are exact integer division
    * of the micros difference (UTC weeks are DST-free).
    */
  def retentionActivations(horizonWeeks: Int = 63, ttlMs: Long = 0L)(
      events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.Encoders
    require(horizonWeeks >= 1, s"horizonWeeks must be >= 1, got $horizonWeeks")
    val maskWords = (horizonWeeks >> 6) + 1
    val spark = events.sparkSession
    import spark.implicits._
    val weekMicros = 604800000000L
    val timeout =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .select(col("user_id"), col("event_type"),
        unix_micros(date_trunc("week", col("ts"))).as("wu"),
        unix_micros(col("ts")).as("tu"))
      .as[(Long, String, Long, Long)](Encoders.tuple(Encoders.scalaLong,
        Encoders.STRING, Encoders.scalaLong, Encoders.scalaLong))
      .groupByKey(_._1)
      .flatMapGroupsWithState[RetentionState, (Long, Long, Int)](
        OutputMode.Append, timeout) {
        case (user, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var s = state.getOption.getOrElse(
              RetentionState(Long.MinValue, new Array[Long](maskWords)))
            var out = List.empty[(Long, Long, Int)]
            // ts-sorted within the trigger: the first signup by event
            // time anchors, independent of partition iteration order
            rows.toArray.sortBy(_._4).foreach { case (_, tp, wu, _) =>
              if (s.cohort == Long.MinValue && tp == "signup")
                s = s.copy(cohort = wu)
              if (s.cohort != Long.MinValue && wu >= s.cohort) {
                val off = ((wu - s.cohort) / weekMicros).toInt
                if (off <= horizonWeeks &&
                    (s.seen(off >> 6) & (1L << (off & 63))) == 0L) {
                  // copy-on-write: GroupState compares/serializes the
                  // case class, so the stored array is never mutated
                  val m = s.seen.clone()
                  m(off >> 6) |= 1L << (off & 63)
                  s = s.copy(seen = m)
                  out ::= ((user, s.cohort, off))
                }
              }
            }
            // never-signed-up users keep NO state (and arm no TTL):
            // absent state is semantically identical and the store
            // then holds exactly the cohorted population
            if (s.cohort != Long.MinValue) {
              state.update(s)
              if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            }
            out.reverseIterator
          }
      }
      .toDF("user_id", "cohort_week", "week_offset")
  }

  /** Streaming twin of q156's session paths: gap-based session windows
    * (Spark's `session_window`, 30-minute gap) with the ORDERED
    * event-type sequence per session, emitted in append mode as the
    * watermark closes each session. Works on batch frames too (the
    * watermark is a no-op there), so stream-batch parity (ST17) is by
    * construction up to the documented watermark tail: on a finite
    * stream the final watermark is max(ts) − 30 min, so sessions not
    * yet closed by it never flush — the ST8-leftOuter law. State per
    * (user, session) is bounded by the gap (the session-window store
    * law q55/q86 already lock); the per-session collect is bounded by
    * session length. Ties order by (tu, event_id) exactly as q156.
    */
  def sessionPaths(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(concat_ws(">", transform(sort_array(collect_list(struct(
          unix_micros(col("ts")).as("tu"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type"))).as("path"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("sstart"),
        unix_micros(col("session_window.end")).as("send"),
        col("path"))

  /** Streaming ROLLUP twin of q156's path aggregate — a SECOND stateful
    * stage consuming the closed-session stream: daily tumbling window
    * (on the session's event time via `window_time`) × path counts, so
    * the sink sees |days × distinct paths| rows instead of every closed
    * session (95M at the 1000× corpus) — the bounded-output option for
    * a deployment that wants the q156 rollup, not the session log.
    * Chained stateful aggregations are legal because both stages are
    * event-time windowed under one watermark (Spark's multiple-stateful-
    * operator support); a day's row emits only once the watermark passes
    * the day end, by which point every session ending inside the day has
    * closed — so emitted day rows carry their EXACT final counts.
    * Runs identically on a batch frame (watermark no-op), so the ST17r
    * parity spec compares directly up to the watermark tail.
    */
  def sessionPathRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(concat_ws(">", transform(sort_array(collect_list(struct(
          unix_micros(col("ts")).as("tu"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type"))).as("path"))
      .groupBy(window(window_time(col("session_window")), "1 day"),
        col("path"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("path"), col("n"))

  /** Idempotent `foreachBatch` parquet sink: each micro-batch OVERWRITES
    * its own epoch directory, so a replayed batch (failure between sink
    * write and checkpoint commit — the at-least-once window every
    * foreachBatch sink must survive) lands on the same path with the
    * same rows instead of appending duplicates. This is the standard
    * exactly-once-by-idempotence recipe; the alternative (transactional
    * sinks) needs a target that can commit atomically with the epoch id.
    */
  def idempotentParquetSink(outDir: String)(df: DataFrame, epochId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")

  /** Run a streaming transform to completion against a static directory via
    * the memory sink (synchronous; for tests and parity checks).
    */
  def runToMemory(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame, name: String,
      outputMode: String = "complete",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = transform(readStream(spark, dir, maxFilesPerTrigger))
      .writeStream.format("memory").queryName(name).outputMode(outputMode).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
