package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tables
import graft.streaming.EventsStream

/** Streaming-batch parity (SURVEY §2.7): the same transform function run
  * over the events table as a stream (memory sink, processAllAvailable)
  * and as a batch frame must agree.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The file stream source needs a directory; stage the single parquet
    * into a temp dir (testdata itself is read-only).
    */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  private def batchEvents = Tables(spark, dir, "events")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(df(_)): _*).collect().toSeq
      .map((r: Row) => r.toSeq).sortBy(_.mkString("|"))
  }

  test("foreachBatch sink: micro-batches land in parquet, union == batch input") {
    // the programmable-sink leg of the streaming surface: each
    // micro-batch is handed to arbitrary batch-write logic (here:
    // append-partitioned parquet with the epoch id riding along)
    val outDir = java.nio.file.Files.createTempDirectory("febatch").toString
    var batches = 0
    val q = EventsStream.readStream(spark, streamDir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, epochId: Long) =>
        batches += 1
        df.withColumn("epoch", org.apache.spark.sql.functions.lit(epochId))
          .write.mode("append").parquet(outDir)
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(batches >= 1)
    val written = spark.read.parquet(outDir)
    assert(written.count() == batchEvents.count())
    assert(written.columns.contains("epoch"))
  }

  test("idempotent foreachBatch sink: a replayed epoch does not duplicate rows") {
    val outDir = java.nio.file.Files.createTempDirectory("idemsink").toString
    val sink = EventsStream.idempotentParquetSink(outDir) _
    val q = EventsStream.readStream(spark, streamDir)
      .writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()
    val once = spark.read.parquet(outDir).count()
    assert(once == batchEvents.count())
    // simulate the at-least-once replay window: re-deliver epoch 0's
    // batch to the sink function — the overwrite makes it a no-op
    sink(batchEvents, 0L)
    val afterReplay = spark.read.parquet(outDir).count()
    assert(afterReplay == once, s"replay duplicated rows: $once -> $afterReplay")
  }

  test("tumbling window agg: stream == batch") {
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.windowedAgg, "win_out")
    val batch = EventsStream.windowedAgg(batchEvents)
    assert(sortedRows(stream) == sortedRows(batch))
  }

  test("sliding window agg: stream == batch") {
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.slidingAgg, "slide_out")
    val batch = EventsStream.slidingAgg(batchEvents)
    assert(sortedRows(stream) == sortedRows(batch))
  }

  test("session window agg: stream == batch") {
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.sessionAgg, "sess_out")
    val batch = EventsStream.sessionAgg(batchEvents)
    assert(sortedRows(stream) == sortedRows(batch))
  }

  test("mapGroupsWithState running totals match batch aggregation") {
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.statefulUserTotals, "state_out", outputMode = "update")
    // single micro-batch → one emission per user carrying final totals
    val batch = batchEvents.groupBy(org.apache.spark.sql.functions.col("user_id"))
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n_events"),
        org.apache.spark.sql.functions.sum(org.apache.spark.sql.functions.col("value")).as("sum_value"))
    val s = stream.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = batch.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(s == b)
  }

  test("flatMapGroupsWithState spend alerts match batch-computed milestones") {
    import org.apache.spark.sql.functions.{col, sum => fsum, floor}
    val threshold = 500.0
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.spendAlerts(threshold), "alerts_out", outputMode = "append")
    // batch milestones: floor(total/threshold) crossings per user
    val expected = batchEvents.groupBy(col("user_id"))
      .agg(floor(fsum(col("value")) / threshold).cast("long").as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = stream.collect().map(r => (r.getLong(0), r.getLong(1)))
    // the count of alerts per user equals the final milestone number,
    // and the max milestone matches the batch total
    val perUser = got.groupBy(_._1)
    expected.filter(_._2 > 0).foreach { case (u, m) =>
      assert(perUser.contains(u), s"user $u missing alerts")
      assert(perUser(u).map(_._2).max == m, s"user $u milestone mismatch")
      assert(perUser(u).length == m, s"user $u alert count mismatch")
    }
  }

  test("streaming funnel completions == batch step-3 users with identical timestamps (ST15)") {
    import org.apache.spark.sql.functions._
    val W = 86400000000L
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.funnelCompletions(W), "funnel_out", outputMode = "append")
    // batch mirror: q153's three-step chain, keeping per-user times
    val ev = batchEvents.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tu"))
    val u1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tu")).as("t1"))
    val u2 = ev.filter(col("event_type") === "click").join(u1, "user_id")
      .filter(col("tu") > col("t1") && col("tu") <= col("t1") + W)
      .groupBy(col("user_id"), col("t1")).agg(min(col("tu")).as("t2"))
    val u3 = ev.filter(col("event_type") === "purchase").join(u2, "user_id")
      .filter(col("tu") > col("t2") && col("tu") <= col("t1") + W)
      .groupBy(col("user_id"), col("t1"), col("t2")).agg(min(col("tu")).as("t3"))
    val want = u3.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == got.toSet.size, "duplicate completion emitted")
    assert(got.toSet == want, s"stream=${got.length} batch=${want.size}")
    assert(want.nonEmpty)
  }

  test("streaming funnel enforces step order and the 24h window (ST15o)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("funnel-fix")
    // u1 completes in order; u2's only click precedes its view (no
    // completion); u3's purchase lands outside the 24h window
    def write(name: String, rows: Seq[(Long, String, Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("funnel-w")
      rows.zipWithIndex.map { case ((uid, ts, _, tp), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(ts), uid, tp, 0.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$d/$name.parquet"))
    }
    write("b1", Seq(
      (1L, "2024-01-01 00:00:00", 0L, "view"),
      (1L, "2024-01-01 01:00:00", 0L, "click"),
      (2L, "2024-01-01 00:30:00", 0L, "click"),
      (3L, "2024-01-01 00:00:00", 0L, "view"),
      (3L, "2024-01-01 00:10:00", 0L, "click")))
    write("b2", Seq(
      (1L, "2024-01-01 02:00:00", 0L, "purchase"),
      (2L, "2024-01-01 01:00:00", 0L, "view"),
      (2L, "2024-01-01 01:30:00", 0L, "purchase"),
      (3L, "2024-01-02 01:00:00", 0L, "purchase")))
    val out = EventsStream.runToMemory(spark, d.toString,
      EventsStream.funnelCompletions(), "funnel_fix_out", outputMode = "append")
    val got = out.collect().map(r => (r.getLong(0), r.getLong(3)))
    val t3 = java.sql.Timestamp.valueOf("2024-01-01 02:00:00").getTime * 1000L
    assert(got.toSeq == Seq((1L, t3)), s"got ${got.mkString(",")}")
  }

  test("funnel anchor is frozen on out-of-order views; pre-anchor buffer keeps the newest window (ST15f)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("funnel-ooo")
    def write(name: String, rows: Seq[(Long, String, Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("funnel-ooo-w")
      rows.zipWithIndex.map { case ((uid, ts, _, tp), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(ts), uid, tp, 0.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$d/$name.parquet"))
    }
    // u7: two pre-anchor clicks 4 days apart in batch 1 — the stale one
    // must be pruned (newest-window bound), the fresh one must survive to
    // serve the later anchor. u8: anchor at 01:00, then an EARLIER view in
    // batch 2 — frozen (completion stays anchored at 01:00) and counted.
    write("b1", Seq(
      (7L, "2024-01-01 00:00:00", 0L, "click"),
      (7L, "2024-01-05 00:00:00", 0L, "click"),
      (8L, "2024-01-01 01:00:00", 0L, "view")))
    val rewindsBefore = EventsStream.anchorRewinds(spark).value
    write("b2", Seq(
      (7L, "2024-01-04 23:00:00", 0L, "view"),
      (7L, "2024-01-05 01:00:00", 0L, "purchase"),
      (8L, "2024-01-01 00:00:00", 0L, "view"),
      (8L, "2024-01-01 02:00:00", 0L, "click"),
      (8L, "2024-01-01 03:00:00", 0L, "purchase")))
    // one file per trigger: the out-of-order view must land in a LATER
    // micro-batch than the anchor (within-trigger input is sorted)
    val out = EventsStream.runToMemory(spark, d.toString,
      EventsStream.funnelCompletions(), "funnel_ooo_out",
      outputMode = "append", maxFilesPerTrigger = Some(1))
    def micros(ts: String) = java.sql.Timestamp.valueOf(ts).getTime * 1000L
    val got = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (7L, micros("2024-01-04 23:00:00"), micros("2024-01-05 00:00:00"),
        micros("2024-01-05 01:00:00")),
      (8L, micros("2024-01-01 01:00:00"), micros("2024-01-01 02:00:00"),
        micros("2024-01-01 03:00:00"))), s"got $got")
    assert(EventsStream.anchorRewinds(spark).value > rewindsBefore,
      "out-of-order view was not counted")
  }

  private def funnelExactParityCase(provider: Option[String],
      tag: String): Unit = withStateStore(provider) {
    import org.apache.spark.sql.functions._
    val W = 86400000000L
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.funnelCompletionsExact(W), s"funnel_exact_out_$tag",
      outputMode = "append")
    // batch mirror: q153's chain with per-user times (as ST15)
    val ev = batchEvents.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tu"))
    val u1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tu")).as("t1"))
    val u2 = ev.filter(col("event_type") === "click").join(u1, "user_id")
      .filter(col("tu") > col("t1") && col("tu") <= col("t1") + W)
      .groupBy(col("user_id"), col("t1")).agg(min(col("tu")).as("t2"))
    val u3 = ev.filter(col("event_type") === "purchase").join(u2, "user_id")
      .filter(col("tu") > col("t2") && col("tu") <= col("t1") + W)
      .groupBy(col("user_id"), col("t1"), col("t2")).agg(min(col("tu")).as("t3"))
    // the engine's final watermark is ms-resolution: max(ts)/1000 − 30 min;
    // a completion emits when its event-time timeout (t3-derived, ms,
    // strictly-less comparison) fires against it
    val wmMs = batchEvents.agg(unix_micros(max(col("ts")))).head().getLong(0) /
      1000L - 1800000L
    val all = u3.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = all.filter(t => t._4 / 1000L + 1L < wmMs).toSet
    val got = stream.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == got.toSet.size, "duplicate completion emitted")
    assert(got.toSet == want, s"stream=${got.length} batch-finalizable=" +
      s"${want.size}; diff ${(got.toSet diff want).take(3)} / " +
      s"${(want diff got.toSet).take(3)}")
    assert(want.nonEmpty)
  }

  test("exact funnel twin: emissions == batch q153 rows the final watermark " +
      "finalizes (ST15x)") {
    funnelExactParityCase(None, "hdfs")
  }

  test("exact funnel parity holds under the RocksDB state store — the " +
      "event-time timeouts and tombstones survive native-side state (ST15xr)") {
    funnelExactParityCase(Some(RocksDb), "rocksdb")
  }

  test("exact funnel twin rewinds the anchor under within-watermark disorder " +
      "— stream == batch where the frozen twin diverges (ST15w)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("funnel-exact-ooo")
    def write(name: String, mtime: Long,
        rows: Seq[(Long, String, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("funnel-exact-w")
      rows.zipWithIndex.map { case ((uid, ts, tp), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(ts), uid, tp, 0.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = java.nio.file.Paths.get(s"$d/$name")
      java.nio.file.Files.copy(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    // u2: anchored at 10:00 in batch 1, then an EARLIER view (09:50,
    // within the 30-min watermark) in batch 2 — the exact twin must
    // rewind and emit the batch triple. u3: click buffered BEFORE any
    // anchor, view arrives later out-of-order. u99/u9 only advance the
    // watermark (u9's far-future event finalizes everything).
    write("b1.parquet", 1000000L, Seq(
      (2L, "2024-03-01 10:00:00", "view"),
      (2L, "2024-03-01 10:05:00", "click"),
      (3L, "2024-03-01 10:03:00", "click"),
      (99L, "2024-03-01 10:06:00", "view")))
    write("b2.parquet", 2000000L, Seq(
      (2L, "2024-03-01 09:50:00", "view"),
      (2L, "2024-03-01 10:10:00", "purchase"),
      (3L, "2024-03-01 10:01:00", "view"),
      (3L, "2024-03-01 10:12:00", "purchase")))
    write("b3.parquet", 3000000L, Seq(
      (9L, "2024-03-03 12:00:00", "view")))
    // drive with a state-metrics listener: per-user state must stay
    // bounded (≤ one row per user seen — buffers live inside the row)
    val acc = new java.util.concurrent.atomic.AtomicLong(-1L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.headOption.foreach(s =>
          acc.getAndUpdate(c => math.max(c, s.numRowsTotal)))
    }
    spark.streams.addListener(listener)
    val got =
      try {
        val q = EventsStream.funnelCompletionsExact()(
          EventsStream.readStream(spark, d.toString, Some(1)))
          .writeStream.format("memory").queryName("funnel_exact_ooo")
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
        spark.table("funnel_exact_ooo").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet
      } finally spark.streams.removeListener(listener)
    def micros(ts: String) = java.sql.Timestamp.valueOf(ts).getTime * 1000L
    assert(got == Set(
      (2L, micros("2024-03-01 09:50:00"), micros("2024-03-01 10:05:00"),
        micros("2024-03-01 10:10:00")),
      (3L, micros("2024-03-01 10:01:00"), micros("2024-03-01 10:03:00"),
        micros("2024-03-01 10:12:00"))), s"got $got")
    assert(acc.get() >= 1 && acc.get() <= 4,
      s"state must stay ≤ one row per user, peak ${acc.get()}")
    // contrast: the FROZEN twin on the same replay diverges on u2 (its
    // anchor stays 10:00) and counts the rewind — the disorder is real
    val rewindsBefore = EventsStream.anchorRewinds(spark).value
    val frozen = EventsStream.runToMemory(spark, d.toString,
      EventsStream.funnelCompletions(), "funnel_frozen_ooo",
      outputMode = "append", maxFilesPerTrigger = Some(1))
    val frozenRows = frozen.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(EventsStream.anchorRewinds(spark).value > rewindsBefore)
    assert(frozenRows.find(_._1 == 2L).exists(_._2 ==
      micros("2024-03-01 10:00:00")), s"frozen twin: $frozenRows")
  }

  test("exact funnel tombstone TTL bounds state without changing emissions " +
      "(ST15t)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the GC dial the long-lived-stream deployment needs: ttl=0 keeps a
    // permanent tombstone per finalized user (the strict no-re-anchor
    // contract); ttl>0 expires it after that much event-time quiescence.
    // Emitted rows must be IDENTICAL either way on a replay whose late
    // arrivals all land inside the TTL.
    def run(ttl: Long): (Set[(Long, Long, Long, Long)], Long) = {
      val d = java.nio.file.Files.createTempDirectory(s"funnel-ttl-$ttl")
      def write(name: String, mtime: Long,
          rows: Seq[(Long, String, String)]): Unit = {
        val tmp = java.nio.file.Files.createTempDirectory("funnel-ttl-w")
        rows.zipWithIndex.map { case ((uid, ts, tp), i) =>
          (i.toLong, java.sql.Timestamp.valueOf(ts), uid, tp, 0.0, "{}")
        }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = new java.io.File(tmp.toString).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dest = java.nio.file.Paths.get(s"$d/$name")
        java.nio.file.Files.copy(part.toPath, dest)
        assert(dest.toFile.setLastModified(mtime))
      }
      // u1 completes inside batch 1; u99's far-future views drive the
      // watermark far past u1's finalization + any 1h TTL
      write("b1.parquet", 1000000L, Seq(
        (1L, "2024-03-01 10:00:00", "view"),
        (1L, "2024-03-01 10:05:00", "click"),
        (1L, "2024-03-01 10:10:00", "purchase")))
      write("b2.parquet", 2000000L, Seq((99L, "2024-03-01 20:00:00", "view")))
      write("b3.parquet", 3000000L, Seq((99L, "2024-03-20 10:00:00", "view")))
      write("b4.parquet", 4000000L, Seq((99L, "2024-04-20 10:00:00", "view")))
      val peak = new java.util.concurrent.atomic.AtomicLong(-1L)
      val last = new java.util.concurrent.atomic.AtomicLong(-1L)
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          e.progress.stateOperators.headOption.foreach { s =>
            peak.getAndUpdate(c => math.max(c, s.numRowsTotal))
            last.set(s.numRowsTotal)
          }
      }
      spark.streams.addListener(listener)
      try {
        val q = EventsStream.funnelCompletionsExact(tombstoneTtlMs = ttl)(
          EventsStream.readStream(spark, d.toString, Some(1)))
          .writeStream.format("memory").queryName(s"funnel_ttl_$ttl")
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
        (spark.table(s"funnel_ttl_$ttl").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .toSet, last.get())
      } finally spark.streams.removeListener(listener)
    }
    val (rows0, state0) = run(0L)
    val (rowsT, stateT) = run(3600000L)
    def micros(ts: String) = java.sql.Timestamp.valueOf(ts).getTime * 1000L
    val expected = Set((1L, micros("2024-03-01 10:00:00"),
      micros("2024-03-01 10:05:00"), micros("2024-03-01 10:10:00")))
    assert(rows0 == expected, s"ttl=0 rows: $rows0")
    assert(rowsT == expected, s"ttl=1h rows: $rowsT")
    // ttl=0 holds u1's tombstone forever; ttl=1h must have expired it
    // once the watermark passed finalization + 1h
    assert(state0 >= 1, s"ttl=0 final state rows $state0")
    assert(stateT < state0,
      s"TTL did not shrink final state: ttl0=$state0 ttl1h=$stateT")
  }

  test("streaming retention activations fold to the batch cohort rollup (ST16)") {
    import org.apache.spark.sql.functions._
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.retentionActivations(), "retention_out",
      outputMode = "append")
    // exactly-once per (user, offset)
    val rows = stream.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length == rows.toSet.size, "duplicate activation emitted")
    // fold the activations to (cohort_week, offset) counts == batch q154
    val got = rows.groupBy(t => (t._2, t._3))
      .map { case (k, v) => (k, v.length.toLong) }
    val ev = batchEvents
    val u = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(unix_micros(min(date_trunc("week", col("ts")))).as("cw"))
    val act = ev.select(col("user_id"),
      unix_micros(date_trunc("week", col("ts"))).as("w")).distinct()
    val want = act.join(u, "user_id").filter(col("w") >= col("cw"))
      .select(col("cw"),
        ((col("w") - col("cw")) / lit(604800000000L)).cast("int").as("off"))
      .groupBy(col("cw"), col("off")).agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    assert(got == want, s"stream=${got.size} batch=${want.size} keys; " +
      s"diff ${(got.toSet diff want.toSet).take(3)} / " +
      s"${(want.toSet diff got.toSet).take(3)}")
    assert(want.nonEmpty)
  }

  test("ST16 state law: horizon caps the bitmask — offsets past it never emit") {
    import org.apache.spark.sql.functions._
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.retentionActivations(horizonWeeks = 1), "retention_h1_out",
      outputMode = "append")
    val offs = stream.collect().map(_.getInt(2))
    assert(offs.forall(_ <= 1), s"offset past horizon: ${offs.max}")
    assert(offs.nonEmpty)
  }

  test("ST16 horizon past one mask word: offsets through the horizon emit, " +
      "past it never (ST16h)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("retention-wide")
    val base = java.time.LocalDateTime.of(2024, 1, 1, 8, 0) // a Monday
    val rows = Seq((0, "signup"), (65, "view"), (70, "view"), (75, "view"))
      .zipWithIndex.map { case ((weeks, tp), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(base.plusWeeks(weeks.toLong)),
          1L, tp, 0.0, "{}")
      }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(d.toString)
    val out = EventsStream.runToMemory(spark, d.toString,
      EventsStream.retentionActivations(horizonWeeks = 70),
      "retention_wide_out", outputMode = "append")
    val offs = out.collect().map(_.getInt(2)).sorted.toSeq
    // offset 65 needs the mask's SECOND word; 75 is past the horizon
    assert(offs == Seq(0, 65, 70), s"got $offs")
  }

  test("ST16 state exists only for cohorted users — a never-signed-up user " +
      "holds no state row (ST16s)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("retention-nostate")
    // users 1 and 2 sign up; user 3 only views (twice, so the handler
    // runs for it repeatedly and must still store nothing)
    Seq(
      (1L, "2024-01-01 08:00:00", 1L, "signup"),
      (2L, "2024-01-02 08:00:00", 2L, "signup"),
      (3L, "2024-01-08 09:00:00", 2L, "view"),
      (4L, "2024-01-01 09:00:00", 3L, "view"),
      (5L, "2024-01-09 09:00:00", 3L, "view"))
      .map { case (eid, ts, uid, tp) =>
        (eid, java.sql.Timestamp.valueOf(ts), uid, tp, 0.0, "{}")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(d.toString)
    val rowsPeak = new java.util.concurrent.atomic.AtomicLong(-1L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.headOption.foreach(s =>
          rowsPeak.getAndUpdate(c => math.max(c, s.numRowsTotal)))
    }
    spark.streams.addListener(listener)
    val emitted =
      try {
        val q = EventsStream.retentionActivations()(
          EventsStream.readStream(spark, d.toString))
          .writeStream.format("memory").queryName("retention_nostate_out")
          .outputMode("append").start()
        q.processAllAvailable()
        q.stop()
        spark.table("retention_nostate_out").collect()
          .map(r => (r.getLong(0), r.getInt(2))).toSet
      } finally spark.streams.removeListener(listener)
    assert(emitted == Set((1L, 0), (2L, 0), (2L, 1)), s"got $emitted")
    assert(rowsPeak.get() == 2L,
      s"state must hold exactly the 2 cohorted users, got ${rowsPeak.get()}")
  }

  test("streaming session paths == batch up to the watermark tail (ST17)") {
    import org.apache.spark.sql.functions.{col, max => fmax}
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.sessionPaths, "sesspath_out", outputMode = "append")
    val batch = EventsStream.sessionPaths(batchEvents)
    val s = sortedRows(stream).toSet
    val b = sortedRows(batch).toSet
    // emitted sessions must be EXACTLY right (subset with equal rows) …
    assert(s.subsetOf(b), s"stream emitted a non-batch session: " +
      s"${(s diff b).take(3)}")
    // … and complete up to the final watermark: every batch session that
    // closed before max(ts) − 30 min must have flushed
    val cutoff = batchEvents
      .agg(org.apache.spark.sql.functions.unix_micros(fmax(col("ts"))))
      .head().getLong(0) - 1800000000L
    val mustFlush = sortedRows(batch.filter(col("send") <= cutoff)).toSet
    assert(mustFlush.subsetOf(s), s"closed session not flushed: " +
      s"${(mustFlush diff s).take(3)}")
    assert(s.nonEmpty && (b diff s).size < b.size,
      "vacuous: nothing emitted before the tail")
  }

  test("streaming session-path ROLLUP == batch up to the watermark tail " +
      "(ST17r: chained stateful stages, bounded output)") {
    import org.apache.spark.sql.functions.{col, max => fmax}
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.sessionPathRollup, "sesspathru_out", outputMode = "append")
    val batch = EventsStream.sessionPathRollup(batchEvents)
    val s = sortedRows(stream).toSet
    val b = sortedRows(batch).toSet
    // a day emits only once the watermark passes its end, when every
    // session ending inside it has closed — so emitted rows are EXACT
    assert(s.subsetOf(b), s"stream emitted a non-batch rollup row: " +
      s"${(s diff b).take(3)}")
    // complete up to the final watermark: every batch day that ended
    // before max(ts) − 30 min must have flushed with its full counts
    val cutoffDay = batchEvents
      .agg(org.apache.spark.sql.functions.date_format(
        fmax(col("ts")) - org.apache.spark.sql.functions.expr(
          "INTERVAL 30 MINUTES") - org.apache.spark.sql.functions.expr(
          "INTERVAL 1 DAY"), "yyyy-MM-dd"))
      .head().getString(0)
    val mustFlush = sortedRows(batch.filter(col("day") < cutoffDay)).toSet
    assert(mustFlush.subsetOf(s), s"closed day not flushed: " +
      s"${(mustFlush diff s).take(3)}")
    assert(s.nonEmpty, "vacuous: nothing emitted before the tail")
    // bounded output: the rollup emits far fewer rows than the session log
    val nSessions = EventsStream.sessionPaths(batchEvents).count()
    assert(stream.count() < nSessions,
      s"rollup (${stream.count()}) not smaller than session log ($nSessions)")
  }

  test("stream-stream interval join: stream == batch (ST8)") {
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.intervalJoin(_), "ssjoin_out", outputMode = "append")
    val batch = EventsStream.intervalJoin(batchEvents)
    assert(stream.count() > 0)
    assert(sortedRows(stream) == sortedRows(batch))
  }

  test("stream-stream LEFT OUTER interval join: stream == batch up to the watermark tail") {
    import org.apache.spark.sql.functions.{col, max => fmax}
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.intervalJoin(_, "leftOuter"), "ssjoin_lo_out", outputMode = "append")
    val batch = EventsStream.intervalJoin(batchEvents, "leftOuter")
    // Documented outer-join semantics: an unmatched left row is emitted
    // as null only when its join state is evicted, and eviction waits
    // for watermark − join-interval-width (a purchase could match
    // signups up to 2 h before it, so Spark holds it until the watermark
    // clears that whole range). On a FINITE stream the final watermark
    // is max(ts) − 30 min, so the never-flushed tail spans the last
    // 30 min + 2 h. The stream must equal batch minus exactly that tail.
    val cutoffS = batchEvents.agg(org.apache.spark.sql.functions.date_format(
      fmax(col("ts")) - org.apache.spark.sql.functions.expr("INTERVAL 150 MINUTES"),
      "yyyy-MM-dd HH:mm:ss.SSSSSS")).head().getString(0)
    val batchMinusTail = batch.filter(
      col("s_ts_s").isNotNull || col("p_ts_s") <= cutoffS)
    assert(sortedRows(stream) == sortedRows(batchMinusTail))
    // matched rows are never dropped
    assert(stream.filter("s_ts_s IS NOT NULL").count() ==
      batch.filter("s_ts_s IS NOT NULL").count())
  }

  /** The RocksDB provider class shipped in spark-sql (rocksdbjni is on
    * the unmanaged classpath). The production state store at 100 TB —
    * state spills to local disk with changelog checkpointing instead of
    * living on the executor heap — so the near-dup state machine must
    * hold under BOTH providers, not just the default HDFS-backed one
    * (store/restore serialization and timeout bookkeeping are separate
    * code paths per provider).
    */
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's state-store provider overridden, then
    * restore the default (the conf is captured at stream START, so
    * setting it around the test body is exact).
    */
  private def withStateStore[T](provider: Option[String])(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    provider.foreach(spark.conf.set(key, _))
    try body finally provider.foreach(_ => spark.conf.unset(key))
  }

  private def nearDupParityCase(provider: Option[String], tag: String): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocsStream
    val docs = Tables(spark, dir, "documents")
    val mid = docs.agg(org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
      .collect()(0).getDouble(0)
    // two files, mtime-ordered by ascending doc_id (the ingest-order
    // contract) + maxFilesPerTrigger=1 → dedup state must carry across
    // micro-batches for parity to hold
    val sd = java.nio.file.Files.createTempDirectory("docs-stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    stage(docs.filter(col("doc_id") <= mid), "a.parquet", 1000000L)
    stage(docs.filter(col("doc_id") > mid), "b.parquet", 2000000L)
    val q = withStateStore(provider) {
      DocsStream.nearDupCandidates(DocsStream.readStream(spark, sd.toString))
        .writeStream.format("memory").queryName(s"neardup_out_$tag")
        .outputMode("append").start()
    }
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 2, s"expected ≥2 micro-batches, got $nBatches")
    val stream = spark.table(s"neardup_out_$tag")
    val batch = DocsStream.nearDupCandidatesBatch(docs)
    assert(batch.count() > 0, "no near-dup candidates in testdata?")
    assert(sortedRows(stream) == sortedRows(batch))
  }

  test("streaming minhash near-dup candidates == batch twin across micro-batches (ST9)") {
    nearDupParityCase(None, "hdfs")
  }

  test("near-dup parity holds under the RocksDB state store (ST9r)") {
    nearDupParityCase(Some(RocksDb), "rocksdb")
  }

  test("streaming VERIFIED near-dups == batch twin across micro-batches (ST11)") {
    // q118's streaming side: candidates verified at exact Jaccard ≥ 0.5
    // against the bucket representative. Same two-file staging as ST9 so
    // state must carry across micro-batches for parity to hold.
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocsStream
    val docsB = Tables(spark, dir, "documents")
    val mid = docsB.agg(org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
      .collect()(0).getDouble(0)
    val sd = java.nio.file.Files.createTempDirectory("docs-stream-ver")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-stage-ver")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    stage(docsB.filter(col("doc_id") <= mid), "a.parquet", 1000000L)
    stage(docsB.filter(col("doc_id") > mid), "b.parquet", 2000000L)
    val q = DocsStream.nearDupVerified(DocsStream.readStream(spark, sd.toString), docsB)
      .writeStream.format("memory").queryName("neardup_ver_out")
      .outputMode("append").start()
    q.processAllAvailable()
    val nBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(nBatches >= 2, s"expected ≥2 micro-batches, got $nBatches")
    val stream = spark.table("neardup_ver_out")
    val batch = DocsStream.nearDupVerifiedBatch(docsB, docsB)
    assert(batch.count() > 0, "no verified near-dups in testdata?")
    // verification must actually reject some candidates, or this locks
    // nothing beyond ST9
    assert(batch.count() < DocsStream.nearDupCandidatesBatch(docsB).count(),
      "Jaccard verification rejected nothing — kernel untested")
    assert(sortedRows(stream) == sortedRows(batch))
  }

  test("trained-model encode runs on a stream unchanged (BPE token counts, stream == batch)") {
    // Model-state operators (BPE merges, PQ codebooks, bloom filters)
    // apply as literal-driven map-side expressions, so they run on
    // streams BY CONSTRUCTION — no separate streaming implementation.
    // Proven here for BPE: train on batch, encode a document stream.
    import org.apache.spark.sql.functions.{col, split, trim, length, size, filter => afilter, transform => atransform, aggregate => aagg, lit}
    import graft.operators.Bpe
    import graft.streaming.DocsStream
    val docs = Tables(spark, dir, "documents")
    val merges = Bpe.train(docs, rounds = 2)
    def encode(df: org.apache.spark.sql.DataFrame) = {
      val words = afilter(split(col("text"), " "), w => length(w) > 0)
      df.select(col("doc_id"),
        aagg(atransform(words, w =>
            size(split(trim(Bpe.applyMerges(Bpe.charSyms(w), merges)), " ")).cast("long")),
          lit(0L), (a, x) => a + x).as("n_bpe_tokens"))
    }
    val sd = java.nio.file.Files.createTempDirectory("docs-enc-stream")
    val tmp = java.nio.file.Files.createTempDirectory("docs-enc-stage")
    docs.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, sd.resolve("docs.parquet"))
    val q = encode(DocsStream.readStream(spark, sd.toString))
      .writeStream.format("memory").queryName("bpe_enc_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(sortedRows(spark.table("bpe_enc_out")) == sortedRows(encode(docs)))
  }

  test("stream dedup matches batch dropDuplicates count") {
    val stream = EventsStream.runToMemory(spark, streamDir,
      EventsStream.dedup, "dedup_out", outputMode = "append")
    assert(stream.count() == batchEvents.dropDuplicates("event_id").count())
  }

  private def nearDupTtlCase(provider: Option[String], tag: String): Unit = {
    // dedup-within-horizon: after ttlMs without arrivals a (band,bucket)'s
    // state expires (processing-time timeout, fired by the engine's
    // no-data batches), so the bucket's next doc becomes the NEW
    // representative instead of a candidate against a long-gone one.
    // Staging: doc 1 (text T1) → wait past TTL → docs 2 and 4 (both T1,
    // one micro-batch). Expired horizon: doc 2 emits nothing and becomes
    // the representative; in-horizon dedup is unchanged: doc 4 dups
    // against 2 — never against the expired 1.
    //
    // NOTE: with ProcessingTimeTimeout the engine schedules no-data
    // batches indefinitely (FlatMapGroupsWithStateExec.shouldRunAnotherBatch
    // is always true), so processAllAvailable() would never return —
    // progress is awaited by polling for each staged batch's distinctive
    // numInputRows instead, and the trigger is throttled.
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.DocsStream
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon"
    def frame(rows: (Long, String)*) = rows.toSeq
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sd = java.nio.file.Files.createTempDirectory("docs-ttl")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-ttl-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    val ttlMs = 2000L
    stage(frame(1L -> t1), "a.parquet", 1000000L)
    val q = withStateStore(provider) {
      DocsStream.nearDupCandidates(
          DocsStream.readStream(spark, sd.toString), ttlMs)
        .writeStream.format("memory").queryName(s"neardup_ttl_out_$tag")
        // 1 s: comfortably above the measured worst-case micro-batch time
        // on a loaded box (~700 ms) — a tighter interval (200 ms) made
        // every batch log "Current batch is falling behind", the first
        // symptom of a timing-flaky streaming suite. The TTL staging
        // still sees multiple no-data batches inside its ttl+2 s sleep.
        // (AvailableNow can't be used here: ProcessingTimeTimeout needs
        // the engine's periodic no-data batches to fire expiry at all.)
        .trigger(Trigger.ProcessingTime("1 second"))
        .outputMode("append").start()
    }
    def waitForBatchWithRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!q.recentProgress.exists(_.numInputRows == n)) {
        assert(System.currentTimeMillis < deadline,
          s"timed out waiting for a $n-row micro-batch; progress=" +
            q.recentProgress.map(_.numInputRows).mkString(","))
        Thread.sleep(100)
      }
    }
    waitForBatchWithRows(1) // a.parquet (doc 1) processed; state registered
    Thread.sleep(ttlMs + 2000) // no-data batches fire the timeout in here
    stage(frame(2L -> t1, 4L -> t1), "c.parquet", 3000000L)
    waitForBatchWithRows(2) // c.parquet processed — sink committed with it
    q.stop()
    val out = spark.table(s"neardup_ttl_out_$tag")
      .select(col("doc_id"), col("dup_of")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set(4L -> 2L),
      s"expected re-admitted rep 2 and in-horizon dup 4->2, got $out")
  }

  private def nearDupEventTimeTtlCase(verified: Boolean, tag: String): Unit = {
    // the ST18te dual-horizon law on the STANDALONE doc-stream twins
    // (the q104/q118 surfaces): a historical backfill replayed fast must
    // expire buckets by the DATA's clock — processing-time TTL expires
    // nothing (wall time barely advances between files). No sleeps:
    // expiry is forced by a watermark-driving filler doc and observed by
    // polling state rows to zero.
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocsStream
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon"
    val ttlMs = 60000L // one MINUTE of event time — wall clock irrelevant
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(plusMs: Long) = new java.sql.Timestamp(t0.getTime + plusMs)
    def frame(rows: (Long, String, java.sql.Timestamp)*) = rows.toSeq
      .map { case (id, t, ts) => (id, t, "en", "src", t.length.toLong, ts) }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "ts")
    val sd = java.nio.file.Files.createTempDirectory(s"docs-ette-$tag")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-ette-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    // filler doc 9 advances the watermark past doc 1's horizon. It must
    // be band-ELIGIBLE (≥3 tokens): the eligibility filter is pushed
    // BELOW the watermark node by the optimizer (a deterministic
    // predicate not on the event column), so an ineligible filler never
    // reaches the event-time stats and the watermark never moves. Its
    // text shares no buckets with t1, so it emits nothing and holds its
    // own 4 bucket states (the post-expiry residue).
    val tsB = at(ttlMs + 540000L) // 10 event-minutes past t0
    stage(frame((1L, t1, t0)), "a.parquet", 1000000L)
    stage(frame((9L, "zulu yankee xray whiskey victor", tsB)),
      "b.parquet", 2000000L)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, lang STRING, source STRING, " +
        "n_chars LONG, ts TIMESTAMP")
    val history = frame((1L, t1, t0), (2L, t1, at(ttlMs + 541000L)),
      (4L, t1, at(ttlMs + 541000L)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(sd.toString)
    val out = if (verified)
      DocsStream.nearDupVerified(stream, history, ttlMs,
        eventTimeCol = Some("ts"))
    else DocsStream.nearDupCandidates(stream, ttlMs,
      eventTimeCol = Some("ts"))
    val q = out.writeStream.format("memory").queryName(s"neardup_ette_$tag")
      .outputMode("append").start()
    def waitFor(cond: => Boolean, msg: String): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!cond) {
        assert(System.currentTimeMillis < deadline, s"timed out: $msg; " +
          s"progress=${q.recentProgress.map(_.numInputRows).mkString(",")}")
        Thread.sleep(100)
      }
    }
    // both files in (state 4 → 8), then doc 1's 4 bucket states EXPIRE
    // on the event clock, leaving exactly the filler's 4
    waitFor(q.recentProgress.map(_.numInputRows).sum >= 2, "files a+b")
    def stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    waitFor(stateRows == 4L, s"event-time expiry (state rows=$stateRows)")
    stage(frame((2L, t1, at(ttlMs + 541000L)), (4L, t1, at(ttlMs + 541000L))),
      "c.parquet", 3000000L)
    waitFor(q.recentProgress.exists(_.numInputRows == 2), "file c")
    q.processAllAvailable()
    q.stop()
    val got = spark.table(s"neardup_ette_$tag")
      .select(col("doc_id"), col("dup_of")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // expired horizon: doc 2 re-admitted as the bucket rep (no edge to
    // the long-gone 1); in-horizon dedup unchanged: 4 → 2, never 4 → 1
    assert(got == Set(4L -> 2L),
      s"expected re-admitted rep 2 and in-horizon dup 4->2, got $got")
  }

  test("near-dup candidates EVENT-TIME TTL: buckets expire on the " +
      "watermark clock and re-admit; in-horizon dedup holds (ST11te)") {
    nearDupEventTimeTtlCase(verified = false, "cand")
  }

  test("near-dup verified EVENT-TIME TTL: the rep-shingle cache expires " +
      "on the watermark clock too (ST11tev)") {
    nearDupEventTimeTtlCase(verified = true, "ver")
  }

  test("near-dup state TTL: an expired bucket re-admits; dedup still holds inside the horizon (ST12)") {
    nearDupTtlCase(None, "hdfs")
  }

  test("near-dup TTL expiry holds under the RocksDB state store (ST12r)") {
    // timeout bookkeeping is provider-specific state management — the
    // expiry + re-admit contract has to survive RocksDB's native-side
    // store/restore, not just the heap-backed map's
    nearDupTtlCase(Some(RocksDb), "rocksdb")
  }

  test("incremental label sink: epoch-folded labels == batch CC over all " +
      "streamed edges (ST13)") {
    // the streaming form of q130: each epoch folds its candidate edges
    // into the prior labeling via star-edge composition. After the
    // stream drains, the persisted labeling must equal a from-scratch
    // connected-components run over the batch twin's full edge set —
    // including merges that BRIDGE clusters across micro-batches.
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocsStream
    val docs = Tables(spark, dir, "documents")
    val mid = docs.agg(org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
      .collect()(0).getDouble(0)
    val sd = java.nio.file.Files.createTempDirectory("docs-labelstream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-labelstage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    stage(docs.filter(col("doc_id") <= mid), "a.parquet", 1000000L)
    stage(docs.filter(col("doc_id") > mid), "b.parquet", 2000000L)
    val root = java.nio.file.Files.createTempDirectory("labels-root").toString
    val q = DocsStream.nearDupCandidates(DocsStream.readStream(spark, sd.toString))
      .writeStream.foreachBatch(DocsStream.incrementalLabelSink(root) _).start()
    q.processAllAvailable()
    q.stop()
    val got = DocsStream.latestLabels(spark, root)
      .getOrElse(fail("no epoch written"))
      .select(col("doc_id"), col("rep")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = DocsStream.nearDupCandidatesBatch(docs)
      .select(col("doc_id").as("src"), col("dup_of").as("dst"))
    val docsInEdges = e.select(col("src").as("doc_id"))
      .union(e.select(col("dst").as("doc_id"))).distinct()
    val want = graft.operators.Dedup.connectedComponents(docsInEdges, e)
      .select(col("doc_id"), col("rep")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"incremental labeling != batch CC: ${(got diff want) ++ (want diff got)}")
    assert(got.nonEmpty, "testdata must produce near-dup edges")
    // the delta log holds one (batch-bounded) delta per epoch until
    // compaction folds them (default horizon 16 — not reached here)
    val deltaDirs = Option(new java.io.File(s"$root/delta").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("epoch=")).toSeq
    assert(deltaDirs.size == 2, s"expected 2 delta epochs, got $deltaDirs")
  }

  test("label delta-log compaction folds prior epochs into one base " +
      "and prunes them; labeling unchanged (ST13c)") {
    // same staging as ST13 but compactEvery=1: each epoch folds all
    // strictly-prior parts into base/epoch=M before writing its delta,
    // pruning the covered parts — the amortized bound on how many parts
    // an epoch's rep-lookup scan (and latestLabels) ever reads
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocsStream
    val docs = Tables(spark, dir, "documents")
    val mid = docs.agg(org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
      .collect()(0).getDouble(0)
    val sd = java.nio.file.Files.createTempDirectory("docs-labelcompact")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-labelcompactstage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    stage(docs.filter(col("doc_id") <= mid), "a.parquet", 1000000L)
    stage(docs.filter(col("doc_id") > mid), "b.parquet", 2000000L)
    val root = java.nio.file.Files.createTempDirectory("labels-compact-root").toString
    val q = DocsStream.nearDupCandidates(DocsStream.readStream(spark, sd.toString))
      .writeStream
      .foreachBatch(DocsStream.incrementalLabelSink(root, compactEvery = 1) _)
      .start()
    q.processAllAvailable()
    q.stop()
    val got = DocsStream.latestLabels(spark, root)
      .getOrElse(fail("no labels written"))
      .select(col("doc_id"), col("rep")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = DocsStream.nearDupCandidatesBatch(docs)
      .select(col("doc_id").as("src"), col("dup_of").as("dst"))
    val docsInEdges = e.select(col("src").as("doc_id"))
      .union(e.select(col("dst").as("doc_id"))).distinct()
    val want = graft.operators.Dedup.connectedComponents(docsInEdges, e)
      .select(col("doc_id"), col("rep")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"compacted labeling != batch CC: " +
      s"${((got diff want) ++ (want diff got)).take(20)}")
    def dirs(sub: String) = Option(new java.io.File(s"$root/$sub").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("epoch=")).toSeq
    assert(dirs("base").size == 1,
      s"expected one base snapshot, got ${dirs("base")}")
    assert(dirs("delta").size <= 1,
      s"covered deltas not pruned: ${dirs("delta")}")
  }

  test("out-of-order arrival: rep-relink edges keep the labeling equal " +
      "to batch CC when a later batch brings SMALLER doc_ids (ST13r)") {
    // the 10× labels stress caught this: crawl splits are NOT id-ordered,
    // and without the relink edge a bucket's early docs disconnect from
    // its later (smaller-id) docs. Staging the corpus in REVERSED id
    // order forces every bucket whose min sits in the second file to
    // displace its stored rep — the drained labeling must still equal
    // the from-scratch batch CC exactly.
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocsStream
    val docs = Tables(spark, dir, "documents")
    val mid = docs.agg(org.apache.spark.sql.functions.expr("percentile(doc_id, 0.5)"))
      .collect()(0).getDouble(0)
    val sd = java.nio.file.Files.createTempDirectory("docs-labelrev")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-labelrevstage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    // REVERSED: the high-id half lands first
    stage(docs.filter(col("doc_id") > mid), "a.parquet", 1000000L)
    stage(docs.filter(col("doc_id") <= mid), "b.parquet", 2000000L)
    val root = java.nio.file.Files.createTempDirectory("labels-rev-root").toString
    val q = DocsStream.nearDupCandidates(DocsStream.readStream(spark, sd.toString))
      .writeStream.foreachBatch(DocsStream.incrementalLabelSink(root) _).start()
    q.processAllAvailable()
    q.stop()
    val got = DocsStream.latestLabels(spark, root)
      .getOrElse(fail("no epoch written"))
      .select(col("doc_id"), col("rep")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = DocsStream.nearDupCandidatesBatch(docs)
      .select(col("doc_id").as("src"), col("dup_of").as("dst"))
    val docsInEdges = e.select(col("src").as("doc_id"))
      .union(e.select(col("dst").as("doc_id"))).distinct()
    val want = graft.operators.Dedup.connectedComponents(docsInEdges, e)
      .select(col("doc_id"), col("rep")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"reversed-arrival labeling != batch CC: " +
      s"${((got diff want) ++ (want diff got)).take(20)}")
  }

  test("displaced reps emit VERIFIED through the rep-shingle cache: " +
      "reversed arrival keeps verified-edge CC == batch CC (ST11d)") {
    // the r12 documented boundary, closed: a smaller id displacing a
    // bucket rep now emits the (old rep, new rep) pair carrying the old
    // rep's CACHED shingles, so the link is exact-Jaccard-verified like
    // any candidate instead of silently dropped (over-keep).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.streaming.DocsStream
    val ta = "alpha beta gamma delta epsilon zeta"
    val tb = "one two three four five six seven"
    val docs = Seq(
      (1L, ta), (2L, ta), (3L, ta), (4L, tb), (5L, tb), (6L, tb))
      .map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sd = java.nio.file.Files.createTempDirectory("docs-displaced")
    def stage(ids: Seq[Long], name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("docs-displaced-w")
      docs.filter(col("doc_id").isin(ids: _*))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    // REVERSED: cluster minima (1 and 4) arrive last, displacing the
    // stored reps 2 and 5
    stage(Seq(2L, 3L, 5L, 6L), "a.parquet", 1000000L)
    stage(Seq(1L, 4L), "b.parquet", 2000000L)
    val before = DocsStream.displacedReps(spark).value
    val q = DocsStream.nearDupVerified(
        DocsStream.readStream(spark, sd.toString), docs)
      .writeStream.format("memory").queryName("neardup_displaced_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    assert(DocsStream.displacedReps(spark).value > before,
      "reversed staging never displaced a rep — fixture broken")
    val stream = spark.table("neardup_displaced_out")
    // every emitted pair is verified (clones: jaccard exactly 1), and
    // the displaced links (2→1, 5→4) are present
    val pairs = stream.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(pairs.forall(_._3 == 1.0), s"unverified emission: ${pairs.toSeq}")
    assert(pairs.exists(p => p._1 == 2L && p._2 == 1L) &&
      pairs.exists(p => p._1 == 5L && p._2 == 4L),
      s"displaced pairs missing: ${pairs.toSeq}")
    // connected components over the verified stream == batch twin's
    def cc(e: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val edges = e.select(col("doc_id").as("src"), col("dup_of").as("dst"))
      val nodes = edges.select(col("src").as("doc_id"))
        .union(edges.select(col("dst").as("doc_id"))).distinct()
      graft.operators.Dedup.connectedComponents(nodes, edges)
        .select(col("doc_id"), col("rep")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(cc(stream) == cc(DocsStream.nearDupVerifiedBatch(docs, docs)),
      "reversed-arrival verified labels != batch CC")
  }

  test("ST11 contract: every edge the streaming labeler folds is an " +
      "individually Jaccard-verified pair; sub-threshold docs are never " +
      "folded; over-connection merges are counted (ST11c)") {
    // the residual rep-anchoring boundary, pinned as a CONTRACT rather
    // than a stress count: on threshold-MARGINAL chains the stream can
    // over-connect vs the batch twin, but only along edges that are
    // individually exact-Jaccard >= 0.5 — so a merge can only join
    // genuinely-similar docs, and a wrongly-DROPPED doc (under-keep)
    // would require a spurious edge, which this asserts cannot be
    // emitted. overConnectMerges makes the merge rate observable.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.streaming.DocsStream
    // marginal ladder: j(10,11)=5/7, j(10,12)=0.5 (exactly at the
    // threshold), 13 at j=0.2 to everything (below threshold); clones
    // 20/21 plus a 0.8 neighbor 22 — probed: all >= 0.5 pairs band
    val texts = Seq(
      10L -> "a b c d e f g h",
      11L -> "a b c d e f g z",
      12L -> "a b c d e f y z",
      13L -> "a b c d q r y z",
      20L -> "one two three four five six",
      21L -> "one two three four five six",
      22L -> "one two three four five six seven")
    val docs = texts.map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val sd = java.nio.file.Files.createTempDirectory("st11c")
    def stage(ids: Seq[Long], name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("st11c-w")
      docs.filter(col("doc_id").isin(ids: _*))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      assert(dest.toFile.setLastModified(mtime))
    }
    // REVERSED: cluster minima (10 and 20) arrive last — maximum
    // displacement; every displaced relink in this fixture verifies
    stage(Seq(11L, 12L, 13L, 21L, 22L), "a.parquet", 1000000L)
    stage(Seq(10L, 20L), "b.parquet", 2000000L)
    val beforeD = DocsStream.displacedReps(spark).value
    val beforeOc = DocsStream.overConnectMerges(spark).value
    val q = DocsStream.nearDupVerified(
        DocsStream.readStream(spark, sd.toString), docs)
      .writeStream.format("memory").queryName("st11c_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val edges = spark.table("st11c_out").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(edges.nonEmpty, "fixture produced no edges — banding broken")
    // ground truth from the raw texts, independent of the handler
    val tmap = texts.toMap
    def shingles(t: String): Set[Seq[String]] =
      t.split(" ").toSeq.sliding(3).toSet
    def truthJ(a: Long, b: Long): Double = {
      val (x, y) = (shingles(tmap(a)), shingles(tmap(b)))
      if ((x ++ y).isEmpty) 0.0
      else x.intersect(y).size.toDouble / (x ++ y).size
    }
    // CONTRACT 1: every emitted edge is an individually verified pair —
    // its carried jaccard equals the ground-truth jaccard of the two
    // TEXTS (so the cached rep shingles really were the old rep's), and
    // it clears the threshold
    edges.foreach { case (a, b, j) =>
      assert(math.abs(j - truthJ(a, b)) < 1e-9,
        s"edge ($a,$b) carries j=$j but texts give ${truthJ(a, b)}")
      assert(j >= 0.5, s"sub-threshold edge emitted: ($a,$b,$j)")
    }
    // CONTRACT 2: the below-threshold doc is never folded — under-keep
    // would need a spurious edge
    assert(!edges.exists(e => e._1 == 13L || e._2 == 13L),
      s"doc 13 (max truth jaccard 0.2) was folded: ${edges.toSeq}")
    // the at-threshold doc 12 was folded along SOME verified link — in
    // the reversed replay it anchors at the rep current on arrival (11,
    // j(11,12)=0.5 exactly), then the displacement relinks 11→10: the
    // rep-anchoring path, every hop individually verified
    assert(edges.exists(e => e._1 == 12L || e._2 == 12L),
      s"the at-threshold doc 12 was never folded: ${edges.toSeq}")
    // and the verified chain connects the marginal cluster end to end
    val adj = edges.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def reach(from: Long): Set[Long] = {
      var seen = Set(from); var frontier = Set(from)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    assert(Set(10L, 11L, 12L).subsetOf(reach(10L)),
      s"marginal cluster not connected: ${reach(10L)}")
    // CONTRACT 3: over-connection merges observable; in this fixture
    // every displaced relink verifies, so the two counters move together
    val dDelta = DocsStream.displacedReps(spark).value - beforeD
    val ocDelta = DocsStream.overConnectMerges(spark).value - beforeOc
    assert(dDelta > 0, "reversed staging never displaced a rep")
    assert(ocDelta == dDelta,
      s"all displaced relinks verify here, but overConnect=$ocDelta, displaced=$dDelta")
    spark.sql("DROP TABLE IF EXISTS st11c_out")
  }

  test("stream defined on an EMPTY landing dir uses the declared schema; " +
      "files arriving later are processed (ADVICE r8)") {
    // production file streams are defined BEFORE data lands; the stream
    // reads the declared events layout, so it needs no footers and does
    // not throw at definition time
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val landing = java.nio.file.Files.createTempDirectory("events-landing").toString
    val stream = EventsStream.readStream(spark, landing) // empty: no footers
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType,
      "fallback schema must still normalize ts to TIMESTAMP")
    val q = EventsStream.windowedAgg(stream)
      .writeStream.format("memory").queryName("empty_landing")
      .outputMode("append").start()
    try {
      q.processAllAvailable() // zero-data batch on the empty dir: no throw
      assert(spark.table("empty_landing").count() == 0)
      // files arrive in the layout the declared schema promises (ts =
      // TIMESTAMP micros): batch 1 spans 100 min; batch 2 is 2,000 h later
      // so the watermark closes batch 1's windows and append mode emits them
      val base = 1700000000000000L
      def land(offsetMicros: Long, ids: Range): Unit =
        ids.map(i => (i.toLong, base + offsetMicros + i * 60000000L,
            i.toLong % 5, "click", 1.0, """{"k":1}"""))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .withColumn("ts", timestamp_micros(col("ts")))
          .coalesce(1).write.mode("append").parquet(landing)
      land(0L, 1 to 100)
      q.processAllAvailable()
      land(7200000000L * 1000, 101 to 110) // +2,000 h
      q.processAllAvailable()
      val emitted = spark.table("empty_landing")
      assert(emitted.count() > 0,
        "closed windows from the first landed file must emit")
      assert(emitted.agg(sum(col("n"))).head().getLong(0) <= 110)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS empty_landing")
    }
  }

  /** Driver-side scalar mirror of [[graft.streaming.EmbedStream
    * .semanticNearDup]]'s greedy leader-clustering semantics: per cell,
    * in vec_id order, emit against the first stored exemplar within tau,
    * else store (while under cap). An independent reimplementation — the
    * handler must agree bit-for-bit. */
  private def greedyMirror(assigned: Array[(Long, Long, Seq[Double])],
      tau: Double, cap: Int): Set[(Long, Long, Long, Double)] =
    assigned.groupBy(_._1).iterator.flatMap { case (cid, cell) =>
      val ex = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
      cell.sortBy(_._2).flatMap { case (_, id, v) =>
        ex.iterator
          .map { case (eid, ev) => (eid, graft.streaming.EmbedStream.cosScalar(ev, v)) }
          .find(_._2 >= tau) match {
          case Some((eid, c)) => Some((id, cid, eid, c))
          case None =>
            if (ex.length < cap) ex += ((id, v))
            None
        }
      }
    }.toSet

  private def embAssigned: Array[(Long, Long, Seq[Double])] = {
    import org.apache.spark.sql.functions._
    graft.operators.Ivf
      .assign(spark.read.parquet(s"$dir/embeddings.parquet"),
        queries.PipelineQueries.ivfCents(spark, dir))
      .select(col("cid"), col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
  }

  private def semanticParityCase(provider: Option[String], tag: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.streaming.EmbedStream
    val cents = queries.PipelineQueries.ivfCents(spark, dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val mid = e.agg(expr("percentile(vec_id, 0.5)")).collect()(0).getDouble(0)
    // two files, mtime-ordered by ascending vec_id (the ingest-order
    // contract) + maxFilesPerTrigger=1 → exemplar state must carry
    // across micro-batches for parity to hold
    val sd = java.nio.file.Files.createTempDirectory("emb-stream")
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("emb-stage")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = sd.resolve(name)
      java.nio.file.Files.move(part.toPath, dest)
      dest.toFile.setLastModified(mtime)
    }
    stage(e.filter(col("vec_id") <= mid), "a.parquet", 1000000L)
    stage(e.filter(col("vec_id") > mid), "b.parquet", 2000000L)
    val q = withStateStore(provider) {
      EmbedStream
        .semanticNearDup(EmbedStream.readStream(spark, sd.toString), cents,
          tau = 0.4, cap = 10000)
        .writeStream.format("memory").queryName(s"semdedup_out_$tag")
        .outputMode("append").start()
    }
    try {
      q.processAllAvailable()
      val nBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(nBatches >= 2, s"expected ≥2 micro-batches, got $nBatches")
      val stream = spark.table(s"semdedup_out_$tag")
      val batch = EmbedStream.semanticNearDup(e, cents, tau = 0.4, cap = 10000)
      assert(batch.count() > 0, "no semantic near-dups in testdata?")
      assert(sortedRows(stream) == sortedRows(batch))
      val got = stream.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == greedyMirror(embAssigned, 0.4, 10000))
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS semdedup_out_$tag")
    }
  }

  test("streaming semantic near-dup == batch twin and scalar mirror across " +
      "micro-batches (ST14)") {
    semanticParityCase(None, "hdfs")
  }

  test("semantic near-dup parity holds under the RocksDB state store (ST14r)") {
    semanticParityCase(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "rocks")
  }

  test("semantic near-dup exemplar cap: cap=1 dedups only against the cell " +
      "leader; cap=0 stores nothing and emits nothing (ST14c)") {
    import graft.streaming.EmbedStream
    val cents = queries.PipelineQueries.ivfCents(spark, dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val one = EmbedStream.semanticNearDup(e, cents, tau = 0.4, cap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val mirror1 = greedyMirror(embAssigned, 0.4, 1)
    assert(one.toSet == mirror1, "cap=1 must match the scalar mirror")
    // with one exemplar per cell, every emission's dup_of is that cell's
    // minimum vec_id (the leader)
    val minByCell = embAssigned.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    one.foreach { case (_, cid, dupOf, _) =>
      assert(dupOf == minByCell(cid),
        s"cap=1 emission in cell $cid points at $dupOf, not the leader")
    }
    assert(EmbedStream.semanticNearDup(e, cents, tau = 0.4, cap = 0).count() == 0)
  }

  test("semantic near-dup with two-level assignment routing matches the " +
      "scalar mirror over two-level cells (ST14t)") {
    // the large-k dial for the STREAM: assignment routes through
    // Ivf.assignTwoLevel; the exemplar state machine must behave
    // identically over the (approximate) cell labels — mirrored by
    // running greedyMirror on the two-level assignments
    import org.apache.spark.sql.functions._
    import graft.streaming.EmbedStream
    val k = 80
    val cents = queries.PipelineQueries.ivfCentsK(spark, dir, k)
    val k1 = math.max(2, math.round(math.sqrt(k.toDouble)).toInt)
    val (coarse, coarseOf) = graft.operators.Ivf.coarsen(spark, cents, k1, 2)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val assigned = graft.operators.Ivf
      .assignTwoLevel(e, cents, coarse, coarseOf, nprobe = 2)
      .select(col("cid"), col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    val got = EmbedStream
      .semanticNearDup(e, cents, tau = 0.4, cap = 10000,
        twoLevel = Some((coarse, coarseOf, 2)))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == greedyMirror(assigned, 0.4, 10000))
  }

  test("cap-overflow admissions are counted, matching the scalar mirror " +
      "(ST14o)") {
    // a vector that matches no exemplar AND finds its cell full is
    // admitted with no dedup memory — the leader-clustering recall trade.
    // The accumulator must count exactly those, so a mis-sized cap is a
    // number, not a silent recall loss.
    import graft.streaming.EmbedStream
    val cents = queries.PipelineQueries.ivfCents(spark, dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    def expectedOverflow(cap: Int): Long =
      embAssigned.groupBy(_._1).valuesIterator.map { cell =>
        val ex = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Double])]
        var n = 0L
        cell.sortBy(_._2).foreach { case (_, id, v) =>
          ex.iterator
            .map { case (_, ev) => EmbedStream.cosScalar(ev, v) }
            .find(_ >= 0.4) match {
            case Some(_) => ()
            case None => if (ex.length < cap) ex += ((id, v)) else n += 1
          }
        }
        n
      }.sum
    val acc = EmbedStream.capOverflows(spark)
    def measured(cap: Int): Long = {
      val before = acc.value
      EmbedStream.semanticNearDup(e, cents, tau = 0.4, cap = cap)
        .write.format("noop").mode("overwrite").save()
      acc.value - before
    }
    val exp1 = expectedOverflow(1)
    assert(exp1 > 0, "cap=1 on this corpus should overflow somewhere")
    assert(measured(1) == exp1)
    // unbounded cap ⇒ zero overflow (every unmatched vector is admitted
    // WITH memory)
    assert(measured(10000) == 0L)
  }
}
