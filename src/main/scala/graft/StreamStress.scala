package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Scale-stress for the STREAMING near-dup path (the one [EXT] family
  * whose batch twins have three decades of measurements but whose state
  * machine had only run on sf0.01 spec fixtures): drives the 10×
  * stress corpus (50k docs, 32 parquet splits) through
  * [[graft.streaming.DocsStream.nearDupCandidates]] as a micro-batched
  * file stream under the RocksDB state-store provider, and prints one
  * STREAMSTRESS JSON line with per-config input rows, state rows,
  * eviction counts, and peak state size.
  *
  * Two configs measure the two state regimes:
  *  - `ttl=0`: state grows to the corpus's (band, bucket) cardinality —
  *    the lifetime-dedup upper bound. Bounded by bucket count (ONE long
  *    per bucket), not corpus size; this run measures that bound.
  *  - `ttl>0` (horizon dedup): processing-time timeout expires idle
  *    buckets, so state tracks the horizon's churn. After the drain the
  *    engine's no-data batches fire the expiry; the run records
  *    `evicted > 0` and the post-expiry state row count (→ 0 once all
  *    buckets idle past the horizon — the bounded-state assertion).
  *
  * Engine fact both the spec suite and this harness must respect: with
  * `ProcessingTimeTimeout` the engine schedules no-data batches FOREVER
  * (`FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is always true),
  * so `processAllAvailable()` never returns on the TTL config, and the
  * no-data batch stream evicts data batches out of the bounded
  * `recentProgress` buffer. Progress is therefore accumulated in a
  * [[StreamingQueryListener]] (robust to eviction) and the TTL drain is
  * detected by polling the listener's cumulative input-row count; the
  * TTL config also paces batches with a 500 ms trigger so the post-drain
  * window is no-data batches at 2 Hz, not a busy loop.
  *
  * Run: `sbt "runMain graft.StreamStress"` after `tools/stress_sf1.sh`
  * has generated `/tmp/graft_stress/x10`. `STREAM_STRESS_DIR` overrides
  * the corpus; `STREAM_STRESS_PROVIDER=hdfs` drops the RocksDB override.
  * Results land in PLANS.md by hand — a measurement tool, not a gate.
  * `StreamStressSpec` runs the same path gated behind
  * `GRAFT_STREAM_STRESS=1`.
  */
object StreamStress {

  final case class Result(
      batches: Int, inputRows: Long, candidates: Long,
      stateRowsPeak: Long, stateRowsFinal: Long, evicted: Long,
      stateBytesPeak: Long, wallSec: Double)

  /** Accumulating progress listener — immune to recentProgress eviction. */
  private final class ProgressAccumulator extends StreamingQueryListener {
    val inputRows = new java.util.concurrent.atomic.AtomicLong
    val dataBatches = new java.util.concurrent.atomic.AtomicInteger
    val evicted = new java.util.concurrent.atomic.AtomicLong
    val stateRowsPeak = new java.util.concurrent.atomic.AtomicLong(-1)
    val stateBytesPeak = new java.util.concurrent.atomic.AtomicLong(-1)
    val stateRowsLast = new java.util.concurrent.atomic.AtomicLong(-1)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        inputRows.addAndGet(p.numInputRows)
        dataBatches.incrementAndGet()
      }
      p.stateOperators.headOption.foreach { s =>
        evicted.addAndGet(s.numRowsRemoved)
        stateRowsPeak.getAndUpdate(c => math.max(c, s.numRowsTotal))
        stateBytesPeak.getAndUpdate(c => math.max(c, s.memoryUsedBytes))
        stateRowsLast.set(s.numRowsTotal)
      }
    }
  }

  /** Drive the corpus through the near-dup stream once. For `ttlMs > 0`
    * the drain is poll-detected against `expectRows` and the query then
    * idles `afterDrainMs` so the no-data batches can fire every bucket's
    * timeout.
    */
  def run(spark: SparkSession, corpusDir: String, ttlMs: Long,
      maxFilesPerTrigger: Int, afterDrainMs: Long, expectRows: Long,
      tag: String,
      mkCands: Option[(String, Int, Long) => org.apache.spark.sql.DataFrame] =
        None): Result = {
    import org.apache.spark.sql.functions.{count, lit}
    val t0 = System.nanoTime()
    val acc = new ProgressAccumulator
    spark.streams.addListener(acc)
    val cands = mkCands.map(f => f(corpusDir, maxFilesPerTrigger, ttlMs))
      .getOrElse {
        val stream = graft.streaming.DocsStream.readStream(
          spark, corpusDir, maxFilesPerTrigger)
        graft.streaming.DocsStream.nearDupCandidates(stream, ttlMs)
      }
    val name = s"stream_stress_$tag"
    val writer = cands.writeStream
      .format("memory").queryName(name).outputMode("append")
    val q: StreamingQuery =
      (if (ttlMs > 0) writer.trigger(Trigger.ProcessingTime("500 milliseconds"))
       else writer).start()
    try {
      if (ttlMs == 0) q.processAllAvailable()
      else {
        val deadline = System.currentTimeMillis + 600000
        while (acc.inputRows.get < expectRows &&
            System.currentTimeMillis < deadline) Thread.sleep(500)
        require(acc.inputRows.get >= expectRows,
          s"drain timeout: ${acc.inputRows.get} of $expectRows rows")
        // the post-drain idle: no-data batches at 2 Hz fire the
        // processing-time timeouts as buckets pass the horizon
        Thread.sleep(afterDrainMs)
      }
      val nCand = spark.table(name).agg(count(lit(1))).head().getLong(0)
      Result(
        batches = acc.dataBatches.get,
        inputRows = acc.inputRows.get,
        candidates = nCand,
        stateRowsPeak = acc.stateRowsPeak.get,
        stateRowsFinal = acc.stateRowsLast.get,
        evicted = acc.evicted.get,
        stateBytesPeak = acc.stateBytesPeak.get,
        wallSec = (System.nanoTime() - t0) / 1e9)
    } finally {
      q.stop()
      spark.streams.removeListener(acc)
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  /** STREAM_STRESS_LABELS=1: the ST13 path at scale — drive the corpus
    * through [[graft.streaming.DocsStream.nearDupCandidates]] with the
    * epoch-versioned [[graft.streaming.DocsStream.incrementalLabelSink]],
    * then check the drained labeling against a from-scratch connected-
    * components run over the batch twin's full edge set. Readouts: epoch
    * count, per-epoch sink wall (the contraction-fold cost curve — must
    * stay FLAT, not grow with accumulated components), final label rows,
    * surviving label-store parts (bounded by the compaction horizon),
    * and the exact-match bit.
    */
  private def labelsMode(spark: SparkSession, corpus: String, nDocs: Long): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    import graft.streaming.DocsStream
    val t0 = System.nanoTime()
    val root = java.nio.file.Files.createTempDirectory("labels-stress").toString
    val epochWalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val sink = DocsStream.incrementalLabelSink(root) _
    val q = DocsStream
      .nearDupCandidates(DocsStream.readStream(spark, corpus, 2))
      .writeStream.foreachBatch { (df: org.apache.spark.sql.DataFrame, epoch: Long) =>
        val e0 = System.nanoTime()
        sink(df, epoch)
        epochWalls.add((System.nanoTime() - e0) / 1e9)
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    val streamWall = (System.nanoTime() - t0) / 1e9
    val labels = DocsStream.latestLabels(spark, root)
      .getOrElse(sys.error("no epoch written"))
    val labelRows = labels.count()
    // delta-log part census through the sink's OWN listing (committed
    // parts only — two hand-rolled definitions of "label part" would
    // drift the moment the layout changes)
    val epochDirs = DocsStream.labelPartEpochs(spark, root, "base").size +
      DocsStream.labelPartEpochs(spark, root, "delta").size
    // drained == from-scratch: the same check ST13 locks at sf0.001,
    // here over the scaled corpus (anti-join both ways == 0 diffs)
    val e = DocsStream.nearDupCandidatesBatch(spark.read.parquet(corpus))
      .select(col("doc_id").as("src"), col("dup_of").as("dst"))
    val docsInEdges = e.select(col("src").as("doc_id"))
      .union(e.select(col("dst").as("doc_id"))).distinct()
    val want = operators.Dedup.connectedComponents(docsInEdges, e)
    val diff = labels.join(want, Seq("doc_id", "rep"), "left_anti").count() +
      want.join(labels, Seq("doc_id", "rep"), "left_anti").count()
    val walls = {
      var w = List.empty[Double]
      val it = epochWalls.iterator(); while (it.hasNext) w ::= it.next()
      w.reverse
    }
    def f2(d: Double) = math.round(d * 100) / 100.0
    println(s"""STREAMSTRESS_LABELS {"corpus":"$corpus","docs":$nDocs,""" +
      s""""epochs":${walls.size},"label_rows":$labelRows,""" +
      s""""label_parts_final":$epochDirs,"label_diff":$diff,""" +
      s""""epoch_wall_first_sec":${f2(walls.headOption.getOrElse(-1.0))},""" +
      s""""epoch_wall_last_sec":${f2(walls.lastOption.getOrElse(-1.0))},""" +
      s""""epoch_wall_max_sec":${f2(if (walls.isEmpty) -1.0 else walls.max)},""" +
      s""""stream_wall_sec":${f2(streamWall)},""" +
      s""""ok":${diff == 0 &&
        epochDirs <= DocsStream.DefaultCompactEvery + 1}}""")
  }

  /** STREAM_STRESS_ANALYTICS=funnel_exact|funnel_eager|retention|paths:
    * drive a scaled EVENTS corpus through the per-user/per-session keyed
    * twins (ST15/ST16/ST17) and print one STREAMSTRESS_ANALYTICS line
    * with the state-store law readouts — rows peak/final, bytes peak,
    * bytes per row — against the law denominators (distinct users,
    * signup users). This is the third-decade instrument for the
    * analytics/state family: key cardinality is the 100 TB axis for
    * funnel/retention/session, and the claims under test are
    *  - retention: state rows == SIGNUP users exactly (never-signed-up
    *    users hold no row), bytes/row constant (cohort long + bitmask
    *    words — 16 B of payload at the default horizon) regardless of
    *    event volume per user;
    *  - funnel (exact): rows ≤ distinct users (pending buffers +
    *    finalized tombstones), bytes bounded by watermark horizon ×
    *    per-user rate, never corpus size;
    *  - funnel (eager): rows ≤ distinct users, completed users collapse
    *    to 3-long tombstones;
    *  - paths: rows track OPEN sessions (gap-bounded), not users seen.
    * Emitted rows are counted in a foreachBatch sink (never retained
    * driver-side — at 100M events the memory sink would be the
    * bottleneck, not the store).
    */
  private def analyticsMode(spark: SparkSession, corpus: String,
      which: String): Unit = {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val dir = new java.io.File(corpus).getParent
    val batch = graft.queries.Tables(spark, dir, "events")
    val nEvents = batch.count()
    val users = batch.agg(countDistinct(col("user_id"))).head().getLong(0)
    val signups = batch.filter(col("event_type") === "signup")
      .agg(countDistinct(col("user_id"))).head().getLong(0)
    // REPLAY ORDER: the scaled corpus is written repartition(32) — files
    // are random row samples, so streaming them replays events in random
    // TIME order and the first batch drives the watermark to the corpus
    // end; every event-time-filtered operator (EventTimeTimeout funnel,
    // session_window) then drops nearly the whole corpus as late. A real
    // ingest lands in approximate event-time order, so stage the corpus
    // ONCE into time-range files with range-ordered mtimes (the file
    // source replays by modTime) and stream that. Bounded-disorder
    // correctness is the ST15w spec's job; this harness measures state
    // laws under the realistic ordered replay.
    val ordered = s"$dir/events_timeordered.parquet"
    // the staging cache is keyed on a SOURCE fingerprint (the _GENLAW
    // marker when present, else file names/sizes), not bare existence —
    // a regenerated events corpus must invalidate its staged replay (the
    // same stale-cache class the _GENLAW marker itself fixes in Stress)
    val srcFp = {
      val gl = java.nio.file.Paths.get(s"$dir/events.parquet/_GENLAW")
      if (java.nio.file.Files.exists(gl))
        java.nio.file.Files.readString(gl).trim
      else Option(new java.io.File(s"$dir/events.parquet").listFiles())
        .getOrElse(Array.empty).sortBy(_.getName)
        .map(f => s"${f.getName}:${f.length}").mkString(";")
    }
    val fpFile = java.nio.file.Paths.get(s"$ordered/_SRC_FINGERPRINT")
    val fresh = java.nio.file.Files.exists(fpFile) &&
      java.nio.file.Files.readString(fpFile).trim == srcFp
    if (!fresh) {
      batch.repartitionByRange(32, col("ts"))
        .sortWithinPartitions(col("ts"))
        .write.mode("overwrite").parquet(ordered)
      val parts = new java.io.File(ordered).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        // a rejected mtime update silently degrades the time-ordered
        // replay to arbitrary file order (mass watermark drops) — fail
        // loudly instead of measuring the wrong regime
        require(f.setLastModified(1000000000L + i * 10000L),
          s"setLastModified rejected on $f — staged replay order broken")
      }
      java.nio.file.Files.writeString(fpFile, srcFp + "\n")
    }
    val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      which match {
        case "funnel_exact" => graft.streaming.EventsStream.funnelCompletionsExact()
        case "funnel_eager" => graft.streaming.EventsStream.funnelCompletions()
        case "retention" => graft.streaming.EventsStream.retentionActivations()
        case "paths" => graft.streaming.EventsStream.sessionPaths
        case "paths_rollup" => graft.streaming.EventsStream.sessionPathRollup
        case other => sys.error(s"unknown STREAM_STRESS_ANALYTICS mode: $other")
      }
    val acc = new ProgressAccumulator
    spark.streams.addListener(acc)
    val emitted = new java.util.concurrent.atomic.AtomicLong
    // sink-body wall: foreachBatch's count() EXECUTES the batch (the df
    // is lazy), so this is the time inside micro-batch execution —
    // source scan + state maintenance + emission — vs. the run's
    // planning/listing/commit overhead (wall − sink). The state-vs-
    // emission split itself comes from the paths vs paths_rollup A/B
    // (same session-window state work, 95M-row vs |days×paths| output).
    val sinkNanos = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.nanoTime()
    // stream from the staged time-ordered directory (never the x-dir
    // root — it also holds the other tables)
    val q = transform(graft.streaming.EventsStream.readStream(spark, ordered,
        Some(sys.env.getOrElse("STREAM_STRESS_MFT", "2").toInt)))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val b0 = System.nanoTime()
        emitted.addAndGet(df.count())
        sinkNanos.addAndGet(System.nanoTime() - b0); ()
      }.start()
    try q.processAllAvailable()
    finally { q.stop(); spark.streams.removeListener(acc) }
    val wall = (System.nanoTime() - t0) / 1e9
    val bytesPerRow =
      if (acc.stateRowsPeak.get > 0)
        acc.stateBytesPeak.get.toDouble / acc.stateRowsPeak.get
      else -1.0
    println(s"""STREAMSTRESS_ANALYTICS {"op":"$which","corpus":"$dir",""" +
      s""""events":$nEvents,"users":$users,"signup_users":$signups,""" +
      s""""batches":${acc.dataBatches.get},"emitted":${emitted.get},""" +
      s""""state_rows_peak":${acc.stateRowsPeak.get},""" +
      s""""state_rows_final":${acc.stateRowsLast.get},""" +
      s""""state_bytes_peak":${acc.stateBytesPeak.get},""" +
      s""""bytes_per_row":${math.round(bytesPerRow * 10) / 10.0},""" +
      s""""provider":"${spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
        .map(_.split('.').last).getOrElse("hdfs-default")}",""" +
      s""""partitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
      s""""mft":${sys.env.getOrElse("STREAM_STRESS_MFT", "2")},""" +
      s""""changelog":${spark.conf.getOption(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
        .getOrElse("false")},""" +
      s""""batch_exec_sec":${math.round(sinkNanos.get / 1e8) / 10.0},""" +
      s""""wall_sec":${math.round(wall * 10) / 10.0}}""")
  }

  /** STREAM_STRESS_VERIFIED=1: the displaced-rep boundary (ST11d) at
    * corpus scale — replay the scaled documents corpus in id-DESCENDING
    * file order (every bucket's minimum arrives LAST, the maximum-
    * displacement regime) through [[graft.streaming.DocsStream
    * .nearDupVerified]] and print the recall readout: displacement
    * count, the rep-shingle cache's state cost (rows + bytes — the
    * price of closing the r12 over-keep boundary, vs ONE long per
    * bucket on the candidates path), and the label check — connected
    * components over the drained verified edges vs over the batch
    * twin's, as (doc_id, rep) set differences in both directions.
    */
  private def verifiedMode(spark: SparkSession, corpus: String,
      nDocs: Long): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.streaming.DocsStream
    val docs = spark.read.parquet(corpus)
    val staged = java.nio.file.Files.createTempDirectory("verified-rev").toString
    docs.repartitionByRange(16, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(staged)
    val parts = new java.io.File(staged).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    // part-00000 holds the LOWEST ids — newest mtime, so it lands last
    parts.zipWithIndex.foreach { case (f, i) =>
      require(f.setLastModified(1000000000L + (parts.length - i) * 10000L),
        s"setLastModified rejected on $f — reversed replay order broken")
    }
    val acc = new ProgressAccumulator
    spark.streams.addListener(acc)
    val before = DocsStream.displacedReps(spark).value
    val beforeOc = DocsStream.overConnectMerges(spark).value
    val outDir = java.nio.file.Files.createTempDirectory("verified-edges").toString
    val t0 = System.nanoTime()
    val q = DocsStream.nearDupVerified(DocsStream.readStream(spark, staged, 2), docs)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(outDir); ()
      }.start()
    try q.processAllAvailable()
    finally { q.stop(); spark.streams.removeListener(acc) }
    val wall = (System.nanoTime() - t0) / 1e9
    val displaced = DocsStream.displacedReps(spark).value - before
    val overConnect = DocsStream.overConnectMerges(spark).value - beforeOc
    def cc(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val edges = e.select(col("doc_id").as("src"), col("dup_of").as("dst"))
      val nodes = edges.select(col("src").as("doc_id"))
        .union(edges.select(col("dst").as("doc_id"))).distinct()
      graft.operators.Dedup.connectedComponents(nodes, edges)
        .select(col("doc_id"), col("rep"))
    }
    // an all-rejected run leaves no part files in outDir — report the
    // zero-edge readout instead of dying on schema inference
    val streamEdges =
      try spark.read.parquet(outDir)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          import spark.implicits._
          Seq.empty[(Long, Int, Long, Double)]
            .toDF("doc_id", "band", "dup_of", "jaccard")
      }
    val got = cc(streamEdges).cache()
    val want = cc(DocsStream.nearDupVerifiedBatch(docs, docs)).cache()
    val missing = want.join(got, Seq("doc_id", "rep"), "left_anti").count()
    val extra = got.join(want, Seq("doc_id", "rep"), "left_anti").count()
    val comps = (got.select(col("rep")).distinct().count(),
      want.select(col("rep")).distinct().count())
    got.unpersist(); want.unpersist()
    println(s"""STREAMSTRESS_VERIFIED {"corpus":"$corpus","docs":$nDocs,""" +
      s""""displaced":$displaced,"overconnect_merges":$overConnect,""" +
      s""""state_rows_peak":${acc.stateRowsPeak.get},""" +
      s""""state_bytes_peak":${acc.stateBytesPeak.get},""" +
      s""""label_missing":$missing,"label_extra":$extra,""" +
      s""""components_stream":${comps._1},"components_batch":${comps._2},""" +
      s""""label_ok":${missing == 0 && extra == 0},""" +
      s""""wall_sec":${math.round(wall * 10) / 10.0}}""")
  }

  /** STREAM_STRESS_PRETRAIN=budget: the ST18 composed pipeline
    * ([[graft.streaming.PretrainStream]]) at corpus scale — the
    * incremental-ingest twin of STRESS_PRETRAIN_E2E. Two replays:
    *
    *  - `ordered`: id-ascending file order (the ingest-order contract).
    *    Readouts: per-stateful-operator state rows/bytes peaks (the two
    *    chained keyed states — canonical classes and (band, bucket)
    *    reps), per-epoch sink wall (incremental CC + decontamination
    *    cost curve), stage cardinalities, and the full-chain parity
    *    check against batch q161 over the same corpus (except-both-ways
    *    row diffs at stages 1-3 and the final packed output —
    *    `parity_ok` must be true).
    *  - `asis`: the corpus's native hash-scattered file order (ids
    *    arrive out of order — the production crawl regime). Asserted
    *    over-keep-only against batch q160's PAIRWISE stage-2 form
    *    (stream edges are each verified bucket-cohabiting pairs, a
    *    subset of the all-pairs set, so stream components can only
    *    under-merge → survivors a superset); displacement/relink counts
    *    reported.
    */
  private def pretrainMode(spark: SparkSession, corpus: String,
      nDocs: Long, budget: Long): Unit = {
    import org.apache.spark.sql.functions._
    import graft.streaming.{DocsStream, PretrainStream}
    val factor = sys.env.getOrElse("STRESS_FACTOR", "10").toInt
    // replicated ids are base*factor+r — lift the eval law to the base
    // id (the STRESS_PRETRAIN_E2E discipline; raw mod would make every
    // doc self-contaminated via its replicas)
    val evalPred = expr(s"(doc_id DIV $factor) % 10 = 7")
    val tablesDir = new java.io.File(corpus).getParent
    val docs = spark.read.parquet(corpus)

    // per-operator state accumulator (the composed query carries TWO
    // keyed states; ProgressAccumulator only reads the head)
    final class MultiStateAcc extends StreamingQueryListener {
      val inputRows = new java.util.concurrent.atomic.AtomicLong
      val rowsPeak = new java.util.concurrent.ConcurrentHashMap[
        Int, java.util.concurrent.atomic.AtomicLong]()
      val bytesPeak = new java.util.concurrent.ConcurrentHashMap[
        Int, java.util.concurrent.atomic.AtomicLong]()
      val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) inputRows.addAndGet(p.numInputRows)
        p.stateOperators.zipWithIndex.foreach { case (s, i) =>
          names.put(i, s.operatorName)
          rowsPeak.computeIfAbsent(i,
            _ => new java.util.concurrent.atomic.AtomicLong(-1))
            .getAndUpdate(c => math.max(c, s.numRowsTotal))
          bytesPeak.computeIfAbsent(i,
            _ => new java.util.concurrent.atomic.AtomicLong(-1))
            .getAndUpdate(c => math.max(c, s.memoryUsedBytes))
        }
      }
      def json: String = (0 until names.size).map { i =>
        s"""{"op":"${names.get(i)}","rows_peak":${rowsPeak.get(i).get},""" +
          s""""bytes_peak":${bytesPeak.get(i).get}}"""
      }.mkString("[", ",", "]")
    }

    def diff(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Long =
      a.except(b).count() + b.except(a).count()

    def replay(tag: String, stagedDir: String): Unit = {
      val acc = new MultiStateAcc
      spark.streams.addListener(acc)
      val labelsRoot = java.nio.file.Files
        .createTempDirectory(s"pretrain-stress-labels-$tag").toString
      val storeRoot = java.nio.file.Files
        .createTempDirectory(s"pretrain-stress-store-$tag").toString
      val epochWalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      // materialize-vs-fold attribution: the first action on the batch
      // frame RUNS the micro-batch's stateful plan (source scan, both
      // keyed states, store commits — the term the ST17 state-store
      // levers own), so timing it separately isolates the SINK-side
      // fold (incremental labeling + decontamination + store write —
      // the term the contraction fold owns)
      val epochMatWalls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val sinkH = PretrainStream.sink(docs, evalPred,
        s"stress-pretrain:$tag:$storeRoot", labelsRoot, storeRoot)
      val dBefore = PretrainStream.displacedReps(spark).value
      val oBefore = PretrainStream.overConnectMerges(spark).value
      // STREAM_STRESS_FOLD_PARTITIONS: scope the shuffle-partition conf
      // AWAY from the fold's jobs. The session conf at query START sizes
      // the state stores (that's STREAM_STRESS_PARTITIONS); the sink's
      // batch jobs read the MICRO-BATCH session's conf at action time
      // (b.sparkSession — the cloned streaming session), so setting it
      // per batch changes fold-job parallelism without touching store
      // partitioning — the r16 negative's mechanism (b), isolated.
      val foldParts = sys.env.get("STREAM_STRESS_FOLD_PARTITIONS")
      val t0 = System.nanoTime()
      val q = PretrainStream
        .signals(DocsStream.readStream(spark, stagedDir, 2), docs)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, e: Long) =>
          foldParts.foreach(p =>
            b.sparkSession.conf.set("spark.sql.shuffle.partitions", p))
          val m0 = System.nanoTime()
          b.persist()
          b.count()
          val e0 = System.nanoTime()
          epochMatWalls.add((e0 - m0) / 1e9)
          try sinkH.fn(b, e) finally b.unpersist(false)
          epochWalls.add((System.nanoTime() - e0) / 1e9)
          ()
        }.start()
      try q.processAllAvailable()
      finally {
        q.stop(); spark.streams.removeListener(acc); sinkH.release()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val displaced = PretrainStream.displacedReps(spark).value - dBefore
      val overConnect = PretrainStream.overConnectMerges(spark).value - oBefore

      val store = spark.read.parquet(storeRoot)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr"),
          col("ckey"), col("ord"), col("contaminated"))
        .localCheckpoint()
      val labels = DocsStream.latestLabels(spark, labelsRoot)
        .getOrElse(sys.error("no labels epoch"))
      // kept2 stays inline (the stress needs the stage-2 cut alone for
      // diff_s2); sig3/finalization go through the SHIPPED code paths
      // so this harness cannot drift from what PretrainStream runs
      val kept2 = store
        .join(labels.select(col("doc_id"), col("rep")), Seq("doc_id"), "left")
        .filter(col("rep").isNull || col("rep") === col("doc_id"))
        .select(store.columns.map(col): _*)
      val sig3 = PretrainStream.storeSig3(spark, storeRoot, labelsRoot)
      val streamOut = PretrainStream
        .q160Output(spark, storeRoot, labelsRoot, budget)
        .localCheckpoint()

      // batch q161 (rep form) chain over the same corpus, stages pinned
      val stages = scala.collection.mutable.Map[Int,
        org.apache.spark.sql.DataFrame]()
      val batchOut = graft.queries.PipelineQueries.q160Frame(spark,
        tablesDir, budget,
        stageRun = Some((i, _, mk) => {
          val df = mk().localCheckpoint(); stages(i) = df; df
        }),
        evalPred = evalPred, repAnchoredNearDup = true)
        .localCheckpoint()
      val ids = (d: org.apache.spark.sql.DataFrame) => d.select(col("doc_id"))
      val notEval = (d: org.apache.spark.sql.DataFrame) => d.filter(!evalPred)
      val d1 = diff(ids(store), ids(notEval(stages(1))))
      val d2 = diff(ids(kept2), ids(notEval(stages(2))))
      // batch stage 3 is the fused decontaminate+gate (r19): push the
      // stream's decontaminated slim frame through the shared gate law
      // before diffing so both sides sit at the same stage boundary
      val d3 = diff(
        ids(graft.queries.PipelineQueries.q160GateFrom(sig3)),
        ids(stages(3)))
      // ... and BEFORE the gate: the decontaminated ids over the batch
      // stage-2 survivors, so a divergence on a doc the gate drops shows
      val d3pre = diff(ids(sig3), ids(graft.queries.PipelineQueries
        .q160Decontaminated(docs, tablesDir, stages(2), evalPred)))
      val dOut = diff(streamOut, batchOut)
      // over-keep-only law vs the PAIRWISE stage-2 form: pairwise
      // survivors minus stream survivors must be empty under ANY order.
      // Only stages 1-2 are pinned — the hook returns the later stages
      // lazily and the tail frame is dropped unexecuted, so this run
      // never materializes the stage-3..7 work it doesn't read.
      // STREAM_STRESS_PRETRAIN_SKIP_PAIRWISE=1 skips the check (the
      // pairwise edge set is the documented raw-clique OOM boundary at
      // the 1000x replicated corpus — ~10^9 edges); underkeep reads -1.
      val underKeep =
        if (sys.env.get("STREAM_STRESS_PRETRAIN_SKIP_PAIRWISE")
            .contains("1")) -1L
        else {
          val stagesP = scala.collection.mutable.Map[Int,
            org.apache.spark.sql.DataFrame]()
          graft.queries.PipelineQueries.q160Frame(spark, tablesDir, budget,
            stageRun = Some((i, _, mk) =>
              if (i <= 2) { val df = mk().localCheckpoint(); stagesP(i) = df; df }
              else mk()),
            evalPred = evalPred)
          ids(notEval(stagesP(2))).except(ids(kept2)).count()
        }
      val walls = {
        var w = List.empty[Double]
        val it = epochWalls.iterator(); while (it.hasNext) w ::= it.next()
        w.reverse
      }
      val matWalls = {
        var w = List.empty[Double]
        val it = epochMatWalls.iterator(); while (it.hasNext) w ::= it.next()
        w.reverse
      }
      def f2(d: Double) = math.round(d * 100) / 100.0
      println(s"""STREAMSTRESS_PRETRAIN {"corpus":"$corpus","order":"$tag",""" +
        s""""docs":$nDocs,"budget":$budget,""" +
        s""""epochs":${walls.size},"input_rows":${acc.inputRows.get},""" +
        s""""store_rows":${store.count()},"label_rows":${labels.count()},""" +
        s""""sig3_rows":${sig3.count()},"out_rows":${streamOut.count()},""" +
        s""""state_ops":${acc.json},""" +
        s""""displaced":$displaced,"overconnect_merges":$overConnect,""" +
        s""""diff_s1":$d1,"diff_s2":$d2,"diff_s3_pregate":$d3pre,""" +
        s""""diff_s3":$d3,"diff_out":$dOut,""" +
        s""""parity_ok":${
          d1 == 0 && d2 == 0 && d3pre == 0 && d3 == 0 && dOut == 0},""" +
        s""""underkeep_vs_pairwise":$underKeep,""" +
        s""""overkeep_only_ok":${
          if (underKeep < 0) "null" else (underKeep == 0).toString},""" +
        s""""epoch_wall_first_sec":${f2(walls.headOption.getOrElse(-1.0))},""" +
        s""""epoch_wall_last_sec":${f2(walls.lastOption.getOrElse(-1.0))},""" +
        s""""epoch_wall_max_sec":${f2(if (walls.isEmpty) -1.0 else walls.max)},""" +
        s""""epoch_walls":${walls.map(f2).mkString("[", ",", "]")},""" +
        s""""epoch_materialize_walls":${matWalls.map(f2).mkString("[", ",", "]")},""" +
        s""""wall_sec":${f2(wall)}}""")
    }

    // STREAM_STRESS_PRETRAIN_ORDER: ordered | asis | both (default) —
    // the third-decade corpus runs each replay in its own invocation
    val which = sys.env.getOrElse("STREAM_STRESS_PRETRAIN_ORDER", "both")
    if (which == "ordered" || which == "both") {
      // ordered staging: id-ascending file order (verifiedMode's idiom,
      // ascending mtimes)
      val staged = java.nio.file.Files
        .createTempDirectory("pretrain-ordered").toString
      docs.repartitionByRange(16, col("doc_id"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").parquet(staged)
      val parts = new java.io.File(staged).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(1000000000L + (i + 1) * 10000L),
          s"setLastModified rejected on $f — ordered replay broken")
      }
      replay("ordered", staged)
    }
    if (which == "asis" || which == "both") replay("asis", corpus)
  }

  def main(args: Array[String]): Unit = {
    // STREAM_STRESS_EMBED=1: drive the EMBEDDING stream
    // (EmbedStream.semanticNearDup) over the scaled jittered corpus
    // instead of the document stream — state here is cells holding up
    // to `cap` exemplar VECTORS (k×cap×dim bound), so the interesting
    // readouts are state bytes vs that bound and TTL collapse.
    val embedMode = sys.env.get("STREAM_STRESS_EMBED").contains("1")
    val corpus = sys.env.getOrElse("STREAM_STRESS_DIR",
      if (embedMode) "/tmp/graft_stress/x10/embeddings.parquet"
      else if (sys.env.contains("STREAM_STRESS_ANALYTICS"))
        "/tmp/graft_stress/x10/events.parquet"
      else "/tmp/graft_stress/x10/documents.parquet")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // STREAM_STRESS_PARTITIONS: the state-store partition lever for the
    // ST17 wall experiment — more partitions = more parallel store
    // instances per batch (and more per-batch task/commit overhead)
    val stateParts = sys.env.getOrElse("STREAM_STRESS_PARTITIONS", "8")
    // STREAM_STRESS_MASTER=local-cluster[W,C,M]: run the streaming
    // harness on a pseudo-cluster — real forked executor JVMs with
    // their OWN heaps and RocksDB instances — instead of local[cpus]
    // (needs SPARK_HOME for the worker launch).
    // STREAM_STRESS_EXECUTOR_MEM sizes each executor heap. This is the
    // rig the r17 state-store prescription (changelog ON, default
    // partitions) is re-validated on: RocksDB compaction and the
    // fold's shuffles actually cross process boundaries here.
    val master = sys.env.getOrElse("STREAM_STRESS_MASTER", s"local[$cpus]")
    // state-store shuffle partitions bound per-batch task count AND
    // RocksDB instance count; 8 matches a per-executor share of a
    // real deployment better than 32 local threads would
    val builder0 = GraftConf.session(master, stateParts.toInt)
    val spark = (if (master.startsWith("local-cluster"))
      builder0.config("spark.executor.memory",
        sys.env.getOrElse("STREAM_STRESS_EXECUTOR_MEM", "8g"))
    else builder0).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (sys.env.getOrElse("STREAM_STRESS_PROVIDER", "rocksdb") == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // STREAM_STRESS_ROCKSDB_CHANGELOG=1: checkpoint the RocksDB
    // CHANGELOG instead of snapshotting full SST files per commit —
    // the second ST17 wall lever (commit cost scales with delta, not
    // store size)
    if (sys.env.get("STREAM_STRESS_ROCKSDB_CHANGELOG").contains("1"))
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
    val nDocs = spark.read.parquet(corpus).count()

    if (sys.env.get("STREAM_STRESS_LABELS").contains("1")) {
      labelsMode(spark, corpus, nDocs)
      spark.stop()
      return
    }

    if (sys.env.get("STREAM_STRESS_VERIFIED").contains("1")) {
      verifiedMode(spark, corpus, nDocs)
      spark.stop()
      return
    }

    sys.env.get("STREAM_STRESS_PRETRAIN").map(_.toLong).foreach { budget =>
      pretrainMode(spark, corpus, nDocs, budget)
      spark.stop()
      sys.exit(0)
    }

    if (sys.env.contains("STREAM_STRESS_ANALYTICS")) {
      sys.env("STREAM_STRESS_ANALYTICS").split(",").filter(_.nonEmpty)
        .foreach(analyticsMode(spark, corpus, _))
      spark.stop()
      return
    }

    // embed mode: train the corpus-scaled quantizer ONCE (a build step,
    // like the batch q132), then both configs stream against its literal
    val mkEmbed: Option[(String, Int, Long) => org.apache.spark.sql.DataFrame] =
      if (!embedMode) None
      else {
        val k = sys.env.getOrElse("STREAM_STRESS_K", "80").toInt
        val cap = sys.env.getOrElse("STREAM_STRESS_CAP", "1024").toInt
        val cents = operators.Ivf.train(spark.read.parquet(corpus), k, 2)
        // same routing dial as the batch q132 pipeline: corpus-scaled k
        // assigns through the two-level path (k1 + nprobe·|cell| cosines
        // per arriving vector instead of k)
        val twoLevel =
          if (k <= operators.Ivf.InlineFormMaxK) None
          else {
            val k1 = math.max(2, math.round(math.sqrt(k.toDouble)).toInt)
            val (coarse, coarseOf) = operators.Ivf.coarsen(spark, cents, k1, 2)
            Some((coarse, coarseOf, 2))
          }
        Some((dir, mft, ttl) => graft.streaming.EmbedStream.semanticNearDup(
          graft.streaming.EmbedStream.readStream(spark, dir, mft),
          cents, tau = 0.4, cap = cap, ttlMs = ttl, twoLevel = twoLevel))
      }

    // cap-overflow census (embed mode): admissions that lost all dedup
    // memory at a full cell — the recall trade the cap dial buys state
    // bounds with, now a number in the artifact instead of a silent loss
    def overflowNow(): Long =
      if (embedMode) graft.streaming.EmbedStream.capOverflows(spark).value
      else -1L
    val of0 = overflowNow()
    // lifetime dedup: state == bucket cardinality (the upper bound)
    val unbounded = run(spark, corpus, ttlMs = 0L, maxFilesPerTrigger = 2,
      afterDrainMs = 0L, expectRows = nDocs, tag = "ttl0", mkCands = mkEmbed)
    val of1 = overflowNow()
    // horizon dedup: 5 s TTL ≫ one micro-batch, ≪ the post-drain wait —
    // mid-run idle buckets evict, and after the drain EVERY bucket
    // passes the horizon, so final state must collapse toward 0
    val horizon = run(spark, corpus, ttlMs = 5000L, maxFilesPerTrigger = 2,
      afterDrainMs = 15000L, expectRows = nDocs, tag = "ttl5s", mkCands = mkEmbed)
    val of2 = overflowNow()

    def j(r: Result, overflow: Long): String =
      s"""{"batches":${r.batches},"input_rows":${r.inputRows},""" +
        s""""candidates":${r.candidates},"state_rows_peak":${r.stateRowsPeak},""" +
        s""""state_rows_final":${r.stateRowsFinal},"evicted":${r.evicted},""" +
        s""""state_bytes_peak":${r.stateBytesPeak},"cap_overflow":$overflow,""" +
        s""""wall_sec":${math.round(r.wallSec * 10) / 10.0}}"""
    println(s"""STREAMSTRESS {"corpus":"$corpus","docs":$nDocs,""" +
      s""""mode":"${if (embedMode) "embed" else "docs"}","provider":"${spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").getOrElse("hdfs-default")}",""" +
      s""""ttl0":${j(unbounded, if (embedMode) of1 - of0 else -1L)},""" +
      s""""ttl5s":${j(horizon, if (embedMode) of2 - of1 else -1L)}}""")
    spark.stop()
  }
}
