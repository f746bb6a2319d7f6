package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.TextOps

/** The STREAMING twin of the composed pretrain-prep pipeline (q160/q161)
  * — incremental ingest through the same stages the batch DAG runs:
  *
  *   1. canonical exact dedup   — keyed state per NFC-canonical text
  *      class, first-arrival-wins (== the batch min-doc_id law under
  *      id-ordered ingest, the natural order since ids are assigned at
  *      ingest; out-of-order arrival can only OVER-keep — a later,
  *      smaller id is also emitted because its class's earlier survivor
  *      is already downstream)
  *   2. near-dup verified edges — the [[DocsStream.nearDupVerified]]
  *      rep-anchoring discipline (per-(band, bucket) state = rep id +
  *      rep shingle set; every emitted edge individually exact-Jaccard
  *      verified ≥ 0.5), plus a per-doc MARKER channel (band 0 emits one
  *      slim signal row per arriving doc) so downstream stages see every
  *      stage-1 survivor, not just candidate docs. The stage-2 KEEP
  *      decision is retroactive by nature (a later doc can bridge two
  *      clusters), so it lives in the incremental labeling fold
  *      ([[DocsStream.incrementalLabelSink]]) and is applied at
  *      finalization — exactly the q118/q130 discipline.
  *   3. n-gram decontamination  — per-doc and population-independent
  *      (any 8-gram in the static eval inventory), so it runs exactly in
  *      the sink: bloom prune map-side, exact verify against the eval
  *      gram table. Eval-suite docs are dropped from the doc channel
  *      here (they are never training docs), matching batch stage 3.
  *   4-7. gate / mixture / split / packing — population-global
  *      percent_rank and prefix-sum materialization only exist over the
  *      accumulated corpus, so finalization hands the streamed signal
  *      store to the SAME batch stage code
  *      ([[graft.queries.PipelineQueries.q160GateFrom]] /
  *      `q160MixtureFrom` / `q160SplitPackFrom`) — the production shape:
  *      continuous ingest maintains survivors + signals, a
  *      materialization job cuts the training set.
  *
  * Scale shape: the ONE streaming query carries two keyed states —
  * canonical classes (md5 key + one long each: the exact-dedup ledger;
  * bound the horizon with `ttlMs` like any dedup-within-N-days
  * deployment) and (band, bucket) rep entries (rep id + one shingle
  * set per ACTIVE bucket, the [[DocsStream]] bound). Rows through the
  * handlers are SLIM (ids, 4 band keys, shingle set, three scalar
  * signals) — text never rides state or any exchange; the sink
  * re-attaches it from the corpus table (the same slim-manifest
  * discipline as the batch chain's ids-only stage boundaries).
  *
  * Parity contract (ST18 spec family): under id-ordered staging the
  * finalized output is BIT-EQUAL to batch q161 (the rep-anchored stage-2
  * form — the stream anchors each doc at its bucket rep, which under
  * ordered arrival is the global bucket minimum, i.e. exactly
  * `repAnchoredEdges`); against q160's pairwise stage-2 form the
  * divergence channel is OVER-KEEP ONLY (the ST11c contract: folded
  * edges are individually verified, so clusters can only under-merge).
  * Exact-md5 caveat: stage 1 keys classes by md5 of the canonical text
  * where batch groups by the string itself; a 128-bit collision would
  * diverge (negligible, and the same trade every fingerprint-dedup row
  * in the pack makes).
  *
  * State-store dials (r17, isolated on the 1000×/5M-doc ordered
  * ladder, parity exact in every cell): ship RocksDB **changelog
  * checkpointing ON** and the DEFAULT per-executor state-partition
  * share — changelog alone cut the ladder 549 → 473 s (−14%), with the
  * state-commit channel (`epoch_materialize_walls`) carrying the win
  * (359 → 300 s); raising state partitions 8 → 32 on one host was −6%
  * alone (fold jobs scoped back to 8) and ERODED the changelog's win
  * when combined (526 s) — 4× the RocksDB instances compact against
  * the same cores. The r16 "revert to default dials" negative is
  * thereby attributed: it measured the changelog only UNDER the
  * 32-partition fold tax. Re-validate on a real multi-executor
  * topology before hard-coding either dial.
  */
object PretrainStream {

  private val NBands = 4

  /** Displacement / verified-relink counters (same at-least-once
    * accounting as [[DocsStream.displacedReps]], kept separate so the
    * composed pipeline's out-of-order telemetry is readable on its own).
    */
  private val displacedAccs = new AppAccRegistry("pretrainstream.displaced_rep")
  def displacedReps(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    displacedAccs.get(spark)
  private val overConnectAccs = new AppAccRegistry("pretrainstream.overconnect_merge")
  def overConnectMerges(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    overConnectAccs.get(spark)

  /** Applications with live accumulator entries — see
    * [[DocsStream.trackedAccApps]]. */
  private[graft] def trackedAccApps: Int =
    math.max(displacedAccs.trackedCount, overConnectAccs.trackedCount)

  /** Stages 1-2 as ONE streaming query (two chained append-mode keyed
    * states + a stream-static verification join). Emits two row kinds:
    *
    *   - `kind = 0` (doc marker): one per stage-1 survivor —
    *     `(doc_id, source, n_tokens, ttr)`, `jaccard` null
    *   - `kind = 1` (verified edge): `(doc_id, dup_of, jaccard ≥ 0.5)`
    *
    * `history` is the corpus table a deployment keeps anyway (rep
    * shingle lookups, [[DocsStream.nearDupVerified]] discipline).
    * Ineligible (< 3-token) docs ride a per-doc singleton bucket
    * (`solo|id`) so they emit their marker through the same handler
    * without ever producing an edge — the batch chain's "no bands →
    * self-rep → kept" law. `ttlMs` bounds BOTH states' horizon.
    *
    * Horizon clock: by default `ttlMs` is PROCESSING time — right for
    * live ingest, where wall clock IS the horizon. A historical BACKFILL
    * replayed fast expires nothing (wall clock barely advances between
    * files), so a dedup-within-N-days law over archived data needs
    * EVENT time: pass `eventTimeCol` (a timestamp column on the stream,
    * e.g. crawl time) and both states expire when the WATERMARK passes
    * `ttlMs` past a key's last-seen event time — replay speed stops
    * mattering (the ST15x discipline, applied to the composed stream;
    * ST18te pins it). The column rides the handlers as a passenger and
    * the intermediate frame re-declares it (`withWatermark`) so the
    * second keyed state can arm event-time timeouts too; the watermark
    * allows no disorder (0 s delay). Timeout timestamps are clamped just
    * past the current watermark, so a late-arriving straggler can never
    * arm an already-expired timeout.
    *
    * Event-time mode requires the session conf
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`:
    * the engine's heuristic flags ANY stateful operator feeding another
    * under a global watermark (a handler COULD emit rows older than the
    * watermark, which the downstream state would drop as late). This
    * pipeline's emission discipline cannot do that — every stage-1
    * output row carries the event timestamp of a row that arrived in
    * the SAME micro-batch (nothing is replayed from state), so stage 2
    * sees exactly the lateness profile of the source, already bounded
    * by the watermark. The opt-out disables the heuristic, not a real
    * safety property of this query shape (ST18te locks the behavior).
    */
  def signals(stream: DataFrame, history: DataFrame, ttlMs: Long = 0L,
      eventTimeCol: Option[String] = None): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val displaced = displacedReps(spark)
    val overConnect = overConnectMerges(spark)
    val eventTime = eventTimeCol.isDefined
    val s0 = eventTimeCol.map(c => stream.withWatermark(c, "0 seconds"))
      .getOrElse(stream)
    val tsCol = eventTimeCol.map(col)
      .getOrElse(lit(null).cast("timestamp")).as("ts")

    // map-side signal + banding kernels BEFORE any state: the
    // [[TextOps]] laws of the batch chain plus the q160 s4 signal laws,
    // so parity is by construction. Text is dropped here and never rides
    // a shuffle.
    val ws = TextOps.tokens(col("text"))
    // null-text docs must not kill the query: the typed encoder below
    // has primitive Long/Boolean fields, so n_tokens/elig are
    // null-coalesced (a null text is a 0-token ineligible doc; its
    // canonical key stays NULL-FAITHFUL, grouping all null texts into
    // one class exactly as the batch groupBy does)
    val elig = coalesce(TextOps.eligible(col("text")), lit(false))
    val slim = s0.select(col("doc_id"), col("source"), col("text"), tsCol,
        TextOps.canonicalKey(col("text")).as("ck"),
        coalesce(size(ws).cast("long"), lit(0L)).as("n_tokens"),
        when(size(ws) > 0, size(array_distinct(ws)) / size(ws))
          .otherwise(lit(0.0)).as("ttr"),
        when(elig, TextOps.shingleSet(col("text")))
          .otherwise(array().cast("array<long>")).as("shset"),
        when(elig, TextOps.signature(col("text"))).otherwise(lit(null)).as("sig"),
        elig.as("elig"))
      .select(col("ck"), col("doc_id"), col("source"), col("n_tokens"),
        col("ttr"), col("shset"),
        when(col("elig"), array(TextOps.bandKeys(col("sig"), NBands): _*))
          .otherwise(lit(null)).as("bkeys"),
        col("elig"), col("ts"))

    // horizon arming shared with the standalone twins — see
    // [[DocsStream.armTimeout]] for the event-time clamp and the
    // null-timestamp (arm-from-watermark) law
    def armTimeout(state: org.apache.spark.sql.streaming.GroupState[_],
        maxTsMs: Long): Unit =
      DocsStream.armTimeout(state, maxTsMs, ttlMs, eventTime)
    def tsMs(t: java.sql.Timestamp): Long = DocsStream.tsMs(t)

    // stage 1 — canonical-class keyed state: emit only ids smaller than
    // every id previously kept for the class (under ordered ingest:
    // exactly one survivor, the batch min; out-of-order: over-keep only)
    val s1 = slim
      .as[(String, Long, String, Long, Double, Seq[Long], Seq[String],
        Boolean, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long,
        (Long, String, Long, Double, Seq[Long], Seq[String], Boolean,
          java.sql.Timestamp)](
        OutputMode.Append, DocsStream.timeoutConf(ttlMs, eventTime)) {
        case (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val arr = rows.toArray.sortBy(_._2)
            val minSeen = state.getOption.getOrElse(Long.MaxValue)
            val out =
              if (arr.head._2 < minSeen) {
                state.update(arr.head._2)
                Iterator(arr.head).map(r =>
                  (r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9))
              } else Iterator.empty
            armTimeout(state, arr.map(r => tsMs(r._9)).max)
            out
          }
      }
      .toDF("doc_id", "source", "n_tokens", "ttr", "shset", "bkeys",
        "elig", "ts")

    // band explode: eligible docs get their 4 (band, bkey) rows;
    // ineligible docs one singleton `solo|id` bucket (band 0)
    val bandArr = TextOps.bandStructs(
      (0 until NBands).map(b => element_at(col("bkeys"), b + 1)))
    val soloArr = array(struct(lit(0).as("band"),
      concat(lit("solo|"), col("doc_id").cast("string")).as("bkey")))
    val rows0 = s1
      .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr"),
        col("shset"), col("ts"),
        explode(when(col("elig"), bandArr).otherwise(soloArr)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bkey").as("bkey"),
        col("doc_id"), col("shset"), col("source"), col("n_tokens"),
        col("ttr"), col("ts"))
    // the second keyed state needs its own event-time declaration (the
    // first operator's output is a fresh schema; the engine's global
    // watermark still advances from the SOURCE timestamps)
    val rows = if (eventTime) rows0.withWatermark("ts", "0 seconds")
      else rows0

    // stage 2 — (band, bucket) rep state, the nearDupVerified handler
    // semantics plus the band-0 marker channel
    val handled = rows
      .as[(Int, String, Long, Seq[Long], String, Long, Double,
        java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Long, Seq[Long]),
        (Int, Long, Long, Seq[Long], Double, String, Long, Double)](
        OutputMode.Append, DocsStream.timeoutConf(ttlMs, eventTime)) {
        case ((band, bkey), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val arr = rows.toArray
            // band 0 (and every singleton bucket) carries the doc markers
            val markers = if (band != 0) Iterator.empty
              else arr.iterator.map(r =>
                (0, r._3, -1L, Seq.empty[Long], -2.0, r._5, r._6, r._7))
            // singleton bucket: marker only, no state ever needed
            if (bkey.startsWith("solo|")) markers
            else {
              val step = DocsStream.repStep(
                state.getOption.getOrElse((Long.MaxValue, Seq.empty[Long])),
                arr.map(r => (r._3, r._4)))
              displaced.add(step.nDisplaced)
              overConnect.add(step.nOverConnect)
              state.update((step.minSeen, step.repSh))
              armTimeout(state, arr.map(r => tsMs(r._8)).max)
              markers ++
                step.candidates.iterator.map(c =>
                  (1, c._1, c._2, c._3, -1.0, null: String, -1L, -2.0)) ++
                step.displaced.iterator.map(p =>
                  (1, p._1, p._2, p._3, p._4, null: String, -1L, -2.0))
            }
          }
      }
      .toDF("kind", "doc_id", "dup_of", "shset", "pre_j", "source",
        "n_tokens", "ttr")

    // stream-static verification of candidate edges against the corpus
    // table's rep shingles; displaced pairs carry their in-handler value
    handled.join(DocsStream.repShingles(history), Seq("dup_of"), "left")
      .withColumn("jaccard",
        when(col("kind") === 0, lit(null).cast("double"))
          .when(col("pre_j") >= 0, col("pre_j"))
          .otherwise(graft.functions.SetFunctions.jaccardSorted(
            col("shset"), col("rep_sh"))))
      .filter(col("kind") === 0 || col("jaccard") >= 0.5)
      .select(col("kind"), col("doc_id"), col("dup_of"), col("jaccard"),
        col("source"), col("n_tokens"), col("ttr"))
  }

  /** The `foreachBatch` sink for [[signals]]: folds the edge channel
    * into the epoch-versioned incremental labeling
    * ([[DocsStream.incrementalLabelSink]]) and lands the doc channel —
    * decontaminated flags attached — in an epoch-versioned signal store
    * (idempotent per epoch, like the labels). Text is re-attached from
    * `history` only inside the batch (gram generation + the split key),
    * so the store rows stay slim. `evalPred` selects eval-suite docs:
    * their 8-gram inventory (bloom + exact table, built once here) is
    * what training docs are checked against, and they are themselves
    * dropped from the doc channel (batch stage-3 law).
    */
  /** A built sink plus the release handle for its pinned eval-gram
    * inventory — call `release()` after the query stops (the cache
    * would otherwise sit in storage memory until the closure is GC'd
    * and the ContextCleaner notices).
    */
  final case class PretrainSink(fn: (DataFrame, Long) => Unit,
      release: () => Unit)

  def sink(history: DataFrame, evalPred: Column, bloomKey: String,
      labelsRoot: String, storeRoot: String): PretrainSink = {
    import graft.queries.PipelineQueries
    val evalGrams = PipelineQueries.gramStream8(history.filter(evalPred))
      .select(col("g")).distinct().cache()
    val bloom = PipelineQueries.trainEvalBloom(bloomKey, evalGrams)
    val fn = (batch: DataFrame, epochId: Long) => {
      // one materialization of the stateful plan per trigger: both
      // channels' actions read the cached rows
      val b = batch.persist()
      try {
        DocsStream.incrementalLabelSink(labelsRoot)(
          b.filter(col("kind") === 1).select(col("doc_id"), col("dup_of")),
          epochId)
        val docsB = b.filter(col("kind") === 0).filter(!evalPred)
          .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr"))
        val withText = docsB.join(
          history.select(col("doc_id"), col("text")), Seq("doc_id"), "left")
        val cont = PipelineQueries.gramStream8(withText)
          .filter(graft.functions.BloomFunctions.mightContain(bloom, col("g")))
          .join(evalGrams, "g").select(col("doc_id")).distinct()
          .withColumn("contaminated", lit(true))
        // a stage-1/2 survivor NOT YET in the corpus table (continuous
        // ingest can race the stream ahead of the table) gets null text
        // here — without the flag it would silently BYPASS
        // decontamination (no grams → contaminated=false) and collapse
        // its split key to the shared md5("split|") constant, i.e. the
        // failure would be invisible in exactly the safety stage. Such
        // rows land QUARANTINED: excluded from [[storeSig3]] /
        // finalization, surfaced via [[storeQuarantined]] for the
        // operator to re-drive once the table catches up
        // ([[redriveQuarantined]], or re-land the doc after the
        // stage-1 horizon).
        storeRows(withText, cont)
          .write.mode("overwrite").parquet(s"$storeRoot/epoch=$epochId")
      } finally b.unpersist(false)
    }
    PretrainSink(fn, () => { evalGrams.unpersist(false); () })
  }

  /** The streamed signal store joined with the LATEST labeling, cut to
    * stage-3 survivors: docs that are their own cluster rep (or appear
    * in no edge — implicit singletons) and carry no eval contamination.
    * Quarantined rows (text missing from the corpus table at sink time
    * — decontamination never actually ran on them) are EXCLUDED here,
    * never passed as clean; [[storeQuarantined]] surfaces them.
    * This is the stream-side twin of the batch chain's `sig3` frame.
    */
  def storeSig3(spark: SparkSession, storeRoot: String,
      labelsRoot: String): DataFrame = {
    val store = readStore(spark, storeRoot)
    val kept = DocsStream.latestLabels(spark, labelsRoot) match {
      case Some(l) =>
        store.join(l.select(col("doc_id"), col("rep")), Seq("doc_id"), "left")
          .filter(col("rep").isNull || col("rep") === col("doc_id"))
      case None => store
    }
    kept.filter(!col("contaminated") && !col("quarantined"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr"),
        col("ckey"), col("ord"))
  }

  /** Store rows whose decontamination was SKIPPED because the corpus
    * table had no text for them at sink time (stream-ahead-of-table
    * race) — excluded from [[storeSig3]]; a deployment alarms on this
    * count and re-drives the rows once the table catches up.
    */
  def storeQuarantined(spark: SparkSession, storeRoot: String): DataFrame =
    readStore(spark, storeRoot).filter(col("quarantined"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr"))

  /** The doc-channel row-shaping law — ONE definition shared by the
    * sink and [[redriveQuarantined]], so the re-drive's bit-for-bit
    * guarantee (ST18rq) is structural rather than a copy that must be
    * kept in sync by hand. Input: rows with (doc_id, source, n_tokens,
    * ttr, text — null when the corpus table had none); `cont` is the
    * (doc_id, contaminated=true) table. Null text ⇒ quarantined.
    */
  private def storeRows(withText: DataFrame, cont: DataFrame): DataFrame =
    withText
      .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr"),
        col("text").isNull.as("quarantined"),
        md5(concat(lit("split|"), coalesce(col("text"), lit(""))))
          .as("ckey"),
        md5(concat(lit("mix|"), col("doc_id").cast("string"))).as("ord"))
      .join(cont, Seq("doc_id"), "left")
      .na.fill(false, Seq("contaminated"))

  /** Re-drive quarantined rows once the corpus table has caught up: for
    * each epoch holding quarantined rows, re-run the SAME sink law over
    * exactly those rows — text re-attached from `history`, bloom-pruned
    * exact decontamination against the same eval-gram inventory, the
    * same [[storeRows]] projection — and SUPERSEDE the epoch with a
    * marker-committed VERSIONED SIBLING (`.redrive_v<k>_epoch=N`,
    * dot-prefixed so partition discovery never sees it). Unlike the
    * sink's epochs (replay re-derives them from upstream state), these
    * files are the ONLY source of the epoch's clean rows, so the
    * protocol must never have a window where the last complete copy is
    * deletable:
    *
    *  - the rewrite is a fresh directory, committed by the Hadoop
    *    committer's `_SUCCESS` marker landing LAST (the
    *    [[DocsStream.labelPartEpochs]] discipline) — a crash mid-write
    *    leaves an UNCOMMITTED dir that [[readStore]] simply ignores;
    *  - superseded versions are deleted only AFTER the new marker is
    *    observed on the filesystem;
    *  - the base `epoch=N` dir is RETAINED (shadowed by the committed
    *    version) — it is the streaming sink's replay target, which a
    *    restarted query may lawfully rewrite at any time, so the
    *    version layer must out-rank it permanently rather than delete
    *    it once.
    *
    * No step relies on `FileSystem.rename` atomicity, so the guarantee
    * holds on object stores (`s3a://`) exactly as on HDFS/local — the
    * defect class the r17 two-rename swap had (a crash mid-rename left
    * a partial target, and its recovery sweep then deleted the complete
    * move-aside). The only filesystem contract assumed is the one the
    * whole store already depends on: the committer writes data files
    * before the `_SUCCESS` marker (`marksuccessfuljobs` must stay on).
    * Single concurrent re-driver per store (a maintenance op, not a
    * serving path); an uncommitted crash leftover NUMBERED ABOVE the
    * latest committed version is left in place (indistinguishable from
    * an in-flight writer) — it is invisible garbage, and the next
    * re-drive of that epoch numbers strictly past it.
    *
    * Rows whose text is STILL missing stay quarantined; rows that
    * resolve to eval-suite docs are dropped (the sink's batch stage-3
    * law). After a re-drive that finds all texts, finalization over the
    * store equals the never-raced run bit-for-bit (spec ST18rq, which
    * also walks the crash matrix: uncommitted version ignored, committed
    * version shadows, prune only after a newer marker). Returns the
    * number of rows re-driven clean.
    *
    * Scale shape: one partition-pruned scan per AFFECTED epoch (the
    * epoch list is collected from a quarantined-only aggregate —
    * bounded by epoch count, not rows); the quarantined rows are pinned
    * once (they are few by nature) so the text re-attachment join runs
    * a single time per epoch.
    */
  def redriveQuarantined(spark: SparkSession, history: DataFrame,
      evalPred: Column, bloomKey: String, storeRoot: String): Long = {
    import graft.queries.PipelineQueries
    import org.apache.hadoop.fs.Path
    val fs = new Path(storeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // legacy (pre-marker, r17 rename-swap) leftovers: an aside without
    // its target means that protocol crashed between its two renames —
    // restore the original. An aside ALONGSIDE a target is that
    // protocol's post-commit garbage on the atomic-rename filesystems
    // it was safe on — covered, dropped. (The marker protocol never
    // creates these names.)
    val asides =
      try Option(fs.globStatus(new Path(
          DocsStream.globEscape(storeRoot) + "/.redrive_old_epoch=*")))
        .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    asides.foreach { st =>
      val e = st.getPath.getName.stripPrefix(".redrive_old_epoch=")
      val target = new Path(s"$storeRoot/epoch=$e")
      if (!fs.exists(target)) fs.rename(st.getPath, target)
      else fs.delete(st.getPath, true)
    }
    // prune versions a COMMITTED newer version already covers (crash
    // leftovers from a prior call that died between commit and prune) —
    // the only deletes in the protocol, both gated on an observed marker
    locally {
      val all = redriveVersionDirs(spark, storeRoot)
      all.groupBy(_._1).foreach { case (_, vs) =>
        val committed = vs.filter(_._4)
        if (committed.nonEmpty) {
          val hi = committed.map(_._2).max
          vs.filter(_._2 < hi).foreach(v => fs.delete(v._3, true))
        }
      }
    }
    val evalGrams = PipelineQueries.gramStream8(history.filter(evalPred))
      .select(col("g")).distinct().cache()
    try {
      val bloom = PipelineQueries.trainEvalBloom(bloomKey, evalGrams)
      val epochs = readStore(spark, storeRoot).filter(col("quarantined"))
        .select(col("epoch")).distinct().collect()
        .map(_.getLong(0)).sorted
      var redriven = 0L
      epochs.foreach { e =>
        // current content of the epoch: its latest committed version,
        // else the base dir — the same choice readStore makes
        val versions = redriveVersionDirs(spark, storeRoot, Some(e))
        val currDir = versions.filter(_._4).sortBy(_._2).lastOption
          .map(_._3.toString).getOrElse(s"$storeRoot/epoch=$e")
        // read paths are glob-interpreted by Spark's DataSource —
        // escape the literal path (identity on metachar-free roots)
        val part0 = spark.read.option("mergeSchema", "true")
          .parquet(DocsStream.globEscape(currDir))
        val part = if (part0.columns.contains("quarantined")) part0
          else part0.withColumn("quarantined", lit(false))
        val quar = part.filter(coalesce(col("quarantined"), lit(false)))
        val clean = part.filter(!coalesce(col("quarantined"), lit(false)))
        // pin the (few) quarantined rows so the epoch scan + text
        // re-attachment run once across resolved/still/count
        val withText = quar
          .select(col("doc_id"), col("source"), col("n_tokens"), col("ttr"))
          .join(history.select(col("doc_id"), col("text")),
            Seq("doc_id"), "left")
          .localCheckpoint()
        // the sink's doc-channel law, re-applied: eval docs dropped,
        // still-missing text stays quarantined (storeRows' null-text law)
        val resolved = withText.filter(col("text").isNotNull)
          .filter(!evalPred)
        val still = withText.filter(col("text").isNull)
        val cont = PipelineQueries.gramStream8(resolved)
          .filter(graft.functions.BloomFunctions.mightContain(bloom, col("g")))
          .join(evalGrams, "g").select(col("doc_id")).distinct()
          .withColumn("contaminated", lit(true))
        val cols = Seq("doc_id", "source", "n_tokens", "ttr",
          "quarantined", "ckey", "ord", "contaminated").map(col)
        val rewritten = clean.select(cols: _*)
          .union(storeRows(resolved.union(still), cont).select(cols: _*))
        // commit the rewrite as the next version — numbered strictly
        // past EVERY existing dir (committed or not, so a crash
        // leftover can never be resurrected by name collision)
        val k = (0L +: versions.map(_._2)).max + 1
        val vdir = new Path(s"$storeRoot/.redrive_v${k}_epoch=$e")
        rewritten.write.mode("overwrite").parquet(vdir.toString)
        val marker = new Path(vdir, "_SUCCESS")
        if (!fs.exists(marker))
          sys.error(s"re-drive: $vdir committed without a _SUCCESS marker " +
            "— the store's commit protocol requires " +
            "mapreduce.fileoutputcommitter.marksuccessfuljobs=true")
        redriven += resolved.count()
        // prune superseded versions only now, AFTER the marker landed;
        // the base epoch dir stays (see scaladoc: it is the sink's
        // replay target, permanently shadowed by the committed version)
        versions.filter(_._2 < k).foreach(v => fs.delete(v._3, true))
      }
      redriven
    } finally { evalGrams.unpersist(false); () }
  }

  /** Re-drive version dirs under `storeRoot`, optionally for one epoch:
    * (epoch, version, path, committed) — committed = the dir carries
    * the committer's `_SUCCESS` marker. One `globStatus` round-trip for
    * the dirs plus one for the markers (not one `exists` RPC per dir).
    */
  private def redriveVersionDirs(spark: SparkSession, storeRoot: String,
      epoch: Option[Long] = None)
      : Seq[(Long, Long, org.apache.hadoop.fs.Path, Boolean)] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val epochPat = epoch.map(_.toString).getOrElse("*")
    val pat = new Path(DocsStream.globEscape(storeRoot) +
      s"/.redrive_v*_epoch=$epochPat")
    val fs = pat.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def glob(p: Path): Seq[FileStatus] =
      try Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus]).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val name = "^\\.redrive_v(\\d+)_epoch=(\\d+)$".r
    val committed = glob(new Path(pat, "_SUCCESS"))
      .map(_.getPath.getParent.toUri.getPath).toSet
    glob(pat).flatMap { st =>
      name.findFirstMatchIn(st.getPath.getName).map { m =>
        (m.group(2).toLong, m.group(1).toLong, st.getPath,
          committed.contains(st.getPath.toUri.getPath))
      }
    }
  }

  /** The signal store — every epoch's CURRENT content with a total
    * `quarantined` column regardless of epoch vintage. This reader is
    * version-aware: an epoch superseded by a committed re-drive version
    * ([[redriveQuarantined]]) is read from that version, never from the
    * (retained, stale) base `epoch=N` dir — a plain
    * `spark.read.parquet(storeRoot)` of a re-driven store would read
    * rows the re-drive already resolved, so tooling should come through
    * here (or [[storeSig3]]/[[storeQuarantined]], which do).
    *
    * `mergeSchema` is load-bearing, not a nicety: a store MIXING pre-
    * and post-quarantine epochs would otherwise take one file's schema
    * by lottery — old-schema wins and new epochs' quarantined rows leak
    * into sig3 as clean, or new-schema wins and every pre-upgrade row
    * reads `quarantined = null` (which `!flag` silently drops). Merged,
    * old rows read null → coalesced to false (they all had text at sink
    * time — vacuously clean), new rows keep their flag.
    *
    * Plan shape: ONE multi-path parquet relation over all un-superseded
    * base epochs (partition column preserved via `basePath`) plus one
    * small scan per re-driven epoch — re-drives are rare maintenance
    * events, so planning stays O(1 + re-driven epochs), not O(epochs).
    */
  private[graft] def readStore(spark: SparkSession,
      storeRoot: String): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    def normalize(df: DataFrame): DataFrame = {
      val q = if (df.columns.contains("quarantined"))
        coalesce(col("quarantined"), lit(false))
      else lit(false)
      df.select(col("doc_id"), col("source"), col("n_tokens"), col("ttr"),
        col("ckey"), col("ord"), col("contaminated"), q.as("quarantined"),
        col("epoch").cast("long").as("epoch"))
    }
    val latest = redriveVersionDirs(spark, storeRoot).filter(_._4)
      .groupBy(_._1).map { case (e, vs) => e -> vs.maxBy(_._2)._3 }
    val basePat = new Path(DocsStream.globEscape(storeRoot) + "/epoch=*")
    val fs = basePat.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseDirs =
      (try Option(fs.globStatus(basePat)).getOrElse(Array.empty[FileStatus])
       catch { case _: java.io.FileNotFoundException =>
         Array.empty[FileStatus] })
        .filter(_.isDirectory)
        .flatMap(st => st.getPath.getName.stripPrefix("epoch=").toLongOption
          .map(_ -> st.getPath)).toMap
    // read paths are glob-interpreted by Spark's DataSource — escape
    // the literal paths (identity on metachar-free roots); basePath is
    // taken literally and stays raw
    val plain = (baseDirs.keySet -- latest.keySet).toSeq.sorted
      .map(e => DocsStream.globEscape(baseDirs(e).toString))
    val frames =
      (if (plain.isEmpty) Seq.empty
       else Seq(normalize(spark.read.option("mergeSchema", "true")
         .option("basePath", storeRoot).parquet(plain: _*)))) ++
      latest.toSeq.sortBy(_._1).map { case (e, p) =>
        normalize(spark.read.option("mergeSchema", "true")
          .parquet(DocsStream.globEscape(p.toString))
          .withColumn("epoch", lit(e)))
      }
    if (frames.isEmpty)
      sys.error(s"readStore: no committed epochs under $storeRoot")
    frames.reduce(_.union(_))
  }

  /** Finalization: the materialization job over the accumulated store —
    * gate, mixture, split, packing via the SAME code as the batch chain,
    * producing the full q160-shaped output.
    */
  def q160Output(spark: SparkSession, storeRoot: String, labelsRoot: String,
      budget: Long): DataFrame = {
    import graft.queries.PipelineQueries
    PipelineQueries.q160SplitPackFrom(
      PipelineQueries.q160MixtureFrom(
        PipelineQueries.q160GateFrom(storeSig3(spark, storeRoot, labelsRoot)),
        budget))
  }
}
