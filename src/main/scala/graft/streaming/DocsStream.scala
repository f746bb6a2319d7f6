package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.operators.TextOps

/** Streaming near-duplicate detection over a document stream — the
  * continuous-ingest form of q43's MinHash banding. Signatures and band
  * keys are computed MAP-SIDE on each micro-batch (same md5-derived
  * kernel as the batch path, so batch and stream agree bit-for-bit);
  * keyed state per (band, bucket) holds only the minimum doc_id seen, so
  * a bucket's state is ONE long no matter how many docs hash into it.
  *
  * Scale shape: the only shuffle per micro-batch is the state-store
  * partitioning on (band, bucket) — high-cardinality keys, same
  * distribution argument as batch banding. State is bounded by bucket
  * cardinality, not corpus size, and the `ttlMs` option bounds the
  * horizon (dedup-within-N-days): an idle bucket's state expires via
  * processing-time timeout and its next doc is re-admitted as the new
  * representative, so state tracks the horizon's churn, not the
  * stream's lifetime.
  *
  * Ordering contract: candidates match the batch twin EXACTLY when
  * doc_ids arrive in increasing order (the natural ingest order — ids
  * are assigned at ingest). Within a micro-batch the handler sorts, so
  * only CROSS-batch regressions of id order can perturb emissions —
  * and under those, [[nearDupCandidates]] emits a rep-relink edge when
  * a later batch displaces a bucket's stored rep with a smaller id, so
  * the edge set's CONNECTED COMPONENTS (what the incremental labeling
  * consumes) equal the batch twin's under ANY arrival order; only the
  * edge orientation/multiplicity can differ. Spec-locked both ways:
  * ordered staging (bit-parity) and reversed staging (label parity).
  */
object DocsStream {

  /** File-source stream over a directory of documents parquet. */
  def readStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(graft.queries.Tables.schema("documents"))
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)

  /** The [[TextOps]] banding plus the doc's shingle-hash set (the
    * verification kernel's input): (doc_id, band, bkey, shset, ts). All
    * map-side, from the same kernels as the batch path, so stream/batch
    * parity with the query pack holds by construction. `ts` is the
    * optional event-time passenger (null timestamp when `tsCol` is
    * None) — the handlers arm their horizon from it in event-time mode.
    * The batch twins below read this frame too, so it keeps the struct
    * explode their plans were measured with.
    */
  private def banded(docs: DataFrame,
      tsCol: Option[String] = None): DataFrame = {
    val ts = tsCol.map(col).getOrElse(lit(null).cast("timestamp")).as("ts")
    docs.filter(TextOps.eligible(col("text")))
      .select(col("doc_id"), TextOps.shingleSet(col("text")).as("shset"),
        TextOps.signature(col("text")).as("sig"), ts)
      .select(col("doc_id"), col("shset"), col("ts"),
        explode(TextOps.bandStructs(TextOps.bandKeys(col("sig")))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.bkey").as("bkey"), col("shset"), col("ts"))
  }

  /** The banding, map-side: (doc_id, band, bkey). */
  def bandKeys(docs: DataFrame): DataFrame =
    banded(docs).select(col("doc_id"), col("band"), col("bkey"))

  /** Rep shingle sets keyed by `dup_of`, looked up from the `history`
    * corpus table — the verification side of every rep-anchored
    * candidate (stream handlers and batch twin alike). */
  private[streaming] def repShingles(history: DataFrame): DataFrame =
    history.filter(TextOps.eligible(col("text")))
      .select(col("doc_id").as("dup_of"), TextOps.shingleSet(col("text")).as("rep_sh"))

  /** The q72 exact-Jaccard verification, shared by the streaming and
    * batch candidate paths: each (doc_id, band, dup_of, shset) candidate
    * is checked against its bucket representative's shingle set at
    * Jaccard ≥ 0.5. The representative lookup is an equi-join on the
    * rep id against `history` (the corpus table a production deployment
    * keeps anyway) — per micro-batch that is a hash join whose stream
    * side is only the candidate set; the Jaccard itself is a map-side
    * array expression.
    */
  private def verifyAgainstReps(cand: DataFrame, history: DataFrame): DataFrame =
    cand.join(repShingles(history), "dup_of")
      .select(col("doc_id"), col("band"), col("dup_of"),
        graft.functions.SetFunctions.jaccardSorted(
          col("shset"), col("rep_sh")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)

  private[streaming] def timeoutConf(ttlMs: Long,
      eventTime: Boolean = false): GroupStateTimeout =
    if (ttlMs <= 0) GroupStateTimeout.NoTimeout
    else if (eventTime) GroupStateTimeout.EventTimeTimeout
    else GroupStateTimeout.ProcessingTimeTimeout

  /** Arm a key's horizon from the batch it just saw — shared by every
    * doc-stream handler (here and [[PretrainStream]]). Event-time mode
    * expires when the watermark passes `ttlMs` beyond the key's newest
    * event, clamped just past the current watermark (arming at or below
    * it is an engine error — a late straggler can never arm an
    * already-expired timeout). `maxTsMs < 0` marks "no event timestamp
    * in this batch's rows" (all-null ts): arm from the WATERMARK instead
    * — arming from epoch 0 would collapse the horizon to watermark+1 and
    * silently under-dedup null-timestamp sources. Processing-time mode
    * arms `ttlMs` of wall clock.
    */
  private[streaming] def armTimeout(
      state: org.apache.spark.sql.streaming.GroupState[_], maxTsMs: Long,
      ttlMs: Long, eventTime: Boolean): Unit =
    if (ttlMs > 0) {
      if (eventTime) {
        val anchor = if (maxTsMs >= 0) maxTsMs
          else state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
          math.max(anchor + ttlMs, state.getCurrentWatermarkMs() + 1))
      } else state.setTimeoutDuration(ttlMs)
    }

  private[streaming] def tsMs(t: java.sql.Timestamp): Long =
    if (t == null) -1L else t.getTime

  /** Streaming candidate emission: each doc whose (band, bucket) has an
    * earlier doc emits (doc_id, band, dup_of = the bucket's minimum).
    * Works on batch frames too, but the batch path should prefer
    * [[nearDupCandidatesBatch]] (a plain aggregation — no state store).
    *
    * `ttlMs > 0` bounds the dedup horizon: a (band, bucket) whose state
    * goes `ttlMs` without new arrivals is dropped at the next trigger
    * (processing-time timeout), so state size is bounded by the horizon's
    * bucket churn, not the stream's lifetime. After expiry the bucket's
    * next doc is RE-ADMITTED as its new representative —
    * dedup-within-horizon, the production near-dup contract. Inside the
    * horizon, emission semantics are unchanged (batch parity holds).
    *
    * Horizon clock: by default `ttlMs` is PROCESSING time — right for
    * live ingest, where wall clock IS the horizon. A historical BACKFILL
    * replayed fast expires nothing on that clock (wall time barely
    * advances between files), so a dedup-within-N-days law over archived
    * data passes `eventTimeCol` (a timestamp column on the stream, e.g.
    * crawl time): the bucket then expires when the WATERMARK passes
    * `ttlMs` past its newest event — replay speed stops mattering (the
    * ST18te discipline, on the standalone twin; ST11te pins it). The
    * watermark allows no disorder (0 s delay). One keyed state, so no
    * chained-stateful opt-out is needed here.
    */
  def nearDupCandidates(docs: DataFrame, ttlMs: Long = 0L,
      eventTimeCol: Option[String] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val eventTime = eventTimeCol.isDefined
    val src = eventTimeCol.map(c => docs.withWatermark(c, "0 seconds"))
      .getOrElse(docs)
    banded(src, eventTimeCol)
      .select(col("band"), col("bkey"), col("doc_id"), col("ts"))
      .as[(Int, String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, (Long, Int, Long)](
        OutputMode.Append, timeoutConf(ttlMs, eventTime)) {
        case ((band, _), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val arr = rows.toArray
            val step = repStep(
              (state.getOption.getOrElse(Long.MaxValue), Seq.empty[Long]),
              arr.map(r => (r._3, Seq.empty[Long])))
            state.update(step.minSeen)
            armTimeout(state, arr.map(r => tsMs(r._4)).max, ttlMs, eventTime)
            (step.candidates.map(c => (c._1, band, c._2)) ++
              step.displaced.map(p => (p._1, band, p._2))).iterator
          }
      }
      .toDF("doc_id", "band", "dup_of")
  }

  /** Batch twin of [[nearDupCandidates]]: bucket representative = min
    * doc_id, every later doc in the bucket is a candidate against it.
    */
  def nearDupCandidatesBatch(docs: DataFrame): DataFrame =
    graft.operators.Dedup.repPairs(bandKeys(docs), "dup_of")
      .select(col("doc_id"), col("band"), col("dup_of"))

  /** Displaced-rep emissions from [[nearDupVerified]]: out-of-order
    * arrivals where a smaller id displaced a bucket's stored rep and the
    * (old rep, new rep) pair was emitted through the rep-shingle cache.
    * Counted per SparkContext (the [[graft.streaming.EventsStream]]
    * `anchorRewinds` discipline) so the out-of-order regime — formerly a
    * silent bounded over-keep — is observable in any run's readout.
    */
  def displacedReps(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    graft.operators.PhaseStats.accumulator(spark.sparkContext, "docsstream.displaced_rep")

  /** Displaced-rep emissions that PASSED in-handler verification — each
    * one folds the old rep's cluster into the new rep's, which is the
    * OVER-CONNECTION channel of the documented rep-anchoring boundary
    * (the stream anchors at the rep current on arrival, the batch twin
    * at the final minimum; a verified relink can merge what batch keeps
    * apart — over-keep only, since the link itself is exact-Jaccard
    * verified). Counting them makes the over-connection RATE observable
    * at stress scale (ST11 contract: every folded edge is an
    * individually verified pair; this bounds how many merges the
    * anchoring difference can contribute).
    */
  def overConnectMerges(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    graft.operators.PhaseStats.accumulator(spark.sparkContext, "docsstream.overconnect_merge")

  /** One (band, bucket)'s rep step — the pure core of every doc-stream
    * rep handler ([[nearDupCandidates]], [[nearDupVerified]] and
    * [[PretrainStream.signals]] stage 2). `state` is the bucket's stored
    * `(minSeen, repSh)` (`Long.MaxValue` = empty bucket); `arrivals` are
    * this batch's `(doc_id, shset)` rows in any order. They are taken
    * in id order, so emissions are "min of all earlier ids",
    * independent of partition iteration order:
    *  - an id above the rep is a CANDIDATE `(doc_id, rep, doc shset)`;
    *  - an id below a stored rep DISPLACES it, emitting
    *    `(old rep, new rep, old rep shset, jaccard of the two sets)`.
    *    Without that link every doc anchored to the old rep would
    *    silently disconnect from docs anchored to the new one. Under
    *    id-ordered arrival it never fires (bit-parity with the batch
    *    twin); out-of-order arrival — unsorted crawl splits, the normal
    *    production case — is exactly what the 10× labels stress caught;
    *  - an id equal to the rep (a re-delivery) emits nothing.
    * `nDisplaced`/`nOverConnect` are the counter increments for the
    * verifying handlers ([[displacedReps]] / [[overConnectMerges]]).
    */
  private[graft] def repStep(state: (Long, Seq[Long]),
      arrivals: scala.collection.Seq[(Long, Seq[Long])]): RepStep = {
    var (minSeen, repSh) = state
    val cand = Seq.newBuilder[(Long, Long, Seq[Long])]
    val disp = Seq.newBuilder[(Long, Long, Seq[Long], Double)]
    arrivals.sortBy(_._1).foreach { case (id, sh) =>
      if (minSeen < id) cand += ((id, minSeen, sh))
      else if (id < minSeen) {
        if (minSeen != Long.MaxValue)
          disp += ((minSeen, id, repSh, jaccardSortedSeq(repSh, sh)))
        minSeen = id; repSh = sh
      }
    }
    RepStep(minSeen, repSh, cand.result(), disp.result())
  }

  /** [[repStep]]'s result: the new state, the emissions and the counter
    * increments. */
  private[graft] final case class RepStep(minSeen: Long, repSh: Seq[Long],
      candidates: Seq[(Long, Long, Seq[Long])],
      displaced: Seq[(Long, Long, Seq[Long], Double)]) {
    def nDisplaced: Long = displaced.size.toLong
    /** Displacements whose relink passes verification: each folds the
      * old rep's cluster into the new rep's. */
    def nOverConnect: Long = displaced.count(_._4 >= 0.5).toLong
  }

  /** Exact Jaccard of two SORTED distinct shingle-hash arrays — the
    * Scala twin of `SortedSetOps.jaccard` for in-handler use (the
    * displaced pair is verified inside the state handler, where both
    * sets are in hand). Hashes are 56-bit unsigned in a Long, so the
    * signed merge compare is order-correct. Both-empty yields 0.0
    * (the expression form yields null; both fall to the ≥ τ filter).
    */
  private[graft] def jaccardSortedSeq(a: Seq[Long], b: Seq[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val x = a(i); val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** [[nearDupCandidates]] extended through VERIFICATION: candidates are
    * exact-Jaccard-checked (≥ 0.5) against their bucket representative,
    * so the stream emits confirmed near-dups, not just bucket
    * collisions. Each arriving doc's shingle set rides THROUGH the state
    * handler as a passenger column; per-(band, bucket) state is the rep
    * id plus the REP's shingle set (the rep-shingle cache) — still
    * bounded by bucket cardinality, one array per ACTIVE bucket rather
    * than one per doc, and TTL'd away with the bucket like everything
    * else. The verification side's rep shingles come from the `history`
    * corpus table via a stream-static equi-join (candidates-sized per
    * micro-batch).
    *
    * Out-of-order arrival: when a later batch displaces a bucket's rep
    * with a smaller id, the (old rep, new rep) pair IS emitted and
    * verified IN THE HANDLER — both shingle sets are in hand (the old
    * rep's from the cache, the new rep's on the arriving row), so the
    * link holds even when `history` lags the stream and the new rep
    * isn't joinable yet — and the keep-list consumer sees the link that
    * used to be silently dropped (the r12 documented over-keep
    * boundary, now closed). Each displacement is
    * counted in [[displacedReps]]. Residual boundary (documented, not a
    * regression): verification is rep-anchored on BOTH paths, but the
    * stream anchors each doc at the rep current on arrival while the
    * batch twin anchors at the final minimum — on threshold-MARGINAL
    * chains the two can diverge in either direction (a doc verified
    * against the old rep rides a verified relink into the new rep's
    * cluster, or a failed relink splits what batch joined); every
    * emitted edge is individually Jaccard-verified either way. For
    * clusters whose members pairwise clear the threshold (the clone
    * regime) labels equal the batch twin's under ANY arrival order —
    * spec-locked (ST11d) and measured at the 10× corpus
    * (STREAM_STRESS_VERIFIED: 50k docs replayed id-descending, 1007
    * displacements, 0 missing labels, 1 extra transitively-verified
    * link). Consumers building cluster LABELS may also consume
    * [[nearDupCandidates]] (connectivity-exact under any order).
    */
  def nearDupVerified(stream: DataFrame, history: DataFrame,
      ttlMs: Long = 0L, eventTimeCol: Option[String] = None): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val displaced = displacedReps(spark)
    val overConnect = overConnectMerges(spark)
    val eventTime = eventTimeCol.isDefined
    val src = eventTimeCol.map(c => stream.withWatermark(c, "0 seconds"))
      .getOrElse(stream)
    // 5th field: the displaced pair's IN-HANDLER jaccard (−1 marks a
    // normal candidate, verified downstream against history). One
    // linear plan — a filter-and-union split would duplicate the
    // stateful operator and its store.
    val cand = banded(src, eventTimeCol)
      .select(col("band"), col("bkey"), col("doc_id"), col("shset"),
        col("ts"))
      .as[(Int, String, Long, Seq[Long], java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Int, Long, Seq[Long], Double)](
        OutputMode.Append, timeoutConf(ttlMs, eventTime)) {
        case ((band, _), rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // the arriving doc's shingle set is carried on each emitted
            // row, and the BUCKET REP's set is cached in state so a
            // displacement can emit the (old rep, new rep) pair verified
            // on the spot
            val arr = rows.toArray
            val step = repStep(state.getOption.getOrElse((Long.MaxValue, Seq.empty[Long])),
              arr.map(r => (r._3, r._4)))
            // NOTE: displaced/overConnect are incremented inside task
            // execution, so they count AT-LEAST-ONCE under task retries /
            // speculative duplicates; the pair stays internally
            // consistent (same code path), but an exactly-once rate must
            // be derived from the emitted displaced rows in the sink,
            // which are deduplicated per output row
            displaced.add(step.nDisplaced)
            overConnect.add(step.nOverConnect)
            state.update((step.minSeen, step.repSh))
            armTimeout(state, arr.map(r => tsMs(r._5)).max, ttlMs, eventTime)
            (step.candidates.map(c => (c._1, band, c._2, c._3, -1.0)) ++
              step.displaced.map(p => (p._1, band, p._2, p._3, p._4))).iterator
          }
      }
      .toDF("doc_id", "band", "dup_of", "shset", "pre_j")
    // stream-static LEFT join: a normal candidate whose rep is missing
    // from history gets null jaccard and falls to the filter (as the
    // old inner join dropped it); a displaced pair carries its
    // in-handler value and never needs the lookup
    cand.join(repShingles(history), Seq("dup_of"), "left")
      .select(col("doc_id"), col("band"), col("dup_of"),
        when(col("pre_j") >= 0, col("pre_j"))
          .otherwise(graft.functions.SetFunctions.jaccardSorted(
            col("shset"), col("rep_sh"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Default compaction horizon for [[incrementalLabelSink]] — shared
    * with the stress harness's part-census bound. */
  private[graft] val DefaultCompactEvery = 16

  /** Backslash-escape Hadoop glob metacharacters (`* ? [ ] { }` and
    * the escape character itself) so a literal PATH PREFIX can be
    * spliced into a `globStatus` pattern. A root directory containing
    * any of these (legal in every filesystem, and accepted by the old
    * `java.io.File` listing) would otherwise be interpreted as a
    * pattern and silently match nothing — for the label store that is
    * the exact silent-under-dedup failure [[labelPartEpochs]] exists
    * to prevent.
    */
  private[graft] def globEscape(s: String): String =
    s.replaceAll("([\\\\*?\\[\\]{}])", "\\\\$1")

  /** Epochs present under `labelsRoot/sub`. Directory existence is NOT
    * commit: a crashed overwrite leaves a partial dir, and treating it
    * as committed would let the compaction prune delete the deltas it
    * never actually covered (losing label rows permanently) — so only
    * dirs carrying the committer's `_SUCCESS` marker count.
    *
    * The listing goes through the Hadoop FileSystem resolved FROM the
    * root's own scheme — the same API the writes, reads, and
    * [[deletePath]] use — so an `hdfs://`/`s3a://` `labelsRoot` (the
    * production deployment) lists exactly what was committed. A
    * `java.io.File` listing here would silently return NOTHING on any
    * non-local scheme: every epoch would take the empty-parts branch
    * (cross-batch merges lost) and [[latestLabels]] would return None,
    * finalizing an un-deduplicated corpus with no error anywhere.
    */
  private[graft] def labelPartEpochs(spark: SparkSession, labelsRoot: String,
      sub: String): Seq[Long] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    // ONE globStatus round-trip, not listStatus + one exists(_SUCCESS)
    // RPC per epoch dir: this listing runs up to ~5× per committed
    // epoch (labelParts + maybeCompact), and on an object store the
    // N+1 form would pay hundreds of sequential per-object latencies
    // per micro-batch once epochs accumulate. The root/sub prefix is a
    // LITERAL path, so its glob metacharacters are escaped — only the
    // trailing `epoch=*` is a pattern.
    val pat = new Path(globEscape(s"$labelsRoot/$sub") + "/epoch=*/_SUCCESS")
    val fs = pat.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats =
      try Option(fs.globStatus(pat)).getOrElse(Array.empty[FileStatus])
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    stats.toSeq
      .map(_.getPath.getParent.getName.stripPrefix("epoch=").toLong)
  }

  private def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The (doc_id, rep) parts that constitute the labeling as of (but
    * excluding) `beforeEpoch`: the newest base snapshot plus every delta
    * after it. `Long.MaxValue` reads the current labeling. The returned
    * paths are READ paths and come pre-escaped: Spark's DataSource
    * glob-interprets every read path, so a root containing `[]{}`
    * would otherwise resolve to nothing (or the wrong directory) at
    * `spark.read` time even after the listing itself was fixed.
    */
  private def labelParts(spark: SparkSession, labelsRoot: String,
      beforeEpoch: Long): Seq[String] = {
    val baseEpoch = labelPartEpochs(spark, labelsRoot, "base")
      .filter(_ < beforeEpoch).sorted.lastOption
    val deltas = labelPartEpochs(spark, labelsRoot, "delta")
      .filter(e => e < beforeEpoch && baseEpoch.forall(_ < e)).sorted
    baseEpoch.map(e => globEscape(s"$labelsRoot/base/epoch=$e")).toSeq ++
      deltas.map(e => globEscape(s"$labelsRoot/delta/epoch=$e"))
  }

  /** `foreachBatch` sink maintaining a near-dup CLUSTER LABELING across
    * micro-batches — the streaming form of q130's incremental
    * composition. A batch that BRIDGES two existing clusters merges them
    * — plain stateful streaming can't express that (cluster identity is
    * a global property), which is why this is a sink-side fold, not a
    * `flatMapGroupsWithState`.
    *
    * Per-epoch cost is O(batch + members of MERGED clusters), NOT
    * O(components): the fold is union-find CONTRACTION, never a
    * components run over everything seen —
    *
    *   1. look up the current rep of each batch-edge endpoint: ONE
    *      column-pruned scan of the label store joined against the
    *      batch-bounded endpoint set (AQE broadcasts it while triggers
    *      are small; giant triggers degrade to a shuffle of two slim
    *      2-col frames);
    *   2. contract each edge to (rep(u), rep(v)), drop intra-cluster
    *      edges, and run [[graft.operators.Dedup.connectedComponents]]
    *      over the CONTRACTED graph only — its nodes are this batch's
    *      touched reps plus new docs, so the iterative work is
    *      batch-bounded regardless of how many clusters have accumulated
    *      (connectivity of a quotient graph equals connectivity of the
    *      original, and each group's new rep = min over old reps ∪ new
    *      ids = the merged cluster's true minimum);
    *   3. write a DELTA holding only the rows that changed: members of
    *      losing clusters remapped to the winning rep (pulled by joining
    *      the store against the merge-bounded oldRep→newRep map) plus
    *      rows for first-seen docs.
    *
    * The store is a delta log under `labelsRoot/{base,delta}/epoch=N`.
    * Reps are MONOTONE non-increasing per doc (a merge relabels to the
    * minimum), so the current labeling is `min(rep) GROUP BY doc_id`
    * over any covering set of parts — order-free, duplicate-tolerant,
    * and replay-idempotent. Two invariants carry the correctness:
    * (a) every member of a live cluster has a row carrying the cluster's
    * CURRENT rep (epoch 0 writes full labels; every later merge rewrites
    * all losing members in its delta), so step 3's rep-equality pull
    * finds exactly the members; (b) a rep present in the store that is
    * STALE (its cluster merged away) can never appear in step 2's
    * domain, because the domain holds only CURRENT reps — stale rows are
    * therefore harmlessly ignored wherever they still sit.
    *
    * Replay (at-least-once delivery): epoch N recomputes from parts
    * `< N` only and overwrites `delta/epoch=N` — deterministic, so a
    * crashed attempt's leftovers are rewritten identically. Every
    * `compactEvery` deltas, epochs `< N` fold into `base/epoch=M`
    * (M = newest folded delta; bases and deltas `≤ M` are pruned only
    * after the new base commits) — compaction never touches the
    * in-flight epoch, so replay always finds its prior parts intact.
    *
    * The labeling covers docs that appeared in at least one edge; absent
    * docs are implicit singletons (`rep = doc_id`), exactly as
    * [[graft.operators.Dedup.connectedComponents]]'s left join treats
    * edgeless docs.
    */
  def incrementalLabelSink(labelsRoot: String,
      compactEvery: Int = DefaultCompactEvery)(
      edges: DataFrame, epochId: Long): Unit = {
    val spark = edges.sparkSession
    // fold strictly-prior epochs first (never the in-flight one): fewer
    // parts for this epoch's scan, and replay of epoch N still finds
    // base(M) + deltas (M, N) intact afterwards
    maybeCompact(spark, labelsRoot, epochId, compactEvery)
    // every intermediate here is PINNED (eager localCheckpoint → a
    // LogicalRDD leaf), not persist()ed: the fold's frames reference
    // each other multiplicatively (touchedRep twice in contracted,
    // contracted five times through sym/deg/attach/resid, merged three
    // times in the delta), and cache substitution on the streaming
    // batch's derived plans proved unreliable — the delta write's plan
    // replicated the batch subtree ~400× (1,100+ exchanges, minutes per
    // epoch, and the N inlined broadcast copies OOMed the driver).
    // Truncating the plan at each batch-bounded frame keeps every
    // action a few joins over leaves; blocks are reclaimed by the
    // ContextCleaner when the epoch's frames go out of scope.
    val batchE = edges.select(col("doc_id").as("src"), col("dup_of").as("dst"))
      .filter(col("src") =!= col("dst")).localCheckpoint()
    locally {
      val parts = labelParts(spark, labelsRoot, epochId)
      if (parts.isEmpty) {
        val nodes = batchE.select(col("src").as("doc_id"))
          .union(batchE.select(col("dst").as("doc_id"))).distinct()
        graft.operators.Dedup.connectedComponents(nodes, batchE)
          .select(col("doc_id"), col("rep"))
          .write.mode("overwrite").parquet(s"$labelsRoot/delta/epoch=$epochId")
      } else {
        val prior = spark.read.parquet(parts: _*)
          .select(col("doc_id"), col("rep"))
        val touched = batchE.select(col("src").as("doc_id"))
          .union(batchE.select(col("dst").as("doc_id"))).distinct()
        // current rep of each endpoint: min over its store rows
        // (monotone reps → min = latest). No forced broadcast anywhere
        // in the fold: AQE (active in foreachBatch jobs) broadcasts the
        // endpoint set while triggers are small and degrades to a
        // shuffle join of two slim 2-col frames for giant ones — a
        // forced hint OOMed the driver's broadcast build at 5M docs
        // (~700k endpoints per trigger on an 8g driver)
        val touchedHits = prior.join(touched, Seq("doc_id"))
          .groupBy(col("doc_id")).agg(min(col("rep")).as("rep"))
          .localCheckpoint()
        val touchedRep = touched.join(touchedHits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("rep"), col("doc_id")).as("rep")).localCheckpoint()
        val contracted = batchE
          .join(touchedRep.select(col("doc_id").as("src"),
            col("rep").as("srep")), Seq("src"))
          .join(touchedRep.select(col("doc_id").as("dst"),
            col("rep").as("drep")), Seq("dst"))
          .filter(col("srep") =!= col("drep"))
          .select(col("srep").as("src"), col("drep").as("dst")).distinct()
          .localCheckpoint()
        // SINGLE-ATTACH split: the dominant contracted edge under
        // steady ingest is "first-seen doc joins one existing cluster,
        // downward" — no cluster identity changes, so it needs a label
        // row, not a components round. A doc qualifies when it is new
        // (no prior row), has exactly ONE contracted neighbor, and that
        // neighbor is a live prior rep smaller than it (upward or
        // multi-neighbor docs can merge clusters — those stay in the
        // CC). Its single edge leaves with it, which cannot disconnect
        // anything else (degree 1); its target's final label is read
        // through the merged map, so a cluster relabeled by a genuine
        // merge still carries its attachments along.
        val sym = contracted
          .union(contracted.select(col("dst").as("src"), col("src").as("dst")))
        val deg = sym.groupBy(col("src").as("doc_id"))
          .agg(count(lit(1)).as("deg"), min(col("dst")).as("nbr"))
        val priorDocs = touchedHits.select(col("doc_id"))
        val existingReps = touchedHits.select(col("rep")).distinct()
        val attach = deg.filter(col("deg") === 1)
          .join(touched.join(priorDocs, Seq("doc_id"), "left_anti"),
            Seq("doc_id"))
          .filter(col("nbr") < col("doc_id"))
          .join(existingReps.select(col("rep").as("nbr")), Seq("nbr"))
          .select(col("doc_id"), col("nbr")).localCheckpoint()
        val resid = contracted
          .join(attach.select(col("doc_id").as("src")), Seq("src"), "left_anti")
          .join(attach.select(col("doc_id").as("dst")), Seq("dst"), "left_anti")
        // oldRep → newRep for clusters that actually merge (winner
        // clusters keep their rep and need no rewrite); skip the
        // components machinery entirely when the batch carries no
        // residual merges (the steady ordered-ingest case)
        val merged = (if (resid.limit(1).count() == 0)
            spark.emptyDataFrame.select(lit(0L).as("doc_id"), lit(0L).as("rep"))
          else {
            val cnodes = resid.select(col("src").as("doc_id"))
              .union(resid.select(col("dst").as("doc_id"))).distinct()
            graft.operators.Dedup.connectedComponents(cnodes, resid)
          })
          .filter(col("doc_id") =!= col("rep"))
          .select(col("doc_id").as("orep"), col("rep").as("nrep"))
          .localCheckpoint()
        val memberRows = prior
          .join(merged, prior("rep") === col("orep"))
          .select(prior("doc_id"), col("nrep").as("rep")).distinct()
        val newDocs = touchedRep
          .join(touchedHits.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .join(attach.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .join(merged, col("rep") === col("orep"), "left")
          .select(col("doc_id"), coalesce(col("nrep"), col("rep")).as("rep"))
        val attached = attach
          .join(merged, col("nbr") === col("orep"), "left")
          .select(col("doc_id"), coalesce(col("nrep"), col("nbr")).as("rep"))
        memberRows.union(newDocs).union(attached)
          .write.mode("overwrite").parquet(s"$labelsRoot/delta/epoch=$epochId")
      }
    }
  }

  /** Fold base + deltas `< beforeEpoch` into one compacted base snapshot
    * once `compactEvery` deltas have accumulated — bounds the part count
    * every epoch scans, at an O(components) groupBy+write paid once per
    * `compactEvery` epochs (amortized O(changed rows)). Superseded parts
    * are pruned only after the new base commits; a crash in between
    * leaves covered-but-unpruned parts that the min-merge reads
    * harmlessly and the next compaction removes.
    */
  private def maybeCompact(spark: SparkSession, labelsRoot: String,
      beforeEpoch: Long, compactEvery: Int): Unit = {
    val baseEpochs = labelPartEpochs(spark, labelsRoot, "base")
      .filter(_ < beforeEpoch)
    val baseEpoch = baseEpochs.sorted.lastOption
    // prune parts a committed base already covers (crash-leftovers)
    baseEpoch.foreach { b =>
      labelPartEpochs(spark, labelsRoot, "delta").filter(_ <= b)
        .foreach(e => deletePath(spark, s"$labelsRoot/delta/epoch=$e"))
      baseEpochs.filter(_ < b)
        .foreach(e => deletePath(spark, s"$labelsRoot/base/epoch=$e"))
    }
    val deltas = labelPartEpochs(spark, labelsRoot, "delta")
      .filter(e => e < beforeEpoch && baseEpoch.forall(_ < e)).sorted
    if (compactEvery > 0 && deltas.size >= compactEvery) {
      val m = deltas.last
      // read paths are glob-interpreted by Spark — escape the literal
      // prefix (see labelParts)
      val parts =
        baseEpoch.map(e => globEscape(s"$labelsRoot/base/epoch=$e")).toSeq ++
        deltas.map(e => globEscape(s"$labelsRoot/delta/epoch=$e"))
      spark.read.parquet(parts: _*)
        .groupBy(col("doc_id")).agg(min(col("rep")).as("rep"))
        .write.mode("overwrite").parquet(s"$labelsRoot/base/epoch=$m")
      deltas.foreach(e => deletePath(spark, s"$labelsRoot/delta/epoch=$e"))
      baseEpoch.foreach(e => deletePath(spark, s"$labelsRoot/base/epoch=$e"))
    }
  }

  /** Latest labeling written by [[incrementalLabelSink]] (None before the
    * first epoch commits): min-merge over the base snapshot plus the
    * deltas after it — one aggregation at READ time (finalization),
    * instead of a full rewrite inside every epoch. */
  def latestLabels(spark: SparkSession, labelsRoot: String): Option[DataFrame] = {
    val parts = labelParts(spark, labelsRoot, Long.MaxValue)
    if (parts.isEmpty) None
    else Some(spark.read.parquet(parts: _*)
      .groupBy(col("doc_id")).agg(min(col("rep")).as("rep")))
  }

  /** Batch twin of [[nearDupVerified]] — the q118 oracle surface. */
  def nearDupVerifiedBatch(docs: DataFrame, history: DataFrame): DataFrame =
    verifyAgainstReps(graft.operators.Dedup.repPairs(banded(docs), "dup_of")
      .select(col("doc_id"), col("band"), col("dup_of"), col("shset")), history)
}
