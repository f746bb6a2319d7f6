package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.functions.{EditDistance, SetFunctions}

/** Near-dup banding frames and cluster-representative selection for
  * near-dup keep-lists (the step after candidate generation +
  * verification — see `graft.queries.PipelineQueries` q72/q87).
  *
  * This object is the one home of the near-dup law's FRAME-level parts:
  * the per-(doc, band) explode ([[bandRows]]), the band-sharing pair
  * join ([[bandPairs]]), the bucket-minimum rep pairs ([[repPairs]]) and
  * verification end to end: the bucket-local pipeline with its
  * singleton prune and hot split ([[verifyBuckets]]) and the id-pair
  * payload join ([[verifyPairs]]), each applying a caller-chosen
  * [[Verifier]]. The per-doc column laws they band over live in
  * [[TextOps]].
  *
  * [[keepListToFixpoint]] runs min-label propagation over the verified
  * edge set until no label changes, which yields the minimum id of each
  * connected component — the canonical "keep the smallest doc_id per dup
  * cluster" rule. The fixpoint is order-independent, so it is
  * oracle-checkable (DuckDB replays it as a recursive CTE, q87) even
  * though the round count is data-dependent.
  *
  * Cost model per round (the 100 TB accounting):
  *   - one shuffle of the *materialized* edge blocks joined with the
  *     label table on the edge key (edges are pinned once at entry, so a
  *     round never re-runs the candidate-generation lineage that produced
  *     them — MinHash banding + Jaccard verification execute exactly
  *     once),
  *   - one shuffle for the per-src min,
  *   - one left join back onto the label table (corpus-wide, 2 columns),
  *   - one count action on the checkpointed result to test convergence.
  * Checkpointing after every round truncates lineage so round N's plan
  * does not replay rounds 1..N-1 — without it the plan doubles per round
  * and the driver dies long before the data does. The previous round's
  * blocks are unpersisted as soon as the next round is materialized, so
  * peak storage is TWO 2-column label tables plus the edges, not
  * `maxRounds` of them. Rounds pin via the shared Dataset-level
  * [[Pin]] (compact UnsafeRow blocks, output partitioning preserved —
  * the boxed-Row `df.rdd` form this replaced measured ~3× the heap on
  * PageRank's share table); by default executor-local blocks, or pass
  * `checkpointDir` (HDFS/object store) to switch to RELIABLE
  * `RDD.checkpoint()` so executor loss can't silently restart the
  * chain. Rounds needed = the longest propagation path in any component
  * (chains of near-dups), bounded by `maxRounds` as a runaway guard.
  */
object Dedup {

  // per-phase attribution (round 0 = prepare/pin, 1..N the propagation
  // or star rounds) under these PhaseStats tags: the iterative
  // checkpoint-heavy queries (q87/q128) drift in wide same-box bands,
  // and without per-round rows in the artifact every flag burns an A/B
  private val FixpointTag = "dedup-fixpoint"
  private val CcTag = "dedup-cc"

  /** One row per (doc, band) of a frame carrying the `bkeys` array
    * ([[TextOps.bandKeys]]): the `keep` columns, then `band` and its
    * `bkey`. The explode runs over a LITERAL band-index array, not
    * `posexplode(bkeys)`: InferFiltersFromGenerate synthesizes
    * `size(<input>) > 0` from a generate, and with the computed array as
    * input that filter pushes below the projection with the full bkeys
    * expression INLINED — eight minhash_sig calls per doc in the Filter
    * (measured 9x kernel cost). The literal input folds the inferred
    * filter away; the materialized bkeys attribute is then indexed per
    * emitted row.
    */
  def bandRows(base: DataFrame, keep: Seq[String], nBands: Int = 4): DataFrame = {
    val in = if (keep.contains("bkeys")) keep else keep :+ "bkeys"
    base.select(in.map(col) :+
        explode(array((0 until nBands).map(lit(_)): _*)).as("band"): _*)
      .select(keep.map(col) ++ Seq(col("band"),
        element_at(col("bkeys"), col("band") + 1).as("bkey")): _*)
  }

  /** Distinct candidate pairs `(doc_a < doc_b)` sharing any band bucket
    * of a [[bandRows]]-shaped frame — the plain self-join form. */
  def bandPairs(bands: DataFrame): DataFrame =
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")).distinct()

  /** Bucket-minimum rep pairs: each [[bandRows]] row whose (band, bkey)
    * bucket holds a smaller doc_id, with that minimum as column `rep` —
    * the rep-anchoring law shared by the batch twins of the streams,
    * q157 and q161's stage 2. */
  def repPairs(bands: DataFrame, rep: String = "rep"): DataFrame = {
    val reps = bands.groupBy(col("band"), col("bkey"))
      .agg(min(col("doc_id")).as(rep))
    bands.join(reps, Seq("band", "bkey")).filter(col(rep) < col("doc_id"))
  }

  /** One near-dup verify law in the two shapes this object runs it:
    *  - `bucket(members, band)` is the generator over one collected
    *    bucket, `array<struct<doc_id, bkeys, payload>>` plus its band
    *    index ([[graft.functions.BucketPairWalk]]);
    *  - `pairs` keeps the rows of a joined id-pair frame (`doc_a`,
    *    `doc_b`, both payloads as `pay_a`, `pay_b`) that verify, with the
    *    generator's output columns.
    * `payload` names the per-doc column both shapes read.
    */
  final case class Verifier(payload: String,
      bucket: (Column, Column) => Column,
      pairs: DataFrame => DataFrame)

  /** Sorted-set Jaccard ≥ `threshold` over the `shset` payload
    * ([[TextOps.shingleSet]]); emits `doc_a`, `doc_b`. */
  def jaccardAtLeast(threshold: Double): Verifier = Verifier("shset",
    SetFunctions.verifiedJaccardPairs(_, _, threshold),
    _.filter(SetFunctions.jaccardSorted(col("pay_a"), col("pay_b")) >= threshold)
      .select(col("doc_a"), col("doc_b")))

  /** Edit distance ≤ `distFrac` × the longer text over the `text`
    * payload; emits `doc_a`, `doc_b`, `edit_dist`, `max_len`. The pair
    * form applies the generator's length gate first (dist ≥ |len_a −
    * len_b|, so the DP never runs on pairs the gap alone rejects), then
    * the bounded Myers kernel: exact when kept, and it abandons a
    * non-matching long pair after ~cap columns (dist is an integer, so
    * dist ≤ frac·len ⟺ dist ≤ ⌊frac·len⌋ — the generator's cap).
    */
  def editWithin(distFrac: Double): Verifier = {
    val (ta, tb) = (col("pay_a"), col("pay_b"))
    val maxLen = greatest(length(ta), length(tb))
    val cap = lit(distFrac) * maxLen
    Verifier("text", SetFunctions.verifiedEditPairs(_, _, distFrac),
      _.filter(abs(length(ta) - length(tb)) <= cap)
        .select(col("doc_a"), col("doc_b"),
          EditDistance.editDistanceBoundedNative(ta, tb, floor(cap).cast("int"))
            .cast("long").as("edit_dist"),
          maxLen.cast("long").as("max_len"))
        .filter(col("edit_dist") >= 0))
  }

  /** Verifies an id-pair frame (`doc_a`, `doc_b`): joins `payload`'s
    * `(doc_id, v.payload)` onto `doc_a`, then onto `doc_b`, and applies
    * `v`'s pair law. Each side's payload shuffles once, keyed by its id
    * — never once per band. The hot-bucket fallback of
    * [[verifyBuckets]] and the rep-anchored pairs (q157, q161) run here.
    */
  def verifyPairs(pairs: DataFrame, payload: DataFrame, v: Verifier): DataFrame = {
    def side(id: String, pay: String) =
      payload.select(col("doc_id").as(id), col(v.payload).as(pay))
    v.pairs(pairs.join(side("doc_a", "pay_a"), "doc_a")
      .join(side("doc_b", "pay_b"), "doc_b"))
  }

  /** Bucket-local verification of a per-doc `(doc_id, bkeys, payload)`
    * frame: every (band, bkey) bucket collects its members' id, band
    * keys and payload once and `v`'s generator verifies the i<j member
    * pairs in place, so a payload crosses the wire once per band, never
    * once per candidate pair (the pair-join form is quadratic in
    * clone-cluster size). [[probeBuckets]] drops the singleton buckets
    * payload-free and splits off the buckets over `hotCap` members,
    * which verify through [[verifyPairs]] over their banded pairs. A
    * pair first banded in a hot bucket that also shares a later small
    * bucket comes out of both paths; the distinct over their union
    * removes it. `probeKey` keys the memoized probe — distinct inputs
    * MUST use distinct keys.
    */
  def verifyBuckets(base: DataFrame, probeKey: String, hotCap: Int,
      pruneBroadcastLimit: Long, v: Verifier): DataFrame = {
    // band keys only - the light frame for bucket sizing and hot pairs
    val light = bandRows(base, Seq("doc_id"))
    val buckets = probeBuckets(light,
      bandRows(base, Seq("doc_id", "bkeys", v.payload)),
      probeKey, hotCap, pruneBroadcastLimit)
    val small = buckets.small.groupBy(col("band"), col("bkey"))
      .agg(collect_list(struct(col("doc_id"), col("bkeys"), col(v.payload))).as("ms"))
      .select(v.bucket(col("ms"), col("band")))
    // at every tested scale the hot set is empty and the fallback
    // subplan - with its extra corpus scans - never enters the plan
    buckets.hot.fold(small) { hot =>
      val pairs = bandPairs(light.join(broadcast(hot), Seq("band", "bkey"), "left_semi"))
      small.union(verifyPairs(pairs, base, v)).distinct()
    }
  }

  /** [[probeBuckets]]' result: the payload rows to verify bucket-locally
    * and, when any bucket is over `hotCap`, the hot `(band, bkey)` keys
    * for the pair-join fallback. */
  private final case class Buckets(small: DataFrame, hot: Option[DataFrame])

  /** The bucket-size probe over a light `(band, bkey)` frame, applied to
    * a banded `payload` frame:
    *  - SINGLETON buckets (no partner, so no pair) are dropped before any
    *    payload moves: the multi-member bucket keys broadcast back as a
    *    semi-join. When that key set is itself too big to broadcast
    *    (over `pruneBroadcastLimit` — the dup-heavy regime, where most
    *    payloads are needed anyway) the prune is skipped.
    *  - buckets over `hotCap` members (boilerplate band values, the skew
    *    case) leave the payload via an anti-join and come back as
    *    [[Buckets.hot]], so a bucket-collect stays O(hotCap × payload).
    * Both counts ride ONE narrow aggregate, memoized under
    * `probeKey` + `hotCap` like the trained models: the bucket-size
    * profile is a corpus property, and re-probing on every construction
    * would re-run the signature pass each bench round. Absent subplans
    * never enter the plan.
    */
  private def probeBuckets(light: DataFrame, payload: DataFrame, probeKey: String,
      hotCap: Int, pruneBroadcastLimit: Long): Buckets = {
    val sizes = light.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"))
    val multi = sizes.filter(col("n") >= 2).select(col("band"), col("bkey"))
    val hot = sizes.filter(col("n") > hotCap).select(col("band"), col("bkey"))
    val (nMulti, nHot) = Models.cached(s"$probeKey:hotCap=$hotCap") {
      val probe = sizes.agg(
        sum(when(col("n") >= 2, 1L).otherwise(0L)),
        sum(when(col("n") > hotCap, 1L).otherwise(0L))).head()
      (java.lang.Long.valueOf(probe.getLong(0)),
        java.lang.Long.valueOf(probe.getLong(1)))
    }
    val pruned = if (nMulti <= pruneBroadcastLimit)
      payload.join(broadcast(multi), Seq("band", "bkey"), "left_semi")
    else payload
    if (nHot > 0)
      Buckets(pruned.join(broadcast(hot), Seq("band", "bkey"), "left_anti"),
        Some(hot))
    else Buckets(pruned, None)
  }

  /** Per-phase stats of the calling thread's (else the JVM's) most
    * recent [[keepListToFixpoint]], as the shared JSON row shape. */
  def lastFixpointStatsJson: String = PhaseStats.last(FixpointTag).json

  /** Per-phase stats of the calling thread's (else the JVM's) most
    * recent [[connectedComponents]] run, same shape. */
  def lastCcStatsJson: String = PhaseStats.last(CcTag).json

  /** @param docs  one row per document, keyed by its unique `doc_id`
    * @param edges verified near-dup pairs in BOTH directions, columns
    *              `src`, `dst` (same type as `doc_id`)
    * @param checkpointDir when set, every round checkpoints RELIABLY to
    *              this directory (HDFS/object store on a cluster) instead
    *              of to executor-local blocks, so losing an executor
    *              cannot silently restart the propagation chain
    * @return docs' ids with `rep` = min id of the connected component and
    *         `is_kept` = (id == rep). The result reads from the final
    *         round's pinned storage — with the default local checkpoint,
    *         consume (write/collect) before the SparkContext that
    *         produced it goes away.
    */
  def keepListToFixpoint(docs: DataFrame, edges: DataFrame,
      maxRounds: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val idType = docs.select(col("doc_id")).schema.head.dataType
    // one propagation round over the pinned edges: `prev` keeps the
    // round's input label so the fold can count changes
    def step(e: DataFrame)(state: DataFrame): DataFrame = {
      val labels = state.select(col("doc_id"), col("rep"))
      val nbr = e.join(
          labels.select(col("doc_id").as("nbr_id"), col("rep").as("nrep")),
          col("dst") === col("nbr_id"))
        .groupBy(col("src")).agg(min(col("nrep")).as("minrep"))
      labels.join(nbr, labels("doc_id") === nbr("src"), "left")
        .select(col("doc_id"), col("rep").as("prev"),
          least(col("rep"), coalesce(col("minrep"), col("rep"))).as("rep"))
    }
    val (labels, _) = Pin.iterate[Long](docs.sparkSession.sparkContext,
        FixpointTag, maxRounds, checkpointDir,
        s"keepListToFixpoint did not converge in $maxRounds rounds — " +
          "either raise maxRounds or check the edge set for corruption " +
          "(a component's propagation path can't exceed its node count)") {
      // phase 0 = prepare: pinning the edges MATERIALIZES the caller's
      // candidate-generation lineage (banding + verification run exactly
      // once, here) — so round 0's row carries that whole cost, exactly
      // the prepare-vs-rounds split a drift flag needs
      val (e, releaseE) =
        Pin.pin(edges.select(col("src"), col("dst")), checkpointDir)
      val (l, releaseL) = Pin.pin(
        docs.select(col("doc_id"), col("doc_id").as("rep")), checkpointDir)
      Pin.Start(l, releaseL, -1L, step(e), releaseE)
    }(
      // the convergence test rides in the materializing pass: a separate
      // `filter(changed).count()` would re-read the full label table once
      // more per round. The fold is DETERMINISTIC (an aggregate over the
      // pinned UnsafeRows — a retried task recomputes the same count,
      // unlike an accumulator, which could only over-count).
      fold = _.aggregate(0L)( // prev/rep share doc_id's type
        (n, r) => n + (if (r.get(1, idType) != r.get(2, idType)) 1L else 0L),
        _ + _),
      done = (round, _, changed) => round > 0 && changed == 0)
    labels.select(col("doc_id"), col("rep"))
      .withColumn("is_kept", col("doc_id") === col("rep"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the shape you ship when component DIAMETER is unknown.
    *
    * [[keepListToFixpoint]]'s min-label propagation moves a label ONE hop
    * per round, so its round count is the longest propagation path in any
    * component: a 10k-doc near-dup CHAIN (forum quote-trees, crawl
    * mirror-of-mirror chains) needs 10k rounds — at one checkpointed
    * shuffle-pair per round that is the driver's death, not the data's.
    * The star operations instead REWRITE the edge set each round:
    *
    *   large-star(u): for every neighbor v > u, emit (v, m) where
    *     m = min(N(u) ∪ {u})   — strictly-larger neighbors re-attach to
    *     the locally-smallest node, halving long chains;
    *   small-star(u): for every neighbor v ≤ u (edges oriented toward
    *     the larger endpoint), emit (v, m) and (u, m) — each node's
    *     smaller neighborhood collapses onto its minimum.
    *
    * Both emit-lists are expressed as ONE aggregation (per-node min)
    * JOINED back onto the edge list — no per-node neighbor buffering
    * anywhere, so a 10^8-member component's hub node costs a partial-agg
    * `min`, not a collect. The edge set converges to stars centered at
    * each component's minimum id in O(log n) rounds (the paper proves
    * O(log² n) for the alternating form; measured graphs converge in
    * ~log₂(longest chain) + 2). Per round (r19 restructure — see the
    * round body): ONE large-star aggregation over the stored oriented
    * edges (the old symmetric-union double-width agg is provably
    * redundant under the src > dst invariant), one left attach join
    * whose edge side reads the prior round's pinned hash(dst) layout
    * exchange-free, one small-star agg + attach join pair sharing a
    * single repartition, and one final repartition(dst)+distinct that
    * both dedups the round and lays out the next round's join input —
    * 3 exchanges over a 2-column long table that only ever SHRINKS
    * toward one edge per non-root node (was 6: sym-agg, sym-join side,
    * ls distinct, ls agg, ls join side, ss distinct) — vs propagation's
    * per-round cost on the same table but DIAMETER rounds.
    *
    * Fixpoint detection: each round's edge set is pinned (same
    * checkpoint/release discipline as [[keepListToFixpoint]] — lineage
    * would otherwise double per round), with a (count, xor-of-mixed-hash)
    * digest folded into the SAME materializing pass — one action per
    * round, no second read of the pinned blocks; the loop stops when the
    * digest matches the previous round's. The fold is deterministic
    * (retried tasks recompute identical values — no accumulator
    * over-count), and the star operations are monotone in the paper's
    * potential function, so a stabilized edge set IS the star fixpoint —
    * and a converged set re-emits itself, so an extra round can never
    * corrupt.
    *
    * Accepts edges in either or both directions; orientation, self-loop
    * removal, and dedup happen on entry. Output contract matches
    * [[keepListToFixpoint]] exactly: (doc_id, rep = component min,
    * is_kept = id == rep) — spec-locked equal on random graphs.
    */
  def connectedComponents(docs: DataFrame, edges: DataFrame,
      maxRounds: Int = 40, checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(docs, edges, maxRounds, checkpointDir)._1

  /** [[connectedComponents]], also returning the number of alternating
    * rounds that ran (for convergence-rate assertions and stress
    * accounting — a chain of length L must finish in ~log₂ L rounds, not
    * L). */
  def connectedComponentsWithRounds(docs: DataFrame, edges: DataFrame,
      maxRounds: Int = 40, checkpointDir: Option[String] = None): (DataFrame, Int) = {
    val spark = docs.sparkSession
    // orient each undirected edge once as (src > dst); tolerate single-
    // or both-direction inputs and drop self-loops. The explicit
    // repartition on dst ahead of the distinct is free (hash(dst)
    // satisfies the distinct's (src, dst) clustering, so no second
    // exchange is planned) and pins the round-input layout every
    // round's large-star attach join needs — Pin preserves it, so the
    // join's edge side never re-exchanges (r19, guide §2.4).
    val e0 = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .repartition(col("dst")).distinct()
    // pin + digest in ONE action per round: the aggregate is the first
    // action on the armed RDD, so it both materializes the checkpoint
    // and folds the edge-set digest in the same pass — no second read of
    // the pinned blocks per round. The digest is deterministic (task
    // retries recompute the same deterministic lineage / pinned blocks;
    // no accumulator over-count), XOR-folded so it is order-free over
    // the distinct pair set, and a (count, xor) PAIR so the all-zeros
    // empty case and hash cancellation both stay distinguishable.
    def mix(a: Long, b: Long): Long = {
      var h = a * 0x9E3779B97F4A7C15L + (b ^ (b >>> 31)) * 0xBF58476D1CE4E5B9L
      h ^= h >>> 27; h *= 0x94D049BB133111EBL; h ^ (h >>> 31)
    }
    def digest(rdd: RDD[InternalRow]): (Long, Long) =
      rdd.aggregate((0L, 0L))(
        (acc, r) => (acc._1 + 1L, acc._2 ^ mix(r.getLong(0), r.getLong(1))),
        (x, y) => (x._1 + y._1, x._2 ^ y._2))
    def step(e: DataFrame): DataFrame = {
      // ---- large-star: neighbors v > u re-attach to m = min(N(u) ∪ u).
      // Oriented-input simplification (r19, guide §2.3/§2.4): with
      // every stored edge (src > dst), a node's strictly-LARGER sym
      // neighbors can never contribute to its min — every incoming
      // src exceeds u — so m(u) = least(u, min outgoing dst), over
      // the stored edges alone. That deletes the symmetric union
      // (the per-round aggregation reads half the rows) and
      // collapses the emission rule to one attach join on dst: for
      // an oriented edge (s, d), the only sym pair passing the
      // v > u filter is (d, s), emitting (s, m(d)). Nodes with no
      // outgoing edge have m = themselves → left join + coalesce.
      val mins = e.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = e.join(mins, col("dst") === col("u"), "left")
        .select(col("src"), coalesce(col("m"), col("dst")).as("dst"))
      // ls is deliberately NOT deduped: min() is duplicate-
      // insensitive and the round's single distinct below covers
      // the emissions — the old per-phase distinct was one of the
      // round's six exchanges.
      // ---- small-star on the (src > dst)-oriented output: each
      // node's smaller neighborhood collapses onto its minimum.
      // Both small-star emissions — (b, m) per edge and (u, m) per
      // node — come off ONE pass over the attach join via a
      // two-element explode (the old form unioned a second read of
      // the smins subplan); duplicates and the b = m case fall to
      // the same filter + distinct.
      val smins = ls.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      ls.join(smins, col("src") === col("u"))
        .select(explode(array(
          struct(col("dst").as("src"), col("m").as("dst")),
          struct(col("src").as("src"), col("m").as("dst")))).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
        .filter(col("src") =!= col("dst"))
        // hash(dst) satisfies the distinct's clustering (one
        // exchange, not two) and is the layout the NEXT round's
        // attach join reads exchange-free through the pin
        .repartition(col("dst")).distinct()
    }
    val (e, rounds) = Pin.iterate[(Long, Long)](spark.sparkContext, CcTag,
        maxRounds, checkpointDir,
        s"connectedComponents did not converge in $maxRounds rounds — " +
          "the alternating star algorithm needs O(log n) rounds, so this " +
          "indicates edge-set corruption (e.g. NULL ids), not graph size") {
      // phase 0 = prepare: orienting + pinning e0 materializes the
      // caller's edge-derivation lineage (same prepare-cost attribution
      // as keepListToFixpoint's round 0)
      val (pinned, rdd, release) = Pin.arm(e0, checkpointDir)
      Pin.Start(pinned, release, digest(rdd), step)
    }(fold = digest, done = (round, prev, cur) => round > 0 && cur == prev)
    // converged edges are stars: every non-root node carries exactly one
    // edge to its component minimum (min(dst) guards the contract even
    // if a future edit relaxes the invariant)
    val reps = e.groupBy(col("src").as("cc_id")).agg(min(col("dst")).as("cc_rep"))
    val labels = docs.select(col("doc_id"))
      .join(reps, col("doc_id") === col("cc_id"), "left")
      .select(col("doc_id"), coalesce(col("cc_rep"), col("doc_id")).as("rep"))
      .withColumn("is_kept", col("doc_id") === col("rep"))
    (labels, rounds)
  }
}
