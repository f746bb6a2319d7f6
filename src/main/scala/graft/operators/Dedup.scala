package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

/** Cluster-representative selection for near-dup keep-lists (the step
  * after candidate generation + verification — see
  * `graft.queries.PipelineQueries` q72/q87).
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

  /** Per-phase stats of the calling thread's (else the JVM's) most
    * recent [[keepListToFixpoint]], as the shared JSON row shape. */
  def lastFixpointStatsJson: String = PhaseStats.last(FixpointTag).json

  /** Per-phase stats of the calling thread's (else the JVM's) most
    * recent [[connectedComponents]] run, same shape. */
  def lastCcStatsJson: String = PhaseStats.last(CcTag).json

  /** @param docs  one row per document; `idCol` must be its unique id
    * @param edges verified near-dup pairs in BOTH directions, columns
    *              `src`, `dst` (same type as `idCol`)
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
  def keepListToFixpoint(docs: DataFrame, edges: DataFrame, idCol: String = "doc_id",
      maxRounds: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    val idType = docs.select(col(idCol)).schema.head.dataType
    // one propagation round over the pinned edges: `prev` keeps the
    // round's input label so the fold can count changes
    def step(e: DataFrame)(state: DataFrame): DataFrame = {
      val labels = state.select(col(idCol), col("rep"))
      val nbr = e.join(
          labels.select(col(idCol).as("nbr_id"), col("rep").as("nrep")),
          col("dst") === col("nbr_id"))
        .groupBy(col("src")).agg(min(col("nrep")).as("minrep"))
      labels.join(nbr, labels(idCol) === nbr("src"), "left")
        .select(col(idCol), col("rep").as("prev"),
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
        docs.select(col(idCol), col(idCol).as("rep")), checkpointDir)
      Pin.Start(l, releaseL, -1L, step(e), releaseE)
    }(
      // the convergence test rides in the materializing pass: a separate
      // `filter(changed).count()` would re-read the full label table once
      // more per round. The fold is DETERMINISTIC (an aggregate over the
      // pinned UnsafeRows — a retried task recomputes the same count,
      // unlike an accumulator, which could only over-count).
      fold = _.aggregate(0L)( // prev/rep share idCol's type
        (n, r) => n + (if (r.get(1, idType) != r.get(2, idType)) 1L else 0L),
        _ + _),
      done = (round, _, changed) => round > 0 && changed == 0)
    labels.select(col(idCol), col("rep")).withColumn("is_kept", col(idCol) === col("rep"))
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
    * [[keepListToFixpoint]] exactly: (idCol, rep = component min,
    * is_kept = id == rep) — spec-locked equal on random graphs.
    */
  def connectedComponents(docs: DataFrame, edges: DataFrame,
      idCol: String = "doc_id", maxRounds: Int = 40,
      checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsWithRounds(docs, edges, idCol, maxRounds, checkpointDir)._1

  /** [[connectedComponents]], also returning the number of alternating
    * rounds that ran (for convergence-rate assertions and stress
    * accounting — a chain of length L must finish in ~log₂ L rounds, not
    * L). */
  def connectedComponentsWithRounds(docs: DataFrame, edges: DataFrame,
      idCol: String = "doc_id", maxRounds: Int = 40,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
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
    val labels = docs.select(col(idCol))
      .join(reps, col(idCol) === col("cc_id"), "left")
      .select(col(idCol), coalesce(col("cc_rep"), col(idCol)).as("rep"))
      .withColumn("is_kept", col(idCol) === col("rep"))
    (labels, rounds)
  }
}
