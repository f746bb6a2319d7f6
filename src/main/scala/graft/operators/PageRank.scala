package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Weighted damped PageRank — the graph-authority primitive a crawl
  * curation pipeline runs over its link / citation / shipment graph
  * (domain authority for source weighting, hub scoring for crawl
  * frontier priority).
  *
  * This is VALUE propagation where [[Dedup.connectedComponents]] is
  * LABEL propagation: per round every node's rank is redistributed
  * along its out-edges (proportional to edge weight) and damped
  * toward the uniform teleport distribution:
  *
  *   pr'(v) = (1-d)/N + d * Σ_{u→v} share(u,v) · pr(u),
  *   share(u,v) = w(u,v) / Σ_x w(u,x)
  *
  * Cost model per round (the 100 TB accounting): one join of the
  * pinned share table with the 2-column rank table on `src`, one
  * partial-aggregated sum shuffle on `dst`, one left join back onto
  * the node list — the same per-round discipline as
  * [[Dedup.keepListToFixpoint]] (both run on [[Pin.iterate]]): every
  * round is pinned
  * (localCheckpoint, or RELIABLE checkpoint via `checkpointDir` on a
  * real cluster) so round N's plan never replays rounds 1..N-1, and
  * the previous round's blocks are released as soon as the next is
  * materialized. The share table is computed and pinned ONCE — the
  * out-weight normalization never re-runs. The damping is fixed at
  * d = 0.85 (the q146 oracle hard-codes the same value).
  *
  * Deployment recipe for a link graph stored between runs: write it
  * bucketed by `src` (`edges.write.bucketBy(n, "src").sortBy("src")
  * .saveAsTable(name)`) and pass `spark.table(name)` to [[run]]. The
  * scan's HashPartitioning(src, n) then feeds the out-weight aggregate
  * and co-partitions the edges⋈outW join, so prepare moves no |E| rows
  * except the one dst alignment repartition (plan-locked in
  * PlanShapeSpec; measured prepare 10.23 → 6.52 s at 40M edges, PLANS.md).
  *
  * Cross-engine determinism (the repo convention — see
  * [[graft.queries.Det]]): per-edge contributions are IEEE products
  * of identically-derived doubles, canonicalized at 9 decimals via
  * the double→decimal CAST (Spark's cast and DuckDB's varchar-hop
  * cast round the same shortest decimal representation — round()
  * would disagree by one ULP at exact .5 boundaries), and summed as
  * exact decimals, so the aggregation order can't skew the total;
  * the damped update is then an IEEE chain over exact inputs, cast
  * back through decimal(20,9) — every round's rank vector is
  * bit-identical between engines, and DuckDB replays the whole
  * recursion as unrolled CTEs.
  *
  * Dangling nodes (out-degree 0) are NOT redistributed — callers
  * model an undirected random walk by passing each edge in both
  * directions (then every node with an in-edge has an out-edge and
  * no rank mass leaks beyond the damping itself).
  */
object PageRank {

  /** Per-phase instrumentation of the last [[run]]: wall plus EXACT
    * shuffle-write/spill attribution per phase (round 0 is `prepare`,
    * 1..iters the damped rounds), via the shared [[PhaseStats]]
    * job-group attribution (one implementation for every iterative
    * operator — [[Dedup]] shares it).
    */
  type RoundStat = PhaseStats.RoundStat

  private val Tag = "pagerank"

  /** Per-phase stats of the most recent [[run]] — the CALLING THREAD's
    * last run when it has one (so concurrent runs each read their own),
    * else the JVM-wide most recent. Empty before any run.
    */
  def lastRunStats: Seq[RoundStat] = PhaseStats.last(Tag).stats

  /** [[lastRunStats]] as the shared JSON row shape (Bench's q146_rounds,
    * the stress harness lines). */
  def lastRunStatsJson: String = PhaseStats.last(Tag).json

  /** d in the update above (teleport probability 1 − d). */
  private val Damping = 0.85

  /** @param edges directed weighted edges: `src`, `dst` (long), `w`
    *              (long > 0); (src, dst) pairs must be unique
    * @param iters fixed number of damped rounds, at least 1
    *              (oracle-replayable — convergence detection would make
    *              the round count data-dependent, which callers can
    *              layer on top)
    * @param checkpointDir reliable-checkpoint dir for real clusters
    *              (defaults to executor-local blocks — see [[Dedup]])
    * @return (nid, pr): one row per node that has at least one
    *         out-edge, pr rounded to 9 decimals
    */
  def run(edges: DataFrame, iters: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    // zero rounds would return the unrounded pr₀ = 1/n
    require(iters >= 1, s"PageRank needs iters >= 1, got $iters")
    Pin.iterate[Long](edges.sparkSession.sparkContext, Tag, iters,
        checkpointDir, s"PageRank ran past its $iters rounds") {
      val prep = prepare(edges, checkpointDir)
      Pin.Start(prep.pr, prep.releasePr, 0L, step(prep, _),
        () => { prep.releaseShares(); prep.releaseNodes() })
    }(fold = _.count(), done = (round, _, _) => round >= iters)._1
  }

  /** The pinned per-run frames one damped round steps over (exposed
    * `private[graft]` so PlanShapeSpec can lock the round's physical
    * plan without running the loop). Release thunks are the caller's.
    */
  private[graft] final case class Prep(shares: DataFrame, nodes: DataFrame,
      pr: DataFrame, teleport: Double, bcastRanks: Boolean,
      releaseShares: () => Unit, releaseNodes: () => Unit,
      releasePr: () => Unit)

  /** The pre-pin share table: out-weight normalization + the one dst
    * alignment repartition. Exposed `private[graft]` so PlanShapeSpec
    * can lock the BUCKETED path's physical plan (a bucketed-by-src
    * edges table feeds the `groupBy(src)` and the edges⋈outW join with
    * no |E| exchange — the only Exchange left here is the dst one).
    */
  private[graft] def sharesOf(edges: DataFrame): DataFrame = {
    val outW = edges.groupBy(col("src").as("ou")).agg(sum(col("w")).as("ow"))
    edges.join(outW, col("src") === col("ou"))
      .select(col("src"), col("dst"),
        (col("w").cast(DoubleType) / col("ow").cast(DoubleType)).as("share"))
      .repartition(col("dst"))
  }

  private[graft] def prepare(edges: DataFrame, checkpointDir: Option[String]): Prep = {
    // out-weight normalization, once: share(u,v) = w / W(u) — an IEEE
    // division of two exact longs, identical in any engine.
    // Pinned REPARTITIONED BY dst: with the rank side broadcast, each
    // round's contribution stage maps over these dst-aligned blocks,
    // so every task's partial-agg table covers exactly ITS dst range —
    // map-side combine is COMPLETE (one row per dst leaves each task)
    // and the per-round exchange carries |V| partially-summed rows
    // instead of |E| raw contributions. (AQE keeps an ENSURE_
    // REQUIREMENTS exchange above the partial agg — plan-locked — but
    // it moves the combined rows only; eliminating it entirely would
    // save |V|, not |E|.) Measured at 2M nodes / 40M edges / 5 rounds,
    // together with the UnsafeRow pin below: 156 s + 3.4 GB spill →
    // 32 s + 0.18 GB.
    val (shares, releaseShares) = Pin.pin(sharesOf(edges), checkpointDir)
    // node list pinned too: it is |V| rows derived from the |E|-row share
    // table via distinct — left lazy, every round's stepped plan would
    // re-shuffle the EDGE set just to rebuild it (measured at 2M nodes /
    // 40M edges: the unpinned form spilled 5.1 GB over 5 rounds).
    // Partitioned by nid = the contribution table's dst hash layout, so
    // the per-round left join back onto the node list is co-partitioned
    // (no exchange on either side).
    // the node-list pin and the graph-order scalar share ONE action: the
    // count IS the materializing pass on the armed checkpoint (the
    // Pin.arm discipline the per-round convergence digests already use)
    // — the former pin-then-count shape ran two jobs over the same rows
    val (nodes, nodesRdd, releaseNodes) = Pin.arm(
      shares.select(col("src").as("nid")).distinct()
        .repartition(col("nid")), checkpointDir)
    val n = nodesRdd.count() // driver scalar: graph order, not graph size
    // pr₀ is a 2-column LITERAL projection of the pinned node list — a
    // third checkpoint of it bought nothing (the first round's broadcast
    // collect re-runs the projection over the pinned blocks for the same
    // cost as reading a pinned copy); release is the no-op accordingly
    val pr = nodes.select(col("nid"), lit(1.0 / n).as("pr"))
    val releasePr = () => ()
    // rank-side join strategy: the rank table is 2 columns × |V| rows —
    // up to ~4M nodes (≈64 MB) broadcasting it makes the share⋈rank
    // join map-side over the PINNED edge blocks (no edge exchange, no
    // sort — the unhinted SMJ re-sorted all |E| rows every round).
    // Past that, a shuffle-hash hint keeps the exchange but drops the
    // per-round edge sort; on a real cluster shares would be bucketed
    // by src so only the |V|-row rank table moves (see class doc).
    Prep(shares, nodes, pr, (1.0 - Damping) / n, n <= 4000000L,
      releaseShares, releaseNodes, releasePr)
  }

  /** One damped round over the pinned frames: the per-round plan the
    * 32 s measurement rests on — broadcast rank join over the pinned
    * dst-aligned share blocks, COMPLETE map-side combine, one
    * |V|-row exchange, co-partitioned left join back onto the nodes.
    */
  private[graft] def step(prep: Prep, pr: DataFrame): DataFrame = {
    // per-edge contributions canonicalized at 9 decimals via the
    // decimal CAST (not round(): the engines' round() disagree by one
    // ULP on products landing at exact .5 boundaries; the double→
    // decimal cast is the proven cross-engine pair — see Det)
    val prSide = pr.select(col("nid").as("u"), col("pr").as("upr"))
    val contrib = prep.shares
      .join(if (prep.bcastRanks) broadcast(prSide) else prSide.hint("shuffle_hash"),
        col("src") === col("u"))
      .select(col("dst"),
        (col("upr") * col("share")).cast(DecimalType(28, 9)).as("c"))
      .groupBy(col("dst"))
      .agg(sum(col("c")).cast(DoubleType).as("s"))
    // NB oracle writers: the teleport is DOUBLE arithmetic — a plain
    // `(1.0 - 0.85) / n` in DuckDB runs in decimal (its numeric
    // literals are DECIMAL) and lands one ULP away; wrap the literals
    // in CAST(… AS DOUBLE) (see q146OracleSql)
    prep.nodes.join(contrib, col("nid") === col("dst"), "left")
      .select(col("nid"),
        (lit(prep.teleport) + lit(Damping) * coalesce(col("s"), lit(0.0)))
          .cast(DecimalType(20, 9)).cast(DoubleType).as("pr"))
  }
}
