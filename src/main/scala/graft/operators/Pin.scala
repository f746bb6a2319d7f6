package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** Shared Dataset-level round pin and round loop ([[iterate]]) for the
  * iterative operators ([[PageRank]], [[Dedup]]): each round
  * checkpoints as compact UnsafeRow blocks — measured ~3× smaller than
  * the boxed-Row `df.rdd` pin at PageRank's 40M-edge share table, which
  * is what pushed the per-round aggregation into spill — and the
  * resulting `LogicalRDD` PRESERVES output partitioning, so a
  * `repartition(col)` laid down before the pin survives into every
  * subsequent round's plan instead of being re-shuffled.
  *
  * Two forms: [[pin]] materializes eagerly (count); [[arm]] leaves
  * materialization to the CALLER's one action on the internal RDD, so a
  * per-round convergence digest can fold into the same pass that writes
  * the checkpoint — one read of the round's data, not two.
  *
  * `checkpointDir = Some(dir)` switches from executor-local blocks to
  * RELIABLE `RDD.checkpoint()` (HDFS/object store on a real cluster, so
  * executor loss can't silently restart an iteration chain). Reliable
  * checkpoints compute the RDD twice — the materializing action, then
  * `doCheckpoint`'s file-writing job — unless cached, so the reliable
  * path persists MEMORY_AND_DISK first; the cache doubles as the next
  * round's fast read and is dropped by the release thunk.
  */
private[graft] object Pin {

  private val warnedSubstitutions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Arm a pin WITHOUT materializing. Returns the checkpoint-backed
    * frame, the armed internal RDD — run EXACTLY ONE action on it to
    * materialize, folding any convergence stat into that pass — and the
    * release thunk (unpersist + reliable-file delete; call only once
    * the NEXT round is materialized, since its checkpoint truncated the
    * lineage that could recompute through the deleted files).
    */
  def arm(df: DataFrame, checkpointDir: Option[String])
      : (DataFrame, RDD[InternalRow], () => Unit) = {
    val sc = df.sparkSession.sparkContext
    val pinned = checkpointDir match {
      case Some(dir) =>
        sc.getCheckpointDir match {
          case None => sc.setCheckpointDir(dir)
          case Some(existing) =>
            // setCheckpointDir appends a UUID; a context-level dir set
            // by someone else silently wins over the argument — make
            // the substitution LOUD (once per requested dir) so rounds
            // don't checkpoint to a location the caller never chose
            val want = new org.apache.hadoop.fs.Path(dir).toUri.getPath
            if (!existing.contains(want) && warnedSubstitutions.add(dir))
              System.err.println(s"[pin] WARNING: SparkContext " +
                s"checkpoint dir is already '$existing'; requested " +
                s"'$dir' is ignored — rounds checkpoint to the existing dir")
        }
        df.checkpoint(eager = false)
      case None => df.localCheckpoint(eager = false)
    }
    val rdd = org.apache.spark.sql.GraftSqlBridge.checkpointedRdd(pinned)
      .asInstanceOf[RDD[InternalRow]]
    if (checkpointDir.isDefined) rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // Break attribute lineage: the LogicalRDD keeps the source plan's
    // exprIds and rewritten constraints, so a pin UNIONED with a plan
    // sharing its ancestry (q130's star-edges-from-prior-labels shape)
    // collides exprIds across the union branches and constraint
    // rewriting dies with "key not found: <attr>". A rename-to-self
    // Project mints fresh exprIds and drops any constraint that no
    // longer references the output, while ProjectExec's alias-aware
    // output partitioning carries the pinned layout through (the
    // exchange-elision PageRank's per-round plan rests on).
    val rebased = pinned.select(
      pinned.columns.map(c => org.apache.spark.sql.functions.col(c).as(c)): _*)
    val release = () => {
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { f =>
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
        } catch { case NonFatal(_) => () } // cleanup must never fail the job
      }
    }
    (rebased, rdd, release)
  }

  /** Arm + materialize (count): the plain eager pin. */
  def pin(df: DataFrame, checkpointDir: Option[String])
      : (DataFrame, () => Unit) = {
    val (pinned, rdd, release) = arm(df, checkpointDir)
    rdd.count()
    (pinned, release)
  }

  /** What an operator's phase 0 hands [[iterate]]: round 0's frame, its
    * release thunk and fold value, the one-round `step` over the inputs
    * the prepare pinned, and the release of those inputs (run when the
    * loop ends, converged or not).
    */
  final case class Start[S](state: DataFrame, release: () => Unit, stat: S,
      step: DataFrame => DataFrame, releaseInputs: () => Unit = () => ())

  /** The pinned-round loop of the iterative operators. Phase 0 runs
    * `prepare`. Each round r ≥ 1 arms `step(round r−1)` and materializes
    * it with ONE action, `fold` over the armed rows, so a convergence
    * stat rides in the pass that writes the checkpoint. Round r−1 is
    * released only then (round r's checkpoint truncated the lineage
    * through it). At each round boundary `done(r, stat r−1, stat r)`
    * decides (round 0 passes its own stat twice). Still not done after
    * `maxRounds`, the loop releases its last round and fails with
    * `notConverged`; on success the last round's storage survives, since
    * the returned frame reads from it. Every phase runs under
    * [[PhaseStats]], and the finished run is `PhaseStats.last(tag)`.
    * Checkpointing every round is what keeps round N's plan from
    * replaying rounds 1..N−1 (the plan would double per round).
    * @return the last round's pinned frame and the number of rounds
    */
  def iterate[S](sc: SparkContext, tag: String, maxRounds: Int,
      checkpointDir: Option[String], notConverged: => String)(
      prepare: => Start[S])(
      fold: RDD[InternalRow] => S, done: (Int, S, S) => Boolean)
      : (DataFrame, Int) = {
    val run = PhaseStats.start(sc, tag)
    try {
      val start = run.phase(0)(prepare)
      var (state, release, prev, stat) =
        (start.state, start.release, start.stat, start.stat)
      var round = 0
      try {
        while (!done(round, prev, stat)) {
          if (round >= maxRounds) {
            release()
            throw new IllegalArgumentException(notConverged)
          }
          round += 1
          val (next, releaseNext, nextStat) = run.phase(round) {
            val (pinned, rdd, rel) = arm(start.step(state), checkpointDir)
            (pinned, rel, fold(rdd))
          }
          release()
          state = next; release = releaseNext; prev = stat; stat = nextStat
        }
      } finally start.releaseInputs()
      run.finish()
      (state, round)
    } catch { case t: Throwable => run.abort(); throw t }
  }
}
