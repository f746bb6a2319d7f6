package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Ivf

/** Streaming cluster-scoped semantic near-dup — q132's continuous-ingest
  * form (the embedding analogue of [[DocsStream]]'s MinHash path).
  *
  * Per micro-batch the trained IVF assignment runs MAP-SIDE (the same
  * literal-centroid argmax as the batch query — zero shuffle before the
  * state store), then keyed state per CELL holds up to `cap` exemplar
  * vectors. An arriving vector within cosine >= tau of any stored
  * exemplar is emitted as a near-dup of the first (lowest-id) match;
  * otherwise it becomes a new exemplar while the cell has room.
  *
  * Scale shape: state is k × cap × dim doubles BY CONSTRUCTION —
  * independent of stream length, the bound q132's batch form gets from
  * the corpus being finite. The trade is leader-clustering semantics
  * (greedy against KEPT exemplars, in arrival order) rather than q132's
  * any-lower-id-pair semantics: a vector admitted only because the cap
  * was full never drops later arrivals near it. `ttlMs` bounds the
  * horizon exactly as [[DocsStream.nearDupCandidates]]: an idle cell
  * expires wholesale and its next vector re-seeds it.
  *
  * Ordering contract (same as DocsStream): emission matches the batch
  * twin when vec_ids arrive in increasing order; within a micro-batch
  * the handler sorts, so only cross-batch id-order regressions diverge.
  */
object EmbedStream {

  /** File-source stream over a directory of embeddings parquet. */
  def readStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(graft.queries.Tables.schema("embeddings"))
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)

  /** Scalar twin of [[graft.operators.TextOps.cosine]] (6-dec HALF_UP),
    * so handler emissions agree bit-for-bit with the batch expressions.
    */
  private[graft] def cosScalar(a: Seq[Double], b: Seq[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Cap-overflow admissions: vectors that matched no exemplar AND found
    * their cell full — admitted with NO dedup memory (the documented
    * leader-clustering trade at the cap boundary). Silent, that trade
    * lets a mis-sized cap degrade recall invisibly; this per-session
    * named accumulator makes it a number an operator can alarm on
    * (visible in the UI / StreamingQueryProgress custom metrics path,
    * and read directly via [[capOverflows]]`.value`). One accumulator
    * per SparkContext — micro-batches add task-side, values merge
    * driver-side across the stream's lifetime.
    */
  private val overflowAccs = new AppAccRegistry("embedstream.cap_overflow")
  def capOverflows(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    overflowAccs.get(spark)

  /** Applications with a live accumulator entry — see
    * [[DocsStream.trackedAccApps]]. */
  private[graft] def trackedAccApps: Int = overflowAccs.trackedCount

  /** Emits (vec_id, cid, dup_of, cosine) for each vector within `tau`
    * of a stored exemplar in its cell. Works on batch frames too (the
    * batch twin used by the parity spec). State per cell: up to `cap`
    * (id, vector) exemplars.
    *
    * `twoLevel = Some((coarse, coarseOf, nprobe))` routes the map-side
    * cell assignment through [[Ivf.assignTwoLevel]] — the same dial as
    * the batch q132 pipeline: past k ≈ 10³ the flat argmax pays k
    * cosines per arriving vector, two-level pays k1 + nprobe·|cell|.
    * Only WHICH cell a near-boundary vector lands in can change (the
    * standard IVF approximation); the exemplar state machine, the cap
    * law, and the k-rows state bound are untouched.
    */
  def semanticNearDup(stream: DataFrame, cents: Ivf.Centroids, tau: Double,
      cap: Int, ttlMs: Long = 0L,
      twoLevel: Option[(Ivf.Centroids, Map[Long, Long], Int)] = None): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val overflow = capOverflows(spark)
    twoLevel.fold(Ivf.assign(stream, cents)) {
        case (coarse, coarseOf, nprobe) =>
          Ivf.assignTwoLevel(stream, cents, coarse, coarseOf, nprobe)
      }
      .select(col("cid"), col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Long, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Seq[Double])], (Long, Long, Long, Double)](
        OutputMode.Append, DocsStream.timeoutConf(ttlMs)) {
        case (cid, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // id order within the batch — emission is deterministic and
            // independent of partition iteration order
            val arr = rows.toArray.sortBy(_._2)
            var exemplars = state.getOption.getOrElse(Seq.empty).toVector
            val out = Array.newBuilder[(Long, Long, Long, Double)]
            arr.foreach { case (_, id, v) =>
              // first (lowest-id) exemplar within tau — exemplars are
              // appended in id order, so the scan order IS id order
              exemplars.iterator
                .map { case (eid, ev) => (eid, cosScalar(ev, v)) }
                .find(_._2 >= tau) match {
                case Some((eid, c)) => out += ((id, cid, eid, c))
                case None =>
                  if (exemplars.length < cap) exemplars :+= (id, v)
                  // admitted without memory — the documented leader-
                  // clustering recall trade at the cap boundary, COUNTED
                  // so a mis-sized cap is observable, not silent
                  else overflow.add(1L)
              }
            }
            state.update(exemplars)
            if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
            out.result().iterator
          }
      }
      .toDF("vec_id", "cid", "dup_of", "cosine")
  }
}
