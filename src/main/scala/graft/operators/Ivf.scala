package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** IVF coarse quantizer: deterministic k-means-lite training + assignment.
  *
  * The 100 TB shape: trained centroids are tiny (k × dim doubles) and are
  * collected to the driver once per Lloyd round — a legitimate driver-side
  * literal, exactly like [[TextOps.lshBucket]]'s hyperplanes. Assignment is
  * then ONE map-side expression (argmax of codegen'd cosines over the
  * literal centroid array): the corpus is never expanded, never joined,
  * never shuffled — `PlanShapeSpec` locks q67 to ≤1 exchange (the output
  * sort). Each Lloyd update shuffles only (cid, pos) partial sums — k·dim
  * groups, independent of corpus size. Search probes the query's
  * top-`nprobe` cells only.
  *
  * Everything is cross-engine deterministic so the DuckDB oracle can
  * replay training bit-for-bit:
  *  - seeds are the embeddings of `vec_id < k` (no RNG);
  *  - assignment ranks by cosine ROUNDED to 6 places, ties → lowest cid;
  *  - the centroid mean uses the [[graft.queries.Det]] convention — exact
  *    decimal sum of 6-dec-rounded components, divided in double — so
  *    both engines produce identical centroid vectors;
  *  - an EMPTIED cluster keeps its previous centroid (k never shrinks;
  *    the oracle replays this as a coalesce against the previous round);
  *  - both engines run EXACTLY `rounds` Lloyd iterations (unrolled CTEs
  *    on the oracle side), so convergence is irrelevant to parity.
  */
object Ivf {

  /** Driver-side centroid table: (cid, vector), sorted by cid. */
  type Centroids = Seq[(Long, Seq[Double])]

  private def litVec(cv: Seq[Double]): Column = array(cv.map(lit): _*)

  /** Past this many centroids the inlined-literal scoring expressions
    * below switch to the data-driven form: the centroid table enters the
    * plan as ONE `array<struct<cid,cv>>` `Literal` node scored via
    * `transform` + the native [[TextOps.dot]] kernel. Below it, the
    * unrolled per-centroid literal form is kept — it whole-stage-
    * codegens, which the higher-order-function form does not, and at
    * small k that fusion wins. Both forms rank by the same rounded
    * cosine with the same tie-break, so results are bit-identical
    * (spec-locked); only the ENCODING changes. The unrolled tree is
    * O(k·dim) expression nodes and stops compiling past k ≈ 10³; the
    * literal-payload tree is O(1) nodes at any k.
    */
  private[graft] val InlineFormMaxK = 64

  /** `array<struct<ncos,cid>>` scored against `emb` — negated rounded
    * cosine first so an ascending `array_sort` ranks (cos desc, cid asc).
    * Inline form: one expression subtree per centroid (whole-stage-
    * codegens; O(k·dim) tree nodes).
    */
  private[graft] def rankedCellsInline(cents: Centroids, emb: Column): Column =
    array(cents.map { case (cid, cv) =>
      struct((-TextOps.cosine(emb, litVec(cv))).as("ncos"),
        lit(cid).as("cid"))
    }: _*)

  /** [[rankedCellsInline]]'s data-driven twin: the centroid table enters
    * the plan as ONE `array<struct<_1,_2>>` `Literal` node scored via
    * `transform` — O(1) tree nodes at any k (a literal's payload is
    * data, not code). Bit-identical results (spec-locked).
    */
  private[graft] def rankedCellsData(cents: Centroids, emb: Column): Column =
    transform(typedLit(cents.map { case (cid, cv) => (cid, cv) }), c =>
      struct((-TextOps.cosine(emb, c.getField("_2"))).as("ncos"),
        c.getField("_1").as("cid")))

  private[graft] def rankedCells(cents: Centroids, emb: Column): Column =
    if (cents.size <= InlineFormMaxK) rankedCellsInline(cents, emb)
    else rankedCellsData(cents, emb)

  /** The argmax `struct<cos,ncid,cid>` against `emb` — `array_max` ranks
    * (cos desc, cid asc) via the negated-cid field. Same inline/data
    * encoding split as [[rankedCells]].
    */
  private[graft] def bestStructInline(cents: Centroids, emb: Column): Column =
    array_max(array(cents.map { case (cid, cv) =>
      struct(TextOps.cosine(emb, litVec(cv)).as("cos"),
        lit(-cid).as("ncid"), lit(cid).as("cid"))
    }: _*))

  private[graft] def bestStructData(cents: Centroids, emb: Column): Column =
    array_max(transform(typedLit(cents.map { case (cid, cv) => (cid, cv) }),
      c => struct(TextOps.cosine(emb, c.getField("_2")).as("cos"),
        (-c.getField("_1")).as("ncid"), c.getField("_1").as("cid"))))

  private[graft] def bestStruct(cents: Centroids, emb: Column): Column =
    if (cents.size <= InlineFormMaxK) bestStructInline(cents, emb)
    else bestStructData(cents, emb)

  /** Deterministic seed centroids: the embeddings of `vec_id < k`. */
  def seedCentroids(e: DataFrame, k: Int): DataFrame =
    e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))

  /** Collect a (cid, cv) frame to the driver (k·dim doubles — tiny). */
  def collectCentroids(cents: DataFrame): Centroids =
    cents.select(col("cid").cast("long"), col("cv").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1).toSeq

  /** Nearest-centroid assignment: argmax rounded cosine, ties → lowest
    * cid. Centroids are literals, so this is a single map-side projection
    * over the corpus — zero joins, zero shuffles (the struct max ranks by
    * (cos desc, cid asc) via the negated-cid field).
    */
  def assign(e: DataFrame, cents: Centroids): DataFrame =
    e.select(col("vec_id"), col("embedding"),
        bestStruct(cents, col("embedding")).as("best"))
      .select(col("vec_id"), col("embedding"),
        col("best.cid").as("cid"), col("best.cos").as("cos"))

  /** Element-wise mean `cv` of the array column `vec` per cluster
    * `keys` (Ivf: `cid`; Pq: `(m, cid)`). Components are rounded to 6
    * decimals and summed as exact decimals (Det.davg pattern) → the
    * division is the same IEEE op in both engines. Partial aggregation
    * collapses each task's contribution to ≤ clusters·dim partial sums
    * before the exchange.
    */
  private[operators] def clusterMeans(assigned: DataFrame, keys: Seq[String],
      vec: String): DataFrame = {
    val k = keys.map(col)
    assigned.select(k :+ posexplode(col(vec)): _*)
      .groupBy(k :+ col("pos"): _*)
      .agg((sum(round(col("col").cast(DoubleType), 6).cast(DecimalType(24, 6)))
        .cast(DoubleType) / count(lit(1))).as("mean"))
      .groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(k :+ transform(col("pm"), x => x.getField("mean")).as("cv"): _*)
  }

  /** `rounds` unrolled Lloyd iterations from the deterministic seeds.
    * A cluster that receives no points keeps its previous centroid, so
    * the trained quantizer always has exactly `k` cells.
    */
  def train(e: DataFrame, k: Int, rounds: Int): Centroids = {
    var c = collectCentroids(seedCentroids(e, k))
    for (_ <- 1 to rounds) {
      val means = collectCentroids(clusterMeans(assign(e, c), Seq("cid"), "embedding")).toMap
      c = c.map { case (cid, cv) => cid -> means.getOrElse(cid, cv) }
    }
    c
  }

  /** The flat argmax cid as a composable map-side expression (the same
    * ranking as [[assign]]: rounded cosine desc, ties → lowest cid).
    * Declared non-null, which it is (the argmax of a non-empty array of
    * non-null structs, whatever the embedding): a join on a nullable
    * cid infers an `isnotnull` filter that the optimizer pushes below the
    * projection, so the k cosines would run twice per row.
    */
  def bestCell(cents: Centroids, emb: Column): Column = {
    require(cents.nonEmpty, "bestCell needs at least one centroid")
    GraftSqlBridge.column(KnownNotNull(
      GraftSqlBridge.expression(bestStruct(cents, emb).getField("cid"))))
  }

  /** The trained centroid table as a (vec_id, embedding) frame, so the
    * centroids themselves can be [[train]]ed over — the input to the
    * two-level quantizer below.
    */
  def centroidsAsDF(spark: org.apache.spark.sql.SparkSession,
      cents: Centroids): DataFrame = {
    import spark.implicits._
    cents.toDF("vec_id", "embedding")
  }

  /** Coarse grouping of a trained quantizer: Lloyd over the CENTROIDS
    * (they are just a tiny (id, vector) table — [[train]] reused
    * verbatim), plus the map from each centroid to its coarse cell.
    * Both artifacts are driver-side literals, k×dim and k longs.
    */
  def coarsen(spark: org.apache.spark.sql.SparkSession, cents: Centroids,
      k1: Int, rounds: Int): (Centroids, Map[Long, Long]) = {
    val cdf = centroidsAsDF(spark, cents)
    val coarse = train(cdf, k1, rounds)
    val coarseOf = assign(cdf, coarse)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (coarse, coarseOf)
  }

  /** Two-level (recursive IVF) assignment — the large-k scale path named
    * in PLANS.md's dial table. A flat argmax over k literal centroids
    * costs k cosines per row and stops being a sane single expression
    * past k ≈ 10³. Here level 1 picks the nearest COARSE centroid (k1
    * cosines, restricted to coarse cells that own at least one centroid),
    * and level 2 argmaxes over ONLY that cell's member centroids — per
    * row k1 + nprobe·|cell| ≈ 2√k cosines instead of k. Still one
    * map-side projection: the corpus is never expanded, joined, or
    * shuffled. The result is the standard IVF approximation: exact
    * whenever the true nearest centroid's coarse cell wins level 1
    * (q134 reads out the agreement rate against [[assign]]).
    *
    * ENCODING, deliberately data-not-code: both model artifacts enter
    * the plan as SINGLE `Literal` nodes — the live coarse table as one
    * `array<struct<ccid,cv>>` literal, the member index as one
    * `map<ccid, array<struct<cid,cv>>>` literal — and the scoring is
    * `transform`/`array_max` over them with the native [[TextOps.dot]]
    * kernel doing the per-element work. The expression TREE is O(1)
    * nodes regardless of k/k1 (a literal's payload is data, not code),
    * so the operator compiles unchanged at the k≈10⁶·k1≈10³ the dial
    * table prescribes for 100 TB; per-row evaluated cost stays
    * k1 + nprobe·|cell|. (The previous form inlined every member
    * centroid as expression literals under a C(k1,nprobe)-branch
    * when-chain — ~O(k·k1·dim) tree nodes, uncompilable past k≈10³.)
    * Multi-probe needs no probe-set dispatch at all: argmax over the
    * union of probed cells == max of the per-cell argmaxes under the
    * same (cos desc, cid asc) comparator, so level 2 is a transform
    * over the probed ccids with one `element_at` map lookup each.
    */
  /** Past this many member-payload BYTES the literal encoding delegates
    * to [[assignTwoLevelBc]]: a Literal's payload serializes into every
    * stage's task binary, and ~4 MB is where that starts to dominate
    * scheduler traffic (Spark warns at 1 MB). Below it the literal form
    * is kept so plans stay self-contained (no broadcast lifecycle).
    * The two transports are bit-identical (IvfSpec lock), so this
    * dispatch is semantics-free; callers at known-huge k can call
    * [[assignTwoLevelBc]] directly.
    */
  private[graft] val LiteralPayloadMaxBytes = 4L << 20

  def assignTwoLevel(e: DataFrame, cents: Centroids, coarse: Centroids,
      coarseOf: Map[Long, Long], nprobe: Int = 1): DataFrame = {
    val payloadBytes = cents.iterator
      .map { case (_, cv) => 8L + 8L * cv.length }.sum
    if (payloadBytes > LiteralPayloadMaxBytes)
      return assignTwoLevelBc(e, cents, coarse, coarseOf, nprobe)
    val members: Map[Long, Seq[(Long, Seq[Double])]] =
      cents.groupBy { case (cid, _) => coarseOf(cid) }
    // level 1 ranks the non-empty coarse cells only (an emptied coarse
    // cell has no members to argmax at level 2); multi-probe takes the
    // top `nprobe` — the standard IVF recall knob (probe 2 cells ⇒
    // near-boundary vectors recover their true nearest centroid)
    val live = coarse.filter { case (ccid, _) => members.contains(ccid) }
    val memberLit = typedLit(members)
    val probed = slice(array_sort(rankedCells(live, col("embedding"))),
      1, math.min(nprobe, live.size))
    // level 2: the winning (cos, ncid, cid) struct within one probed
    // cell — a map lookup plus |cell| native cosines
    def cellBest(ccid: Column): Column =
      array_max(transform(element_at(memberLit, ccid), m =>
        struct(TextOps.cosine(col("embedding"), m.getField("_2")).as("cos"),
          (-m.getField("_1")).as("ncid"), m.getField("_1").as("cid"))))
    e.select(col("vec_id"), col("embedding"), probed.as("probed"))
      .select(col("vec_id"), col("embedding"),
        element_at(col("probed"), 1).getField("cid").as("ccid"),
        array_max(transform(col("probed"), p => cellBest(p.getField("cid"))))
          .as("best"))
      .select(col("vec_id"), col("embedding"), col("ccid"),
        col("best.cid").as("cid"), col("best.cos").as("cos"))
  }

  /** [[assignTwoLevel]] with the member index riding a real
    * `Broadcast` variable instead of the plan — the huge-k tier. The
    * `typedLit` encoding above keeps the expression TREE O(1) nodes, but
    * the literal's PAYLOAD still serializes into each stage's task
    * binary: O(k·dim) bytes (512 KB at k=10³ — Spark already logs the
    * large-task-binary warning there — 0.5–13 GB at the k≈10⁶–10⁷ the
    * dial table prescribes for 10¹¹ vectors). Here level 2's member
    * table is a torrent-broadcast fetched once per EXECUTOR and shared
    * by its tasks ([[graft.functions.CellArgmaxBroadcast]] serializes
    * only the handle), with member norms precomputed at build — the
    * same lifecycle as a broadcast-hash-join relation but still one
    * map-side projection: no join, no corpus expansion, no
    * re-aggregation exchange. Level 1's coarse table stays a literal
    * payload (k1 ≈ √k ⇒ ~2.5 MB at k=10⁷ — task-binary-safe).
    * Bit-identical to [[assignTwoLevel]] (spec-locked).
    */
  def assignTwoLevelBc(e: DataFrame, cents: Centroids, coarse: Centroids,
      coarseOf: Map[Long, Long], nprobe: Int = 1): DataFrame = {
    val members: Map[Long, Seq[(Long, Seq[Double])]] =
      cents.groupBy { case (cid, _) => coarseOf(cid) }
    val live = coarse.filter { case (ccid, _) => members.contains(ccid) }
    val bc = e.sparkSession.sparkContext.broadcast(
      members.map { case (cc, ms) =>
        cc -> graft.functions.CellMembers.build(ms)
      })
    val probed = slice(array_sort(rankedCells(live, col("embedding"))),
      1, math.min(nprobe, live.size))
    e.select(col("vec_id"), col("embedding"), probed.as("probed"))
      .select(col("vec_id"), col("embedding"),
        element_at(col("probed"), 1).getField("cid").as("ccid"),
        array_max(transform(col("probed"), p =>
          graft.functions.BroadcastArgmax.cellArgmax(bc,
            p.getField("cid"), col("embedding"))))
          .as("best"))
      .select(col("vec_id"), col("embedding"), col("ccid"),
        col("best.cid").as("cid"), col("best.cos").as("cos"))
  }

  /** The query vector's top-`nprobe` cells by rounded cosine (multi-probe:
    * rank 1 is the home cell, rank 2+ recover near-boundary neighbors).
    * Also map-side: sort the literal-scored array (negated cosine →
    * ascending sort ranks cos desc, ties cid asc), take `nprobe`.
    */
  def probeCells(queryVec: DataFrame, cents: Centroids, nprobe: Int): DataFrame =
    queryVec.select(col("qid"), col("qv"),
        explode(slice(array_sort(rankedCells(cents, col("qv"))), 1, nprobe))
          .as("pc"))
      .select(col("qid"), col("qv"), col("pc.cid").as("cid"))
}
