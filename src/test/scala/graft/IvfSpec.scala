package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ivf, TextOps}
import graft.queries.Tables

/** Trained-IVF quality gate: 2 Lloyd rounds + top-2 multi-probe must not
  * lose recall versus the untrained seed quantizer with a single probe —
  * the training has to pay for itself on real retrieval, not just produce
  * different centroids.
  */
class IvfSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val nQueries = 20

  private lazy val e = Tables(spark, dir, "embeddings").cache()

  // the cache is plan-keyed, so leaving it would silently substitute an
  // InMemoryRelation into every later suite's embeddings scan and break
  // their pushdown/pruning plan locks (PlanShapeSpec q119)
  override def afterAll(): Unit = {
    e.unpersist(blocking = false)
    super.afterAll()
  }

  private def queries: DataFrame =
    e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  private def topSets(scored: DataFrame): Map[Long, Set[Long]] = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id")).collect()
      .groupBy(_.getAs[Number](0).longValue)
      .view.mapValues(_.map(_.getAs[Number](1).longValue).toSet).toMap
  }

  /** Brute-force cosine top-10 per query — the ground truth. */
  private lazy val truth: Map[Long, Set[Long]] = topSets(
    e.crossJoin(queries).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        TextOps.cosine(col("embedding"), col("qv")).as("cosine")))

  private def ivfTop(cents: Ivf.Centroids, nprobe: Int): Map[Long, Set[Long]] = {
    val cells = Ivf.probeCells(queries, cents, nprobe)
      .select(col("qid"), col("qv"), col("cid").as("qcid"))
    topSets(Ivf.assign(e, cents)
      .join(cells, col("cid") === col("qcid") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        TextOps.cosine(col("embedding"), col("qv")).as("cosine")))
  }

  private def recall(got: Map[Long, Set[Long]]): Map[Long, Double] =
    (0L until nQueries.toLong).map { q =>
      q -> got.getOrElse(q, Set.empty).intersect(truth(q)).size / 10.0
    }.toMap

  test("trained top-2-probe recall@10 >= untrained single-probe on >= 0.8 of queries") {
    val trained = recall(ivfTop(Ivf.train(e, 8, 2), nprobe = 2))
    val baseline = recall(ivfTop(Ivf.collectCentroids(Ivf.seedCentroids(e, 8)), nprobe = 1))
    val wins = (0L until nQueries.toLong).count(q => trained(q) >= baseline(q))
    info(s"mean recall trained+2probe = ${trained.values.sum / nQueries}, " +
      s"seed+1probe = ${baseline.values.sum / nQueries}, ties-or-wins = $wins/$nQueries")
    assert(wins >= (0.8 * nQueries).toInt,
      s"trained recall ${trained.toSeq.sorted} vs baseline ${baseline.toSeq.sorted}")
    assert(trained.values.sum >= baseline.values.sum,
      "training must not reduce aggregate recall")
  }

  test("lloyd update keeps k centroids of dim 64 on this data") {
    val c = Ivf.train(e, 8, 2)
    assert(c.length == 8, s"clusters emptied: ${c.length}")
    c.foreach { case (_, cv) => assert(cv.length == 64) }
  }

  test("an emptied cluster keeps its previous centroid (k never shrinks)") {
    import spark.implicits._
    // seed 3 duplicates seed 0, so every point that ties between cid 0 and
    // cid 3 resolves to the LOWER cid — cluster 3 receives no points and
    // must survive the Lloyd round with its seed vector intact
    val vecs = Seq(
      0L -> Array(1.0f, 0.0f), 1L -> Array(0.0f, 1.0f),
      2L -> Array(-1.0f, 0.1f), 3L -> Array(1.0f, 0.0f),
      4L -> Array(0.9f, 0.1f), 5L -> Array(0.1f, 0.9f),
      6L -> Array(-0.9f, 0.2f), 7L -> Array(0.8f, 0.2f))
    val adversarial = vecs.toDF("vec_id", "embedding")
    // while cid 0 and cid 3 are identical (the seed round), the tie-break
    // shadows cluster 3 completely
    val seeds = Ivf.collectCentroids(Ivf.seedCentroids(adversarial, 4))
    val seedCids = Ivf.assign(adversarial, seeds)
      .select("cid").distinct().collect().map(_.getLong(0)).toSet
    assert(!seedCids.contains(3L), s"tie-break must prefer the lower cid: $seedCids")
    val trained = Ivf.train(adversarial, 4, 1)
    assert(trained.length == 4, s"k shrank: ${trained.map(_._1)}")
    val c3 = trained.find(_._1 == 3L).get._2
    assert(c3 == Seq(1.0, 0.0), s"empty cluster 3 must keep its seed, got $c3")
  }

  test("bestCell is non-nullable and agrees across the inline and data forms") {
    val cents = Ivf.train(e, 8, 2)
    // 57 half-length copies of cell 0: the same rounded cosines, so the
    // lowest-cid tie-break keeps every assignment while k > InlineFormMaxK
    val wide = cents ++ (8L until 65L).map(i => i -> cents.head._2.map(_ * 0.5))
    def cells(c: Ivf.Centroids) = {
      val df = e.select(col("vec_id"), Ivf.bestCell(c, col("embedding")).as("cid"))
      assert(!df.schema("cid").nullable)
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    assert(cells(wide) == cells(cents))
  }

  test("inline and data-driven scoring encodings are bit-identical") {
    // the size-threshold dispatch in rankedCells/bestStruct must be
    // semantics-free: the data-driven form (one Literal payload +
    // transform) has to reproduce the codegen'd inline form row-for-row,
    // including rounded-cosine ties — otherwise the k > InlineFormMaxK
    // regime silently changes assignments
    val cents = Ivf.train(e, 8, 2)
    def viaForm(f: (Ivf.Centroids, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): Seq[(Long, Long, Double)] =
      e.select(col("vec_id"), f(cents, col("embedding")).as("best"))
        .select(col("vec_id"), col("best.cid"), col("best.cos"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
    assert(viaForm(Ivf.bestStructInline) == viaForm(Ivf.bestStructData))
    def rankedForm(f: (Ivf.Centroids, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column): Seq[(Long, Seq[Long])] =
      e.select(col("vec_id"),
          transform(slice(array_sort(f(cents, col("embedding"))), 1, 3),
            p => p.getField("cid")).as("top"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
        .sortBy(_._1).toSeq
    assert(rankedForm(Ivf.rankedCellsInline) == rankedForm(Ivf.rankedCellsData))
  }

  test("two-level assignment at k=80 (past InlineFormMaxK) matches a " +
      "scalar mirror — the data-driven encoding carries the large-k path") {
    // k=80 > InlineFormMaxK forces BOTH levels through the single-Literal
    // form (training included); the scalar mirror re-derives level 1 over
    // live coarse cells and level 2 over the union of the 2 probed cells'
    // members, so this locks the exact semantics at the scale regime the
    // operator exists for — the regime the old C(k1,nprobe) literal
    // when-chain could not compile
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cents = Ivf.train(e, 80, 2)
    val (coarse, coarseOf) = Ivf.coarsen(spark, cents, 9, 2)
    val members = cents.groupBy { case (cid, _) => coarseOf(cid) }
    val live = coarse.filter { case (ccid, _) => members.contains(ccid) }
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val expected = vecs.map { case (id, v) =>
      val ranked = live.map { case (ccid, cv) => (-cos(cv, v), ccid) }.sorted
      val probed = ranked.take(2).map(_._2)
      val cid = probed.flatMap(members(_))
        .map { case (c, cv) => (cos(cv, v), -c, c) }.max._3
      (id, probed.head, cid)
    }.toSet
    val got = Ivf.assignTwoLevel(e, cents, coarse, coarseOf, nprobe = 2)
      .select(col("vec_id"), col("ccid"), col("cid"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"diff: ${(got diff expected) ++ (expected diff got)}")
  }

  test("broadcast-handle two-level assignment is bit-identical to the " +
      "literal-payload form (k=80, nprobe=2)") {
    // same semantics, different TRANSPORT: assignTwoLevelBc ships the
    // member table as a torrent-broadcast handle instead of a literal
    // payload in the task binary — the tier for k where O(k·dim) bytes
    // per stage stops being shippable. Row-for-row equality locks the
    // native scan kernel (fold order, HALF_UP rounding, tie-break)
    // against the transform/typedLit form.
    val cents = Ivf.train(e, 80, 2)
    val (coarse, coarseOf) = Ivf.coarsen(spark, cents, 9, 2)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.select(col("vec_id"), col("ccid"), col("cid")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val lit2 = rows(Ivf.assignTwoLevel(e, cents, coarse, coarseOf, nprobe = 2))
    val bc2 = rows(Ivf.assignTwoLevelBc(e, cents, coarse, coarseOf, nprobe = 2))
    assert(lit2 == bc2)
    val lit1 = rows(Ivf.assignTwoLevel(e, cents, coarse, coarseOf))
    val bc1 = rows(Ivf.assignTwoLevelBc(e, cents, coarse, coarseOf))
    assert(lit1 == bc1)
  }

  test("k and dim are free parameters (k=5 over a 2-dim corpus trains clean)") {
    import spark.implicits._
    val vecs = (0L until 40L).map { i =>
      i -> Array((math.cos(i * 0.31) * 10).toFloat, (math.sin(i * 0.31) * 10).toFloat)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val trained = Ivf.train(df, 5, 2)
    assert(trained.length == 5)
    trained.foreach { case (_, cv) => assert(cv.length == 2) }
    val assigned = Ivf.assign(df, trained)
    assert(assigned.count() == 40)
  }
}
