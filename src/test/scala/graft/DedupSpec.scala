package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** [[graft.operators.Dedup.keepListToFixpoint]]: min-label propagation to
  * convergence (VERDICT r2 #10). q72's oracle form unrolls exactly 3
  * rounds; this proves the fixpoint utility handles chains LONGER than 3
  * edges, where fixed-depth propagation would return the wrong keep-list.
  */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) = {
    val e = pairs.toSeq.toDF("src", "dst")
    e.union(e.select(col("dst"), col("src")))
  }

  test("fixpoint keep-list on a 6-node chain (needs 5 rounds, > q72's 3)") {
    val docs = (1L to 8L).toDF("doc_id") // 7,8 are singletons
    val edges = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    val out = Dedup.keepListToFixpoint(docs, edges).orderBy("doc_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L, 1L, 1L, 1L, 7L, 8L))
    assert(out.map(_.getBoolean(2)).toSeq ==
      Seq(true, false, false, false, false, false, true, true))
  }

  test("3 fixed rounds are NOT enough on that chain (why fixpoint exists)") {
    val docs = (1L to 6L).toDF("doc_id")
    val edges = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    var labels = docs.select(col("doc_id"), col("doc_id").as("rep"))
    for (_ <- 1 to 3) {
      val nbr = edges.join(
          labels.select(col("doc_id").as("nbr_id"), col("rep").as("nrep")),
          col("dst") === col("nbr_id"))
        .groupBy(col("src")).agg(min(col("nrep")).as("minrep"))
      labels = labels.join(nbr, labels("doc_id") === nbr("src"), "left")
        .select(col("doc_id"),
          least(col("rep"), coalesce(col("minrep"), col("rep"))).as("rep"))
    }
    // node 6 is 5 hops from the min — after 3 rounds its label is still 3
    assert(labels.orderBy("doc_id").collect().map(_.getLong(1)).toSeq ==
      Seq(1L, 1L, 1L, 1L, 2L, 3L))
  }

  test("fixpoint equals brute-force connected components on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 10
      val pairs = Seq.fill(n / 2)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter(p => p._1 != p._2)
      // brute force: union-find over the same edges
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (1 to n).map(i => i.toLong -> find(i).toLong).toMap
      val got = Dedup.keepListToFixpoint(
          (1L to n.toLong).toDF("doc_id"), undirected(pairs: _*))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (n=$n) mismatch")
    }
  }

  test("maxRounds guard trips instead of silently returning a non-fixpoint") {
    val docs = (1L to 4L).toDF("doc_id")
    val edges = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      Dedup.keepListToFixpoint(docs, edges, maxRounds = 1)
    }
    assert(e.getMessage.contains("did not converge"))
    // the abort path must release the final round's blocks too (ADVICE
    // r4): nothing may stay pinned for the life of the session
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"non-convergence leaked blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("reliable checkpointDir gives the cluster-safe variant, same fixpoint") {
    // on a cluster localCheckpoint dies with its executor; the optional
    // checkpoint dir switches every round to RDD.checkpoint() against a
    // reliable store. Same chain as the headline test, same answer.
    val dir = java.nio.file.Files.createTempDirectory("dedup-ckpt").toString
    val docs = (1L to 8L).toDF("doc_id")
    val edges = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    val out = Dedup.keepListToFixpoint(docs, edges, checkpointDir = Some(dir))
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L, 1L, 1L, 1L, 7L, 8L))
    // rounds really checkpointed to the reliable store — assert against
    // the context's ACTIVE checkpoint dir: the context-level dir is
    // process-wide, so an earlier suite's dir may win over this one's
    // (the documented, warned substitution — same rule as the scale test)
    val effective = spark.sparkContext.getCheckpointDir
      .map(u => new java.io.File(new java.net.URI(u))).getOrElse(new java.io.File(dir))
    val written = effective.listFiles()
    assert(written != null && written.nonEmpty,
      s"no checkpoint data under $effective")
  }

  test("reliable checkpoint at scale: only the final round's files survive (VERDICT r5 #6)") {
    // 50k nodes in 10k chains of 5 (4 edges each) → 5 propagation
    // rounds, ~7 pinned tables over the run (edges + initial labels +
    // 5 rounds). Per-round cleanup must leave exactly ONE new rdd-*
    // directory behind (the final round, which the returned frame reads
    // from) — without it the checkpoint store grows linearly in rounds
    // for the life of the app. Assertions run against the context's
    // ACTIVE checkpoint dir: the context-level dir is process-wide, so
    // an earlier test's dir may win over this one's (the documented,
    // warned substitution).
    val reqDir = java.nio.file.Files.createTempDirectory("dedup-ckpt-scale").toString
    val docs = (1L to 50000L).toDF("doc_id")
    val edges = undirected((1L until 50000L)
      .filter(id => (id - 1) % 5 != 4).map(id => id -> (id + 1)): _*)
    def rddDirs(): Set[String] = {
      val active = spark.sparkContext.getCheckpointDir
      active.map { d =>
        val f = new java.io.File(new java.net.URI(d).getPath)
        Option(f.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("rdd-")).map(_.getAbsolutePath).toSet
      }.getOrElse(Set.empty)
    }
    val before = rddDirs()
    val out = Dedup.keepListToFixpoint(docs, edges, checkpointDir = Some(reqDir))
    val expectedRep = (col("doc_id") - ((col("doc_id") - 1) % 5)).cast("long")
    assert(out.filter(col("rep") =!= expectedRep).count() == 0,
      "fixpoint wrong on the chain corpus")
    assert(out.count() == 50000L)
    val leftover = rddDirs() -- before
    assert(leftover.size == 1,
      s"expected only the final round's checkpoint to survive, got " +
        s"${leftover.size}: ${leftover.mkString(", ")}")
  }

  test("edges lineage executes once and label blocks don't pile up (ADVICE r3)") {
    // The 6-node chain needs 5 propagation rounds. Before the r4 fix the
    // edge plan re-executed every round (5× the candidate-generation cost
    // for q87's MinHash-banded edges) and every round's localCheckpoint
    // stayed pinned. Count edge-scan executions with an accumulator and
    // inspect the block manager afterwards.
    val acc = spark.sparkContext.longAccumulator("edgeScans")
    val rawEdges = undirected(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    val counted = rawEdges.as[(Long, Long)]
      .map { e => acc.add(1); e }.toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.keepListToFixpoint((1L to 6L).toDF("doc_id"), counted)
    assert(out.count() == 6)
    assert(acc.value == 10L, s"edges scanned ${acc.value} rows — lineage re-executed")
    // pinned: the final labels round (+ its result above); everything else released
    assert(spark.sparkContext.getPersistentRDDs.size - before <= 1,
      s"leaked checkpoint blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("already-converged input costs exactly one verification round") {
    val docs = (1L to 3L).toDF("doc_id")
    val out = Dedup.keepListToFixpoint(docs, undirected()).orderBy("doc_id").collect()
    assert(out.forall(_.getBoolean(2)))
  }

  /** The verified-edge kernel has two physical paths — bucket-local
    * collect+generate for buckets ≤ hotCap, the pair-join fallback above
    * it — chosen per bucket by size. hotCap=0 forces the pure pair-join
    * (the naive reference form), hotCap=2 splits real sf0.001 buckets
    * across BOTH paths (clusters of 3+ go hot, pairs stay small), and
    * the default runs pure bucket-local. All three must produce the
    * bit-identical edge set.
    */
  /** q87 now exact-collapses identical texts to one node before banding
    * and expands the node labels back over members. The raw graph keeps
    * clone cliques; the node graph drops them — both must reach the
    * identical fixpoint (components map 1:1 and the component min over
    * node ids is the global min doc_id). Locked here against the
    * direct (uncollapsed) composition on real data.
    */
  test("q87's exact-collapsed fixpoint equals the direct raw-graph fixpoint") {
    val dir = "/root/testdata/sf0.001"
    val raw = Dedup.keepListToFixpoint(
        queries.Tables(spark, dir, "documents"),
        queries.PipelineQueries.verifiedEdges(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val collapsed = SparkEntry.queries("q87_neardup_fixpoint")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(raw.nonEmpty && raw.exists(!_._3), "need at least one dropped dup")
    assert(collapsed == raw,
      s"diff: ${(collapsed diff raw) ++ (raw diff collapsed)}")
  }

  test("verifiedEdges: bucket-local, mixed, and pair-join paths agree") {
    val dir = "/root/testdata/sf0.001"
    def edgeSet(hotCap: Int, pruneLimit: Long = 1000000L): Set[(Long, Long)] =
      queries.PipelineQueries.verifiedEdges(spark, dir, hotCap, pruneLimit)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = edgeSet(0)
    val mixed = edgeSet(2)
    val bucketLocal = edgeSet(Int.MaxValue)
    val unpruned = edgeSet(Int.MaxValue, pruneLimit = 0L)
    assert(naive.nonEmpty, "sf0.001 must contain near-dup edges")
    assert(mixed == naive,
      s"mixed-path diff: ${(mixed diff naive) ++ (naive diff mixed)}")
    assert(bucketLocal == naive,
      s"bucket-local diff: ${(bucketLocal diff naive) ++ (naive diff bucketLocal)}")
    assert(unpruned == naive,
      s"unpruned diff: ${(unpruned diff naive) ++ (naive diff unpruned)}")
  }

  // ---- alternating large-star/small-star connected components (q128) ----

  test("star CC equals fixpoint propagation on random graphs (incl. cliques)") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      // random sparse edges + one clique + one chain, so all three
      // component shapes (bushy, complete, path) are present at once
      val sparse = Seq.fill(n / 2)(
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)).filter(p => p._1 != p._2)
      val clique = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
      val chain = (n - 6L until n.toLong).map(i => i -> (i + 1))
      val edges = undirected(sparse ++ clique ++ chain: _*)
      val docsDf = (1L to n.toLong).toDF("doc_id")
      val viaProp = Dedup.keepListToFixpoint(docsDf, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      val viaStar = Dedup.connectedComponents(docsDf, edges)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(viaStar == viaProp, s"trial $trial (n=$n): star CC != propagation")
    }
  }

  test("star CC tolerates single-direction, duplicate, and self-loop input") {
    val docsDf = (1L to 6L).toDF("doc_id")
    // q72/q87 feed both directions; the operator contract only needs ONE
    // direction per undirected edge, dedups repeats, ignores self-loops
    val oneDir = Seq(2L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 4L, 6L -> 5L)
      .toDF("src", "dst")
    val got = Dedup.connectedComponents(docsDf, oneDir)
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 1L, 1L, 4L, 5L, 5L))
  }

  test("star CC on an empty edge set: every doc is its own kept rep") {
    val docsDf = (1L to 4L).toDF("doc_id")
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val out = Dedup.connectedComponents(docsDf, empty).orderBy("doc_id").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.forall(_.getBoolean(2)))
  }

  test("star CC converges in O(log n) rounds on a 4096-node path " +
      "(propagation would need 4095)") {
    // THE case the operator exists for: component diameter ≈ node count.
    // keepListToFixpoint moves the min one hop per round — 4095 rounds,
    // i.e. its default maxRounds guard trips 80× over. The star rounds
    // halve the path each time.
    val n = 4096L
    val docsDf = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => i -> (i + 1)).toDF("src", "dst")
    val (out, rounds) = Dedup.connectedComponentsWithRounds(docsDf, edges)
    assert(out.filter(col("rep") =!= 1L).count() == 0, "path must be one component")
    assert(out.filter(col("is_kept")).count() == 1L)
    assert(rounds <= 16, s"expected ~log2(4096)+2 rounds, got $rounds")
  }

  test("star CC under a reliable checkpointDir: same components, store cleaned") {
    // cluster posture parity with keepListToFixpoint: every round pins
    // via RDD.checkpoint() against a reliable store, and per-round
    // cleanup must leave only the final round's files behind
    val reqDir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val docsDf = (1L to 256L).toDF("doc_id")
    val edges = (1L until 256L).map(i => i -> (i + 1)).toDF("src", "dst")
    def rddDirs(): Set[String] = {
      val active = spark.sparkContext.getCheckpointDir
      active.map { d =>
        val f = new java.io.File(new java.net.URI(d).getPath)
        Option(f.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("rdd-")).map(_.getAbsolutePath).toSet
      }.getOrElse(Set.empty)
    }
    val before = rddDirs()
    val out = Dedup.connectedComponents(docsDf, edges,
      checkpointDir = Some(reqDir))
    assert(out.filter(col("rep") =!= 1L).count() == 0)
    assert(out.count() == 256L)
    val leftover = rddDirs() -- before
    assert(leftover.size == 1,
      s"expected only the final round's checkpoint to survive, got " +
        s"${leftover.size}: ${leftover.mkString(", ")}")
  }

  test("incremental composition: star-compressed history + delta edges == full CC (q130's algebra)") {
    // the q130 label-reuse step in isolation: history components arrive
    // as star edges (doc → rep) instead of their raw edge graph; a delta
    // doc BRIDGES two history components and must merge them exactly as
    // a from-scratch run would
    val docsDf = (1L to 9L).toDF("doc_id")
    val histEdges = undirected(1L -> 2L, 2L -> 3L, 4L -> 5L) // {1,2,3} {4,5}
    val histLabels = Dedup.connectedComponents((1L to 8L).toDF("doc_id"), histEdges)
    val starHist = histLabels.filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("src"), col("rep").as("dst"))
    val deltaEdges = Seq(9L -> 3L, 9L -> 4L).toDF("src", "dst") // the bridge
    val incr = Dedup.connectedComponents(docsDf, deltaEdges.union(starHist))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = Dedup.connectedComponents(docsDf, histEdges.union(deltaEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(incr == full, s"incremental != full: $incr vs $full")
    assert(incr(9L) == 1L && incr(5L) == 1L, "bridge must merge both components")
    assert(incr(6L) == 6L && incr(7L) == 7L, "untouched singletons keep themselves")
  }

  test("planted-structure recovery at 10x: zero merges, strays within " +
      "the analytic MinHash bound (gated: GRAFT_STRESS=1)") {
    // the r9 STRESS_TRUTH result, promoted from a harness readout to a
    // locked property: replica r of base doc b is a near-dup of b by
    // construction, so the true partition of the 10x corpus is the base
    // q87 partition lifted through base_id = doc_id DIV 10. A kernel or
    // pipeline change that introduces false merges (verify too loose) or
    // excess strays (signature recall degraded) now FAILS A TEST instead
    // of surfacing a round later in the measurement harness.
    //   merges == 0 — the verify threshold admits no false fusion, ever;
    //   splits <= 8 — measured 2; the analytic expectation is the
    //     MinHash recall curve (per-pair all-4-band miss ~(1-s^2)^4,
    //     ~1.7% at the shortest 10-token docs, falling to 1.8e-4 by 50
    //     tokens), which over ~45k perturbed replicas puts the expected
    //     stray count in low single digits; 8 is 4x the measurement,
    //     far below any real recall regression.
    assume(HarnessEnv.GateStress.in(sys.env),
      "set GRAFT_STRESS=1 to run the 10x planted-recovery gate")
    val factor = 10
    val scaledDir = s"/tmp/graft_stress/x$factor"
    val baseDir = "/root/testdata/sf0.1"
    assume(new java.io.File(s"$scaledDir/documents.parquet").exists(),
      "stress corpus missing - run tools/stress_sf1.sh first")
    val scaled = SparkEntry.queries("q87_neardup_fixpoint")(spark, scaledDir)
      .select(col("doc_id"), col("rep"))
    val base = SparkEntry.queries("q87_neardup_fixpoint")(spark, baseDir)
      .select(col("doc_id").as("base_id"), col("rep").as("truth_rep"))
    val cells = scaled
      .withColumn("base_id", expr(s"doc_id DIV $factor"))
      .join(base, "base_id")
      .groupBy(col("truth_rep"), col("rep").as("scaled_rep"))
      .agg(count(lit(1)).as("n")).cache()
    try {
      val merges = cells.groupBy(col("scaled_rep"))
        .agg(countDistinct(col("truth_rep")).as("m"))
        .filter(col("m") > 1).count()
      val splits = cells.groupBy(col("truth_rep"))
        .agg(countDistinct(col("scaled_rep")).as("m"))
        .filter(col("m") > 1).count()
      info(s"splits=$splits merges=$merges")
      assert(merges == 0, s"false fusion: $merges merged scaled clusters")
      assert(splits <= 8,
        s"stray count $splits exceeds the analytic MinHash bound (<=8)")
    } finally cells.unpersist()
  }

  test("star CC abort path releases its pinned blocks (maxRounds guard)") {
    val docsDf = (1L to 64L).toDF("doc_id")
    val edges = (1L until 64L).map(i => i -> (i + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.size
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(docsDf, edges, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      s"non-convergence leaked blocks: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("concurrent star CC runs each read their own rounds from lastCcStatsJson") {
    // two threads, two graphs with different round counts: the per-
    // thread last-run registry must hand each thread its own phase rows
    // (round 0 = prepare, then one row per round). Both read only after
    // both runs finished, so a JVM-wide slot would fail one of them.
    val bothDone = new java.util.concurrent.CountDownLatch(2)
    def ccOn(n: Long): (Int, String) = {
      val rounds = try {
        val (out, r) = Dedup.connectedComponentsWithRounds(
          (1L to n).toDF("doc_id"), (1L until n).map(i => i -> (i + 1)).toDF("src", "dst"))
        assert(out.filter(col("rep") =!= 1L).count() == 0)
        r
      } finally bothDone.countDown()
      assert(bothDone.await(5, java.util.concurrent.TimeUnit.MINUTES))
      (rounds, Dedup.lastCcStatsJson)
    }
    val sizes = Seq(2L, 512L)
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Either[Throwable, (Int, String)]]()
    val threads = sizes.map(n => new Thread(() =>
      got.put(n, try Right(ccOn(n)) catch { case t: Throwable => Left(t) })))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val results = sizes.map(n => got.get(n).fold(t => throw t, identity))
    assert(results.map(_._1).distinct.size == 2, s"round counts must differ: $results")
    results.foreach { case (rounds, json) =>
      val phases = "\"round\":(\\d+)".r.findAllMatchIn(json).map(_.group(1).toInt).toSeq
      assert(phases == (0 to rounds), s"$rounds rounds but phase rows $phases")
    }
  }
}
