package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PageRank

/** [[graft.operators.PageRank.run]]: weighted damped value propagation
  * with per-round canonical rounding (q146's engine).
  */
class PageRankSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sym(pairs: (Long, Long, Long)*) = {
    val e = pairs.toSeq.toDF("src", "dst", "w")
    e.union(e.select(col("dst"), col("src"), col("w")))
  }

  test("uniform cycle stays uniform (the analytic fixed point)") {
    // 4-cycle with equal weights: pr = 1/4 is exactly stationary, and
    // every round reproduces it bit-for-bit under the round-9 discipline
    val edges = sym((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 1L, 1L))
    val out = PageRank.run(edges, iters = 5).orderBy("nid").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(out.map(_.getDouble(1)).forall(p => math.abs(p - 0.25) < 1e-9))
  }

  test("rank mass is conserved up to rounding drift") {
    // star + chain, skewed weights: total mass stays 1 within N half-ULPs
    // of the 9-dec rounding (no dangling nodes in a symmetric graph)
    val edges = sym((1L, 2L, 5L), (1L, 3L, 1L), (1L, 4L, 1L), (4L, 5L, 2L),
      (5L, 6L, 1L))
    val out = PageRank.run(edges, iters = 8).collect()
    val mass = out.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 6 * 5e-9, s"mass drifted: $mass")
  }

  test("weight skew ranks the hub above the leaves") {
    val edges = sym((1L, 2L, 5L), (1L, 3L, 1L), (1L, 4L, 1L))
    val pr = PageRank.run(edges, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L), s"got $pr")
    assert(pr(3L) == pr(4L), "symmetric leaves must tie exactly")
  }

  test("reliable-checkpoint path matches the localCheckpoint path bit-for-bit") {
    // the Some(dir) branch persists before the eager materialization so
    // RDD.doCheckpoint's file-writing pass reads cache, not a replay —
    // semantics must be identical to the default local pin
    val dir = java.nio.file.Files.createTempDirectory("pr_ckpt").toString
    val edges = sym((1L, 2L, 5L), (1L, 3L, 1L), (1L, 4L, 1L), (4L, 5L, 2L))
    val local = PageRank.run(edges, iters = 4).orderBy("nid").collect().toSeq
    val reliable = PageRank.run(edges, iters = 4, checkpointDir = Some(dir))
      .orderBy("nid").collect().toSeq
    assert(local == reliable)
  }

  test("result is invariant to input partitioning (canonical rounding)") {
    val pairs = (1L to 40L).map(i => (i, i % 7 + 100L, i % 3 + 1L))
    val a = PageRank.run(sym(pairs: _*), iters = 4)
      .orderBy("nid").collect().toSeq
    val b = PageRank.run(sym(pairs: _*).repartition(7), iters = 4)
      .orderBy("nid").collect().toSeq
    assert(a == b)
  }

  test("iters = k yields exactly k + 1 phase rows: prepare, then one per round") {
    val edges = sym((1L, 2L, 5L), (1L, 3L, 1L), (1L, 4L, 1L))
    for (k <- Seq(1, 3)) {
      PageRank.run(edges, iters = k).collect()
      assert(PageRank.lastRunStats.map(_.round) == (0 to k))
    }
  }

  test("iters below 1 is refused, naming the value") {
    // zero rounds would hand back the unrounded pr₀ = 1/n
    val edges = sym((1L, 2L, 1L), (2L, 3L, 1L))
    for (k <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](PageRank.run(edges, iters = k))
      assert(e.getMessage.contains(s"got $k"), e.getMessage)
    }
  }

  test("a run leaves only its returned round pinned") {
    val edges = sym((1L, 2L, 5L), (1L, 3L, 1L), (1L, 4L, 1L), (4L, 5L, 2L))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = PageRank.run(edges, iters = 4)
    assert(out.count() == 5L)
    // shares, node list and rounds 1..3 released; round 4 backs `out`
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.size <= 1, s"leaked pinned blocks: $left")
  }
}
