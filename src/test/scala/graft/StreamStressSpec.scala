package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale gate for the streaming near-dup state machine: drives the 10×
  * stress corpus (50k docs, 32 splits) through the RocksDB-backed
  * `DocsStream.nearDupCandidates` stream and asserts the state bounds
  * the batch twins can't exercise — without OOM, with TTL eviction
  * actually collapsing the store.
  *
  * GATED behind `GRAFT_STREAM_STRESS=1` (and the corpus existing): the
  * run streams 50k docs through ~16 micro-batches plus a TTL drain
  * (~1 min) — stress-tier cost, not unit-tier. `tools/stress_sf1.sh`
  * generates the corpus; `graft.StreamStress` is the measurement twin
  * whose numbers land in PLANS.md.
  */
class StreamStressSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val corpus = "/tmp/graft_stress/x10/documents.parquet"

  private def gated(): Unit = {
    assume(HarnessEnv.GateStreamStress.in(sys.env),
      "set GRAFT_STREAM_STRESS=1 to run the 10x streaming stress")
    assume(new java.io.File(corpus).exists(),
      s"stress corpus missing - run tools/stress_sf1.sh first")
  }

  test("10x stream under RocksDB: state bounded by bucket cardinality, no OOM") {
    gated()
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val r = StreamStress.run(spark, corpus, ttlMs = 0L,
        maxFilesPerTrigger = 2, afterDrainMs = 0L, expectRows = 50000L,
        tag = "spec_ttl0")
      // every corpus doc with >= 3 tokens enters exactly 4 buckets; the
      // state rows are DISTINCT (band, bucket) pairs - strictly fewer
      // than 4x docs (clone clusters share buckets by construction),
      // and each row is ONE long regardless of bucket population
      assert(r.inputRows == 50000L, s"expected the full 10x corpus: $r")
      assert(r.stateRowsPeak > 0 && r.stateRowsPeak <= 4L * r.inputRows, s"$r")
      assert(r.candidates > 0, s"10x clone clusters must collide: $r")
    } finally spark.conf.unset(key)
  }

  test("10x stream under RocksDB: TTL horizon evicts and collapses state") {
    gated()
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val r = StreamStress.run(spark, corpus, ttlMs = 5000L,
        maxFilesPerTrigger = 2, afterDrainMs = 15000L, expectRows = 50000L,
        tag = "spec_ttl")
      // after the drain every bucket idles past the 5 s horizon and the
      // no-data batches fire its processing-time timeout: the store must
      // have evicted rows, and the final count must sit well under the
      // peak (the bounded-state contract of dedup-within-horizon)
      assert(r.evicted > 0, s"TTL never evicted: $r")
      assert(r.stateRowsFinal < r.stateRowsPeak / 2,
        s"state did not collapse after the horizon: $r")
    } finally spark.conf.unset(key)
  }
}
