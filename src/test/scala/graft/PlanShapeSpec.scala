package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression locks on physical-plan properties the 100 TB design depends
  * on (SURVEY §4): pushdown, pruning, broadcast placement, partial
  * aggregation, top-k without global sort. If a refactor silently breaks
  * one of these, correctness stays green but scale does not — these fail
  * instead.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  /** Run `body` with the kernel-spread workaround pinned to `mode` —
    * scale-shape locks pin "off" (any multi-split corpus layout), so the
    * local single-row-group testdata's documented spread exchange cannot
    * read as a broken 100 TB shape.
    */
  private def withKernelSpread[A](mode: String)(body: => A): A = {
    spark.conf.set("spark.graft.kernelSpread", mode)
    try body finally spark.conf.unset("spark.graft.kernelSpread")
  }

  test("a kernelSpread value other than auto|off fails loudly") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Seq("of", "on").foreach { bad =>
      val e = withKernelSpread(bad) {
        intercept[IllegalArgumentException](queries.PipelineQueries.spreadForKernels(docs))
      }
      assert(e.getMessage.contains("auto|off") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("q06: all filters pushed to the parquet scan") {
    val p = planOf("q06_forecast_revenue")
    assert(p.contains("PushedFilters:"))
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(p.split("PushedFilters:")(1).split("\n")(0).contains(c),
        s"filter on $c not pushed:\n$p")
    }
  }

  test("q02: scan reads only the needed columns") {
    val p = planOf("q02_filter_project")
    val readSchema = p.split("ReadSchema:")(1).split("\n")(0)
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"),
      s"scan reads pruned columns:\n$readSchema")
  }

  test("q05: all dimension joins are broadcast (lineitem never shuffled pre-agg)") {
    val p = withKernelSpread("off")(planOf("q05_local_volume"))
    assert(p.contains("BroadcastHashJoin"))
    // exchanges: only the aggregation + final sort (plus broadcast
    // exchanges, which are not data shuffles of the fact table)
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 2, s"unexpected fact shuffles:\n$p")
  }

  test("q01: partial aggregation before the exchange") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
  }

  test("q03/q26: top-k via TakeOrderedAndProject, not global sort") {
    assert(planOf("q03_topk_revenue").contains("TakeOrderedAndProject"))
    assert(planOf("q26_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q03/q05: customer (grows with sf) carries no broadcast hint; fixed dims do") {
    // Emulate the 100 TB regime where customer exceeds the broadcast limit:
    // with auto-broadcast disabled, only EXPLICIT hints still broadcast.
    // customer must fall back to a shuffled join (it is ~10 GiB+ at sf100),
    // while supplier/nation keep their hinted BroadcastHashJoin.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val p5 = withKernelSpread("off")(planOf("q05_local_volume"))
      assert(p5.contains("BroadcastHashJoin"), s"hinted dims lost broadcast:\n$p5")
      assert(p5.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
          l.contains("c_custkey")),
        s"customer join must not rely on broadcast:\n$p5")
      val p3 = planOf("q03_topk_revenue")
      assert(!p3.contains("BroadcastHashJoin"),
        s"q03 has no fixed-size dims — nothing should be hint-broadcast:\n$p3")
      assert(p3.contains("SortMergeJoin") || p3.contains("ShuffledHashJoin"))
    } finally spark.conf.set(key, prev)
  }

  test("q70: bucketed near-dup pairs — no cartesian/nested-loop join") {
    val p = planOf("q70_embed_dup_bucketed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be an equi-join on (band, bucket):\n$p")
  }

  test("as-of join propagates partitioning: groupBy on the join key adds no exchange") {
    import org.apache.spark.sql.functions._
    val ev = graft.queries.Tables(spark, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("ts").as("s_ts"))
    val joined = graft.operators.AsOf.join(purchases, signups,
      leftKey = "user_id", leftTime = "ts", rightKey = "su", rightTime = "s_ts")
    val p = joined.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), p)
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 2,
      s"expected only the two join-input exchanges (agg reuses the join clustering):\n$p")
  }

  test("q84: banded n-gram Jaccard — no cartesian/nested-loop join") {
    val p = planOf("q84_ngram_jaccard_banded")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the banding equi-join:\n$p")
  }

  test("q76: banded range join plans as an equi-join (no nested loop)") {
    val p = planOf("q76_range_join_banded")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"banding must turn the theta join into an equi join:\n$p")
  }

  test("q145: exact-substring dedup — agg+join first-occurrence, no corpus window") {
    val p = planOf("q145_exact_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the gram join-back must stay an equi-join on the hash:\n$p")
    // the scale claim: first-occurrence is a partial-aggregated
    // min(struct) — a hot boilerplate gram collapses map-side — never a
    // row_number window over the corpus-sized gram stream
    assert(!p.contains("Window"),
      s"first-occurrence must be the two-phase agg, not a window:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"gram agg lost its map-side phase:\n$p")
  }

  test("q73: count-min sketch aggregates with a partial (map-side) phase") {
    val p = planOf("q73_cms_freq")
    // the TypedImperativeAggregate must fold rows into per-task buffers
    // before the exchange — only the fixed-size sketches cross the wire
    assert(p.contains("partial_cms_md5"), s"no map-side sketch combine:\n$p")
  }

  test("q67: trained-IVF assignment is map-side (≤1 exchange — the output sort)") {
    val p = planOf("q67_ivf_assign")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"assignment must not join the corpus against the centroids:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"assignment must be a map-side projection:\n$p")
  }

  test("q42: minhash signatures are map-side (no shuffle at all)") {
    // pin the SCALE plan: on multi-split layouts (any real corpus) the
    // kernel-spread workaround is a no-op and the signature projection
    // fuses into the scan with zero exchanges. The local single-row-group
    // testdata adds exactly one documented spread exchange — asserted in
    // the companion test below.
    spark.conf.set("spark.graft.kernelSpread", "off")
    try {
      val p = planOf("q42_minhash_sig")
      // sort for output ordering is the only exchange
      val shuffles = p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange"))
      assert(shuffles <= 1, s"signature computation should not shuffle:\n$p")
    } finally spark.conf.unset("spark.graft.kernelSpread")
  }

  test("q42 local mode: kernel spread adds exactly the one documented exchange") {
    // single-row-group input → the spread exchange (REPARTITION_BY_NUM,
    // explicit count so AQE cannot coalesce it away) sits BELOW the
    // signature projection; the filter still pushes past it to the scan
    val p = planOf("q42_minhash_sig")
    assert(p.contains("REPARTITION_BY_NUM"),
      s"kernel spread missing on a single-split local layout:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 2, s"spread must add exactly one exchange:\n$p")
  }

  test("q72 verify pipeline (un-checkpointed): fused generator present, cartesian-free") {
    // q72's own executed plan truncates at the eager localCheckpoint (the
    // pinned edges appear as a LogicalRDD scan), so the anti-pattern and
    // fused-generator properties of the verify subtree must be asserted
    // on the UN-checkpointed edge frame directly — this is the assertion
    // the checkpoint would otherwise silently remove from coverage.
    val p = graft.queries.PipelineQueries.verifiedEdges(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"verify pipeline must stay banding-equi-join shaped:\n$p")
    assert(p.contains("verified_jaccard_pairs"),
      s"bucket-local fused verify generator missing from the edge plan:\n$p")
  }

  test("q161 rep edges (un-pinned stage 2): exchange count locked") {
    // q161's stage pins hide its edge step from the query's own plan, so
    // the step is read here over the un-pinned stage-1 survivors, after
    // execution (the final adaptive plan, as PlanAudit reads it)
    val df = withKernelSpread("off")(
      graft.queries.PipelineQueries.q161RepEdges(spark, dir))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val shuffles = p.linesIterator.takeWhile(!_.contains("== Initial Plan =="))
      .count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 4, s"q161 rep-edge exchanges moved ($shuffles):\n$p")
  }

  test("q87: fixpoint keep-list stays cartesian-free (same kernel as q72)") {
    val p = planOf("q87_neardup_fixpoint")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edge generation must be the banding equi-join:\n$p")
  }

  test("q124: mixture materialization — offsets/targets broadcast, corpus window sub-bucketed") {
    val p = planOf("q124_mixture_materialize")
    assert(p.contains("BroadcastHashJoin"), s"offset/target tables must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // two-level prefix sum: the running sum over the CORPUS (the window
    // ordered by the full md5 key) must partition by (source, bucket) —
    // a window partitioned by source alone funnels each source's whole
    // document set through one task. The only source-partitioned window
    // allowed is the tiny per-bucket offset cumsum (ordered by mbkt).
    val specs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    val corpusWindows = specs.filter(s => s.contains("ord#"))
    assert(corpusWindows.nonEmpty, s"expected a window ordered by ord:\n$p")
    assert(corpusWindows.forall(s => s.contains("source#") && s.contains("mbkt#")),
      s"corpus window must partition by (source, mbkt), not source alone:\n$p")
  }

  test("q123: SQ8 quantization is one map-side projection (≤1 exchange for the sort)") {
    val p = planOf("q123_sq8_quantize")
    assert(!p.contains("Join"), s"scalar quantization must not join:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"SQ8 encode shuffles the corpus:\n$p")
  }

  test("q122: containment dedup candidates stay the banding equi-join") {
    val p = planOf("q122_containment_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment verify must only see banded candidates:\n$p")
  }

  test("q127: inverted-index containment — postings equi-join on shingle, never all-pairs") {
    val p = planOf("q127_containment_inverted")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must be the postings self-equi-join:\n$p")
  }

  test("q85: SQL margin expansion aggregates with a partial phase") {
    val p = planOf("q85_margin_sql_agg")
    assert(p.contains("partial_sum"), s"no map-side combine under with_m90:\n$p")
  }

  test("q88: decontamination probes eval grams via broadcast (corpus never shuffles on gram)") {
    val p = planOf("q88_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"eval gram set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q101: bloom probe is a map-side Filter ahead of the verify join") {
    val p = planOf("q101_bloom_decontaminate")
    // the bloom literal rides in a Filter(might_contain) directly over the
    // gram projection — BEFORE any join/exchange sees the corpus grams
    assert(p.contains("might_contain"), s"bloom probe missing from plan:\n$p")
    val probeLine = p.linesIterator.find(_.contains("might_contain")).get
    assert(probeLine.trim.startsWith("Filter") || probeLine.contains("Filter"),
      s"bloom probe not a Filter:\n$probeLine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q101 equals q88 exactly (bloom prefilter has no false negatives)") {
    val a = SparkEntry.queries("q101_bloom_decontaminate")(spark, dir).collect()
    val b = SparkEntry.queries("q88_decontaminate")(spark, dir).collect()
    assert(a.sameElements(b), "bloom-decontaminated result diverged from exact q88")
  }

  test("q102: model quality gate is one map-side projection (≤1 exchange for the sort)") {
    val p = planOf("q102_model_quality")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"model gate shuffles the corpus:\n$p")
    assert(!p.contains("Join"), s"model gate must not join:\n$p")
  }

  test("q103: source predicate prunes partitions — no row-level source filter") {
    val p = planOf("q103_partitioned_sink")
    assert(p.contains("PartitionFilters"), s"no partition filters:\n$p")
    val pf = p.split("PartitionFilters:")(1).split("\n")(0)
    assert(pf.contains("source"), s"source not a partition filter:\n$pf")
    // source is a directory key, not data — the scan must not read it as a column
    val rs = p.split("ReadSchema:")(1).split("\n")(0)
    assert(!rs.contains("source"), s"source read as a data column:\n$rs")
  }

  test("q105: history side is bloom-pruned map-side before any join") {
    val p = planOf("q105_incremental_dedup")
    assert(p.contains("might_contain"), s"bloom prune missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q106: salted aggregation is two-phase — (key,salt) exchange then key exchange") {
    val p = planOf("q106_salted_hot_agg")
    val exchanges = p.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.exists(l => l.contains("l_returnflag") && l.contains("__salt")),
      s"no (key, salt) exchange:\n$p")
    assert(exchanges.exists(l => l.contains("l_returnflag") && !l.contains("__salt")),
      s"no final key exchange:\n$p")
    assert(p.contains("partial_sum"), s"no map-side combine:\n$p")
  }

  // q109/q110/q115: the PQ search contract — the plan scans the STORED
  // 8-byte-code index and never references the raw embedding column.
  // That is the claim PQ exists to make true ("the corpus stays cold");
  // a regression to inline code-recomputation would re-read 256 B of
  // floats per vector and these fail.
  private def assertCodesOnlySearch(q: String): String = {
    val p = planOf(q)
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 0, s"search shuffles the corpus:\n$p")
    assert(!p.contains("Join"), s"search must be a pure scan+project:\n$p")
    assert(!p.contains("embedding"),
      s"search plan references the raw embedding column — index not used:\n$p")
    // the stored layout is the PACKED code: one long per vector
    // (Pq.packCodes), unpacked by shift/mask — not M int columns
    val readSchema = p.split("ReadSchema:")(1).split("\n")(0)
    assert(readSchema.contains("code") && !readSchema.contains("c0"),
      s"index scan must read the packed code column only:\n$readSchema")
    p
  }

  test("q109: PQ ADC search scans stored codes only (no embedding, no join, no shuffle)") {
    assertCodesOnlySearch("q109_pq_search")
  }

  test("q110: IVF-PQ search — probed cells via partition pruning, codes-only ADC") {
    val p = assertCodesOnlySearch("q110_ivfpq_search")
    // the IVF restriction is directory-level: cid is a partition filter
    // on the index, not a row filter (and not a data column)
    assert(p.contains("PartitionFilters"), s"no partition filters:\n$p")
    val pf = p.split("PartitionFilters:")(1).split("\n")(0)
    assert(pf.contains("cid"), s"cell restriction not pruned by partition:\n$pf")
  }

  test("q119: exact re-rank reads ONLY the shortlist — ids pushed into the scan") {
    // stage 1 (ADC shortlist) runs eagerly at build; the returned plan is
    // stage 2, which must be a point-lookup scan of the 50 shortlisted
    // vectors (In-filter pushed to parquet), not a corpus read or a join.
    // Clear plan-keyed caches first: a leaked .cache() of the embeddings
    // table from an earlier suite would silently swap the parquet scan
    // for an InMemoryRelation and void the pushdown this test locks.
    spark.catalog.clearCache()
    val p = planOf("q119_ivfpq_rerank")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(!p.contains("Join"), s"re-rank must not join:\n$p")
    assert(p.contains("PushedFilters:"), s"no pushdown:\n$p")
    val pushed = p.split("PushedFilters:")(1).split("\n")(0)
    assert(pushed.contains("In(vec_id") || pushed.contains("In(`vec_id`"),
      s"shortlist ids not pushed into the scan:\n$pushed")
  }

  test("q120: batched search — N queries share ONE pruned codes-only scan") {
    val p = planOf("q120_ivfpq_batch_search")
    assert(!p.contains("Join"), s"batch search must not join:\n$p")
    assert(!p.contains("embedding"),
      s"batch search plan references the raw embedding column:\n$p")
    assert(p.contains("PartitionFilters"), s"no partition filters:\n$p")
    val pf = p.split("PartitionFilters:")(1).split("\n")(0)
    assert(pf.contains("cid"), s"probed-cell union not pruned by partition:\n$pf")
    // exactly one scan: the per-query fan-out is an explode over literal
    // LUT structs, not N passes over the index
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected one index scan, got $scans:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 2, s"only the per-query window + output sort may shuffle:\n$p")
  }

  test("q121: incremental encode — batch filter pushed, no retrain work in the plan") {
    // frozen codebooks are task literals, so appending a batch to the
    // index is scan(new rows only) → project: one exchange (the output
    // sort), no join, and the new-batch predicate reaches the scan
    val p = planOf("q121_index_append")
    assert(!p.contains("Join"), s"incremental encode must not join:\n$p")
    assert(p.contains("PushedFilters:"), s"no pushdown:\n$p")
    val pushed = p.split("PushedFilters:")(1).split("\n")(0)
    assert(pushed.contains("vec_id"), s"new-batch filter not pushed:\n$pushed")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"append encode shuffles more than the output sort:\n$p")
  }

  test("q115: residual IVF-PQ keeps the codes-only pruned search shape") {
    val p = assertCodesOnlySearch("q115_ivfpq_residual")
    assert(p.contains("PartitionFilters"), s"no partition filters:\n$p")
    val pf = p.split("PartitionFilters:")(1).split("\n")(0)
    assert(pf.contains("cid"), s"cell restriction not pruned by partition:\n$pf")
  }

  test("q100: semantic decontamination probes banded eval vectors via broadcast") {
    val p = planOf("q100_embed_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"banded eval set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q90: repetition score is map-side (array exprs, ≤1 exchange for the sort)") {
    val p = planOf("q90_repetition")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"per-doc repetition must not shuffle the corpus:\n$p")
  }

  test("q91: mixture reweighting is map-side (filter pushed against the scan)") {
    val p = planOf("q91_mixture_reweight")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"sampling must be a map-side filter:\n$p")
  }

  test("q92: interval join is a hash/merge equi-join on user_id, not a nested loop") {
    val p = planOf("q92_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"time range must ride as residual condition on the equi-join:\n$p")
  }

  test("q93: term scrubbing is map-side (≤1 exchange for the sort)") {
    val p = planOf("q93_scrub")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"regex scrub must not shuffle the corpus:\n$p")
  }

  test("q94/q95: span dedup and sequence packing avoid nested loops; offsets broadcast") {
    val p94 = planOf("q94_span_dedup")
    assert(!p94.contains("CartesianProduct") && !p94.contains("BroadcastNestedLoopJoin"))
    val p95 = planOf("q95_sequence_pack")
    assert(!p95.contains("CartesianProduct") && !p95.contains("BroadcastNestedLoopJoin"))
    // two-level prefix sum: the per-bucket offset table joins back via broadcast
    assert(p95.contains("BroadcastHashJoin"), s"bucket offsets must broadcast:\n$p95")
  }

  test("q86: session window aggregates with partial merging before the exchange") {
    val p = planOf("q86_session_window")
    // batch session_window plans as partial agg → exchange → session merge;
    // only the session keys + partial counts cross the wire
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side partial aggregation for session windows:\n$p")
  }

  test("q134: two-level assignment stays one map-side projection — " +
      "no joins, no corpus expansion, ≤1 exchange for the sort") {
    val p = planOf("q134_twolevel_assign")
    assert(!p.contains("Join"), s"assignment must not join the corpus:\n$p")
    assert(!p.contains("Generate"), s"assignment must not expand the corpus:\n$p")
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles <= 1, s"expected only the output-sort exchange:\n$p")
  }

  test("q137: LM scoring is vocabulary equi-joins + partial-aggregated " +
      "counts; the only nested loop is the 1-row V broadcast") {
    val p = planOf("q137_bigram_predictability")
    assert(!p.contains("CartesianProduct"),
      s"LM scoring must never go cartesian:\n$p")
    // the V table is ONE row — its cross join must ride a broadcast
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row V broadcast may nest-loop:\n$p")
    // unigram/bigram counts and the per-doc decimal sum must partially
    // aggregate before their exchanges (map-side combine — the property
    // that keeps the explode shuffles bounded by DISTINCT keys)
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side partial aggregation in the LM count/score pipeline:\n$p")
  }

  test("q132: cell-scoped pairing — equi-join on cid, no cartesian, " +
      "survivors via anti-join") {
    val p = planOf("q132_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      s"semantic dedup must never go all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"cell pairing must be an equi-join on cid, not a nested loop:\n$p")
    assert(p.contains("LeftAnti"), s"survivors must come from an anti-join:\n$p")
  }

  test("q133: stratified split broadcasts offsets/totals; windows are " +
      "per-(source,bucket), never a global per-source sort") {
    val p = planOf("q133_stratified_split")
    // both small sides (per-(source,bucket) offsets and per-source totals)
    // must ride broadcast joins — the corpus never shuffles for them
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"offsets/totals must join via broadcast:\n$p")
    // the only window partitioning over the corpus is (source, bucket) —
    // a bare per-source window would give the hottest domain to one task
    val windows = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, s"expected window operators in the plan:\n$p")
    assert(windows.exists(w => w.contains("source") && w.contains("bucket")),
      s"expected the in-bucket rank window keyed by (source, bucket):\n$p")
    assert(windows.forall(w => !w.contains("source") || w.contains("bucket")),
      s"found a corpus window partitioned by source alone:\n$p")
  }

  test("q139: JL rerank reads ONLY the shortlist via pushed In(vec_id); " +
      "no join in the rerank stage") {
    val p = planOf("q139_jl_projection_rerank")
    // stage 2 (the audited plan): a single pruned point-lookup scan —
    // the shortlist rides an In filter to parquet, never a join
    assert(p.contains("PushedFilters:") && p.contains("In(vec_id"),
      s"shortlist must push In(vec_id) to the scan:\n$p")
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin").foreach { j =>
      assert(!p.contains(j), s"rerank stage must not join:\n$p")
    }
  }

  test("q140: calibration windows run over the bounded histogram and the " +
      "percentiles broadcast back; the corpus is never windowed") {
    val p = planOf("q140_quality_calibrate")
    // the corpus-side join must be broadcast (cal is ≤10⁴ rows/source)
    assert(p.contains("BroadcastHashJoin"),
      s"calibrated percentiles must broadcast-join back:\n$p")
    // every window sits above the histogram aggregate, so each window
    // operator's subtree must contain the group-by — locked by the
    // partial agg being present and no window taking raw doc text
    assert(p.contains("partial_count"),
      s"histogram must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no nested loop anywhere in calibration:\n$p")
  }

  test("q138: hard negatives are cell-bucketed (equi-join on cid, no " +
      "cartesian) and the per-anchor cut partial-aggregates, not a window") {
    val p = planOf("q138_hard_negatives")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate pairing must be the cell equi-join:\n$p")
    // the top-5 cut must run through the bounded aggregate with a
    // map-side partial (ObjectHashAggregate partial_topk_scored), so
    // the anchor exchange moves <=k rows per (anchor, task) — a window
    // row_number() here would shuffle every scored pair instead
    assert(p.contains("topk_scored"), s"expected the TopKScored aggregate:\n$p")
    assert(p.contains("partial_topk_scored"),
      s"top-k aggregate must partial-aggregate map-side:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"the per-anchor cut must not be a window over all scored pairs:\n$p")
  }

  test("q138: the candidate side evaluates bestCell's argmax once per vector") {
    // a nullable cid would make the join infer isnotnull(cid), pushed
    // below the candidate projection as a second copy of the k cosines
    val plan = SparkEntry.queries("q138_hard_negatives")(spark, dir)
      .queryExecution.optimizedPlan
    val argmaxes = plan.collect { case n => n.expressions }.flatten
      .flatMap(_.collect { case a: org.apache.spark.sql.catalyst.expressions.ArrayMax => a })
    assert(argmaxes.length == 1, plan.treeString)
  }

  test("q141: the DSIR bucket-ratio table broadcast-joins back onto the " +
      "feature stream; the bucket agg partial-aggregates map-side") {
    val p = planOf("q141_dsir_resample")
    // the ≤1024-row ratio table must ride a broadcast, never shuffle
    // the corpus-sized feature stream on the bucket key
    assert(p.contains("BroadcastHashJoin"),
      s"ratio table must broadcast-join onto features:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bucket counts must partial-aggregate map-side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"no cartesian anywhere in DSIR:\n$p")
    // the only BNLJ allowed is the documented 1-row scalar broadcast
    // (tot / rmax), never a corpus-sized side
    assert(!p.contains("SortMergeJoin"),
      s"nothing in DSIR should sort-merge (ratio/scalars broadcast):\n$p")
  }

  test("q142: margin normalizers run through the bounded TopKScored " +
      "aggregate, and the best-pair cut is an aggregate, not a window") {
    val p = planOf("q142_bitext_margin")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate pairing must be the cell equi-join:\n$p")
    assert(p.contains("partial_topk_scored"),
      s"avgNN_k must partial-aggregate through TopKScored map-side:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"neither the normalizers nor the best-pair cut may window over " +
        s"all scored pairs:\n$p")
  }

  test("q152: edit-distance near-dup — fused verify generator, cartesian-free") {
    val p = planOf("q152_edit_distance_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must stay the banding equi-join:\n$p")
    assert(p.contains("verified_edit_pairs"),
      s"bucket-local fused Myers verify generator missing:\n$p")
  }

  test("q157: rep verify — id-only banding (no text in any aggregation " +
      "buffer), codegen'd scalar Myers verify, cartesian-free") {
    val p = planOf("q157_edit_neardup_rep")
    assert(p.contains("edit_distance_bounded"),
      s"bounded scalar Myers verify missing:\n$p")
    assert(!p.contains("collect_list"),
      s"the id-join form must never buffer bucket texts:\n$p")
    assert(!p.contains("verified_edit_pairs"),
      s"the rep form must not fall back to pairwise expansion:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates must stay the banding equi-join:\n$p")
  }

  test("q153: funnel steps are conditional-min aggregates — no event " +
      "collection, no window over the corpus") {
    val p = planOf("q153_funnel_steps")
    assert(p.contains("partial_min"),
      s"step timestamps must partial-aggregate (min) map-side:\n$p")
    assert(!p.contains("collect_list"),
      s"the funnel must never buffer per-user event lists:\n$p")
    assert(!p.contains("windowspecdefinition"),
      s"no window pass over the raw events:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the step-fold must not cross-join:\n$p")
  }

  test("q154: retention — (user,week) activity dedups map-side; rollup " +
      "partial-aggregates; no windows, no collection") {
    val p = planOf("q154_retention_cohorts")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"cohort/rollup aggregates must have a partial phase:\n$p")
    assert(!p.contains("collect_list") && !p.contains("windowspecdefinition"),
      s"retention is pure aggregation — no buffers, no windows:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q156: session paths — ONE user-keyed exchange feeds both window " +
      "passes; top-20 is TakeOrdered, not a global sort") {
    val p = planOf("q156_session_paths")
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).length
    assert(userExchanges == 1,
      s"both window passes and the session agg must reuse one user_id " +
        s"exchange (got $userExchanges):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 paths must be TakeOrdered, never a global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q146 round plan: rank broadcast over pinned dst-aligned shares, " +
      "complete map-side combine, one post-combine exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e0 = (1L to 400L).map(i => (i % 50, (i * 7) % 50, i % 3 + 1))
      .toDF("src", "dst", "w").filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max("w").as("w"))
    val prep = graft.operators.PageRank.prepare(e0, None)
    try {
      val p = graft.operators.PageRank.step(prep, prep.pr)
        .queryExecution.executedPlan.toString
      // rank side rides a broadcast join over the pinned share blocks —
      // the |E|-row side must never shuffle or sort inside a round
      assert(p.contains("BroadcastHashJoin"),
        s"rank side must broadcast at test scale:\n$p")
      assert(!p.contains("Sort [src#"),
        s"the edge side must never sort inside a round:\n$p")
      // contributions partial-aggregate (complete map-side combine over
      // the dst-aligned blocks) BELOW the dst exchange, so the exchange
      // carries post-combine |V|-scale rows, never |E| contributions
      assert(p.contains("partial_sum"),
        s"per-edge contributions must partial-aggregate map-side:\n$p")
      val dstExchange = p.indexOf("Exchange hashpartitioning(dst")
      assert(dstExchange >= 0 && p.indexOf("partial_sum") > dstExchange,
        s"the dst exchange must sit ABOVE the partial aggregate:\n$p")
      // every exchange in the round is on a skinny |V|-scale table
      // (nid or dst) — the |E|-row share table never re-shuffles
      val keys = "Exchange hashpartitioning\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(keys.subsetOf(Set("nid", "dst")),
        s"only |V|-scale tables may exchange, got $keys:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    } finally {
      prep.releaseShares(); prep.releaseNodes(); prep.releasePr()
    }
  }

  test("q146 bucketed-by-src edges: prepare runs with NO |E| exchange — " +
      "the scan feeds the out-weight aggregate and share join in place; " +
      "ranks are bit-identical to the unbucketed path") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = (1L to 400L).map(i => (i % 50, (i * 7) % 50, i % 3 + 1))
      .toDF("src", "dst", "w").filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max("w").as("w"))
    val tbl = "graft_pr_edges_bucketed_spec"
    // the class doc's deployment recipe: edges stored bucketed by src
    edges.write.mode("overwrite").format("parquet")
      .bucketBy(4, "src").sortBy("src").saveAsTable(tbl)
    try {
      val p = graft.operators.PageRank.sharesOf(spark.table(tbl))
        .queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"),
        s"scan did not use the bucket layout:\n$p")
      // the ONLY exchange in the whole prepare plan is the dst
      // alignment the per-round exchange-elision rests on: the
      // bucketed scan's src partitioning feeds the out-weight
      // aggregate directly and co-partitions the edges⋈outW join
      val keys = "Exchange hashpartitioning\\((\\w+)#".r
        .findAllMatchIn(p).map(_.group(1)).toSet
      assert(keys == Set("dst"),
        s"bucketed prepare may only exchange on dst, got $keys:\n$p")
      assert(p.contains("partial_sum"),
        s"out-weight normalization must partial-aggregate:\n$p")
      // value parity: the layout is an optimization, never a semantics
      // change — 3 damped rounds must be bit-identical on both paths
      val viaBucketed = graft.operators.PageRank.run(spark.table(tbl), 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val viaFrame = graft.operators.PageRank.run(edges, 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(viaBucketed == viaFrame)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
