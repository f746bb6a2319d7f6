package graft

/** Generates PLANS.md: a physical-plan audit of the headline and
  * scale-critical queries — shuffle/broadcast exchange counts, join
  * strategies, whole-stage-codegen coverage, and scan pushdown — so the
  * 100 TB design claims are inspectable without running anything.
  * The numbers come straight from `queryExecution.executedPlan`;
  * PlanShapeSpec locks the properties, this file displays them.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [outFile]
  */
object PlanAudit {

  /** Queries whose plan shape carries the scale story. q87, q128 and
    * q146 are omitted: building any of them executes its round loop
    * (actions at plan-build time) and every audited subtree is
    * round-dependent pinned-RDD scans; the dedup pair's edge kernel is
    * q72's (the q72_verify_edges row), and the per-round shapes are
    * documented in `operators/Dedup.scala` / `operators/PageRank.scala`.
    */
  val audited: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "partial agg before the single exchange",
    "q03_topk_revenue" -> "pre-aggregated revenue below the join; TakeOrdered top-k",
    "q05_local_volume" -> "fixed dims broadcast; fact table shuffles only for agg",
    "q06_forecast_revenue" -> "all filters pushed to the parquet scan",
    "q10_window_topk" -> "single window exchange",
    "q42_minhash_sig" -> "signatures map-side; sort is the only exchange",
    "q46_cosine_topk" -> "1-row query broadcast; codegen dot product; TakeOrdered",
    "q54_events_window" -> "tumbling window partial-aggregates before the exchange",
    "q62_training_pipeline" -> "composed filter chain stays in one codegen span per stage",
    "q67_ivf_assign" -> "literal-centroid argmax: no join, no corpus expansion",
    "q70_embed_dup_bucketed" -> "banded LSH candidates; no cartesian",
    "q72_neardup_keep" -> "3 propagation rounds over the pinned edges (plan truncated AT the checkpoint; the verify pipeline behind it is the q72_verify_edges row)",
    "q82_simhash_neardup" -> "64-bit simhash, 16-bit band keys",
    "q84_ngram_jaccard_banded" -> "minhash-banding candidates for n-gram Jaccard",
    "q88_decontaminate" -> "eval grams broadcast; corpus never shuffles on gram",
    "q100_embed_decontaminate" -> "banded eval vectors broadcast; corpus probed map-side",
    "q90_repetition" -> "per-row array exprs; zero corpus shuffles",
    "q91_mixture_reweight" -> "map-side deterministic sampling filter",
    "q92_interval_join" -> "equi-join on user_id; time range as residual",
    "q93_scrub" -> "map-side regex mask, zero corpus shuffles",
    "q94_span_dedup" -> "span hashes shuffle; span text never leaves the map side",
    "q95_sequence_pack" -> "Skew.prefixSum, three-level (no keys); bucket offsets broadcast",
    "q96_cell_diverse" -> "map-side IVF assignment + one window per cell",
    "q97_quality_gate" -> "map-side quality signal; one shuffle on source",
    "q98_grouping_sets" -> "single expand + one partial-agg shuffle",
    "q86_session_window" -> "partial session merge before the exchange",
    "q40_dedup_exact" -> "single hash-groupBy shuffle",
    "q49_text_stats" -> "map-side text metrics",
    "q101_bloom_decontaminate" -> "task-literal bloom prunes grams map-side; exact verify on survivors",
    "q102_model_quality" -> "classifier gate: one map-side projection, no join",
    "q103_partitioned_sink" -> "partition filter prunes directories; source never read as data",
    "q104_stream_neardup_batch" -> "band-bucket min aggregation; candidates never all-pairs",
    "q105_incremental_dedup" -> "new-batch bloom prunes the history scan map-side",
    "q106_salted_hot_agg" -> "two-phase: (key,salt) exchange then 48-row key exchange",
    "q107_bigram_langid" -> "char-bigram profiles; map-side argmax",
    "q108_pq_encode" -> "literal codebooks: encoding is one map-side projection",
    "q109_pq_search" -> "codes-only index scan + query LUT; no join, no embedding read",
    "q110_ivfpq_search" -> "probed cells = partition pruning on the code index; LUT ADC",
    "q114_bpe_encode" -> "trained merges ride in the native BpeTokenStats kernel (one codegen'd call per row); encoding map-side",
    "q115_ivfpq_residual" -> "per-cell residual LUTs over the pruned residual-code index",
    "q118_stream_neardup_verified" -> "banded candidates verified at exact Jaccard vs bucket rep",
    "q119_ivfpq_rerank" -> "ADC shortlist, then exact re-rank via In-pushdown point lookups",
    "q120_ivfpq_batch_search" -> "N queries amortize one pruned codes-only scan; window top-k per query",
    "q121_index_append" -> "frozen codebooks as literals; batch predicate pushed; append is scan→project",
    "q122_containment_dedup" -> "banded candidates only; containment verify is bounded pairwise",
    "q123_sq8_quantize" -> "128-double scale model as literals; byte encode map-side",
    "q124_mixture_materialize" -> "Skew.prefixSum per (source, md5-prefix bucket); offsets+targets broadcast",
    "q125_ann_recall" -> "two bounded top-10 artifacts; overlap join is 10×10",
    "q127_containment_inverted" -> "shingles as rows from the fused ShingleRows generator, map-side (no interpreted HOF, no token exchange); posting lists built in one agg; df-cap bounds pair fan-out",
    "q129_source_cap" -> "salted pre-cap window bounds the per-source window to K×nSalts rows — a hot domain never lands in one sort",
    "q132_semantic_dedup" -> "map-side IVF assignment; pairwise bounded per cell (one cid shuffle); survivors via anti-join",
    "q133_stratified_split" -> "Skew.prefixSum rank per source; (source,bucket) offsets and totals broadcast",
    "q134_twolevel_assign" -> "recursive-IVF assignment: coarse argmax then cell argmax, one map-side projection, k1+|cell| cosines/row",
    "q135_twolevel_multiprobe" -> "nprobe=2 recall knob: union-of-2-cells argmax, still join-free map-side",
    "q136_semdedup_keep_hard" -> "q132's plan with the keep priority swapped to (centroid cos, id) — the SemDeDup paper policy",
    "q137_bigram_predictability" -> "bigram-LM scoring: partial-aggregated count explodes, vocabulary equi-joins on the bigram key, 1-row V broadcast; decimal partial sums keep the doc re-agg one exchange",
    "q138_hard_negatives" -> "hard-negative mining: cell equi-join (~nprobe·n²/k pairs, never all-pairs); bounded TopKScored partial-aggregates the per-anchor cut map-side — the anchor exchange moves ≤5 rows per (anchor, task), no pair-set window",
    "q139_jl_projection_rerank" -> "JL two-stage: 16-plane projection map-side, TakeOrdered shortlist; audited rerank stage reads exactly 50 rows via pushed In(vec_id) — no join, no corpus re-scan",
    "q140_quality_calibrate" -> "per-source ECDF calibration: score quantized to a 4-dec grid so the histogram is ≤10⁴ rows/source by construction; windows run over the histogram only, percentiles broadcast back map-side",
    "q141_dsir_resample" -> "DSIR importance resampling: bucket table ≤B=1024 rows by construction (partial-aggregated tiny exchange), broadcast back onto the feature stream; the only corpus exchange is the per-doc score agg over narrow (doc_id, ratio) rows; Bernoulli keep is map-side",
    "q142_bitext_margin" -> "ratio-margin mining: q138's cell-join candidates (never all-pairs); both avgNN_k normalizers via bounded TopKScored (≤4 rows per (vector, task) on the wire); explode reuses the agg's hash partitioning — no extra exchange; best-pair is a struct-max agg, no window",
    "q143_quality_classifier" -> "bootstrapped classifier, train-once-apply-map-side: the fastText hashing trick bounds the model at 2^20 buckets by construction, trained via a source-partitioned label window + one bounded agg, collected ONCE into a 4 MB dense array on a torrent broadcast; scoring is a single native expression per doc (DocMeanPosterior) — the corpus is never exploded, joined, or shuffled to apply the model; the only exchange is the output sort",
    "q144_sampled_stats" -> "Horvitz-Thompson sampled estimate + ACS m90/RSE: one global aggregation over narrow longs, partial-aggregated map-side; the sample never materializes; one corpus scan",
    "q145_exact_substring" -> "ExactSubstr dedup (Lee et al.): first-occurrence per sliding gram is a partial-aggregated min(struct) — hot boilerplate grams collapse map-side, never a corpus window; join-back on the hash matches each occurrence to exactly one first (no pair explosion); span union + reassembly are per-row array expressions",
    "q147_bm25_topk" -> "BM25 retrieval: the whole model (N, avg len, per-term df) is ONE map-side-combined stats pass; scoring is a single projection (per-term tf via array filters — the explode emits only the 4 per-query score structs per doc, never tokens); per-query top-k via bounded TopKScored partials — no postings join, no global sort",
    "q148_pmi_collocations" -> "PMI collocation mining: bigrams are map-side zip_with (no window, no self-join); one partial-aggregated count shuffle each for bigrams and unigrams; minCount prunes BEFORE the unigram joins so join keys are vocabulary-sized (the corpus never joins itself); global top-k via TakeOrdered",
    "q149_chunk_overlap" -> "sliding-window chunking: pure map-side sequence+explode (fan-out bounded by doc length, never corpus size) + per-chunk slice/concat; the output sort is the only exchange",
    "q150_hybrid_rrf" -> "hybrid RRF retrieval: BM25 and dense rankings both end in bounded TopKScored partials, so the fusion full-outer join and window re-rank touch ≤2·k·|Q| rows regardless of corpus size; the dense pass is one map-side corpus scan against the |Q|-row broadcast anchor table",
    "q151_ngram_diversity" -> "per-source diversity profile: explode → partial-aggregated counts; the exact DISTINCT shuffles map-side-deduped (source, gram) pairs (approx_count_distinct is the one-pass 100 TB dial); the source-level join is tiny",
    "q152_edit_distance_neardup" -> "edit-distance near-dup, bucket-local (Dedup.verifyBuckets, q72's pipeline): each text crosses the wire once per band (never per pair); VerifiedEditPairs walks the i<j member pairs with the first-shared-band skip, length-gates and verifies in place with the bounded bit-parallel Myers kernel, per-member code points converted once; singleton buckets pruned payload-free; hot buckets (>4096) verify through Dedup.verifyPairs' pair join — 482 s → 2.0 s warm at 10×, spill eliminated at 100×",
    "q157_edit_neardup_rep" -> "q152's verify at SUB-QUADRATIC cost: each bucket member verifies against the bucket-minimum representative only (b−1 Myers calls per bucket, never ~b²/2) and CC absorbs transitivity. Id-join plan — ids-only banding, min-per-bucket partial agg (no text in any aggregation buffer), ≤Σ(b−1) distinct pairs before texts move, then Dedup.verifyPairs' one text join per side into the length-gated, codegen'd scalar Myers verify — measured 19.3M vs 10.8e9 kernel calls at 1000×/5M docs, 75.5 s warm on the default heap, zero spill; the bucket-collect generator form OOMed the 8 GB heap there and was deleted",
    "q155_canonical_dedup" -> "Unicode-canonical exact dedup: NFC+casefold+whitespace-collapse canonical key is one map-side projection (native NfcNormalize, already-normalized fast path); the dedup is one partial-aggregated groupBy — clone classes collapse map-side, same plan as q40",
    "q153_funnel_steps" -> "ordered funnel: each step a conditional-min agg (map-side partial min per user before its exchange; event-type filter pushed to the scan) joined user-keyed to the previous step's ≤1-row-per-user table (AQE broadcast while it fits); final counts fold the step tables in ONE aggregation — no per-user event collection, no scalar-subquery cross join",
    "q154_retention_cohorts" -> "retention cohorts: (user, week) activity map-side-deduped before its one exchange; cohort anchor table ≤1 row/user; the (cohort, offset) rollup partial-aggregates; week offsets are exact integer day arithmetic",
    "q156_session_paths" -> "session path analysis: ONE user-keyed exchange feeds both window passes (second reuses the first's sort); per-session path collect bounded by the 30-min gap; path rollup partial-aggregates; top-20 via TakeOrdered, no global sort",
    "q162_bucketed_pack" -> "length-bucketed packing: Skew.prefixSum rank per (grade, id-bucket) — a hot grade never lands in one sort; offsets broadcast",
    "q163_contamination_frac" -> "thresholded decontamination: task-literal bloom prunes the gram stream map-side; exact hit counts on survivors only; per-doc distinct-gram totals are ONE map-side array expression (the exploded-stream aggregate they replaced carried ~725 MB of the realistic 1000x row's spill)",
    "q164_intradoc_repetition" -> "intra-doc repetition signals as ONE map-side projection: dup-trigram fraction from the shingle array + native TopShingleCount mode kernel (deleted the ~245M-key (doc,bigram) exchange: 6.9 GB spill -> 0); only the output sort exchanges",
    "q160_pretrain_e2e" -> "the composed pretrain DAG: stage boundaries pinned as ids-only/slim manifests (the audited plan is the post-pin tail — stages 6-7 over budget-bounded rows; earlier stages reuse q155/q87/q101/q97/q124/q133/q95's audited shapes; stages 5-7 are q124/q133/q95's laws over Skew.prefixSum); full-chain cost decomposed per stage in the round-14 STRESS_PRETRAIN_E2E ladder (5M docs, 71.7 s, spill localized to edge-gen prepare)")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftConf.session("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the audit documents the SCALE shape: pin the kernel-spread
    // workaround off so the local single-row-group testdata's extra
    // exchange (a no-op on any multi-split corpus — see
    // PipelineQueries.spreadForKernels) does not read as the 100 TB plan
    spark.conf.set("spark.graft.kernelSpread", "off")

    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan audit of the scale-critical queries\n\n"
    sb ++= s"Generated by `graft.PlanAudit` over `$sfDir` (plan shapes are\n"
    sb ++= "data-size-independent; regenerate with `sbt \"runMain graft.PlanAudit\"`).\n"
    sb ++= "Audited with `spark.graft.kernelSpread=off` — the SCALE plan; the\n"
    sb ++= "local single-split layout adds one documented spread exchange on the\n"
    sb ++= "kernel-heavy paths (PlanShapeSpec pins the `off` plan and the `auto` exchange).\n"
    sb ++= "`shuffles` counts non-broadcast `Exchange`s — the only places data\n"
    sb ++= "moves between executors; `codegen` counts whole-stage-codegen spans.\n"
    sb ++= "Each property below is regression-locked in `PlanShapeSpec`.\n\n"
    sb ++= "Counts are from the FINAL adaptive plan after executing each query.\n"
    sb ++= "Plan strings repeat shared subtrees (q72's three unrolled propagation\n"
    sb ++= "rounds re-print the edge pipeline each round), so counts are upper\n"
    sb ++= "bounds on distinct stages. q46's single BNLJ is the documented 1-row\n"
    sb ++= "query-vector broadcast, not a corpus-sized nested loop.\n\n"
    sb ++= "| query | shuffles | broadcasts | joins | codegen spans | pushdown | why this shape scales |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"

    // q72's audited plan is truncated at its eager localCheckpoint (the
    // pinned edges appear as a LogicalRDD scan), and q161's stage pins
    // hide its edge step the same way, so both verify pipelines are
    // audited here UN-checkpointed as their own rows. Not SparkEntry
    // queries: these are internal edge subtrees.
    val extra: Seq[(String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame, String)] = Seq(
      ("q72_verify_edges", s => graft.queries.PipelineQueries.verifiedEdges(s, sfDir),
        "the verify pipeline q72 pins: bucket-local fused verify generator; singleton prune; payload crosses the wire once per band"),
      ("q161_rep_edges", s => graft.queries.PipelineQueries.q161RepEdges(s, sfDir),
        "q161's stage-2 edges over the stage-1 survivors (the stage pin hides them): ids-only banding, min-per-bucket partial agg, distinct (doc, rep) pairs before any shingle set moves, then one payload join per side into the codegen'd merge-scan Jaccard"))

    val allAudits: Seq[(String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame, String)] =
      audited.map { case (n, w) =>
        (n, (s: org.apache.spark.sql.SparkSession) => SparkEntry.queries(n)(s, sfDir), w)
      } ++ extra

    allAudits.foreach { case (name, mk, why) =>
      val df = mk(spark)
      df.collect() // execute so AQE finalizes and codegen ids are assigned
      // AQE prints "== Final Plan ==" then "== Initial Plan ==" — count
      // only the final (executed) one
      val p = df.queryExecution.executedPlan.toString
      val lines = p.linesIterator.takeWhile(!_.contains("== Initial Plan ==")).toSeq
      val shuffles = lines.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      val bcasts = lines.count(_.contains("BroadcastExchange"))
      val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct", "AsOfJoin")
        .map(j => j -> lines.count(_.contains(j))).filter(_._2 > 0)
        .map { case (j, c) => s"$c×${j.replace("Exec", "")}" }.mkString(", ")
      val codegen = """\*\((\d+)\)""".r
        .findAllMatchIn(lines.mkString("\n")).map(_.group(1)).toSet.size
      val pushed = lines.exists(l => l.contains("PushedFilters: [") &&
        !l.matches(""".*PushedFilters: \[\s*\].*"""))
      sb ++= s"| $name | $shuffles | $bcasts | ${if (joins.isEmpty) "—" else joins} " +
        s"| $codegen | ${if (pushed) "yes" else "—"} | $why |\n"
    }

    sb ++= "\nAnti-patterns asserted absent across ALL audited plans: " +
      "`CartesianProduct`, `BroadcastNestedLoopJoin` on any corpus-sized input, " +
      "UDFs (everything is Catalyst expressions), driver-side `collect()` loops.\n"
    // Regenerate ONLY the audit table: the hand-written sections below it
    // (scale-stress numbers, multi-JVM parity results) are measurements
    // this tool cannot reproduce — preserve everything from the first
    // "## " heading of the existing file onward. (A full overwrite once
    // silently deleted the stress history.)
    val out = java.nio.file.Paths.get(outFile)
    val tail =
      if (java.nio.file.Files.exists(out)) {
        val prev = java.nio.file.Files.readString(out)
        prev.indexOf("\n## ") match {
          case -1 => ""
          case i => prev.substring(i)
        }
      } else ""
    java.nio.file.Files.write(out, (sb.toString + tail).getBytes("UTF-8"))
    println(s"wrote $outFile" + (if (tail.nonEmpty) " (hand-written tail preserved)" else ""))
    spark.stop()
  }
}
