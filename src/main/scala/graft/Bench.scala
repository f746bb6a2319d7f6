package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** 1-minute load average, read at a point in time. */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Number of OTHER running java processes. Concurrent JVMs distort
    * timings badly on this box (one round's driver artifacts were ~17%
    * inflated by an overlapping run); recording the count makes a
    * contaminated bench self-identifying instead of a silent regression.
    */
  /** CPU steal jiffies + total jiffies from /proc/stat's cpu line —
    * hypervisor steal is invisible to load average and was a suspect in
    * the round-8 driver-vs-builder artifact disagreement (same code,
    * same load, 20–90% per-query drift). Recording start/end deltas
    * makes stolen time adjudicable from the artifact alone.
    */
  private def cpuJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else -1L, f.sum)
    } catch { case _: Throwable => (-1L, -1L) }

  private def cpuGovernor(): String =
    try java.nio.file.Files.readString(java.nio.file.Paths.get(
      "/sys/devices/system/cpu/cpu0/cpufreq/scaling_governor")).trim
    catch { case _: Throwable => "-" }

  /** Per-table testdata fingerprint: file count, total bytes, and parquet
    * row-group count (from the footers — cheap). The round-8 artifact
    * conflict's prime suspect was a mid-round testdata regeneration that
    * changed physical layout (same logical rows, different row-group
    * split ⇒ different scan parallelism for EVERY query on those files);
    * with the fingerprint in the artifact, two runs on different
    * generations self-identify instead of reading as a code regression.
    */
  private def testdataFingerprint(sfDir: String): String = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = new java.io.File(sfDir)
    val tables = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    tables.map { t =>
      val files: Seq[java.io.File] =
        if (t.isFile) Seq(t)
        else Option(t.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
      val bytes = files.map(_.length()).sum
      val rowGroups = files.map { f =>
        try {
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
          try rd.getRowGroups.size finally rd.close()
        } catch { case _: Throwable => -1 }
      }.sum
      s""""${t.getName.stripSuffix(".parquet")}":{"files":${files.size},"bytes":$bytes,"row_groups":$rowGroups}"""
    }.mkString("{", ",", "}")
  }

  private def competingJvms(): Int =
    try {
      // exclude this JVM and its ancestor chain (the sbt launcher that
      // forked us is a java process, but not a COMPETING one)
      var own = Set.empty[Long]
      var h: java.util.Optional[ProcessHandle] =
        java.util.Optional.of(ProcessHandle.current())
      while (h.isPresent) { own += h.get.pid(); h = h.get.parent() }
      val procs = new java.io.File("/proc").listFiles()
      if (procs == null) -1
      else procs.count { f =>
        f.getName.forall(_.isDigit) && !own.contains(f.getName.toLong) && {
          try {
            val cmd = java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/${f.getName}/cmdline"))
            // /proc cmdline is NUL-separated
            new String(cmd, "UTF-8").split('\u0000').headOption
              .exists(_.endsWith("java"))
          } catch { case _: Throwable => false }
        }
      }
    } catch { case _: Throwable => -1 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftConf.session(s"local[$cpus]", cpus.toInt).getOrCreate()
    // ERROR, not WARN: the q91/q99/q117 global windows over ~3-row source
    // frames emit a WindowExec warning PER RUN, and that stderr flood has
    // pushed the result JSON line out of the driver's bounded output-tail
    // capture every round since r5 (BENCH_r0{5,6,7}.json all carry
    // parsed:null with a 2000-char tail of WindowExec noise)
    spark.sparkContext.setLogLevel("ERROR")
    // quiet-box gate: the r9 driver artifact carried drift_warns:10 with
    // load 2.83 at start — the self-adjudication NAMED the inflation but
    // the headline numbers still shipped contaminated. Wait (bounded) for
    // the 1-min load to fall below the threshold and for competing JVMs
    // to drain before any timing, re-reading after each sleep; if the box
    // never quiets inside the budget, time anyway but stamp the artifact
    // `degraded:true` — so a driver artifact is either clean or
    // self-labeled, never silently inflated. The gate runs BEFORE the
    // warm-up and cache probes so those also see the quiet box.
    val quietLoad =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_LOAD", "1.0").toDouble
    val quietBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_WAIT_SEC", "300").toInt
    // hypervisor steal is sampled over 3 s as part of the gate: two
    // round-13 runs started on a quiet box and were then contaminated
    // by a 3-4% steal storm — the storms are minutes-long, so refusing
    // to START into one is the best available defense (mid-run spikes
    // still self-identify via env.cpu_steal_pct in the artifact)
    def stealNow(): Double = {
      val a = cpuJiffies(); Thread.sleep(3000); val b = cpuJiffies()
      if (a._1 < 0 || b._1 < 0 || b._2 <= a._2) -1.0
      else 100.0 * (b._1 - a._1) / (b._2 - a._2).toDouble
    }
    val quietSteal =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_STEAL", "1.0").toDouble
    def boxBusy(): Boolean = {
      val l = loadAvg(); val j = competingJvms()
      // unreadable /proc (-1) never blocks the gate
      (l >= 0 && l > quietLoad) || j > 0 || {
        val s = stealNow(); s >= 0 && s > quietSteal
      }
    }
    val quietT0 = System.nanoTime()
    while (boxBusy() &&
        (System.nanoTime() - quietT0) / 1e9 < quietBudgetSec)
      Thread.sleep(5000)
    val quietWaitSec = (System.nanoTime() - quietT0) / 1e9
    val degraded = boxBusy()
    // warm the JVM/IO once so headline timings measure the queries, not
    // class-loading
    SparkEntry.queries.get("q06_forecast_revenue")
      .foreach(f => f(spark, sfDir).write.format("noop").mode("overwrite").save())
    // page-cache probe AND equalizer: hash-scan the two biggest tables
    // twice. cold≈warm ⇒ the data was already in page cache when the
    // bench started; cold≫warm ⇒ this run paid first-read IO that a
    // prior run on a warm box did not — exactly the state difference
    // that is invisible in load/JVM counts. Side effect (deliberate):
    // every timed query below starts from a warm cache regardless of
    // what ran before the bench, removing one cross-artifact variable.
    import org.apache.spark.sql.functions.{col, max, xxhash64}
    def scanOnce(): Double = {
      val t0 = System.nanoTime()
      Seq("lineitem", "documents").foreach { t =>
        val df = spark.read.parquet(s"$sfDir/$t.parquet")
        df.select(xxhash64(df.columns.map(col): _*).as("h"))
          .agg(max(org.apache.spark.sql.functions.col("h"))).head()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val scanCold = scanOnce()
    val scanWarm = scanOnce()
    // the previous committed artifact's per-query mins — the drift
    // baseline. Read BEFORE this run overwrites the file.
    val priorMins: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("bench_detail.json"))
        val afterQ = txt.split("\"queries\":\\{", 2)
        if (afterQ.length < 2) Map.empty
        else "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r
          .findAllMatchIn(afterQ(1).split("\\}", 2)(0))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty[String, Double] }
    // steady-state timing: queries run in the FIXED declaration order
    // (SparkEntry.benchQueries). The first run pays whole-stage-codegen
    // compilation and any model training (timed separately — see the
    // "build" section below), so the headline stays min-of-N — but N is
    // now ADAPTIVE: 3 runs baseline, extended to ≥5 for any query whose
    // min is still >0.5s, because the heavy tail is where this box's
    // scheduling noise lives (one round's driver artifact reported a
    // phantom 5x regression on q62 that two clean min-of-5 re-runs
    // disproved). Median rides along in `queries_median` so a noisy
    // distribution is visible IN the artifact instead of discovered by
    // re-running: min≈median ⇒ trust the number; median>>min ⇒ the run
    // was contaminated, compare mins only.
    // parameterized locally (driver always uses the defaults): RUNS for
    // quicker/sturdier local iterations, QUERIES to time a subset
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val heavyRuns = math.max(runs, 5)
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES").map(_.split(",").toSet)
    val loadStart = loadAvg()
    val jvmsStart = competingJvms()
    val stealStart = cpuJiffies()
    // per-RUN steal sampling (jiffy deltas around each run): this box's
    // steal storms are minutes-long and start mid-run — three r13 runs
    // were invalidated whole because only the run-level steal was
    // recorded. With a steal figure per (query, run), contaminated
    // WINDOWS self-identify and the union-min over clean windows can
    // ride alongside the headline — one storm no longer voids a run.
    // buildSec: model-training seconds PAID DURING THIS RUN (delta of
    // Models.buildTimes around the run) — the first run of a
    // model-backed query (q114's BPE, the index queries) amortizes its
    // build here, and without this figure a first-run-heavy min looks
    // like lineage drift (the r14 q114 flag burned an A/B on exactly
    // this ambiguity)
    final case class Timed(sec: Double, stealPct: Double, buildSec: Double)
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Timed = {
      val b0 = graft.operators.Models.buildTimes.values.sum
      val j0 = cpuJiffies()
      val t0 = System.nanoTime()
      // the noop sink materializes EVERY output column. A count()
      // here lets Catalyst prune computed columns straight out of the
      // plan (an orderBy+count keeps only the sort key; an agg+count
      // keeps only group existence), so projection-heavy queries
      // timed 10-30x too fast — the signature queries were measuring
      // their scan, not their math.
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      } catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      val j1 = cpuJiffies()
      val st =
        if (j0._1 < 0 || j1._1 < 0 || j1._2 <= j0._2) -1.0
        else 100.0 * (j1._1 - j0._1) / (j1._2 - j0._2).toDouble
      Timed(if (ok) sec else Double.MaxValue, st,
        math.max(0.0, graft.operators.Models.buildTimes.values.sum - b0))
    }
    // a run's window is CLEAN when its own steal stayed under the gate
    // threshold (unreadable /proc, -1, counts as clean — same permissive
    // rule as the gate)
    def clean(t: Timed): Boolean = t.stealPct <= quietSteal
    val roundSnapshots = scala.collection.mutable.Map[String, String]()
    val results: Seq[(String, Seq[Timed])] = SparkEntry.benchQueries
      .filter(n => subset.forall(_.contains(n))).map { name =>
      // drain cross-query GC debt so query N's tail latency isn't
      // query N-1's garbage — part of the heavy-tail noise story
      System.gc()
      val fn = SparkEntry.queries(name)
      // q114/q138 flagged lineage-untouched drift in r14 with no
      // mechanical adjudication row; wrap their runs in a single
      // PhaseStats phase so the LAST run's exact shuffle/spill rides in
      // the artifact (the q146/q87/q128 discipline, without needing an
      // iterative operator to host the stats)
      val phased = Set("q138_hard_negatives", "q114_bpe_encode")
      def timed(): Timed =
        if (!phased.contains(name)) timeOnce(fn)
        else {
          val run = graft.operators.PhaseStats.start(spark.sparkContext, name)
          val t = run.phase(0)(timeOnce(fn))
          roundSnapshots(s"${name.split('_').head}_phase") = run.finish().json
          t
        }
      val base = (1 to runs).map(_ => timed())
      def best(ts: Seq[Timed]) = ts.map(_.sec).min
      // the ≥5-run tier is UNIFORM (r17 verdict task 4): it used to
      // cover only mins >0.5 s, and five sub-second queries then
      // flagged >15% "regressions" in untouched code purely from
      // min-of-3 jitter (q62's first run measured 6.7× its min; q110's
      // cold run 40×) — run variance on the small queries exceeds the
      // min itself, so a 3-run tier makes the ±15% drift band
      // meaningless exactly where it fires most. Extending every query
      // costs ~2 extra sub-second runs each; SPARK_GRAFT_BENCH_RUNS<3
      // remains the local quick-iteration escape (no extension at all).
      val extended =
        if (runs >= 3 && best(base) != Double.MaxValue)
          base ++ ((runs + 1) to heavyRuns).map(_ => timed())
        else base
      // drift-triggered auto-rerun: a min >20% above the last committed
      // artifact's min for the same query gets ONE extra attempt before
      // the number is reported — scheduling-noise "regressions" (the r7
      // phantom q62, the r8 artifact conflict) usually vanish on a
      // single retry; real regressions survive it and WARN below.
      // A storm-contaminated set (no clean window) also earns one retry:
      // the storm may have passed.
      val retried =
        if (priorMins.get(name).exists(p => p > 0 && best(extended) > p * 1.2))
          extended :+ timed()
        else extended
      val times =
        if (retried.exists(clean)) retried else retried :+ timed()
      // snapshot per-phase rows IMMEDIATELY after this query's timing
      // loop — several queries share the iterative operators (q157/q130
      // also run CC), so reading the "last run" at artifact-writer time
      // would attribute another query's rounds
      name match {
        case "q146_pagerank" =>
          roundSnapshots("q146_rounds") =
            graft.operators.PageRank.lastRunStatsJson
        case "q87_neardup_fixpoint" =>
          roundSnapshots("q87_rounds") =
            graft.operators.Dedup.lastFixpointStatsJson
        case "q128_cc_largestar" =>
          roundSnapshots("q128_rounds") =
            graft.operators.Dedup.lastCcStatsJson
        case _ => ()
      }
      name -> times
    }
    // drift census vs the prior committed artifact (both directions —
    // a query suddenly FASTER on unchanged code is the same trust
    // problem as one suddenly slower)
    val driftWarns = results.flatMap { case (name, ts) =>
      val m = ts.map(_.sec).min
      priorMins.get(name).collect {
        case p if p > 0 && m != Double.MaxValue &&
            (m > p * 1.2 || m < p / 1.2) =>
          (name, p, m)
      }
    }
    def min(ts: Seq[Timed]): Double = {
      val m = ts.map(_.sec).min
      if (m == Double.MaxValue) -1.0 else m
    }
    // union-min over CLEAN windows only: -1 when every run of the query
    // saw steal above the gate (the honest "no trustworthy number" mark)
    def cleanMin(ts: Seq[Timed]): Double = {
      val c = ts.filter(t => clean(t) && t.sec != Double.MaxValue)
      if (c.isEmpty) -1.0 else c.map(_.sec).min
    }
    def median(ts: Seq[Timed]): Double =
      if (ts.map(_.sec).min == Double.MaxValue) -1.0
      else { val s = ts.map(_.sec).sorted; s(s.length / 2) }
    // 3 decimals: ms precision is below this box's noise floor, and the
    // stdout line must stay WELL under the driver's ~2000-char output-tail
    // capture (full-precision medians+runs+build pushed it past that
    // bound even before the WindowExec noise)
    def f3(d: Double): String =
      if (d < 0) "-1" else BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // per-query timings stay in the artifact (ordered as run) so future
    // rounds can separate noise from real regressions query-by-query
    val qs = results.map { case (k, ts) => s"\"" + k + "\":" + f3(min(ts)) }
      .mkString("{", ",", "}")
    val qsMed = results.map { case (k, ts) => s"\"" + k + "\":" + f3(median(ts)) }
      .mkString("{", ",", "}")
    // per-run (sec, steal_pct) pairs — the full evidence a storm-window
    // adjudication needs; queries_clean is the union-min over runs whose
    // own window stayed under the steal gate (-1 = no clean window)
    val qsRuns = results.map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(t =>
        s"[${f3(if (t.sec == Double.MaxValue) -1.0 else t.sec)},${f3(t.stealPct)}]")
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val qsClean = results.map { case (k, ts) => s"\"" + k + "\":" + f3(cleanMin(ts)) }
      .mkString("{", ",", "}")
    val nNoClean = results.count { case (_, ts) => cleanMin(ts) < 0 }
    // the build phase — model training + index writes — is amortized by
    // Models.cached into the first run of whichever query needs each
    // artifact, so min-of-N serving times structurally cannot see it.
    // Emit it as its own section (inclusive times; dependency builds
    // nest — see Models.buildTimes).
    val build = graft.operators.Models.buildTimes.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k.replace("\"", "'") + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // q146's per-phase attribution (phase 0 = prepare, 1..N = damped
    // rounds; wall + job-group-exact shuffle/spill) from the LAST timed
    // run — the heaviest headline query has a ~70% box-sensitivity band,
    // and with per-round rows in the artifact a drift flag is
    // adjudicated from the artifact alone instead of a same-box A/B
    // per-phase rows for the iterative family (q146 pagerank, q87
    // fixpoint, q128 CC) from the per-query snapshots above — q87/q128
    // both flagged drift in r13 with untouched lineage and the
    // adjudication had to fall back to plausibility; now it reads from
    // the artifact like q146's
    val prRounds = roundSnapshots.getOrElse("q146_rounds", "[]")
    val fixpointRounds = roundSnapshots.getOrElse("q87_rounds", "[]")
    val ccRounds = roundSnapshots.getOrElse("q128_rounds", "[]")
    val q138Phase = roundSnapshots.getOrElse("q138_phase", "[]")
    val q114Phase = roundSnapshots.getOrElse("q114_phase", "[]")
    // per-run build seconds for queries that paid any model build —
    // the q114 first-run amortization made visible per run
    val buildsPaid = results
      .filter { case (_, ts) => ts.exists(_.buildSec > 0.001) }
      .map { case (k, ts) =>
        s"\"" + k + "\":" + ts.map(t => f3(t.buildSec)).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(r => min(r._2)).sum else 0.0
    val totalMed = if (results.nonEmpty) results.map(r => median(r._2)).sum else 0.0
    // clean-window headline twin: per query the clean min when one
    // exists, else the plain min (so the figure stays comparable when a
    // few queries lack a clean window — n_no_clean_window counts them)
    val totalClean = if (results.isEmpty) 0.0
      else results.map { case (_, ts) =>
        val c = cleanMin(ts); if (c >= 0) c else min(ts)
      }.sum
    // environment snapshot rides in the artifact: load average,
    // competing-JVM count, CPU governor + hypervisor steal, the
    // page-cache probe, and the testdata fingerprint together make a
    // contaminated or drifted run self-identifying (round-8 lesson: two
    // same-code artifacts disagreed 11.8 vs 14.2 s and the old env
    // block could not adjudicate why)
    val (stealEnd, totalEnd) = cpuJiffies()
    val stealPct =
      if (stealStart._1 < 0 || stealEnd < 0 || totalEnd <= stealStart._2) -1.0
      else 100.0 * (stealEnd - stealStart._1) / (totalEnd - stealStart._2).toDouble
    val driftJson = driftWarns.map { case (q, p, m) =>
      s"""{"q":"$q","prior_min":${f3(p)},"min":${f3(m)}}""" }
      .mkString("[", ",", "]")
    val env = s""""env":{"load_start":$loadStart,"load_end":${loadAvg()},""" +
      s""""competing_jvms_start":$jvmsStart,"competing_jvms_end":${competingJvms()},""" +
      s""""cpu_governor":"${cpuGovernor()}","cpu_steal_pct":${f3(stealPct)},""" +
      s""""scan_probe_cold":${f3(scanCold)},"scan_probe_warm":${f3(scanWarm)},""" +
      s""""quiet_wait_sec":${f3(quietWaitSec)},"degraded":$degraded},""" +
      s""""drift_vs_prior":$driftJson,"testdata":${testdataFingerprint(sfDir)}"""
    // sink:noop marks the measurement methodology — numbers before this
    // field existed were count()-based and under-measured projection
    // queries (see the run-loop comment); cross-round comparisons are
    // only valid within the same sink
    // Two copies, one concern each:
    //  - bench_detail.json gets EVERYTHING (medians, run counts, build
    //    times, env snapshot) — the canonical artifact for humans;
    //  - stdout gets the minimal driver-contract line (metric, value,
    //    unit, queries, sf). The driver keeps only a ~2000-char tail of
    //    process output, and the full-detail line alone exceeds that —
    //    which is how every bench artifact since r5 ended up parsed:null.
    val detail =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","sink":"noop","queries":$qs,""" +
      s""""total_median":${f3(totalMed)},"total_clean":${f3(totalClean)},""" +
      s""""n_no_clean_window":$nNoClean,"queries_median":$qsMed,""" +
      s""""queries_clean":$qsClean,"queries_runs":$qsRuns,""" +
      s""""build":$build,"builds_paid":$buildsPaid,""" +
      s""""q146_rounds":$prRounds,"q87_rounds":$fixpointRounds,""" +
      s""""q128_rounds":$ccRounds,"q138_phase":$q138Phase,""" +
      s""""q114_phase":$q114Phase,"sf":"$sfDir",$env}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"), detail + "\n")
    catch { case _: Throwable => () }
    // stop BEFORE the println so executor/context shutdown chatter cannot
    // land after the JSON line in the captured output tail
    spark.stop()
    // drift_warns stays a bare count on stdout (the driver tail is
    // bounded); the per-query prior/now pairs are in the detail file
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","sink":"noop",""" +
      s""""queries":$qs,"drift_warns":${driftWarns.length},"degraded":$degraded,""" +
      s""""sf":"$sfDir","detail":"bench_detail.json"}""")
  }
}
