package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The result line of one run. */
final case class Result(correct: Boolean, attempted: Int, failed: Int,
    metrics: Seq[(String, Double, String)], notes: Seq[String]) {
  def json: String = {
    metrics.foreach { case (n, _, u) =>
      if (!Result.validName(n)) throw new IllegalArgumentException(s"metric name '$n'")
      if (!u.matches("[A-Za-z0-9_/%.-]{1,16}")) throw new IllegalArgumentException(s"unit '$u'")
    }
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${Report.num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}

object Result {
  def validName(n: String): Boolean = n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
}

/** Environment stamp of a run: machine size, load and steal, versions. */
object Env {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuJiffies: (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def stamp(nproc: Int, cores: Int): String = {
    val load = new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")),
      StandardCharsets.UTF_8).trim.split(" ").take(3).mkString(",")
    val (steal, total) = cpuJiffies
    s"""{"nproc":$nproc,"cores_used":$cores,"loadavg":[$load],""" +
      s""""steal_jiffies":$steal,"total_jiffies":$total,""" +
      s""""spark":"${org.apache.spark.SPARK_VERSION}",""" +
      s""""jvm":"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",""" +
      s""""time_ms":${System.currentTimeMillis()}}"""
  }
}

object Report {

  /** The per-layer metrics BENCHMARK.json declares, as (name, unit). */
  def declaredPerLayer(root: Path): Seq[(String, String)] = {
    implicit val f: org.json4s.Formats = org.json4s.DefaultFormats
    val b = root.resolve("BENCHMARK.json")
    if (!Files.exists(b)) Nil
    else (org.json4s.jackson.JsonMethods.parse(Files.readString(b)) \ "per_layer").children
      .map(m => ((m \ "name").extract[String], (m \ "unit").extract[String]))
  }

  /** Exactly the declared per-layer metrics, in declared order: a layer
    * this workload does not have (another workload's) reads 0.
    */
  def padded(r: Result, declared: Seq[(String, String)]): Result = {
    val got = r.metrics.map(m => m._1 -> m).toMap
    val names = declared.map(_._1).toSet
    r.metrics.filterNot(m => names(m._1)).foreach(m => Main.log(s"undeclared metric ${m._1}"))
    r.copy(metrics = declared.map { case (n, u) => got.getOrElse(n, (n, 0.0, u)) })
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def outcome(w: Main.Window): (Boolean, Int, Int) = {
    val failed = w.samples.count(!_.ok)
    (failed == 0, w.samples.size, failed)
  }

  private def writeRatio(w: Main.Window, wl: Workload): Double = {
    val input = w.samples.map(_.inputBytes).sum +
      (if (wl.scanInput) w.spark(Counters.InputBytes) else 0L)
    (w.samples.map(_.writtenBytes).sum + w.writtenBytes + w.spark.written).toDouble /
      math.max(1L, input)
  }

  /** End-to-end metrics of an untraced window. */
  def endToEnd(w: Main.Window, wl: Workload, setupS: Double): Result = {
    val (ok, n, failed) = outcome(w)
    val lat = w.samples.map(_.latencyS)
    val tail = Stats.tail(lat)
    Main.log(f"tail p${tail.pct}%.1f over ${tail.n} ops (${tail.beyond} beyond," +
      s" rule met: ${tail.ruleMet})")
    w.samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      val l = ss.map(_.latencyS)
      Main.log(f"$k%-16s n=${l.size}%4d p50=${Stats.median(l)}%.4f max=${l.max}%.4f s")
    }
    Main.log(f"spark jobs per op ${w.spark(Counters.Jobs).toDouble / math.max(1, n)}%.2f," +
      f" stages per op ${w.spark(Counters.Stages).toDouble / math.max(1, n)}%.2f")
    w.samples.filterNot(_.ok).take(5).foreach(s => Main.log(s"FAILED ${s.kind}: ${s.error}"))
    Result(ok, n, failed, Seq(
      ("setup_s", setupS, "s"),
      ("rows_per_s", w.samples.map(_.rows).sum / w.wallS, "rows/s"),
      ("op_p50_s", Stats.median(lat), "s"),
      ("op_tail_s", tail.value, "s"),
      ("peak_rss_mb", Jvm.peakRssMb, "MB"),
      ("write_bytes_per_input_byte", writeRatio(w, wl), "B/B")),
      Seq(f"op_tail_s is p${tail.pct}%.2f of ${tail.n} ops with ${tail.beyond} beyond"))
  }

  /** Per-layer metrics of the traced window `w`; `plain` is the untraced
    * window that ran just before it on the same set-up.
    */
  def perLayer(w: Main.Window, plain: Main.Window, wl: Workload, tracer: Tracer,
      probe: SparkProbe, cores: Int): Result = {
    import Counters._
    val (ok, n, failed) = outcome(w)
    val (okP, nP, failedP) = outcome(plain)
    val ops = math.max(1, n).toDouble
    val c = w.spark
    val lat = w.samples.map(_.latencyS)
    val tail = Stats.tail(lat)
    val stageUnion = Stats.unionLength(
      probe.stageSpans(w.startMs, w.endMs), w.startMs, w.endMs) / 1000.0
    // mean, not median: both windows run the same op mix, and the mean
    // is not pinned to whichever op kind sits at the middle rank
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val overhead = mean(lat) / mean(plain.samples.map(_.latencyS)) - 1.0
    // the overhead is a ratio of two windows' means; with few ops per
    // window it sits inside the op-to-op noise, and says so
    val overheadOps = math.min(n, nP)
    val overheadNote =
      if (overheadOps >= 10) f"trace overhead ${overhead * 100}%.1f%% over $overheadOps ops"
      else f"trace overhead ${overhead * 100}%.1f%% is under-sampled: $overheadOps op(s)" +
        " per window, inside the op-to-op spread"
    Main.log(overheadNote)
    val self = tracer.selfTimeByLayer
    val common = Seq(
      ("op.count", n.toDouble, "count"),
      ("op.tail_pct", tail.pct, "%"),
      ("op.failed_frac", (failed + failedP).toDouble / (n + nP), "frac"),
      ("trace.overhead_frac", overhead, "frac"),
      ("trace.overhead_ops", overheadOps.toDouble, "count"),
      ("spark.jobs_per_op", c(Jobs) / ops, "count"),
      ("spark.stages_per_op", c(Stages) / ops, "count"),
      ("spark.tasks_per_op", c(Tasks) / ops, "count"),
      ("spark.driver_gap_s", (w.wallS - stageUnion) / ops, "s"),
      ("spark.executor_run_s", c(RunMs) / 1000.0 / ops, "s"),
      ("spark.executor_cpu_s", c(CpuNs) / 1e9 / ops, "s"),
      ("spark.core_util", c(RunMs) / 1000.0 / (w.wallS * cores), "frac"),
      ("spark.shuffle_write_bytes", c(ShuffleWrite) / ops, "B"),
      ("spark.shuffle_read_bytes", c(ShuffleRead) / ops, "B"),
      ("spark.spill_bytes", (c(SpillDisk) + c(SpillMem)) / ops, "B"),
      ("spark.input_bytes", c(InputBytes) / ops, "B"),
      ("spark.result_bytes", c(ResultBytes) / ops, "B"),
      ("spark.gc_s", c(GcMs) / 1000.0 / ops, "s"),
      ("spark.failed_tasks", c(FailedTasks).toDouble, "count"),
      ("jvm.driver_gc_s", w.gcMs / 1000.0 / ops, "s"),
      ("jvm.heap_peak_mb", w.heapPeakMb, "MB")) ++
      self.toSeq.sorted.map { case (l, t) => (s"trace.self_s.$l", t / ops, "s") }
    Result(ok && okP, n + nP, failed + failedP, common ++ wl.layerMetrics(w),
      Seq(overheadNote))
  }

  private def resultsDir(runDir: Path): Path = {
    val d = runDir.resolve("results")
    Files.createDirectories(d)
    d
  }

  def writeSpans(runDir: Path, wl: String, seed: Long, tracer: Tracer): Unit =
    Files.write(resultsDir(runDir).resolve(s"$wl-seed$seed-spans.json"),
      tracer.json.getBytes(StandardCharsets.UTF_8))

  def writeDetail(runDir: Path, wl: String, seed: Long, trace: Boolean, envBefore: String,
      envAfter: String, setupS: Double, r: Result, describe: String): Unit = {
    val body =
      s"""{"workload":"$wl","seed":$seed,"trace":$trace,""" +
        s""""env_before":$envBefore,"env_after":$envAfter,""" +
        s""""setup_s":${num(setupS)},""" +
        s""""inputs":$describe,""" +
        s""""notes":${r.notes.map(n => "\"" + n + "\"").mkString("[", ",", "]")},""" +
        s""""result":${r.json}}"""
    Files.write(resultsDir(runDir).resolve(s"$wl-seed$seed-trace${if (trace) 1 else 0}.json"),
      body.getBytes(StandardCharsets.UTF_8))
  }
}
