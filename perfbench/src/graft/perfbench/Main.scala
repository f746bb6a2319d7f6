package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{GraftConf, GraftExtensions}

/** One timed op: its latency, the input rows and bytes it consumed, the
  * bytes it wrote outside Spark's shuffle/spill accounting, and whether
  * its output check passed.
  */
final case class OpSample(kind: String, latencyS: Double, rows: Long,
    inputBytes: Long, writtenBytes: Long, ok: Boolean, error: String = "")

/** What a workload run sees: the session, the benchmark's probes, and a
  * working directory inside the checkout.
  */
final class Ctx(val spark: SparkSession, val probe: SparkProbe,
    val tracer: Tracer, val seed: Long, val work: Path)

/** A workload: `setup` makes the inputs and runs the untimed warm-up;
  * `cycle` runs a whole number of ops and returns their samples.
  */
trait Workload {
  /** Input bytes come from Spark's scan metrics (else from the samples). */
  def scanInput: Boolean
  def setup(): Unit
  def cycle(): Seq[OpSample]
  /** Zero the workload's own per-layer tallies (before a traced window). */
  def resetTallies(): Unit
  /** Start counting the bytes the program writes into the workload's
    * own directories (its cache); `writtenSinceMark` reads the count.
    */
  def writeMark(): Unit = ()
  def writtenSinceMark(): Long = 0L
  /** Layers a traced run measures after its traced window, outside the
    * op: their ops (checked like any other) and per-layer metrics.
    */
  def tracedExtra(): (Seq[OpSample], Seq[(String, Double, String)]) = (Nil, Nil)
  /** Per-layer metrics of the traced window: name → (value, unit). */
  def layerMetrics(w: Main.Window): Seq[(String, Double, String)]
  def describe: String
}

object Main {

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def newSession(work: Path, cores: Int): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(GraftConf.ObjAggFallbackKey, GraftConf.ObjAggFallbackEntries)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
      finally st.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(q => Files.isRegularFile(q)).mapToLong(q => Files.size(q)).sum()
      finally st.close()
    }

  /** Remove the work directories of runs whose process is gone (a run
    * that was killed never reached its own clean-up).
    */
  private def sweepDeadRuns(workRoot: Path): Unit =
    if (Files.exists(workRoot)) {
      val st = Files.list(workRoot)
      try st.forEach { d =>
        val pid = d.getFileName.toString.split('-').last
        if (pid.forall(_.isDigit) && !ProcessHandle.of(pid.toLong).isPresent) deleteTree(d)
      } finally st.close()
    }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "census_report" => new CensusReport(ctx)
    case "pretrain_batch" => new PretrainBatch(ctx)
    case "pretrain_stream" => new PretrainStream(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Times a workload's ops in whole cycles until `seconds` have passed. */
  final case class Window(samples: Seq[OpSample], wallS: Double, spark: Counters,
      gcMs: Long, heapPeakMb: Double, startMs: Long, endMs: Long, writtenBytes: Long)

  def timedWindow(ctx: Ctx, wl: Workload, seconds: Double): Window = {
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val c0 = ctx.probe.snapshot(ctx.spark.sparkContext)
    wl.writeMark()
    val samples = ArrayBuffer.empty[OpSample]
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    while ((System.nanoTime() - t0) / 1e9 < seconds) samples ++= wl.cycle()
    val wall = (System.nanoTime() - t0) / 1e9
    val c1 = ctx.probe.snapshot(ctx.spark.sparkContext)
    Window(samples.toSeq, wall, c1 - c0, Jvm.gcMs - gc0, Jvm.heapPeakMb,
      w0, System.currentTimeMillis(), wl.writtenSinceMark())
  }

  def main(args: Array[String]): Unit = {
    val launchedMs = arg(args, "--launched-ms").map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    val wlName = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").getOrElse(sys.error("--seed required")).toLong
    val seconds = arg(args, "--seconds").getOrElse(sys.error("--seconds required")).toDouble
    val trace = arg(args, "--trace").contains("1")
    val root = Paths.get(arg(args, "--root").getOrElse(".")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors()
    // one core is left to the driver thread, the JIT and the GC: on 4
    // cores, local[4] made pretrain_batch both slower and ~4x noisier
    // run to run than local[3]
    val cores = math.max(1, math.min(3, nproc - 1))
    val runDir = root.resolve(".bench_build").resolve("perfbench")
    val work = runDir.resolve("work").resolve(s"$wlName-$seed-${ProcessHandle.current().pid()}")
    val envBefore = Env.stamp(nproc, cores)
    sweepDeadRuns(runDir.resolve("work"))

    // set-up: launch → first timed op. It covers the JVM's start, a
    // fresh session, the inputs and the warm-up pass.
    var spark: SparkSession = null
    val probe = new SparkProbe
    val tracer = new Tracer(false)
    try {
      spark = newSession(work, cores)
      spark.sparkContext.addSparkListener(probe)
      val ctx = new Ctx(spark, probe, tracer, seed, work)
      val wl = workload(wlName, ctx)
      wl.setup()
      val setupS = (System.currentTimeMillis() - launchedMs) / 1000.0
      log(f"setup: $setupS%.3f s")

      val result =
        if (!trace) {
          val w = timedWindow(ctx, wl, seconds)
          Report.endToEnd(w, wl, setupS)
        } else {
          // untraced half, then traced half: per-layer metrics come from
          // the traced half, and the gap between the halves' mean op
          // latency is the tracing overhead
          val plain = timedWindow(ctx, wl, seconds / 2)
          tracer.enabled = true
          wl.resetTallies()
          val w = timedWindow(ctx, wl, seconds / 2)
          val r = Report.perLayer(w, plain, wl, tracer, probe, cores)
          val (xs, xm) = wl.tracedExtra()
          tracer.enabled = false
          val failedX = xs.count(!_.ok)
          xs.filterNot(_.ok).take(5).foreach(s => log(s"FAILED ${s.kind}: ${s.error}"))
          Report.writeSpans(runDir, wlName, seed, tracer)
          Report.padded(Result(r.correct && failedX == 0, r.attempted + xs.size,
            r.failed + failedX, r.metrics ++ xm, r.notes), Report.declaredPerLayer(root))
        }
      Report.writeDetail(runDir, wlName, seed, trace, envBefore, Env.stamp(nproc, cores),
        setupS, result, wl.describe)
      println(result.json)
      System.out.flush()
    } finally {
      if (spark != null) spark.stop()
      deleteTree(work)
    }
  }
}
