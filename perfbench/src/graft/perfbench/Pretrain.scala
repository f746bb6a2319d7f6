package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.operators.{Dedup, Models, PageRank}
import graft.queries.PipelineQueries
import graft.streaming.{DocsStream, PretrainStream => Stream}

/** The pretrain inputs: a seeded replicated documents corpus plus the
  * orders/lineitem link graph, as parquet tables under one directory.
  * Every table has sf0.1's law (see Gen) at 12% of sf0.1's rows; the
  * documents are then replicated 3× by the stress-corpus law.
  */
object Corpus {
  val BaseDocs = 600 // sf0.1: 5,000
  val Factor = 3
  val Customers = 1800L // sf0.1: 15,000
  val Orders = 18000L // sf0.1: 150,000
  val Lineitems = 72000L // sf0.1: 600,000
  val Suppliers = 120L // sf0.1: 1,000
  val Docs: Long = BaseDocs.toLong * Factor

  /** Eval-suite law on replicated ids (base·factor + r): lift to the
    * base id, or every replica of an eval doc would contaminate its
    * siblings.
    */
  val evalPred: Column = expr(s"(doc_id DIV $Factor) % 10 = 7")

  def writeTables(spark: SparkSession, seed: Long, dir: Path): Unit = {
    Gen.replicatedDocs(spark, seed, BaseDocs, Factor)
      .repartitionByRange(8, col("doc_id")).sortWithinPartitions(col("doc_id"))
      .write.parquet(dir.resolve("documents.parquet").toString)
    Gen.orders(spark, seed, Orders, Customers).coalesce(1)
      .write.parquet(dir.resolve("orders.parquet").toString)
    Gen.lineitem(spark, seed, Lineitems, Orders, Suppliers).coalesce(1)
      .write.parquet(dir.resolve("lineitem.parquet").toString)
  }

  /** The inputs' identity: each table's order-insensitive digest. */
  def fingerprint(spark: SparkSession, dir: Path): String =
    Seq("documents", "orders", "lineitem").map { t =>
      val (h, n) = Digest.of(spark.read.parquet(dir.resolve(s"$t.parquet").toString))
      f"$t:$h%016x:$n"
    }.mkString(" ")
}

/** Order-insensitive digest of a query's output, computed as its sink:
  * the full physical plan runs, and every row is folded into (Σ xxhash64
  * of its UnsafeRow bytes, row count).
  */
object Digest {
  def of(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var h = 0L
        var n = 0L
        it.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((h, n))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
  }
}

/** Pins stage outputs the way the default q160 chain does (eager
  * localCheckpoint, releasing the prior pin under the same key), timing
  * each stage as a span when tracing.
  */
final class StagePins(tr: Tracer) {
  private val pins = mutable.Map.empty[String, DataFrame]
  val lastStage = mutable.Map.empty[(String, Int), DataFrame]

  def hook(q: String): Option[(Int, String, () => DataFrame) => DataFrame] =
    Some((i, _, mk) => tr(s"queries.$q.stage$i") {
      val cp = mk().localCheckpoint()
      pins.put(s"$q:$i", cp).foreach(_.queryExecution.logical match {
        case l: LogicalRDD => l.rdd.unpersist(false)
        case _ => ()
      })
      lastStage((q, i)) = cp
      cp
    })
}

/** Per-round readouts of the iterative operators (PhaseStats rows). */
final class RoundTally {
  var rounds = 0L
  var roundS = 0.0
  var roundShuffle = 0L

  def reset(): Unit = { rounds = 0; roundS = 0; roundShuffle = 0 }

  def add(json: String): Unit = {
    implicit val f: Formats = DefaultFormats
    val rows = JsonMethods.parse(json).children.filter(r => (r \ "round").extract[Int] > 0)
    rounds += rows.size
    roundS += rows.map(r => (r \ "wall_sec").extract[Double]).sum
    roundShuffle += rows.map(r => (r \ "shuffle_write_bytes").extract[Long]).sum
  }

  def metrics(name: String, ops: Double): Seq[(String, Double, String)] = Seq(
    (s"operators.$name.rounds", rounds / ops, "count"),
    (s"operators.$name.round_s", roundS / math.max(1L, rounds), "s"),
    (s"operators.$name.round_shuffle_bytes", roundShuffle.toDouble / math.max(1L, rounds), "B"))
}

/** The pretrain batch cycle: an op is q160 → q161 → q146 → q128 → q87,
  * each run to a digest sink. Every pass must reproduce the warm-up
  * pass's digests, and q161's stage-2 survivors must contain q160's.
  */
final class PretrainBatch(ctx: Ctx) extends Workload {
  val scanInput = true
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val dir = ctx.work.resolve("tables")
  private val d = dir.toString
  private val pins = new StagePins(tr)
  private var warm = Map.empty[String, (Long, Long)]
  private var modelS0 = 0.0
  private var models0 = 0
  private val pagerank = new RoundTally
  private val cc = new RoundTally
  private val fixpoint = new RoundTally
  val Queries = Seq("q160", "q161", "q146", "q128", "q87")
  /** Rows each pass reads: q160, q161, q128, q87 scan the corpus, q146
    * the link graph.
    */
  val RowsPerOp: Long = 4 * Corpus.Docs + Corpus.Orders + Corpus.Lineitems

  private def frame(q: String): DataFrame = q match {
    case "q160" => PipelineQueries.q160Frame(spark, d, PipelineQueries.Q160Budget,
      stageRun = pins.hook(q), evalPred = Corpus.evalPred)
    case "q161" => PipelineQueries.q160Frame(spark, d, PipelineQueries.Q160Budget,
      stageRun = pins.hook(q), evalPred = Corpus.evalPred, repAnchoredNearDup = true)
    case "q146" => SparkEntry.queries("q146_pagerank")(spark, d)
    case "q128" => SparkEntry.queries("q128_cc_largestar")(spark, d)
    case "q87" => SparkEntry.queries("q87_neardup_fixpoint")(spark, d)
  }

  private def runPass(): Map[String, (Long, Long)] = Queries.map { q =>
    q -> tr(s"queries.$q") {
      val df = frame(q)
      val dg = if (q == "q160" || q == "q161") tr(s"queries.$q.stage6_7") { Digest.of(df) }
        else Digest.of(df)
      if (tr.enabled) q match {
        case "q146" => pagerank.add(PageRank.lastRunStatsJson)
        case "q128" => cc.add(Dedup.lastCcStatsJson)
        case _ => fixpoint.add(Dedup.lastFixpointStatsJson)
      }
      dg
    }
  }.toMap

  /** q161 (rep-anchored) may only over-keep against q160 at stage 2. */
  private def supersetError(): Option[String] = {
    val (a, b) = (pins.lastStage(("q160", 2)), pins.lastStage(("q161", 2)))
    val lost = a.select(col("doc_id")).except(b.select(col("doc_id"))).count()
    if (lost == 0) None else Some(s"q161 stage-2 survivors miss $lost of q160's")
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    Corpus.writeTables(spark, ctx.seed, dir)
    val t1 = System.nanoTime()
    warm = runPass()
    Main.log(f"tables ${(t1 - t0) / 1e9}%.2f s, warm-up pass ${(System.nanoTime() - t1) / 1e9}%.2f s")
    supersetError().foreach(e => throw new IllegalStateException(e))
    val built = Models.buildTimes
    modelS0 = built.values.sum
    models0 = built.size
  }

  def resetTallies(): Unit = Seq(pagerank, cc, fixpoint).foreach(_.reset())

  /** The streaming layer, measured after the traced window: the corpus
    * replayed once to warm the stream's path, then once more for the
    * figures, both checked against this set-up's batch q161 digest.
    */
  override def tracedExtra(): (Seq[OpSample], Seq[(String, Double, String)]) = {
    val stream = new StreamReplay(ctx, dir, warm("q161"))
    stream.stage()
    val warmup = stream.replay()
    stream.resetTallies()
    val measured = stream.replay()
    (warmup ++ measured, stream.layerMetrics)
  }

  def describe: String =
    s"""{"op":"q160 -> q161 -> q146 -> q128 -> q87 to a digest sink",""" +
      s""""row_unit":"table rows scanned","docs":${Corpus.Docs},""" +
      s""""base_docs":${Corpus.BaseDocs},"replication":${Corpus.Factor},""" +
      s""""orders":${Corpus.Orders},"lineitem":${Corpus.Lineitems},""" +
      s""""fingerprint":"${Corpus.fingerprint(spark, dir)}",""" +
      s""""warm_digests":{${warm.toSeq.sorted.map { case (q, (h, n)) =>
        s""""$q":[$h,$n]""" }.mkString(",")}}}"""

  def cycle(): Seq[OpSample] = {
    tr.beginOp()
    val t0 = System.nanoTime()
    try {
      val got = tr("bench.op") { runPass() }
      val lat = (System.nanoTime() - t0) / 1e9
      val err = Queries.find(q => got(q) != warm(q))
        .map(q => s"$q digest ${got(q)} != warm-up ${warm(q)}")
        .orElse(supersetError())
      Seq(OpSample("cycle", lat, RowsPerOp, 0, 0, err.isEmpty, err.getOrElse("")))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Seq(OpSample("cycle", (System.nanoTime() - t0) / 1e9, 0, 0, 0, ok = false, e.toString))
    }
  }

  def layerMetrics(w: Main.Window): Seq[(String, Double, String)] = {
    val ops = math.max(1, w.samples.size).toDouble
    val built = Models.buildTimes
    Queries.map(q => (s"queries.${q}_s", tr.total(s"queries.$q") / ops, "s")) ++
      (for (q <- Seq("q160", "q161"); i <- Seq("1", "2", "3", "5", "6_7"))
        yield (s"queries.$q.stage${i}_s", tr.total(s"queries.$q.stage$i") / ops, "s")) ++
      pagerank.metrics("pagerank", ops) ++ cc.metrics("cc", ops) ++
      fixpoint.metrics("fixpoint", ops) ++ Seq(
        ("operators.model_build_s", modelS0, "s"),
        ("operators.models_trained", (built.size - models0).toDouble, "count"))
  }
}

/** The streaming twin of q161: the corpus under `tables`, staged in id
  * order into parquet splits, replayed through PretrainStream (RocksDB
  * state) into its foreachBatch sink, then finalized with q160Output. A
  * replay's ops are its micro-batches and the finalization, each replay
  * on fresh state. The finalized output must be bit-equal to batch q161
  * on the same corpus (`reference`), and every document must be ingested.
  */
final class StreamReplay(ctx: Ctx, tables: Path, reference: (Long, Long)) {
  val Splits = 2
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val staged = ctx.work.resolve("staged")
  private val docsPath = tables.resolve("documents.parquet").toString
  private val probe = new StreamProbe
  private var replayNo = 0
  // tallies of the replays since the last reset
  private val batchLat = mutable.ArrayBuffer.empty[Double]
  private var materializeS = 0.0
  private var foldS = 0.0
  private var finalizeS = 0.0
  private var commitMs = 0L
  private var rowsPeak = 0L
  private var bytesPeak = 0L
  private var storeBytes = 0L
  private var ckptBytes = 0L
  private var replays = 0L
  private var displaced0 = 0L
  private var overConnect0 = 0L

  private def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = tr(name)(body)
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Writes the splits and registers the benchmark's query listener. */
  def stage(): Unit = {
    spark.read.parquet(docsPath).repartitionByRange(Splits, col("doc_id"))
      .sortWithinPartitions(col("doc_id")).write.parquet(staged.toString)
    // the file source replays by modification time: ascending ids first
    Files.list(staged).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      .zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(1000000000L + i * 10000L))
      }
    spark.streams.addListener(probe)
    resetTallies()
  }

  def resetTallies(): Unit = {
    batchLat.clear(); materializeS = 0; foldS = 0; finalizeS = 0; commitMs = 0
    rowsPeak = 0; bytesPeak = 0; storeBytes = 0; ckptBytes = 0; replays = 0
    displaced0 = Stream.displacedReps(spark).value
    overConnect0 = Stream.overConnectMerges(spark).value
  }

  def replay(): Seq[OpSample] = {
    replayNo += 1
    val base = ctx.work.resolve(s"replay$replayNo")
    val (ckpt, store, labels) =
      (base.resolve("checkpoint"), base.resolve("store"), base.resolve("labels"))
    val history = spark.read.parquet(docsPath)
    probe.drainAll()
    try {
      val sink = Stream.sink(history, Corpus.evalPred, s"perfbench:$tables",
        labels.toString, store.toString)
      tr.beginOp()
      val q = Stream.signals(DocsStream.readStream(spark, staged.toString, 1), history)
        .writeStream.option("checkpointLocation", ckpt.toString)
        .foreachBatch { (b: DataFrame, epoch: Long) =>
          materializeS += timed("streaming.materialize") { b.persist(); b.count() }._2
          try foldS += timed("streaming.sink_fold") { sink.fn(b, epoch) }._2
          finally b.unpersist(false)
          ()
        }.start()
      try q.processAllAvailable()
      finally { q.stop(); sink.release() }
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val batches = probe.drainAll().sortBy(_.batchId)
      tr.beginOp()
      val (out, fin) = timed("streaming.finalize") {
        Digest.of(Stream.q160Output(spark, store.toString, labels.toString,
          PipelineQueries.Q160Budget))
      }
      val (sb, cb) = (Main.treeBytes(store) + Main.treeBytes(labels), Main.treeBytes(ckpt))
      replays += 1
      finalizeS += fin
      storeBytes += sb
      ckptBytes += cb
      batches.foreach { b =>
        batchLat += b.durationMs / 1000.0
        commitMs += b.commitMs
        rowsPeak = math.max(rowsPeak, b.stateRows)
        bytesPeak = math.max(bytesPeak, b.stateBytes)
      }
      val ingested = batches.map(_.inputRows).sum
      val err =
        if (ingested != Corpus.Docs) Some(s"stream ingested $ingested of ${Corpus.Docs} docs")
        else if (out != reference) Some(s"finalized digest $out != batch q161 $reference")
        else None
      batches.map(b => OpSample("batch", b.durationMs / 1000.0, b.inputRows, 0, 0,
        err.isEmpty, err.getOrElse(""))) :+
        OpSample("finalize", fin, 0, 0, sb + cb, err.isEmpty, err.getOrElse(""))
    } catch {
      case scala.util.control.NonFatal(e) =>
        Seq(OpSample("replay", 0.0, 0, 0, 0, ok = false, e.toString))
    } finally Main.deleteTree(base)
  }

  def layerMetrics: Seq[(String, Double, String)] = {
    val n = math.max(1, batchLat.size).toDouble
    val r = math.max(1L, replays).toDouble
    val lat = if (batchLat.isEmpty) Seq(0.0) else batchLat.toSeq
    Seq(
      ("streaming.batches", batchLat.size / r, "count"),
      ("streaming.batch_s_p50", Stats.median(lat), "s"),
      ("streaming.batch_s_tail", Stats.tail(lat).value, "s"),
      ("streaming.materialize_s", materializeS / n, "s"),
      ("streaming.state_commit_s", commitMs / 1000.0 / n, "s"),
      ("streaming.sink_fold_s", foldS / n, "s"),
      ("streaming.finalize_s", finalizeS / r, "s"),
      ("streaming.state_rows_peak", rowsPeak.toDouble, "count"),
      ("streaming.state_bytes_peak", bytesPeak.toDouble, "B"),
      ("streaming.store_bytes", storeBytes / r, "B"),
      ("streaming.checkpoint_bytes", ckptBytes / r, "B"),
      ("streaming.displaced_reps",
        (Stream.displacedReps(spark).value - displaced0).toDouble, "count"),
      ("streaming.over_connect_merges",
        (Stream.overConnectMerges(spark).value - overConnect0).toDouble, "count"))
  }

  def describe: String =
    s""""stream":{"splits":$Splits,"files_per_trigger":1,"state":"RocksDB",""" +
      s""""reference_digest":[${reference._1},${reference._2}]}"""
}

/** The stream alone, run by hand (`--workload pretrain_stream`): an op is
  * one micro-batch, or the finalization; a cycle is one replay. Its
  * set-up computes the batch q161 reference and runs one warm-up replay.
  */
final class PretrainStream(ctx: Ctx) extends Workload {
  val scanInput = true
  private val dir = ctx.work.resolve("tables")
  private var stream: StreamReplay = null

  def setup(): Unit = {
    Corpus.writeTables(ctx.spark, ctx.seed, dir)
    val pins = new StagePins(new Tracer(false))
    val reference = Digest.of(PipelineQueries.q160Frame(ctx.spark, dir.toString,
      PipelineQueries.Q160Budget, stageRun = pins.hook("q161"),
      evalPred = Corpus.evalPred, repAnchoredNearDup = true))
    stream = new StreamReplay(ctx, dir, reference)
    stream.stage()
    stream.replay().find(!_.ok).foreach(s => throw new IllegalStateException(s.error))
    stream.resetTallies()
  }

  def resetTallies(): Unit = stream.resetTallies()

  def cycle(): Seq[OpSample] = stream.replay()

  def layerMetrics(w: Main.Window): Seq[(String, Double, String)] = stream.layerMetrics

  def describe: String =
    s"""{"op":"one micro-batch, or the finalization","row_unit":"documents ingested",""" +
      s""""docs":${Corpus.Docs},"base_docs":${Corpus.BaseDocs},""" +
      s""""replication":${Corpus.Factor},"fingerprint":"${Corpus.fingerprint(ctx.spark, dir)}",""" +
      stream.describe + "}"
}
