package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Shared per-phase attribution for iterative operators ([[PageRank]],
  * [[Dedup]]): wall plus EXACT shuffle-write/spill per phase (round 0 is
  * `prepare`, 1..N the iterations). Attribution is by job group — every
  * stage of a phase's jobs is tagged at submission, so the numbers are
  * per-phase even though listener delivery is async; a read drains the
  * listener bus first, so a run's stats are complete as soon as it
  * returns.
  *
  * Exists because the heaviest iterative headline queries have wide
  * box-sensitivity bands across quiet boxes and every drift flag used
  * to burn a same-box A/B — with per-round rows in the artifact,
  * attribution is mechanical (prepare / round-k / checkpoint I/O).
  *
  * Concurrency: epochs are JVM-globally unique; a new run prunes only
  * epochs that are neither in-flight nor among the last few completed,
  * so overlapping runs (even of different operators) cannot corrupt
  * each other's rows. Retried stages are counted once per
  * (stageId, attemptNumber).
  */
object PhaseStats {

  final case class RoundStat(round: Int, wallSec: Double,
      shuffleWriteBytes: Long, spillBytes: Long)

  private final class Listener(appId: String, context: SparkContext)
      extends SparkListener {
    // null once the application ends: stop() drained the bus, and a
    // handle read later must not keep the stopped context reachable
    @volatile private var ctx: SparkContext = context
    def drain(): Unit = {
      val c = ctx
      if (c != null) org.apache.spark.sql.GraftSqlBridge.drainListenerBus(c)
    }
    // every completed stage's shuffle write and spill, tagged or not —
    // the context-wide totals [[StageTotals]] reads
    val totalShuffleWrite = new java.util.concurrent.atomic.AtomicLong
    val totalSpill = new java.util.concurrent.atomic.AtomicLong
    val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val bytes = new java.util.concurrent.ConcurrentHashMap[
      (Long, Int), (java.util.concurrent.atomic.AtomicLong,
        java.util.concurrent.atomic.AtomicLong)]()
    // (stageId, attemptNumber) already counted — a retried/resubmitted
    // stage fires onStageCompleted once per ATTEMPT; without this a
    // retry double-counts its shuffle/spill into the phase row
    private val seen =
      java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int)]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val gid = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      gid.filter(_.startsWith("graft.phase.")).foreach { g =>
        g.stripPrefix("graft.phase.").split('.') match {
          case Array(e, r) =>
            try {
              val key = (e.toLong, r.toInt)
              js.stageIds.foreach(sid => stagePhase.put(sid, key))
            } catch { case _: NumberFormatException => () }
          case _ => ()
        }
      }
    }
    // lifecycle: SparkContext.stop posts ApplicationEnd and drains the
    // bus before returning, so by the time stop() completes this entry
    // is gone — without this, a JVM cycling many sessions (notebook,
    // test harness) accumulates one dead Listener per application
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
      listeners.remove(appId, this)
      ctx = null
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val key = stagePhase.get(sc.stageInfo.stageId)
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        totalShuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        totalSpill.addAndGet(m.diskBytesSpilled)
      }
      if (key != null && m != null &&
          seen.add((sc.stageInfo.stageId, sc.stageInfo.attemptNumber()))) {
        val acc = bytes.computeIfAbsent(key, _ =>
          (new java.util.concurrent.atomic.AtomicLong,
            new java.util.concurrent.atomic.AtomicLong))
        acc._1.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        acc._2.addAndGet(m.diskBytesSpilled)
      }
    }
    /** Drop every epoch the predicate rejects — called at run START with
      * "keep = in-flight ∪ recently completed", so a concurrent run's
      * in-progress rows and the rows a just-finished run is about to
      * read both survive; growth stays bounded regardless.
      */
    def prune(keep: Long => Boolean): Unit = {
      stagePhase.forEach((k, v) => if (!keep(v._1)) {
        stagePhase.remove(k)
        seen.removeIf(_._1 == k)
      })
      bytes.forEach((k, _) => if (!keep(k._1)) bytes.remove(k))
    }
  }

  private val listeners = new java.util.concurrent.ConcurrentHashMap[
    String, Listener]()
  private val epochs = new java.util.concurrent.atomic.AtomicLong()
  private val activeEpochs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val recentEpochs =
    new java.util.concurrent.ConcurrentLinkedDeque[java.lang.Long]()

  /** A completed run's readable stats handle: shuffle/spill read from
    * the listener at CALL time, after draining the listener bus — read
    * after the run returns, not mid-loop.
    */
  final class Handle private[PhaseStats] (listener: Listener, epoch: Long,
      walls: Seq[(Int, Double)]) {
    def stats: Seq[RoundStat] = {
      listener.drain()
      walls.map { case (r, w) =>
        val b = listener.bytes.get((epoch, r))
        RoundStat(r, w,
          if (b == null) 0L else b._1.get(),
          if (b == null) 0L else b._2.get())
      }
    }
    /** [[stats]] as one JSON array — the single serialization every
      * artifact writer (Bench's `*_rounds` fields, the stress harness
      * lines) shares, so the rows can't drift in shape between
      * artifacts.
      */
    def json: String = stats.map(s =>
      s"""{"round":${s.round},""" +
        s""""wall_sec":${math.round(s.wallSec * 1000) / 1000.0},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""spilled_bytes":${s.spillBytes}}""").mkString("[", ",", "]")
  }

  /** An empty handle (before any run of an operator). */
  val emptyHandle: Handle = new Handle(new Listener("", null), -1L, Nil)

  // the last finished run per tag: the calling thread's own first (so
  // concurrent runs each read theirs), else the JVM's most recent
  private val lastByThread =
    ThreadLocal.withInitial[java.util.HashMap[String, Handle]](
      () => new java.util.HashMap[String, Handle]())
  private val lastInJvm =
    new java.util.concurrent.ConcurrentHashMap[String, Handle]()

  /** The handle of the calling thread's (else the JVM's) most recent
    * finished run started under `tag`; [[emptyHandle]] before any.
    */
  def last(tag: String): Handle = {
    val own = lastByThread.get().get(tag)
    if (own != null) own else lastInJvm.getOrDefault(tag, emptyHandle)
  }

  /** Number of applications with a live registered listener — the
    * lifecycle observable ([[Listener.onApplicationEnd]] must return
    * this to its pre-registration value when a context stops).
    */
  private[graft] def trackedAppCount: Int = listeners.size()

  /** One instrumented run: wrap each phase's actions in [[Run.phase]],
    * then [[Run.finish]] to get the readable [[Handle]]. Call
    * [[Run.abort]] (or rely on finish never being reached) on failure —
    * the epoch just ages out of retention.
    */
  final class Run private[PhaseStats] (sc: SparkContext,
      listener: Listener, epoch: Long, tag: String) {
    private val walls = Seq.newBuilder[(Int, Double)]
    def phase[T](round: Int)(body: => T): T = {
      // save/restore ALL job-group-scoped properties: a caller may be
      // running inside its own group (description + interruptOnCancel
      // matter to its later cancelJobGroup / UI), and clearJobGroup
      // wipes all three
      val keys = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel")
      val saved = keys.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(s"graft.phase.$epoch.$round", s"$tag phase $round",
        interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        val r = body
        walls += ((round, (System.nanoTime() - t0) / 1e9))
        r
      } finally {
        sc.clearJobGroup()
        saved.foreach { case (k, v) => if (v != null) sc.setLocalProperty(k, v) }
      }
    }
    /** End the run and record its handle as `tag`'s [[last]]. */
    def finish(): Handle = {
      activeEpochs.remove(epoch)
      recentEpochs.addLast(epoch)
      while (recentEpochs.size > 8) recentEpochs.pollFirst()
      val handle = new Handle(listener, epoch, walls.result())
      lastByThread.get().put(tag, handle)
      lastInJvm.put(tag, handle)
      handle
    }
    def abort(): Unit = activeEpochs.remove(epoch)
  }

  /** Start an instrumented run on this context. `tag` labels the job
    * groups in the UI only — attribution keys on the globally-unique
    * epoch.
    */
  def start(sc: SparkContext, tag: String): Run = {
    val listener = listenerOf(sc)
    val epoch = epochs.incrementAndGet()
    activeEpochs.add(epoch)
    // bound listener growth: drop only epochs that are neither in-flight
    // nor among the recently completed still being read
    listener.prune(e => activeEpochs.contains(e) || recentEpochs.contains(e))
    new Run(sc, listener, epoch, tag)
  }

  private def listenerOf(sc: SparkContext): Listener =
    listeners.computeIfAbsent(sc.applicationId, id => {
      val l = new Listener(id, sc); sc.addSparkListener(l); l
    })

  /** Shuffle-write and spill bytes over every stage a context completes,
    * read off the same listener the phase rows come from — the one
    * stage-metrics listener the harnesses (Stress, ClusterPerf) share.
    */
  final class StageTotals private[PhaseStats] (listener: Listener) {
    /** Run `body`; return its wall seconds and the shuffle-write and
      * spilled bytes of the stages that completed meanwhile. Both reads
      * drain the listener bus, so an earlier query's late stage events
      * land before the window and this one's final stage inside it.
      */
    def measure(body: => Unit): (Double, Long, Long) = {
      val (w0, s0) = read()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val (w1, s1) = read()
      (wall, w1 - w0, s1 - s0)
    }
    private def read(): (Long, Long) = {
      listener.drain()
      (listener.totalShuffleWrite.get(), listener.totalSpill.get())
    }
  }

  def stageTotals(sc: SparkContext): StageTotals =
    new StageTotals(listenerOf(sc))
}
