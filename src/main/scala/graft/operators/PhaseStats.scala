package graft.operators

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.util.LongAccumulator

/** The one listener graft registers per application, and what it counts:
  *  - per-phase jobs, wall and EXACT shuffle-write/spill for iterative
  *    operators ([[PageRank]], [[Dedup]]; round 0 is `prepare`, 1..N the
  *    iterations) and for harness windows ([[measure]]);
  *  - per-query stream progress ([[progress]]): streaming events reach
  *    the context's listener bus as [[SparkListenerEvent]]s;
  *  - the streaming telemetry accumulators ([[accumulator]]), evicted
  *    with the rest when the application ends.
  *
  * Attribution is by job tag: a phase adds `graft.phase.<epoch>.<round>`
  * to the thread's job tags, so every stage of the jobs it starts is
  * keyed at submission, a phase nested in another counts in both, and
  * the caller's job group is left alone. Listener delivery is async; a
  * read drains the listener bus first, so a run's stats are complete as
  * soon as it returns.
  *
  * Concurrency: epochs are JVM-globally unique; a new run prunes only
  * epochs that are neither in-flight nor among the last few completed,
  * so overlapping runs (even of different operators) cannot corrupt
  * each other's rows. Retried stages are counted once per
  * (stageId, attemptNumber).
  */
object PhaseStats {

  final case class RoundStat(round: Int, wallSec: Double,
      shuffleWriteBytes: Long, spillBytes: Long, jobs: Int) {
    /** The one JSON row shape every artifact writer shares. */
    def json: String =
      s"""{"round":$round,"wall_sec":${math.round(wallSec * 1000) / 1000.0},""" +
        s""""jobs":$jobs,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spilled_bytes":$spillBytes}"""
  }

  /** One stateful operator's progress over a stream run: rows removed,
    * peak and last state rows, peak state bytes (-1 before any report).
    */
  final case class StateOp(name: String, evicted: Long, rowsPeak: Long,
      bytesPeak: Long, rowsLast: Long)

  /** A stream run's accumulated progress, immune to the bounded
    * `recentProgress` buffer: input rows and data batches (batches that
    * read rows), and each stateful operator in plan order.
    */
  final case class StreamProgress(inputRows: Long, dataBatches: Int,
      stateOps: Seq[StateOp]) {
    /** The first stateful operator; -1 figures when the query has none. */
    def head: StateOp = stateOps.headOption.getOrElse(StateOp("", 0L, -1L, -1L, -1L))
    def json: String = stateOps.map(o =>
      s"""{"op":"${o.name}","rows_peak":${o.rowsPeak},"bytes_peak":${o.bytesPeak}}""")
      .mkString("[", ",", "]")
  }

  private val TagPrefix = "graft.phase."

  private final class Counts {
    val jobs = new AtomicInteger
    val shuffleWrite = new AtomicLong
    val spill = new AtomicLong
  }

  private final class StreamCounts {
    private var rows = 0L
    private var batches = 0
    private var ops = Vector.empty[StateOp]
    def add(p: StreamingQueryProgress): Unit = synchronized {
      if (p.numInputRows > 0) { rows += p.numInputRows; batches += 1 }
      p.stateOperators.zipWithIndex.foreach { case (s, i) =>
        if (i == ops.size) ops :+= StateOp(s.operatorName, 0L, -1L, -1L, -1L)
        val o = ops(i)
        ops = ops.updated(i, o.copy(evicted = o.evicted + s.numRowsRemoved,
          rowsPeak = math.max(o.rowsPeak, s.numRowsTotal),
          bytesPeak = math.max(o.bytesPeak, s.memoryUsedBytes),
          rowsLast = s.numRowsTotal))
      }
    }
    def snapshot: StreamProgress = synchronized(StreamProgress(rows, batches, ops))
  }

  private final class Listener(appId: String, context: SparkContext)
      extends SparkListener {
    // null once the application ends: stop() drained the bus, and a
    // handle read later must not keep the stopped context reachable
    @volatile private var ctx: SparkContext = context
    def drain(): Unit = {
      val c = ctx
      if (c != null) org.apache.spark.sql.GraftSqlBridge.drainListenerBus(c)
    }
    // the phases each submitted stage counts toward, and each phase's counts
    val stagePhases = new ConcurrentHashMap[Int, Seq[(Long, Int)]]()
    val counts = new ConcurrentHashMap[(Long, Int), Counts]()
    def countsOf(key: (Long, Int)): Counts = counts.computeIfAbsent(key, _ => new Counts)
    // (stageId, attemptNumber) already counted — a retried/resubmitted
    // stage fires onStageCompleted once per ATTEMPT; without this a
    // retry double-counts its shuffle/spill into the phase row
    private val seen = ConcurrentHashMap.newKeySet[(Int, Int)]()
    private val accs = new ConcurrentHashMap[String, LongAccumulator]()
    private val streams = new ConcurrentHashMap[UUID, StreamCounts]()
    // terminated stream runs, oldest first: the last few stay readable
    private val ended = new ConcurrentLinkedDeque[UUID]()

    def accumulator(name: String): LongAccumulator = accs.computeIfAbsent(name, n => {
      val c = ctx
      if (c == null) throw new IllegalStateException(s"application $appId ended")
      c.longAccumulator(n)
    })
    def progressOf(runId: UUID): StreamProgress = {
      val s = streams.get(runId)
      if (s == null) StreamProgress(0L, 0, Nil) else s.snapshot
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val keys = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .toSeq.flatMap(_.split(',')).filter(_.startsWith(TagPrefix))
        .flatMap(_.stripPrefix(TagPrefix).split('.') match {
          case Array(e, r) => e.toLongOption.zip(r.toIntOption)
          case _ => None
        })
      if (keys.nonEmpty) {
        keys.foreach(countsOf(_).jobs.incrementAndGet())
        js.stageIds.foreach(stagePhases.put(_, keys))
      }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val keys = stagePhases.get(sc.stageInfo.stageId)
      val m = sc.stageInfo.taskMetrics
      if (keys != null && m != null &&
          seen.add((sc.stageInfo.stageId, sc.stageInfo.attemptNumber()))) keys.foreach { k =>
        val c = countsOf(k)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spill.addAndGet(m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        streams.computeIfAbsent(p.progress.runId, _ => new StreamCounts).add(p.progress)
      case t: StreamingQueryListener.QueryTerminatedEvent =>
        ended.addLast(t.runId)
        while (ended.size > 16) streams.remove(ended.pollFirst())
      case _ => ()
    }
    // lifecycle: SparkContext.stop posts ApplicationEnd and drains the
    // bus before returning, so by the time stop() completes this entry
    // and its accumulators are gone — without this, a JVM cycling many
    // sessions (notebook, test harness) keeps one dead Listener per
    // application
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
      listeners.remove(appId, this)
      accs.clear()
      ctx = null
    }
    /** Drop every epoch the predicate rejects — called at run START with
      * "keep = in-flight ∪ recently completed", so a concurrent run's
      * in-progress rows and the rows a just-finished run is about to
      * read both survive; growth stays bounded regardless.
      */
    def prune(keep: Long => Boolean): Unit = {
      stagePhases.forEach((k, v) => if (!v.exists(p => keep(p._1))) {
        stagePhases.remove(k)
        seen.removeIf(_._1 == k)
      })
      counts.forEach((k, _) => if (!keep(k._1)) counts.remove(k))
    }
  }

  private val listeners = new ConcurrentHashMap[String, Listener]()
  private val epochs = new AtomicLong()
  private val activeEpochs = ConcurrentHashMap.newKeySet[java.lang.Long]()
  private val recentEpochs = new ConcurrentLinkedDeque[java.lang.Long]()

  /** A completed run's readable stats handle: jobs and shuffle/spill read
    * from the listener at CALL time, after draining the listener bus —
    * read after the run returns, not mid-loop. `inner` are the runs that
    * started and finished inside this one on its thread, the last of
    * each tag, in start order.
    */
  final class Handle private[PhaseStats] (listener: Listener,
      private[PhaseStats] val epoch: Long, walls: Seq[(Int, Double)],
      val tag: String, val inner: Seq[Handle]) {
    def stats: Seq[RoundStat] = {
      listener.drain()
      walls.map { case (r, w) =>
        val c = listener.counts.get((epoch, r))
        if (c == null) RoundStat(r, w, 0L, 0L, 0)
        else RoundStat(r, w, c.shuffleWrite.get(), c.spill.get(), c.jobs.get())
      }
    }
    /** [[stats]] as one JSON array — the single serialization every
      * artifact writer (Bench's `phases`, the stress harness lines)
      * shares, so the rows can't drift in shape between artifacts.
      */
    def json: String = stats.map(_.json).mkString("[", ",", "]")
  }

  /** An empty handle (before any run of an operator). */
  val emptyHandle: Handle = new Handle(new Listener("", null), -1L, Nil, "", Nil)

  // the last finished run per tag: the calling thread's own first (so
  // concurrent runs each read theirs), else the JVM's most recent
  private val lastByThread =
    ThreadLocal.withInitial[java.util.HashMap[String, Handle]](
      () => new java.util.HashMap[String, Handle]())
  private val lastInJvm = new ConcurrentHashMap[String, Handle]()

  /** The handle of the calling thread's (else the JVM's) most recent
    * finished run started under `tag`; [[emptyHandle]] before any.
    */
  def last(tag: String): Handle = {
    val own = lastByThread.get().get(tag)
    if (own != null) own else lastInJvm.getOrDefault(tag, emptyHandle)
  }

  /** Number of applications with a live registered listener — the
    * lifecycle observable ([[Listener.onApplicationEnd]] must return
    * this to its pre-registration value when a context stops). The
    * accumulators live in the listener, so this counts them too.
    */
  private[graft] def trackedAppCount: Int = listeners.size()

  /** One instrumented run: wrap each phase's actions in [[Run.phase]],
    * then [[Run.finish]] to get the readable [[Handle]]. Call
    * [[Run.abort]] on failure so the epoch leaves the in-flight set and
    * ages out of retention.
    */
  final class Run private[PhaseStats] (sc: SparkContext,
      listener: Listener, epoch: Long, tag: String) {
    private val walls = Seq.newBuilder[(Int, Double)]
    def phase[T](round: Int)(body: => T): T = {
      val jobTag = s"$TagPrefix$epoch.$round"
      sc.addJobTag(jobTag)
      val t0 = System.nanoTime()
      try {
        val r = body
        walls += ((round, (System.nanoTime() - t0) / 1e9))
        r
      } finally sc.removeJobTag(jobTag)
    }
    /** End the run and record its handle as `tag`'s [[last]]. */
    def finish(): Handle = {
      activeEpochs.remove(epoch)
      recentEpochs.addLast(epoch)
      while (recentEpochs.size > 8) recentEpochs.pollFirst()
      val own = lastByThread.get()
      val inner = own.values.asScala.filter(_.epoch > epoch).toSeq.sortBy(_.epoch)
      val handle = new Handle(listener, epoch, walls.result(), tag, inner)
      own.put(tag, handle)
      lastInJvm.put(tag, handle)
      handle
    }
    def abort(): Unit = activeEpochs.remove(epoch)
  }

  /** Start an instrumented run on this context. `tag` names the run for
    * [[last]] — attribution keys on the globally-unique epoch.
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

  /** Run `body` as a one-phase run under `tag` and return its stats: the
    * wall, and the jobs, shuffle-write and spilled bytes of every job it
    * starts on this thread (nested runs' jobs included). The run is then
    * `last(tag)`, whose `inner` lists the runs nested in it.
    */
  def measure(sc: SparkContext, tag: String)(body: => Unit): RoundStat = {
    val run = start(sc, tag)
    try run.phase(0)(body)
    catch { case t: Throwable => run.abort(); throw t }
    run.finish().stats.head
  }

  /** The application's named telemetry accumulator: one per context,
    * task-side adds, driver-side reads, dropped when the application
    * ends. A stopped context gets a detached accumulator (value 0: the
    * counts died with the application), never an exception.
    */
  def accumulator(sc: SparkContext, name: String): LongAccumulator =
    if (sc.isStopped) new LongAccumulator
    else try listenerOf(sc).accumulator(name)
    catch { case _: IllegalStateException | _: AssertionError => new LongAccumulator }

  /** Start a stream with this application's listener already in place,
    * so [[progress]] counts every event of the run.
    */
  def startStream(sc: SparkContext)(start: => StreamingQuery): StreamingQuery = {
    listenerOf(sc)
    start
  }

  /** The progress of `q`'s run so far, read after draining the listener
    * bus (after `q.stop()`, every batch of the run). Start the query with
    * [[startStream]], or its first events may be missed.
    */
  def progress(q: StreamingQuery): StreamProgress = {
    val l = listenerOf(q.sparkSession.sparkContext)
    l.drain()
    l.progressOf(q.runId)
  }

  private def listenerOf(sc: SparkContext): Listener = {
    val l = listeners.computeIfAbsent(sc.applicationId, id => {
      val l = new Listener(id, sc); sc.addSparkListener(l); l
    })
    // the application ended around the registration: its end event is
    // gone, so evict the entry here
    if (sc.isStopped) listeners.remove(sc.applicationId, l)
    l
  }
}
