package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** Forked-JVM entry for [[PhaseStatsLifecycleSpec]]: cycles two
  * SEQUENTIAL local sessions in one JVM and prints the tracked-listener
  * count after each run and after each stop. This can't run inside the
  * suite JVM — `TestSpark.spark` is the one shared session every other
  * suite depends on, so stopping a context there is off-limits; a fork
  * is the only honest way to observe
  * [[graft.operators.PhaseStats]]'s `onApplicationEnd` removal with a
  * REAL `SparkContext.stop()` delivering the event.
  *
  * Protocol: prints `CYCLE\t<label>\t<trackedAppCount>` lines —
  * `running1/stopped1/running2/stopped2` — plus a final `CYCLE\tok`
  * after asserting each cycle's phase attribution was real (the grouped
  * count shuffled, so round 0 must carry shuffle-write bytes) and that
  * an accumulator read after stop returns a detached one.
  */
object PhaseStatsCycle {
  def main(args: Array[String]): Unit = {
    def cycle(i: Int): Unit = {
      val spark = SparkSession.builder()
        .master("local[2]")
        .appName(s"graft-phasestats-cycle-$i")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val run = graft.operators.PhaseStats.start(spark.sparkContext, s"cycle$i")
      val n = run.phase(0) {
        spark.range(1000).groupBy(expr("id % 7")).count().count()
      }
      require(n == 7L, s"grouped count returned $n")
      val handle = run.finish()
      // touch every streaming telemetry accumulator: they live in the
      // same per-app listener, so the one tracked-app count covers them
      def accs = Seq(
        graft.streaming.DocsStream.displacedReps(spark),
        graft.streaming.DocsStream.overConnectMerges(spark),
        graft.streaming.PretrainStream.displacedReps(spark),
        graft.streaming.PretrainStream.overConnectMerges(spark),
        graft.streaming.EmbedStream.capOverflows(spark),
        graft.streaming.EventsStream.anchorRewinds(spark))
      val live = accs
      live.head.add(3L)
      require(accs.zip(live).forall { case (a, b) => a eq b },
        "a running application's accumulators must be one per name")
      println(s"CYCLE\trunning$i\t${graft.operators.PhaseStats.trackedAppCount}")
      spark.stop()
      // a read after stop hands back a detached accumulator (value 0)
      // and registers nothing on the stopped context
      val after = accs
      require(after.forall(_.value == 0L) && after.head.ne(live.head),
        s"accumulators read after stop: ${after.map(_.value)}")
      // the Handle outlives the map entry (it holds the listener
      // directly) — stats must still read, and with the bus fully
      // drained by stop() the shuffle attribution is complete
      val s = handle.stats
      require(s.nonEmpty && s.head.shuffleWriteBytes > 0,
        s"no shuffle attribution after stop: $s")
      println(s"CYCLE\tstopped$i\t${graft.operators.PhaseStats.trackedAppCount}")
    }
    cycle(1)
    cycle(2)
    println("CYCLE\tok")
    sys.exit(0)
  }
}
