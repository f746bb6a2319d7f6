package graft

import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PhaseStats

/** Job-tag attribution of [[PhaseStats]]: a phase neither takes its
  * jobs out of the caller's job group nor hides a nested phase's work
  * from the phase around it.
  */
class PhaseStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** One grouped count: at least one job that writes shuffle bytes. */
  private def shuffleJob(): Unit = {
    val n = spark.range(2000).groupBy(expr("id % 13")).count().count()
    assert(n == 13L)
  }

  test("a job inside a phase stays in the caller's job group") {
    val sc = spark.sparkContext
    val group = s"caller-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "caller's group", interruptOnCancel = false)
    try {
      val run = PhaseStats.start(sc, "in-caller-group")
      run.phase(0)(shuffleJob())
      val stat = run.finish().stats.head // drains the listener bus
      assert(sc.getLocalProperty("spark.jobGroup.id") == group)
      val inGroup = sc.statusTracker.getJobIdsForGroup(group)
      assert(inGroup.nonEmpty, s"no job of the phase is in the caller's group $group")
      assert(inGroup.length == stat.jobs, s"group ${inGroup.toSeq} vs phase $stat")
    } finally sc.clearJobGroup()
  }

  test("a phase nested in another counts its jobs and shuffle bytes in both") {
    val sc = spark.sparkContext
    val outer = PhaseStats.start(sc, "outer-phase")
    var inner: PhaseStats.Handle = null
    outer.phase(0) {
      val run = PhaseStats.start(sc, "inner-phase")
      run.phase(0)(shuffleJob())
      inner = run.finish()
    }
    val o = outer.finish()
    val (os, is) = (o.stats.head, inner.stats.head)
    assert(is.jobs > 0 && is.shuffleWriteBytes > 0, s"inner $is")
    assert((os.jobs, os.shuffleWriteBytes) == ((is.jobs, is.shuffleWriteBytes)),
      s"outer $os vs inner $is")
    assert(o.inner.map(_.tag) == Seq("inner-phase"))
  }

  test("measure counts its own jobs plus every nested run's") {
    val sc = spark.sparkContext
    val own = PhaseStats.measure(sc, "alone")(shuffleJob())
    val total = PhaseStats.measure(sc, "with-nested") {
      shuffleJob()
      PhaseStats.measure(sc, "nested")(shuffleJob())
    }
    val nested = PhaseStats.last("with-nested").inner
    assert(nested.map(_.tag) == Seq("nested"))
    val n = nested.head.stats.head
    assert(own.jobs > 0 && n.jobs > 0)
    assert(total.jobs == own.jobs + n.jobs, s"own $own nested $n total $total")
    assert(total.shuffleWriteBytes == own.shuffleWriteBytes + n.shuffleWriteBytes,
      s"own $own nested $n total $total")
  }
}
