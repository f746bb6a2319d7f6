package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process.{Process, ProcessLogger}

/** Listener lifecycle for [[graft.operators.PhaseStats]]: the per-app
  * listener map, and with it the streaming telemetry accumulators it
  * holds, must not grow across session cycles (`onApplicationEnd`
  * removes the entry when its SparkContext stops). Forks
  * [[PhaseStatsCycle]] — two sequential local sessions in a fresh JVM —
  * because the suite's own session is shared and may never be stopped.
  */
class PhaseStatsLifecycleSpec extends AnyFunSuite {

  test("listener map returns to empty when each cycled session stops") {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    val cmd = Seq(javaBin) ++ moduleOpts ++ Seq(
      "-Xmx2g",
      "-cp", System.getProperty("java.class.path"),
      "graft.PhaseStatsCycle")

    val out = new java.lang.StringBuilder
    val err = new java.lang.StringBuilder
    val logger = ProcessLogger(
      l => out.synchronized { out.append(l).append('\n') },
      l => err.synchronized { err.append(l).append('\n') })
    val proc = Process(cmd).run(logger)
    val deadlineMs = System.currentTimeMillis() + 5 * 60 * 1000L
    var exit: Option[Int] = None
    while (exit.isEmpty && System.currentTimeMillis() < deadlineMs) {
      if (proc.isAlive()) Thread.sleep(1000) else exit = Some(proc.exitValue())
    }
    if (exit.isEmpty) proc.destroy()
    val tail = err.toString.linesIterator.toSeq.takeRight(30).mkString("\n")
    assert(exit.contains(0),
      s"child exit=$exit (None=timeout)\n--- child stderr tail ---\n$tail")

    val counts: Map[String, Int] = out.toString.linesIterator
      .filter(_.startsWith("CYCLE\t")).map(_.split('\t'))
      .collect { case Array(_, label, n) => label -> n.toInt }.toMap
    assert(counts.get("running1").contains(1), s"counts=$counts")
    assert(counts.get("stopped1").contains(0), s"counts=$counts")
    assert(counts.get("running2").contains(1), s"counts=$counts")
    assert(counts.get("stopped2").contains(0), s"counts=$counts")
    assert(out.toString.contains("CYCLE\tok"),
      s"child never reached ok:\n${out.toString.take(2000)}")
  }
}
