package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process.{Process, ProcessLogger}

/** Multi-JVM smoke: every other green signal in this suite (and in the
  * 126-query oracle gate) runs in ONE JVM, so executor-side
  * serialization/classloader failures in the custom expressions
  * (`MinHashSig` ThreadLocal digests, `CollectPairsCapped`'s
  * serialize/merge path, broadcast model literals, the packed-code index
  * scan, `Dedup`'s checkpointed fixpoint, `flatMapGroupsWithState`
  * store/restore) are invisible by construction. This spec forks
  * [[ClusterSmoke]] as a separate process on
  * `master=local-cluster[2,8,4096]` — real forked executor JVMs — and
  * asserts (a) tasks genuinely ran in ≥2 non-driver processes and (b)
  * every query's canonical digest matches the same query computed here
  * under `local[4]`.
  *
  * Gated only on what it physically needs: a full Spark distribution at
  * SPARK_HOME (worker executor launch) and the sf0.01 testdata. Opt-out
  * via GRAFT_SKIP_CLUSTER_SMOKE=1 for fast local iteration.
  */
class ClusterSmokeSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.01"

  /** The verdict-prescribed set: native-expression map work (q42), the
    * zero-shuffle packed-code ANN scan over a driver-built index (q110),
    * the two-level prefix-sum materialization (q124), the
    * capped-collector inverted index (q127), the checkpointed Dedup
    * fixpoint (q72), and the cross-micro-batch streaming parity case.
    *
    * GRAFT_FULL_CLUSTER=1 widens the set to EVERY SparkEntry query — the
    * whole 126-query oracle surface digest-compared between real forked
    * executor JVMs and local[4]. Too slow for every `sbt test` (the child
    * re-trains the Pq/Ivf/BPE models and pays cluster scheduling per
    * stage); run it once per round and record the result in PLANS.md.
    */
  private val fullSurface = HarnessEnv.GateFullCluster.in(sys.env)
  private val names =
    (if (fullSurface) SparkEntry.queries.keys.toSeq.sorted
     else Seq(
       "q42_minhash_sig",
       "q110_ivfpq_search",
       "q124_mixture_materialize",
       "q127_containment_inverted",
       "q72_neardup_keep")) :+ ClusterSmoke.StreamCase

  test("queries produce identical digests under local-cluster[2,8,4096] (multi-JVM)") {
    assume(!HarnessEnv.GateSkipClusterSmoke.in(sys.env),
      "GRAFT_SKIP_CLUSTER_SMOKE set")
    val sparkHome = sys.env.get("SPARK_HOME")
    assume(sparkHome.exists(h => new java.io.File(h, "sbin").isDirectory),
      "needs a full Spark distribution (worker launch scripts)")
    assume(new java.io.File(sfDir).isDirectory, s"$sfDir missing")

    // parent-side digests under the shared local[4] session; the stream
    // sentinel digests the BATCH twin (the child asserts stream==batch
    // in-process on the cluster before emitting the same digest)
    val expected: Map[String, (Long, String)] = names.map { n =>
      val df =
        if (n == ClusterSmoke.StreamCase)
          graft.streaming.DocsStream.nearDupCandidatesBatch(
            queries.Tables(TestSpark.spark, sfDir, "documents"))
        else SparkEntry.queries(n)(TestSpark.spark, sfDir)
      n -> ClusterSmoke.digest(df)
    }.toMap

    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    val cmd = Seq(javaBin) ++ moduleOpts ++ Seq(
      "-Xmx4g",
      "-cp", System.getProperty("java.class.path"),
      "graft.ClusterSmoke",
      "local-cluster[2,8,4096]", sfDir, names.mkString(","))

    val out = new java.lang.StringBuilder
    val err = new java.lang.StringBuilder
    val logger = ProcessLogger(
      l => out.synchronized { out.append(l).append('\n') },
      l => err.synchronized { err.append(l).append('\n') })
    // SPARK_SCALA_VERSION: load-spark-env.sh sets this for script
    // launches; programmatic worker launch needs it or executor command
    // building dies in getScalaVersion ("Cannot find any build
    // directories" — it falls back to probing a source checkout)
    val proc = Process(cmd, None,
      "SPARK_HOME" -> sparkHome.get, "SPARK_SCALA_VERSION" -> "2.13").run(logger)
    // watchdog: a hung cluster (e.g. executors that never register
    // because their classpath is broken) must fail, not wedge the suite
    val deadlineMs = System.currentTimeMillis() +
      (if (fullSurface) 60 else 20) * 60 * 1000L
    var exit: Option[Int] = None
    while (exit.isEmpty && System.currentTimeMillis() < deadlineMs) {
      if (proc.isAlive()) Thread.sleep(2000) else exit = Some(proc.exitValue())
    }
    if (exit.isEmpty) proc.destroy()
    val tail = err.toString.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(exit.contains(0),
      s"child exit=$exit (None=timeout)\n--- child stderr tail ---\n$tail")

    val smoke: Map[String, Array[String]] = out.toString.linesIterator
      .filter(_.startsWith("SMOKE\t")).map(_.split('\t'))
      .map(a => a(1) -> a.drop(2)).toMap

    // multi-process proof: ≥2 distinct executor pids, none the driver's
    val pidLine = smoke.getOrElse("executor_pids",
      fail(s"no executor_pids line in child output:\n${out.toString.take(2000)}"))
    val childDriverPid = pidLine(0).toLong
    val execPids = pidLine(1).split(';').map(_.toLong).toSet
    assert(execPids.size >= 2, s"expected >=2 executor JVMs, got $execPids")
    assert(!execPids.contains(childDriverPid),
      s"executor pid equals child driver pid — tasks did not leave the driver JVM")

    names.foreach { n =>
      val got = smoke.getOrElse(n, fail(s"child emitted no digest for $n"))
      val (eRows, eHash) = expected(n)
      assert(got(0).toLong == eRows && got(1) == eHash,
        s"$n: local-cluster=(${got(0)},${got(1)}) local[4]=($eRows,$eHash)")
    }
  }
}
