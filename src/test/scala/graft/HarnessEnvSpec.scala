package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process.{Process, ProcessLogger}

/** [[HarnessEnv]]: every harness setting is one typed row, and a bad or
  * unknown one fails at load, naming the variable, instead of silently
  * running the default path.
  */
class HarnessEnvSpec extends AnyFunSuite {
  import HarnessEnv._

  private def failure(vars: (String, String)*): String =
    intercept[IllegalArgumentException](load(vars.toMap)).getMessage

  test("a malformed number names the variable") {
    assert(failure("STRESS_FACTOR" -> "ten").contains("STRESS_FACTOR=ten"))
    assert(failure("STRESS_FACTOR" -> "0").contains("STRESS_FACTOR=0"))
    assert(failure("SPARK_GRAFT_BENCH_QUIET_LOAD" -> "high")
      .contains("SPARK_GRAFT_BENCH_QUIET_LOAD=high"))
    assert(failure("STRESS_PRETRAIN_E2E" -> "60k").contains("STRESS_PRETRAIN_E2E=60k"))
    assert(failure("STRESS_CHUNK" -> "512").contains("STRESS_CHUNK=512"))
    assert(load(Map("STRESS_CHUNK" -> "512:64"))(StressChunk) == Some(Seq(512, 64)))
    assert(load(Map("STRESS_FACTOR" -> "100"))(StressFactor) == 100)
  }

  test("a bool is exactly 1, 0, true or false") {
    assert(failure("STRESS_TRUTH" -> "yes").contains("STRESS_TRUTH=yes"))
    assert(failure("CLUSTERPERF_COALESCE" -> "off").contains("CLUSTERPERF_COALESCE=off"))
    Seq("1" -> true, "true" -> true, "TRUE" -> true, "0" -> false, "False" -> false)
      .foreach { case (raw, want) =>
        assert(load(Map("STRESS_TRUTH" -> raw))(StressTruth) == want, raw)
      }
    assert(!load(Map.empty)(StressTruth))
    assert(load(Map.empty)(ClusterPerfCoalesce))
  }

  test("an enum takes only its declared values") {
    assert(failure("STREAM_STRESS_PROVIDER" -> "RocksDB")
      .contains("STREAM_STRESS_PROVIDER=RocksDB"))
    assert(failure("STRESS_CONTAM_LAW" -> "fixed").contains("STRESS_CONTAM_LAW=fixed"))
    assert(load(Map("STREAM_STRESS_PROVIDER" -> "hdfs"))(StreamProvider) == "hdfs")
    assert(load(Map.empty)(StreamProvider) == "rocksdb")
  }

  test("query lists are checked against the registry") {
    val bench = SparkEntry.benchQueries
    val typo = bench.head.dropRight(1)
    assert(failure("SPARK_GRAFT_BENCH_QUERIES" -> s"${bench(1)},$typo").contains(typo))
    // a registered query that Bench does not time is no bench query
    val unbenched = (SparkEntry.queries.keySet -- bench).min
    assert(failure("SPARK_GRAFT_BENCH_QUERIES" -> unbenched)
      .contains("SPARK_GRAFT_BENCH_QUERIES"))
    assert(failure("STRESS_QUERIES" -> "q999_nothing").contains("STRESS_QUERIES=q999_nothing"))
    assert(failure("STREAM_STRESS_ANALYTICS" -> "funnel").contains("STREAM_STRESS_ANALYTICS"))
    assert(load(Map("SPARK_GRAFT_BENCH_QUERIES" -> s"${bench(1)},${bench(0)}"))(
      BenchQueries) == Some(Seq(bench(1), bench(0))))
    assert(load(Map("STRESS_QUERIES" -> ""))(StressQueries).isEmpty)
    assert(load(Map.empty)(StressQueries).size == 3)
  }

  test("an unknown name under a harness prefix fails; other names pass") {
    assert(failure("STRESS_FACTR" -> "10").contains("STRESS_FACTR is not a harness setting"))
    assert(failure("SPARK_GRAFT_BENCH_RUN" -> "1").contains("SPARK_GRAFT_BENCH_RUN"))
    load(Map("PATH" -> "/usr/bin", "SPARK_HOME" -> "/opt/spark", "STRESSFUL" -> "x"))
    // every problem is named in the one failure
    val both = failure("STRESS_FACTR" -> "10", "STRESS_TRUTH" -> "yes")
    assert(both.contains("STRESS_FACTR") && both.contains("STRESS_TRUTH=yes"))
  }

  test("the build and test gates pass validation") {
    load(Map(
      "GRAFT_EXTRA_JAVA_OPTS" -> "-Xss8m -XX:+UseG1GC",
      "GRAFT_STRESS" -> "1",
      "GRAFT_STREAM_STRESS" -> "1",
      "GRAFT_SKIP_CLUSTER_SMOKE" -> "1",
      "GRAFT_FULL_CLUSTER" -> "1",
      "SPARK_GRAFT_CPUS" -> "4",
      "SPARK_DRIVER_MEM" -> "4g",
      "SPARK_LOCAL_DIRS" -> "/tmp/spark-local"))
  }

  test("each setting is declared once, with a type, a default and a description") {
    val names = all.map(_.name)
    assert(names.distinct.size == names.size, names.diff(names.distinct))
    all.foreach { s =>
      assert(s.kind.name.nonEmpty && s.doc.nonEmpty && s.measures.nonEmpty, s.name)
      assert(Prefixes.exists(s.name.startsWith) ||
        Set("SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS")(s.name), s.name)
    }
    assert(load(Map.empty)(Cpus) == Runtime.getRuntime.availableProcessors)
  }

  test("each harness main exits non-zero on a bad setting before a Spark session starts") {
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    def runMain(main: String, args: Seq[String], env: (String, String)*): (Int, String) = {
      val out = new java.lang.StringBuilder
      val log = ProcessLogger(
        l => out.synchronized { out.append(l).append('\n') },
        l => out.synchronized { out.append(l).append('\n') })
      val cmd = Seq(javaBin, "-Xmx256m", "-cp", System.getProperty("java.class.path"), main) ++ args
      val exit = Process(cmd, None, env: _*).!(log)
      (exit, out.toString)
    }
    Seq(
      ("graft.Bench", Seq.empty[String], "SPARK_GRAFT_BENCH_RUNS" -> "three"),
      ("graft.Verify", Seq("/tmp/sf", "/tmp/out"), "STRESS_TRUTH" -> "yes"),
      ("graft.Stress", Seq.empty[String], "STRESS_FACTOR" -> "ten"),
      ("graft.StreamStress", Seq.empty[String], "STREAM_STRESS_PROVIDER" -> "RocksDB"),
      ("graft.ClusterPerf", Seq("local[1]", "/tmp/sf", "q01", "4", "64"),
        "CLUSTERPERF_COALESCE" -> "off")
    ).foreach { case (main, args, bad) =>
      val (exit, out) = runMain(main, args, bad)
      assert(exit != 0, s"$main exited 0 on ${bad._1}=${bad._2}:\n$out")
      assert(out.contains(s"${bad._1}=${bad._2}"), s"$main:\n$out")
      assert(!out.contains("SparkContext"), s"$main started Spark:\n$out")
    }
    val (exit, out) = runMain("graft.Verify", Seq("/tmp/sf"))
    assert(exit == 2 && out.contains("usage: Verify"), out)
  }
}
