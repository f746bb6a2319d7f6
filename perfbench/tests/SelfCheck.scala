package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Self-checks of the benchmark itself (not of the program):
  *  - the generators are seeded: the same seed gives byte-identical
  *    inputs, another seed different ones; the base corpus follows the
  *    sf0.1 statistics it is modelled on;
  *  - every metric name in BENCHMARK.json is well-formed, and the result
  *    writer refuses a malformed one;
  *  - the tail statistic leaves at least ten samples beyond it.
  *
  * Run: `python3 perfbench/selfcheck.py` from the checkout root.
  */
object SelfCheck {
  private var failures = 0

  private def check(what: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"  $what threw $e"); false }
    println(s"${if (passed) "ok  " else "FAIL"} $what")
    if (!passed) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.headOption.getOrElse("."))

    // ---- census payload generators ----
    check("census reporter payload repeats per seed") {
      Gen.crPayload(7, "B17001", "140", 50, 20).json == Gen.crPayload(7, "B17001", "140", 50, 20).json
    }
    check("census reporter payload differs across seeds") {
      Gen.crPayload(7, "B17001", "140", 50, 20).json != Gen.crPayload(8, "B17001", "140", 50, 20).json
    }
    check("census api payload repeats per seed, differs across seeds") {
      Gen.apiPayload(7, 40, 3).json == Gen.apiPayload(7, 40, 3).json &&
        Gen.apiPayload(7, 40, 3).json != Gen.apiPayload(8, 40, 3).json
    }
    check("replicate csv repeats per seed, differs across seeds") {
      java.util.Arrays.equals(Gen.vrePayload(7, 5, 4).csv, Gen.vrePayload(7, 5, 4).csv) &&
        !java.util.Arrays.equals(Gen.vrePayload(7, 5, 4).csv, Gen.vrePayload(8, 5, 4).csv)
    }

    check("base corpus follows the sf0.1 law") {
      val docs = Gen.baseDocs(7, 5000)
      val tokens = docs.map(_.text.split(' ').count(_ != "dup"))
      def share(p: Gen.Doc => Boolean) = docs.count(p).toDouble / docs.size
      tokens.min >= 10 && tokens.max <= 100 && math.abs(tokens.sum / 5000.0 - 55) < 2 &&
        math.abs(share(_.text.endsWith(" dup")) - 0.05) < 0.01 &&
        math.abs(share(_.lang == "en") - 0.412) < 0.02 &&
        docs.forall(d => d.source == s"src${d.docId % 20}")
    }

    // ---- corpus and link-graph generators ----
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-selfcheck")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def rows(seed: Long): Seq[String] =
        (Gen.replicatedDocs(spark, seed, 200, 3).orderBy(col("doc_id")).collect() ++
          Gen.orders(spark, seed, 300, 50).collect() ++
          Gen.lineitem(spark, seed, 900, 300, 10).collect()).map(_.mkString("\u0001")).toSeq
      val (a, b, c) = (rows(7), rows(7), rows(8))
      check("corpus and link graph repeat per seed") { a == b }
      check("corpus and link graph differ across seeds") { a != c }
      check("replication keeps the base corpus as replica 0") {
        val base = Gen.baseDocs(7, 200).map(_.text)
        Gen.replicatedDocs(spark, 7, 200, 3).filter(col("doc_id") % 3 === 0)
          .orderBy(col("doc_id")).collect().map(_.getString(1)).toSeq == base
      }
    } finally spark.stop()

    // ---- metric names ----
    val bench = new String(Files.readAllBytes(root.resolve("BENCHMARK.json")), "UTF-8")
    val names = "\"name\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(bench).map(_.group(1)).toSeq
    check(s"BENCHMARK.json names (${names.size}) match [A-Za-z0-9_.-]+") {
      names.nonEmpty && names.forall(Result.validName)
    }
    check("result writer refuses a malformed metric name") {
      try { Result(true, 1, 0, Seq(("bad name", 1.0, "s")), Nil).json; false }
      catch { case _: IllegalArgumentException => true }
    }

    // ---- tail rule ----
    val rng = new java.util.Random(3)
    check("tail keeps exactly ten samples beyond it") {
      (11 to 400 by 7).forall { n =>
        val xs = Seq.fill(n)(rng.nextDouble())
        val t = Stats.tail(xs)
        t.ruleMet && xs.count(_ > t.value) == 10 && t.beyond == 10 &&
          math.abs(t.pct - 100.0 * (n - 10) / n) < 1e-9
      }
    }
    check("tail of 1..100 is the 90th value at p90") {
      val t = Stats.tail((1 to 100).map(_.toDouble))
      t.value == 90.0 && t.pct == 90.0
    }
    check("tail with ten samples or fewer is flagged, not faked") {
      val t = Stats.tail((1 to 10).map(_.toDouble))
      !t.ruleMet && t.value == 10.0 && t.beyond == 0
    }

    if (failures > 0) { println(s"$failures self-check(s) failed"); sys.exit(1) }
    println("all self-checks passed")
  }
}
