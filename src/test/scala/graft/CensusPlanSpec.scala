package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayRepeat
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DriverRelation, FoldDriverRelation}
import graft.sources._

/** Plan and job locks on the census request path: a decoded table becomes
  * a frame without per-request Spark work, its derived measures fold once
  * and stay linear in the table's width, and a warm request compiles no
  * new class.
  */
class CensusPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixtureTable = {
    val in = getClass.getClassLoader.getResourceAsStream("censusreporter/acs_fixture.json")
    CensusReporterDecoder.decode(
      new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8), "B17001")
  }

  private def output(df: DataFrame): Seq[_] = df.queryExecution.analyzed.output

  test("the driver-side frame helper's output is an IndexedSeq") {
    val t = fixtureTable
    val direct = DriverFrame(spark, schema.CensusMeta.schema(t.columns), t.rows)
    val api = CensusApi.toDataFrame(spark, Seq("NAME", "x"), Seq(Seq("a", "1")))
    Seq(direct, CensusReporterDecoder.toFrame(spark, t).df, api).foreach { df =>
      assert(output(df).isInstanceOf[IndexedSeq[_]], output(df).getClass.getName)
    }
    assert(CensusReporterDecoder.toFrame(spark, t).df.collect().map(_.toSeq).toSeq ==
      t.rows)
  }

  /** A projection's interpreted fallback (`InterpretedMutableProjection`)
    * indexes the project list per field: O(width²) per row when the list
    * is a `List`. With the fold rule excluded, the optimized plan shows
    * every `Project` the rule would have evaluated.
    */
  test("no Project from addRse, withPairs or grouped with_m90 SQL carries a List") {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", FoldDriverRelation.ruleName)
    val cf = CensusReporterDecoder.toFrame(s, fixtureTable)
    val derived = cf.addRse("001")
    val paired = derived.withPairs("share" -> derived.proportion("002", "001"))
    cf.df.createOrReplaceTempView("plan_lock")
    val grouped = s.sql(
      "SELECT substr(geoid, 1, 9) AS grp, with_m90(B17001001) FROM plan_lock " +
        "GROUP BY substr(geoid, 1, 9)")
    def projects(p: LogicalPlan): Seq[Project] = p.collect { case x: Project => x }
    Seq("addRse" -> derived.df, "withPairs" -> paired.df, "with_m90" -> grouped).foreach {
      case (name, df) =>
        val qe = df.queryExecution
        val ps = projects(qe.analyzed) ++ projects(qe.optimizedPlan)
        assert(ps.nonEmpty, name)
        ps.foreach(p => assert(!p.projectList.isInstanceOf[List[_]],
          s"$name: List project list over ${p.child.nodeName}"))
    }
    assert(grouped.count() == 1)
  }

  test("a VRE load + MOE collect and derived measures on a decoded frame run no job") {
    val dir = java.nio.file.Files.createTempDirectory("varrep-jobs")
    val header = (Seq("TBLID", "GEOID", "ORDER", "TITLE", "CME", "ESTIMATE", "MOE") ++
      (1 to 80).map(i => s"Var_Rep$i")).mkString(",")
    val rows = (1 to 5).map(r => (Seq("B01001", s"g$r", r.toString, "Total", "", "100",
      "5") ++ Seq.fill(80)("101")).mkString(","))
    val path = dir.resolve("vr.csv")
    java.nio.file.Files.write(path, (header +: rows).mkString("", "\n", "\n").getBytes)
    var moe: Array[org.apache.spark.sql.Row] = null
    var (analyzed, plan): (LogicalPlan, LogicalPlan) = (null, null)
    val vreJobs = TestSpark.jobsOf(spark) {
      val df = VarRep.loadVarRep(spark, path.toString)
      val q = df.select(col("GEOID"),
        VarRep.replicateMoe(col("ESTIMATE"), col("replicates")).as("m"))
      moe = q.collect()
      analyzed = q.queryExecution.analyzed
      plan = q.queryExecution.optimizedPlan
    }
    assert(moe.length == 5 && moe.forall(_.getDouble(1) == math.sqrt(4.0) * 1.645))
    assert(vreJobs == 0, s"VRE load + collect ran $vreJobs jobs")
    // the MOE is folded on the driver: no file scan, no projection left
    assert(plan.isInstanceOf[DriverRelation], plan.treeString)
    // and its kernel builds no repeated-estimate array per row
    Seq(analyzed, plan).foreach(p => assert(
      !p.exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayRepeat]))), p.treeString))

    val cf = CensusReporterDecoder.toFrame(spark, fixtureTable)
    val derivedJobs = TestSpark.jobsOf(spark) {
      val f = cf.addRse("001")
      val w = f.withPairs("share" -> f.proportion("002", "001"),
        "sum" -> f.sumM("003", "004"))
      assert(w.df.select("geoid", "B17001001_rse", "share", "share_m90", "sum")
        .collect().length == 3)
    }
    assert(derivedJobs == 0, s"derived-measure collect ran $derivedJobs jobs")
  }

  private def request(c: CensusFrame): DataFrame = {
    val f = c.addRse("001")
    val names = Seq("share", "sum", "ratio", "prod")
    val w = f.withPairs("share" -> f.proportion("002", "001"), "sum" -> f.sumM("003", "004"),
      "ratio" -> f.ratio("003", "002"), "prod" -> f.product("002", "003"))
    w.df.select((Seq("geoid", "B17001001_rse") ++ names.flatMap(n => Seq(n, n + "_m90")))
      .map(w.df(_)): _*)
  }

  test("a derived-measure request over a driver frame folds its projections once") {
    val cf = CensusReporterDecoder.toFrame(spark, fixtureTable)
    val q = request(cf)
    var rows: Array[org.apache.spark.sql.Row] = null
    val jobs = TestSpark.jobsOf(spark) { rows = q.collect() }
    assert(jobs == 0, s"derived-measure collect ran $jobs jobs")
    val qe = q.queryExecution
    // addRse, withPairs and select reach the fold rule as one Project over
    // the leaf, which it folds in one pass
    val unfolded = spark.newSession()
    unfolded.conf.set("spark.sql.optimizer.excludedRules", FoldDriverRelation.ruleName)
    request(CensusReporterDecoder.toFrame(unfolded, fixtureTable)).queryExecution
      .optimizedPlan match {
        case Project(_, _: DriverRelation) =>
        case p => fail(p.treeString)
      }
    assert(qe.tracker.rules(FoldDriverRelation.ruleName).numEffectiveInvocations == 1)
    qe.optimizedPlan match {
      case l: DriverRelation => assert(l.output.map(_.name) == q.columns.toSeq)
      case p => fail(p.treeString)
    }
    // the same request over the same rows read from an RDD, folded by no rule
    val scanned = request(cf.copy(df = spark.createDataFrame(cf.df.rdd, cf.df.schema)))
    assert(rows.toSeq == scanned.collect().toSeq)
  }

  test("a column the top select drops is not evaluated, as over a file-backed frame") {
    val s = spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", "true")
    val local = DriverFrame(s, new org.apache.spark.sql.types.StructType()
      .add("k", "string").add("v", "int").add("z", "int"), Seq(Seq("a", 1, 0), Seq("b", 2, 0)))
    val dir = java.nio.file.Files.createTempDirectory("collapse-ansi").resolve("t").toString
    local.write.parquet(dir)
    Seq("driver frame" -> local, "file-backed frame" -> s.read.parquet(dir)).foreach {
      case (name, df) =>
        val derived = df.select(col("k"), col("v"), (col("v") / col("z")).as("bad"))
        assert(derived.select("k", "v").orderBy("k").collect().map(r =>
          (r.getString(0), r.getInt(1))).toSeq == Seq(("a", 1), ("b", 2)), name)
        val e = intercept[Exception](derived.collect())
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")),
          s"$name: $e")
    }
  }

  test("a DSv2 load is a local scan: load().collect() runs no job") {
    var rows: Array[org.apache.spark.sql.Row] = null
    val df = spark.read.format("censusreporter")
      .option("resource", "censusreporter/acs_fixture.json").option("table", "B17001").load()
    val jobs = TestSpark.jobsOf(spark) { rows = df.collect() }
    assert(df.queryExecution.executedPlan
      .isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec],
      df.queryExecution.executedPlan.toString)
    assert(rows.map(_.toSeq).toSeq == fixtureTable.rows)
    assert(jobs == 0, s"DSv2 load().collect() ran $jobs jobs")
  }

  test("grouped with_m90 SQL and groupBySum over a decoded frame run no job") {
    val cf = CensusReporterDecoder.toFrame(spark, fixtureTable)
    cf.df.createOrReplaceTempView("job_lock")
    val keyed = CensusFrame(cf.df.select(substring(col("geoid"), 8, 2).as("state") +:
      cf.df.columns.toIndexedSeq.map(cf.df(_)): _*))
    val queries = Seq(
      "with_m90 SQL" -> (() => spark.sql("SELECT substr(geoid, 1, 9) AS grp, " +
        "with_m90(B17001001) FROM job_lock GROUP BY substr(geoid, 1, 9)")),
      "groupBySum" -> (() =>
        keyed.groupBySum("state").df.select("state", "B17001001", "B17001001_m90")))
    val est = cf.df.collect().map(r => r.getAs[Double]("B17001001")).sum
    val jobs = queries.map { case (name, q) =>
      var rows: Array[org.apache.spark.sql.Row] = null
      val n = TestSpark.jobsOf(spark) { rows = q().collect() }
      assert(rows.length == 1 && rows.head.getDouble(1) == est, name)
      name -> n
    }
    assert(jobs.forall(_._2 == 0), s"jobs per query: $jobs")
  }

  test("an ANSI long-sum overflow fails collect with ARITHMETIC_OVERFLOW on both paths") {
    Seq("", FoldDriverRelation.ruleName).foreach { excluded =>
      val s = spark.newSession()
      s.conf.set("spark.sql.ansi.enabled", "true")
      s.conf.set("spark.sql.optimizer.excludedRules", excluded)
      val df = DriverFrame(s, new org.apache.spark.sql.types.StructType()
        .add("k", "string").add("v", "long"),
        Seq(Seq("a", Long.MaxValue), Seq("a", 1L), Seq("b", 2L)))
        .groupBy("k").agg(sum("v"))
      val e = intercept[Exception](df.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("ARITHMETIC_OVERFLOW")),
        s"excluded '$excluded': $e")
    }
  }

  test("a warm repeat of a request per tier compiles no new class and runs no job") {
    val dir = java.nio.file.Files.createTempDirectory("warm-compiles")
    val vre = dir.resolve("vr.csv")
    java.nio.file.Files.write(vre, ((Seq("TBLID", "GEOID", "ORDER", "TITLE", "CME",
      "ESTIMATE", "MOE") ++ (1 to 80).map(i => s"Var_Rep$i")).mkString(",") +: (1 to 3).map(r =>
      (Seq("B01001", s"g$r", r.toString, "Total", "", "100", "5") ++
        (1 to 80).map(i => (100 + i % 7).toString)).mkString(",")))
      .mkString("", "\n", "\n").getBytes)
    val tiers = Seq[(String, () => Array[org.apache.spark.sql.Row])](
      "derived measures" -> (() =>
        request(CensusReporterDecoder.toFrame(spark, fixtureTable)).collect()),
      "grouped with_m90" -> { () =>
        CensusReporterDecoder.toFrame(spark, fixtureTable).df.createOrReplaceTempView("warm")
        spark.sql("SELECT substr(geoid, 1, 9) AS grp, with_m90(B17001001) FROM warm " +
          "GROUP BY substr(geoid, 1, 9)").collect()
      },
      "census api" -> { () =>
        val df = CensusApi.toDataFrame(spark, Seq("NAME", "aE", "aM", "bE", "bM"),
          Seq(Seq("p1", "10", "2", "4", "1"), Seq("p2", "20", "3", "5", "2")))
        val f = CensusFrame(df.select(col("NAME") +: Seq("a", "b").flatMap(x => Seq(
          col(x + "E").cast("double").as(x), col(x + "M").cast("double").as(x + "_m90"))): _*))
          .addRse("a")
        f.withPairs("share" -> f.proportion("b", "a")).df.collect()
      },
      "vre" -> (() => VarRep.loadVarRep(spark, vre.toString).select(col("GEOID"),
        VarRep.replicateMoe(col("ESTIMATE"), col("replicates"))).collect()))
    tiers.foreach { case (name, run) =>
      val cold = run()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      var warm: Array[org.apache.spark.sql.Row] = null
      val jobs = TestSpark.jobsOf(spark) { warm = run() }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(warm.toSeq == cold.toSeq, name)
      assert(compiled == 0 && jobs == 0, s"$name: warm repeat compiled $compiled, ran $jobs jobs")
    }
  }
}
