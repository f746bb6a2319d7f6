package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayRepeat
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Plan and job locks on the census request path: a decoded table becomes
  * a frame without per-request Spark work, and its derived measures stay
  * linear in the table's width.
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

  /** Spark's `ConvertToLocalRelation` (optimizer batch "LocalRelation
    * early", before column pruning) evaluates each `Project` over a
    * `LocalRelation` row by row with `InterpretedMutableProjection`, which
    * indexes the project list per field: O(width²) per row when the list
    * is a `List`. With that rule excluded, the optimized plan shows every
    * `Project` the rule would have evaluated.
    */
  test("no Project from addRse, withPairs or grouped with_m90 SQL carries a List") {
    val s = spark.newSession()
    // LocalAggregate would fold the grouped plan (Projects and all) away.
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation," +
        "graft.plans.LocalAggregate")
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
    assert(plan.isInstanceOf[LocalRelation], plan.treeString)
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

  test("a derived-measure request over a driver frame folds its projections once") {
    val cf = CensusReporterDecoder.toFrame(spark, fixtureTable)
    def request(c: CensusFrame): DataFrame = {
      val f = c.addRse("001")
      val names = Seq("share", "sum", "ratio", "prod")
      val w = f.withPairs("share" -> f.proportion("002", "001"), "sum" -> f.sumM("003", "004"),
        "ratio" -> f.ratio("003", "002"), "prod" -> f.product("002", "003"))
      w.df.select((Seq("geoid", "B17001001_rse") ++ names.flatMap(n => Seq(n, n + "_m90")))
        .map(w.df(_)): _*)
    }
    val q = request(cf)
    var rows: Array[org.apache.spark.sql.Row] = null
    val jobs = TestSpark.jobsOf(spark) { rows = q.collect() }
    assert(jobs == 0, s"derived-measure collect ran $jobs jobs")
    val qe = q.queryExecution
    // addRse, withPairs and select reach the optimizer as one Project
    assert(qe.normalized.collect { case p: Project => p }.size == 1, qe.normalized.treeString)
    assert(qe.tracker.rules(ConvertToLocalRelation.ruleName).numEffectiveInvocations == 1)
    qe.optimizedPlan match {
      case l: LocalRelation => assert(l.output.map(_.name) == q.columns.toSeq)
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
    Seq("", "graft.plans.LocalAggregate").foreach { excluded =>
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
}
