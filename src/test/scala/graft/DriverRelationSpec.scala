package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DriverRelation, FoldDriverRelation}
import graft.sources.DriverFrame

/** [[graft.plans.FoldDriverRelation]] against Spark's physical path: every
  * query is collected over the folded leaf and again in a session that
  * lists the rule in `spark.sql.optimizer.excludedRules`, where the leaf
  * is scanned by a `LocalTableScanExec` and the operators above it run as
  * Spark's own. Rows must be equal, doubles bit for bit.
  */
class DriverRelationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val unfolded: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", FoldDriverRelation.ruleName)
    s
  }

  private val schema = new StructType().add("k", StringType).add("i", LongType)
    .add("x", DoubleType).add("y", DoubleType)

  /** Row `r`: null keys and counts, and NaN, -0.0 and null among the
    * doubles. Neither double column holds 0.0 or more than one NaN bit
    * pattern, so min and max do not depend on the order rows meet in.
    */
  private def row(r: Int): Seq[Any] = Seq(
    if (r % 11 == 5) null else s"k${r % 7}",
    if (r % 13 == 3) null else r.toLong,
    r % 6 match { case 0 => Double.NaN; case 1 => -0.0; case 2 => null; case _ => r * 0.37 },
    r % 5 match { case 0 => null; case 1 => Double.NaN; case 2 => -0.0; case _ => -1.5 * r })

  private def frame(s: SparkSession, n: Int): DataFrame = DriverFrame(s, schema, (0 until n).map(row))

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[DriverRelation]

  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  /** `q` over an `n`-row frame, folded and on Spark's physical path; an
    * aggregate's rows are compared in key order.
    */
  private def check(name: String, n: Int, folds: Boolean = true, sorted: Boolean = false)(
      q: DataFrame => DataFrame): Unit = {
    val (on, off) = (q(frame(spark, n)), q(frame(unfolded, n)))
    assert(folded(on) == folds, s"$name over $n rows:\n${on.queryExecution.optimizedPlan}")
    off.queryExecution.optimizedPlan
    assert(!off.queryExecution.tracker.rules.contains(FoldDriverRelation.ruleName), name)
    def rows(df: DataFrame): Seq[Seq[Any]] = {
      val rs = df.collect().map(bits).toSeq
      if (sorted) rs.sortBy(_.mkString("\u0000")) else rs
    }
    assert(rows(on) == rows(off), s"$name over $n rows")
  }

  private val project: DataFrame => DataFrame = _.select(col("k"), (col("x") * 2).as("x2"),
    (col("x") + col("y")).as("xy"), coalesce(col("y"), lit(-0.0)).as("y0"),
    sqrt(col("x")).as("sx"), (col("i") % 3).as("i3"), isnan(col("x")).as("nan"),
    (-col("y")).as("ny"), greatest(col("x"), col("y")).as("g"))
  private val filter: DataFrame => DataFrame = _.filter(col("x") > 1.0 || col("y").isNull)
  private val aggregate: DataFrame => DataFrame = _.groupBy("k").agg(count("*"), sum("i"),
    max("x"), min("y"), avg("i"), count("y"))

  Seq(0, 1, 10000).foreach { n =>
    test(s"Project, Filter, Aggregate and Limit chains over $n rows match Spark's path") {
      check("project", n)(project)
      check("filter", n)(filter)
      check("limit", n)(_.limit(7))
      check("project → filter → limit", n)(df => project(df).filter(col("xy") < 0.0).limit(5))
      check("filter → project → limit", n)(df => project(filter(df)).limit(9000))
      // an empty input leaves an aggregate to Spark
      check("aggregate", n, folds = n > 0, sorted = true)(aggregate)
      check("project → filter → aggregate", n, folds = n > 0, sorted = true)(df =>
        aggregate(df.select(col("k"), (col("i") * 2).as("i"), col("x"), col("y"))
          .filter(col("k") =!= "k3")))
      check("global aggregate", n, folds = n > 0)(_.agg(count("*"), max("x"), min("y")))
    }
  }

  test("a non-deterministic or subquery expression stays unfolded") {
    check("rand", 100, folds = false)(_.select(col("k"), rand(7).as("r")))
    check("rand filter", 100, folds = false)(_.filter(rand(7) > 0.5))
    Seq(spark, unfolded).foreach { s =>
      frame(s, 100).createOrReplaceTempView("driver_sub")
      val q = s.sql("SELECT k, (SELECT max(i) FROM driver_sub) AS m FROM driver_sub")
      val plan: LogicalPlan = q.queryExecution.optimizedPlan
      assert(plan.exists(_.expressions.exists(SubqueryExpression.hasSubquery)), plan.treeString)
      assert(q.collect().map(_.getLong(1)).distinct.toSeq == Seq(99L))
    }
  }

  test("an ANSI error throws from a kept column, not from a pruned one") {
    val ints = new StructType().add("k", StringType).add("v", IntegerType).add("z", IntegerType)
    Seq("", FoldDriverRelation.ruleName).foreach { excluded =>
      val s = spark.newSession()
      s.conf.set("spark.sql.optimizer.excludedRules", excluded)
      s.conf.set("spark.sql.ansi.enabled", "true")
      val derived = DriverFrame(s, ints, Seq(Seq("a", 1, 0), Seq("b", 2, 0)))
        .select(col("k"), col("v"), (col("v") / col("z")).as("bad"))
      assert(derived.select("k", "v").collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
        Seq(("a", 1), ("b", 2)))
      val e = intercept[Exception](derived.collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")),
        s"excluded '$excluded': $e")
    }
  }

  test("a self-join of a driver frame matches Spark's path") {
    check("self-join", 200, folds = false, sorted = true) { df =>
      val other = df.select(col("i"), (col("x") * 3).as("x3"))
      df.join(other, "i").select("k", "i", "x3")
    }
  }

  test("an aggregate over a toDF frame still folds to a LocalRelation") {
    val rows = Seq(spark, unfolded).map { s =>
      import s.implicits._
      val df = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("k", "v").groupBy("k").agg(sum("v"))
      val local = df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
      assert(local == (s eq spark), df.queryExecution.optimizedPlan.treeString)
      df.collect().map(_.toString).toSeq.sorted
    }
    assert(rows.distinct.size == 1 && rows.head == Seq("[a,4]", "[b,2]"))
  }

  test("two frames with one schema, one cached, each return their own rows") {
    Seq(spark, unfolded).foreach { s =>
      val (a, b) = (frame(s, 20), DriverFrame(s, schema, (100 until 130).map(row)))
      a.cache()
      try {
        def cached(df: DataFrame): Boolean =
          df.select("*").queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])
        assert(cached(a) && !cached(b))
        assert(a.collect().map(bits).toSeq == (0 until 20).map(r => bits(Row.fromSeq(row(r)))))
        assert(b.collect().map(bits).toSeq == (100 until 130).map(r => bits(Row.fromSeq(row(r)))))
        assert(a.agg(sum("i")).head().getLong(0) == (0 until 20).filter(_ % 13 != 3).sum)
        assert(b.agg(sum("i")).head().getLong(0) == (100 until 130).filter(_ % 13 != 3).sum)
      } finally a.unpersist(blocking = true)
    }
  }
}
