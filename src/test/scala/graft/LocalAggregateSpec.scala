package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DriverFrame

/** [[graft.plans.FoldDriverRelation]]'s aggregates: an aggregate over a
  * driver frame folds to its result, and everything the rule must not fold
  * stays a Spark `Aggregate`. Every result is compared with a session that
  * lists the rule in Spark's `spark.sql.optimizer.excludedRules`.
  */
class LocalAggregateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  lazy val reference: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules", graft.plans.FoldDriverRelation.ruleName)
    s
  }

  private def hasAggregate(p: LogicalPlan): Boolean = p.exists(_.isInstanceOf[Aggregate])

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Build the query in the rule's session and the reference session;
    * assert whether the rule folded it and that both return the same rows.
    */
  private def check(folds: Boolean)(build: SparkSession => DataFrame): Unit = {
    val (on, off) = (build(spark), build(reference))
    assert(hasAggregate(on.queryExecution.optimizedPlan) != folds,
      on.queryExecution.optimizedPlan.treeString)
    assert(hasAggregate(off.queryExecution.optimizedPlan))
    assert(sorted(on) == sorted(off))
  }

  private val kv = new StructType().add("k", StringType).add("v", LongType)
  private val kvRows = Seq(Seq("a", 1L), Seq("A", 2L), Seq("b", 3L), Seq("a", 4L),
    Seq(null, 5L), Seq("b", null))

  test("a global aggregate over a non-empty driver frame folds") {
    check(folds = true)(s => DriverFrame(s, kv, kvRows).agg(sum("v"), count("*"), max("k")))
  }

  test("a double key with 0.0, -0.0 and NaN stays a Spark aggregate") {
    val schema = new StructType().add("k", DoubleType).add("v", LongType)
    val nan2 = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    val rows = Seq(0.0, -0.0, Double.NaN, nan2, 1.5).zipWithIndex
      .map { case (k, i) => Seq[Any](k, i.toLong) }
    check(folds = false)(s => DriverFrame(s, schema, rows).groupBy("k").agg(sum("v")))
    assert(DriverFrame(spark, schema, rows).groupBy("k").count().count() == 3)
  }

  test("a UTF8_LCASE-collated string key stays a Spark aggregate") {
    check(folds = false)(s => DriverFrame(s, kv, kvRows)
      .select(collate(col("k"), "UTF8_LCASE").as("k"), col("v")).groupBy("k").agg(sum("v")))
  }

  test("DISTINCT, FILTER and nondeterministic aggregates stay Spark aggregates") {
    Seq(
      "SELECT k, count(DISTINCT v) FROM local_agg_kv GROUP BY k",
      "SELECT k, sum(v) FILTER (WHERE v > 1) FROM local_agg_kv GROUP BY k",
      // Spark 4 rejects rand() inside an aggregate's arguments at analysis
      "SELECT k, sum(v) + rand(7) FROM local_agg_kv GROUP BY k").foreach { q =>
      check(folds = false) { s =>
        DriverFrame(s, kv, kvRows).createOrReplaceTempView("local_agg_kv")
        s.sql(q)
      }
    }
  }

  test("an aggregate over a parquet scan stays a Spark aggregate") {
    val dir = java.nio.file.Files.createTempDirectory("local-agg-parquet").resolve("t").toString
    DriverFrame(spark, kv, kvRows).write.parquet(dir)
    check(folds = false)(s => s.read.parquet(dir).groupBy("k").agg(sum("v")))
  }

  test("a memory-stream aggregate stays a Spark aggregate") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    Seq(spark, reference).map { s =>
      val in = MemoryStream[(String, Long)](
        org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong), s.sqlContext)
      val name = s"local_agg_stream_${System.nanoTime()}"
      val q = in.toDF().groupBy("_1").agg(sum("_2")).writeStream
        .format("memory").outputMode("complete").queryName(name).start()
      try {
        in.addData(("a", 1L), ("b", 2L), ("a", 3L))
        q.processAllAvailable()
        in.addData(("a", 4L))
        q.processAllAvailable()
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.optimizedPlan
        assert(hasAggregate(plan), plan.treeString)
        sorted(s.table(name))
      } finally q.stop()
    } match {
      case Seq(on, off) => assert(on == off && on == Seq("[a,8]", "[b,2]"))
    }
  }

  // ---- differential property: rule on vs excluded ----

  private val keyFields = Seq(
    StructField("ks", StringType), StructField("ki", IntegerType),
    StructField("kl", LongType), StructField("kd", DecimalType(10, 2)),
    StructField("kt", DateType), StructField("kb", BooleanType))
  private val valueFields = Seq(
    StructField("vi", IntegerType), StructField("vl", LongType),
    StructField("vd", DecimalType(10, 2)), StructField("x", DoubleType),
    StructField("x_m90", DoubleType))
  private val schema = StructType(keyFields ++ valueFields)

  private def orNull(g: Gen[Any]): Gen[Any] = Gen.frequency(6 -> g, 1 -> Gen.const(null))
  private def decimal(lo: Long, hi: Long): Gen[Any] =
    Gen.choose(lo, hi).map(c => java.math.BigDecimal.valueOf(c, 2))

  private val key: Seq[Gen[Any]] = Seq(
    Gen.oneOf("", "a", "b", "ä"), Gen.choose(-2, 2), Gen.oneOf(-1L, 0L, 1L << 40),
    Gen.oneOf(-150L, 0L, 150L).map(c => java.math.BigDecimal.valueOf(c, 2)),
    Gen.choose(0, 2).map(d => java.sql.Date.valueOf(java.time.LocalDate.of(2015, 1, 1 + d))),
    Gen.oneOf(true, false)).map(orNull)

  /** Doubles are non-negative (census estimates and margins), so a sum's
    * relative error is bounded by the term count times one ulp.
    */
  private val value: Seq[Gen[Any]] = Seq(
    Gen.choose(-100000, 100000), Gen.choose(-1000000000000L, 1000000000000L),
    decimal(-9999999999L, 9999999999L), Gen.choose(0.0, 1e6), Gen.choose(0.0, 1e4))
    .map(orNull)

  private val rows: Gen[Seq[Seq[Any]]] = for {
    n <- Gen.choose(1, 40)
    rs <- Gen.listOfN(n, Gen.sequence[List[Any], Any](key ++ value))
  } yield rs

  private val keySets: Gen[Seq[String]] =
    Gen.choose(1, 3).flatMap(n => Gen.pick(n, keyFields.map(_.name))).map(_.toSeq.sorted)

  private def numbers(name: String): Seq[org.apache.spark.sql.Column] =
    Seq(sum(name), count(name), min(name), max(name), avg(name))

  /** The four query shapes of a request, keyed by the group columns. */
  private def queries(s: SparkSession, data: Seq[Seq[Any]], keys: Seq[String])
      : Seq[(String, DataFrame)] = {
    val df = DriverFrame(s, schema, data)
    df.createOrReplaceTempView("local_agg_prop")
    val aggs = valueFields.map(_.name).flatMap(numbers) :+ collect_list("vi")
    Seq(
      "agg" -> df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*),
      "groupBySum" -> CensusFrame(df).groupBySum(keys: _*).df,
      "groupByMean" -> CensusFrame(df).groupByMean(keys: _*).df,
      "with_m90" -> s.sql(s"SELECT ${keys.mkString(", ")}, with_m90(x) FROM local_agg_prop " +
        s"GROUP BY ${keys.mkString(", ")}"))
  }

  private def byKey(df: DataFrame, n: Int): Map[Seq[Any], Row] = {
    val rows = df.collect()
    val m = rows.map(r => r.toSeq.take(n) -> r).toMap
    assert(m.size == rows.length, s"repeated group keys in ${rows.mkString(", ")}")
    m
  }

  private def same(a: Any, b: Any, t: DataType): Boolean = (a, b, t) match {
    case (x: Double, y: Double, DoubleType) =>
      math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
    case (x: Seq[_], y: Seq[_], _) => x.map(_.toString).sorted == y.map(_.toString).sorted
    case _ => a == b
  }

  /** A group's in-order driver folds: sum(x), avg(x), with_m90's margin of
    * x and collect_list(vi). The rule must match them bit for bit.
    */
  private case class Fold(sum: Any, avg: Any, rss: Any, list: Seq[Any])

  private def folds(data: Seq[Seq[Any]], keys: Seq[String]): Map[Seq[Any], Fold] = {
    val at = keys.map(schema.fieldIndex)
    val Seq(xi, mi, vi) = Seq("x", "x_m90", "vi").map(schema.fieldIndex)
    data.groupBy(r => at.map(r)).map { case (k, rs) =>
      val xs = rs.map(_(xi)).collect { case d: Double => d }
      val ms = rs.map(_(mi)).collect { case d: Double => d }
      def orNull(ds: Seq[Double], v: => Double): Any = if (ds.isEmpty) null else v
      val s = xs.foldLeft(0.0)(_ + _)
      k -> Fold(orNull(xs, s), orNull(xs, s / xs.length),
        orNull(ms, math.sqrt(ms.foldLeft(0.0)((a, m) => a + StrictMath.pow(m, 2.0)))),
        rs.map(_(vi)).filter(_ != null))
    }
  }

  private def bits(a: Any): Any = a match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  test("aggregates over driver frames match the Spark path (differential property)") {
    val p = Prop.forAll(rows, keySets) { (data, keys) =>
      val n = keys.length
      val want = folds(data, keys)
      queries(spark, data, keys).zip(queries(reference, data, keys)).forall {
        case ((name, on), (_, off)) =>
          assert(!hasAggregate(on.queryExecution.optimizedPlan), s"$name did not fold")
          val (got, ref) = (byKey(on, n), byKey(off, n))
          assert(got.keySet == ref.keySet, name)
          got.forall { case (k, r) =>
            on.schema.fields.zipWithIndex.drop(n).foreach { case (f, i) =>
              assert(same(r.get(i), ref(k).get(i), f.dataType),
                s"$name ${f.name} at $k: ${r.get(i)} vs ${ref(k).get(i)}")
            }
            def at(c: String) = bits(r.get(on.schema.fieldIndex(c)))
            val w = want(k)
            name match {
              case "agg" => at("sum(x)") == bits(w.sum) && at("avg(x)") == bits(w.avg) &&
                r.getSeq[Any](r.length - 1) == w.list
              case "with_m90" => at("x") == bits(w.sum) && at("x_m90") == bits(w.rss)
              case _ => true
            }
          }
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(25), p)
    assert(res.passed, res.status.toString)
  }
}
