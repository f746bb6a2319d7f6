package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew

/** Salted two-phase aggregation: same results as the direct group-by,
  * with the partial phase spread over (key, salt).
  */
class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("saltedSum equals direct groupBy sum (exact, via decimal)") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val direct = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(20,2)")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val salted = Skew.saltedSum(li, Seq("l_returnflag"),
        col("l_quantity").cast("decimal(20,2)"), "q", salts = 8,
        discriminators = Seq(col("l_orderkey"), col("l_linenumber")))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(salted.keySet == direct.keySet)
    direct.foreach { case (k, v) =>
      assert(salted(k).compareTo(v) == 0, s"key $k: ${salted(k)} != $v")
    }
  }

  test("salted plan has two aggregation exchanges, direct has one") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val salted = Skew.saltedSum(li, Seq("l_returnflag"), col("l_quantity"), "q",
      salts = 8, discriminators = Seq(col("l_orderkey")))
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 2)
    // phase-1 shuffle is keyed by (key, salt)
    assert(plan.contains("__salt"))
  }

  test("prefixSum equals the direct single window: sum and rank forms, " +
      "keyed and keyless, hot/single-row keys, 1-row to whole-key buckets") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // key "hot" holds 3,000 rows, "one" a single row, null 5 rows; `o` is
    // a unique order, and each bucket width puts one row, some rows or a
    // key's whole row set in a bucket (width 1 / 37 / 10^6)
    val rows = (0 until 3000).map(i => ("hot", i.toLong, (i * 7919 % 13).toLong)) ++
      Seq(("one", 5000L, 4L)) ++ (0 until 5).map(i => (null: String, 6000L + i, 2L))
    val df = rows.toDF("k", "o", "m").repartition(4)
    for (width <- Seq(1L, 37L, 1000000L); keys <- Seq(Seq("k"), Nil);
         measure <- Seq(Some("m"), None)) {
      val b = df.withColumn("b", expr(s"o DIV $width"))
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col("o"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val direct = b.withColumn("r",
        measure.fold(row_number().over(w).cast("long"))(m => sum(col(m)).over(w)))
      val got = Skew.prefixSum(b, keys, "b", Seq(col("o")), measure, "r")
      def rs(f: org.apache.spark.sql.DataFrame) =
        f.select(col("o"), col("r")).as[(Long, Long)].collect().toMap
      val (g, d) = (rs(got), rs(direct))
      val wrong = d.toSeq.filter { case (o, r) => !g.get(o).contains(r) }
      assert(wrong.isEmpty && g.size == d.size,
        s"width=$width keys=$keys measure=$measure: ${g.size} of ${d.size} rows; " +
          s"(o, direct) pairs the helper missed: ${wrong.take(5).mkString(", ")}")
    }
  }

  test("prefixSum with no keys needs an integral bucket") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("b", "o")
    val e = intercept[IllegalArgumentException](
      Skew.prefixSum(df, Nil, "b", Seq(col("o")), None, "r"))
    assert(e.getMessage.contains("integral bucket") && e.getMessage.contains("'b'"),
      e.getMessage)
  }

  test("salt is deterministic and in range") {
    val df = spark.range(1000)
      .select(Skew.salt(16, col("id")).as("s1"), Skew.salt(16, col("id")).as("s2"))
    val rows = df.collect()
    assert(rows.forall(r => r.getInt(0) == r.getInt(1)))
    assert(rows.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 16))
    // spreads: at least half the buckets used
    assert(rows.map(_.getInt(0)).distinct.length >= 8)
  }

  test("AQE splits skewed join partitions at runtime (skew=true in final plan)") {
    import spark.implicits._
    // the other half of the skew story: salting handles skewed
    // AGGREGATION deterministically; for skewed JOINS the engine leans
    // on AQE's runtime re-plan. Force tiny thresholds so the hot key's
    // shuffle partition qualifies, then check the finalized adaptive
    // plan actually split it.
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key (0) carrying ~98% of rows vs a uniform right side
      val left = spark.range(0, 200000)
        .select(when($"id" % 50 =!= 0, lit(0L)).otherwise($"id" % 100).as("k"),
          $"id".as("v"))
      val right = spark.range(0, 100).select($"id".as("rk"), ($"id" * 2).as("w"))
      // global agg keeps the collect tiny WITHOUT imposing a required
      // distribution on the join output (a groupBy on k would make AQE
      // decline to split, since splitting breaks the clustering)
      val joined = left.join(right, $"k" === $"rk").agg(sum($"v").as("s"))
      // execute THIS queryExecution (count() would spawn a separate one
      // and the inspected adaptive plan would never finalize)
      assert(joined.collect().nonEmpty)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
