package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.schema.{CensusMeta, ColMeta}

/** One shared local SparkSession for all suites (single forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftConf.session("local[4]", 4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs `body` starts on `s` from this thread, nested
    * PhaseStats runs' jobs included; concurrent suites' jobs are not
    * counted.
    */
  def jobsOf(s: SparkSession)(body: => Unit): Int =
    graft.operators.PhaseStats.measure(s.sparkContext, "jobs-of")(body).jobs

  def resource(path: String): String =
    getClass.getClassLoader.getResource(path).getPath

  /** Port of the reference's deterministic 10-row synthetic frame
    * (`test/test_basic.py:30-80`, FIXTURES.md §2): rows r = 1..10,
    * `geoid = str(r)`, `group = str(r % 3)`, and for j = 1..4
    * `col{j-1} = r*j`, `col{j-1}_m90 = 7r/(3j)`.
    */
  def makeDf(): DataFrame = {
    val cols = Seq(
      ColMeta("geoid", "geoid", "", 0, "", 0),
      ColMeta("group", "group", "", 0, "", 1)) ++
      (0 until 4).flatMap { i =>
        val code = f"B00001${i + 1}%03d"
        val idx = f"${i + 1}%03d"
        Seq(
          ColMeta(s"col$i", code, s"Synthetic column $i", 1, idx, 2 + 2 * i),
          ColMeta(s"col${i}_m90", code + "_m90", s"Margin of error for Synthetic column $i", 1, idx, 3 + 2 * i))
      }
    // schema() types only geoid/name as string; group needs string too
    val schema = org.apache.spark.sql.types.StructType(cols.map { m =>
      val dt: org.apache.spark.sql.types.DataType =
        if (m.code == "geoid" || m.code == "group") org.apache.spark.sql.types.StringType
        else org.apache.spark.sql.types.DoubleType
      org.apache.spark.sql.types.StructField(m.name, dt, nullable = true,
        metadata = CensusMeta.toMetadata(m))
    })
    val rows = (1 to 10).map { r =>
      val vals: Seq[Any] = Seq(r.toString, (r % 3).toString) ++
        (1 to 4).flatMap(j => Seq((r * j).toDouble, 7.0 * r / (3 * j)))
      Row(vals: _*)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }
}
