package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Tables
import graft.streaming.EventsStream

/** Locks on the testdata loader: every table reads with its one declared
  * layout, the same values a schema-inferring read returns, without a
  * Spark job; a file of another `events.ts` layout fails loudly, batch
  * and stream alike, and leaves the session's settings alone.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val testdata = "/root/testdata"
  private val scales = Seq("sf0.001", "sf0.01")
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Order-insensitive digest: (Σ xxhash64 over every column, count). */
  private def digest(df: DataFrame): (BigDecimal, Long) = {
    val r = df.agg(
      sum(xxhash64(df.columns.map(df(_)).toIndexedSeq: _*).cast("decimal(38,0)")),
      count(lit(1))).head()
    (BigDecimal(r.getDecimal(0)), r.getLong(1))
  }

  /** The exception chain carries Spark's type-mismatch read error. */
  private def typeMismatch(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH"))

  /** An events file whose `ts` is plain INT64 (nanoseconds), as older
    * generators wrote it.
    */
  private def int64TsEvents(): String = {
    val dir = java.nio.file.Files.createTempDirectory("events-int64-ts")
    spark.range(20).select(col("id").as("event_id"),
        (lit(1700000000000000000L) + col("id") * 60000000000L).as("ts"),
        (col("id") % 3).as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  for (sf <- scales; t <- tables)
    test(s"$sf $t reads as its declared layout, values equal to an inferring read") {
      val d = s"$testdata/$sf"
      val declared = Tables(spark, d, t)
      assert(declared.schema == Tables.schema(t))
      val inferring = spark.newSession()
      inferring.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      assert(digest(declared) == digest(inferring.read.parquet(s"$d/$t.parquet")))
    }

  test("a Tables read starts no Spark job, for every table") {
    val d = s"$testdata/${scales.head}"
    tables.foreach { t =>
      assert(TestSpark.jobsOf(spark) { Tables(spark, d, t) } == 0, t)
    }
  }

  test("an events stream defined on an empty directory starts no Spark job") {
    val landing = java.nio.file.Files.createTempDirectory("events-empty").toString
    var stream: DataFrame = null
    assert(TestSpark.jobsOf(spark) { stream = EventsStream.readStream(spark, landing) } == 0)
    assert(stream.schema == Tables.schema("events"))
  }

  test("an events file with an INT64 ts fails the batch read loudly") {
    val dir = int64TsEvents()
    val e = intercept[Exception](Tables(spark, dir, "events").collect())
    assert(typeMismatch(e), e)
    assert(!spark.conf.getAll.contains(NanosAsLong))
  }

  test("an events file with an INT64 ts fails the stream loudly") {
    val dir = int64TsEvents()
    val q = EventsStream.readStream(spark, s"$dir/events.parquet")
      .writeStream.format("memory").queryName("int64_ts_stream").start()
    try {
      val e = intercept[Exception](q.processAllAvailable())
      assert(typeMismatch(e), e)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS int64_ts_stream")
    }
    assert(!spark.conf.getAll.contains(NanosAsLong))
  }
}
