package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.CensusFrame.CensusOps

/** `spark.read.format("censusreporter")` — the DSv2 surface. */
class DataSourceV2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def read = spark.read.format("censusreporter")
    .option("resource", "censusreporter/acs_fixture.json")

  test("short name resolves via ServiceLoader and reads the fixture") {
    val df = read.option("table", "B17001").load()
    assert(df.count() == 3)
    assert(df.columns.length == 16)
    assert(df.columns.take(3).toSeq == Seq("geoid", "name", "B17001001"))
  }

  test("schema carries census metadata through DSv2") {
    val df = read.option("table", "B17001").load()
    val cf = df.census
    assert(cf.censusCode("001") == "B17001001")
    assert(cf.censusTitle("002") == "Total Income in the past 12 months below poverty level")
    val sum = df.select(org.apache.spark.sql.functions.sum(col("B17001001")))
      .head().getDouble(0)
    assert(sum == 6205.0 + 4797.0 + 5245.0)
  }

  test("column pruning reaches the scan output") {
    val df = read.option("table", "B17001").load().select(col("geoid"), col("B17001001"))
    assert(df.collect().length == 3)
    assert(df.columns.toSeq == Seq("geoid", "B17001001"))
  }

  test("missing table option errors clearly") {
    val e = intercept[IllegalArgumentException] {
      spark.read.format("censusreporter")
        .option("resource", "censusreporter/acs_fixture.json").load()
    }
    assert(e.getMessage.contains("table"))
  }

  test("one load decodes once: getTable reuses the table decoded for the schema") {
    val dir = java.nio.file.Files.createTempDirectory("dsv2-once")
    val file = dir.resolve("acs.json")
    val in = getClass.getClassLoader.getResourceAsStream("censusreporter/acs_fixture.json")
    try java.nio.file.Files.copy(in, file) finally in.close()
    val opts = new java.util.HashMap[String, String]()
    opts.put("file", file.toString)
    opts.put("table", "B17001")
    val provider = new sources.CensusReporterDataSource
    val schema = provider.inferSchema(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
    java.nio.file.Files.delete(file)
    val table = provider.getTable(schema, Array.empty, opts)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    val scan = table.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    assert(scan.asInstanceOf[org.apache.spark.sql.connector.read.LocalScan].rows().length == 3)
  }

  test("one-column table through DSv2") {
    val df = read.option("table", "B01003").load()
    assert(df.columns.toSeq == Seq("geoid", "name", "B01003001", "B01003001_m90"))
    assert(df.count() == 3)
  }
}
