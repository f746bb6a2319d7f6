package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.schema.CensusMeta

/** DataSource V2 wrapper so the census source participates in the normal
  * reader surface (SURVEY S3/S6 "optional polish, DSv2 wrapper"):
  *
  *   spark.read.format("censusreporter")
  *     .option("url", "censusreporter:B17001/140/05000US06073")   // live
  *     .option("file", "/path/to/cached.json")                    // offline
  *     .option("table", "B17001")
  *     .load()
  *
  * The payload is read through the loaders' own readers and decoded once
  * per load on the driver (tables are small — 628×120 for B17001/140):
  * Spark asks for the schema and then the table with the same options, so
  * the table decoded for the schema is reused. The scan is a `LocalScan`
  * whose rows come from [[DriverFrame]]'s converter; Spark plans it as a
  * `LocalTableScanExec`, so a plain `load().collect()` starts no job.
  * Column metadata (census code/title/index/position) rides on the
  * schema's StructField.metadata exactly as with the driver-side loader,
  * so `df.census` works on the result.
  */
class CensusReporterDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "censusreporter"

  /** The last options decoded and their table. */
  private var decoded: Option[(Map[String, String], CRTable)] = None

  private def decode(options: CaseInsensitiveStringMap): CRTable = {
    val key = options.asScala.toMap
    decoded.collect { case (`key`, t) => t }.getOrElse {
      lazy val url = Option(options.get("url")).map(CensusReporterUrl(_))
      val tableId = Option(options.get("table")).orElse(url.map(_.tableId))
        .getOrElse(throw new IllegalArgumentException(
          "censusreporter source needs option 'table' (or a 3-part 'url')"))
      val json = Option(options.get("file")).map(CensusReporter.readFile)
        .orElse(Option(options.get("resource")).map(CensusReporter.readResource))
        .orElse(url.map(CensusReporter.getResource(_,
          cache = !"false".equalsIgnoreCase(options.get("cache")))))
        .getOrElse(throw new IllegalArgumentException(
          "censusreporter source needs one of: 'url', 'file', 'resource'"))
      val t = CensusReporterDecoder.decode(json, tableId)
      decoded = Some(key -> t)
      t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CensusMeta.schema(decode(options).columns)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CensusReporterTable(decode(new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = false
}

private[sources] class CensusReporterTable(t: CRTable) extends Table with SupportsRead {
  private val tableSchema = CensusMeta.schema(t.columns)

  override def name(): String = "censusreporter"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new LocalScan {
      override def readSchema(): StructType = tableSchema
      override def rows(): Array[InternalRow] =
        DriverFrame.internalRows(tableSchema, t.rows).toArray
    }
}
