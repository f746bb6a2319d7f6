package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{CensusFrame, Release}
import graft.schema.{CensusMeta, ColMeta}

/** Malformed `censusreporter:` URL (reference raises `AppUrlError`,
  * `censusreporter.py:48`).
  */
final class AppUrlException(msg: String) extends IllegalArgumentException(msg)

/** A URL for Census Reporter tables (ref `censusreporter.py:19-109`):
  *
  *   censusreporter:<table_id>/<summary_level>/<geoid>
  *
  * e.g. `censusreporter:B17001/140/05000US06073`. Matches any scheme
  * starting with `censusreporter`; requires exactly three path components
  * counting the authority (accept/reject matrix at `test/test_url.py:20-34`).
  */
final case class CensusReporterUrl(url: String) {
  import CensusReporterUrl._

  private val (scheme, rest) = url.split(":", 2) match {
    case Array(s, r) if s.startsWith("censusreporter") => (s, r)
    case _ => throw new AppUrlException(s"Not a censusreporter URL: '$url'")
  }

  /** (table_id, summary_level, geoid) — netloc counts as the first part
    * when the URL has `://` (ref `censusreporter.py:40-50`).
    */
  val parts: (String, String, String) = {
    val segments =
      if (rest.startsWith("//")) rest.stripPrefix("//").stripSuffix("/").split("/", -1).toSeq
      else rest.stripPrefix("/").stripSuffix("/").split("/", -1).toSeq
    segments.filter(_ != "") match {
      case Seq(t, s, g) => (t, s, g)
      case other => throw new AppUrlException(
        s"Census reporter URLs must have three path components. Got: '$other'")
    }
  }

  def tableId: String = parts._1
  def summaryLevel: String = parts._2
  def geoid: String = parts._3

  /** Canonical form — round-trips through the parser (test_url.py:24). */
  def normalized: String = s"censusreporter:$tableId/$summaryLevel/$geoid"

  /** Cache path for this URL's data (ref `censusreporter.py:68-71`). */
  def cacheKey: String = s"$ApiHost/$tableId/$summaryLevel/$geoid.json"

  /** Census Reporter API resource URL (ref `censusreporter.py:74-77`). */
  def resourceUrl: String =
    s"http://$ApiHost/data/show/latest?table_ids=$tableId&geo_ids=$summaryLevel|$geoid"
}

object CensusReporterUrl {
  val ApiHost = "api.censusreporter.org/1.0"
  def matches(url: String): Boolean = url.takeWhile(_ != ':').startsWith("censusreporter")
}

/** Decoded Census Reporter payload: rows + schema + release. */
final case class CRTable(rows: Seq[Seq[Any]], columns: Seq[ColMeta], release: Release)

/** Pure JSON → (rows, schema, release) decoder
  * (ref `CensusReporterSource.get_cr_rows`, `censusreporter.py:178-282`).
  *
  * Behavior pinned by the reference:
  *  - two fixed lead columns `geoid`, `name`;
  *  - column codes containing `.` are pseudo-headers and dropped (:219);
  *  - remaining codes sorted to define column order (:219);
  *  - hierarchical titles flattened via an indent-driven title stack with
  *    `:` stripped (:228-233);
  *  - every estimate immediately followed by its `<code>_m90` margin
  *    (:235-253) ⇒ `2 + 2K` columns;
  *  - rows `[geoid, name, est, m90, est, m90, …]` (:255-278); the
  *    reference's scalar→list fix-up (:269-273) is a Python `itemgetter`
  *    artifact — per-code extraction here is already shape-safe;
  *  - invariant `len(columns) == len(row)` (:280).
  */
object CensusReporterDecoder {

  def decode(jsonText: String, tableId: String): CRTable = {
    implicit val formats: Formats = DefaultFormats
    val data = JsonMethods.parse(jsonText)

    val lead = Seq(
      ColMeta("geoid", "geoid", "geoid", 0, "   ", 0),
      ColMeta("name", "name", "name", 0, "   ", 1))

    val rawCols = (data \ "tables" \ tableId \ "columns") match {
      case JObject(fields) => fields.toMap
      case _ => throw new IllegalArgumentException(s"No columns for table $tableId")
    }
    val columnCodes = rawCols.keys.filterNot(_.contains(".")).toSeq.sorted

    var titleStack = Vector.empty[String]
    val dataCols = Seq.newBuilder[ColMeta]
    var position = lead.size
    for (code <- columnCodes) {
      val name = (rawCols(code) \ "name").extract[String]
      val indent = (rawCols(code) \ "indent") match {
        case JInt(i) => i.toInt
        case JNull | JNothing => 0
        case other => other.extract[Int]
      }
      val index = code.takeRight(3)
      if (titleStack.length <= indent)
        titleStack = titleStack ++ Vector.fill(indent - titleStack.length + 1)("")
      else
        titleStack = titleStack.take(indent + 1)
      titleStack = titleStack.updated(indent, name.replace(":", ""))
      val title = titleStack.mkString(" ")
      dataCols += ColMeta(name, code, title, indent, index, position)
      position += 1
      // margin column: reference gives it the same index and a
      // "Margins for" title (censusreporter.py:244-253)
      dataCols += ColMeta("Margins for " + name, code + "_m90",
        "Margins for " + title, indent, index, position)
      position += 1
    }
    val columns = lead ++ dataCols.result()

    // json4s `\` scans every field per call, so per-geo and per-code
    // lookups would make decoding quadratic: index each object once
    def fieldsOf(v: JValue): Map[String, JValue] = v match {
      case JObject(fields) => fields.toMap
      case _ => Map.empty
    }
    val geos = (data \ "data") match {
      case JObject(fields) => fields
      case _ => Nil
    }
    val geography = fieldsOf(data \ "geography")
    def num(v: JValue): Any = v match {
      case JDouble(x) => x
      case JInt(x) => x.toDouble
      case JDecimal(x) => x.toDouble
      case JLong(x) => x.toDouble
      case JNull | JNothing => null
      case other => other.extract[Double]
    }
    val rows = geos.map { case (geo, geoData) =>
      val geoName = (geography.getOrElse(geo, JNothing) \ "name").extract[String]
      val tbl = geoData \ tableId
      val (estimate, error) = (fieldsOf(tbl \ "estimate"), fieldsOf(tbl \ "error"))
      val cells = columnCodes.flatMap { code =>
        Seq(num(estimate.getOrElse(code, JNothing)), num(error.getOrElse(code, JNothing)))
      }
      Seq[Any](geo, geoName) ++ cells
    }
    require(rows.isEmpty || columns.length == rows.head.length,
      s"decode invariant: ${columns.length} columns vs ${rows.headOption.map(_.length)} cells")

    val release = Release(
      id = (data \ "release" \ "id").extractOrElse[String](""),
      name = (data \ "release" \ "name").extractOrElse[String](""),
      years = (data \ "release" \ "years").extractOrElse[String](""))
    CRTable(rows, columns, release)
  }

  /** Materialize a decoded table as a metadata-rich CensusFrame. */
  def toFrame(spark: SparkSession, t: CRTable): CensusFrame =
    CensusFrame(DriverFrame(spark, CensusMeta.schema(t.columns), t.rows), Some(t.release))
}

/** Driver-side fetch + cache + load (ref entry point A, SURVEY §3.1).
  * Data volumes per table are tiny (628×120 for B17001/140), so a
  * driver-side source feeding [[DriverFrame]], the sources' one
  * local-relation builder, is the right shape; the lazy Catalyst plan
  * begins at the frame. Derived measures and aggregates over the frame
  * (`groupBySum`, grouped `with_m90` SQL) are folded on the driver by the
  * optimizer, so a census request starts no Spark job; a VRE load
  * ([[VarRep.loadVarRep]]) decodes its CSV on the driver into the same
  * kind of frame and starts none either.
  */
object CensusReporter {

  /** Local JSON cache, same key layout as the reference
    * (`api.censusreporter.org/1.0/{t}/{sl}/{geoid}.json`).
    */
  def defaultCacheDir: Path =
    Paths.get(sys.props.getOrElse("graft.cache.dir",
      sys.props("java.io.tmpdir") + "/graft-cache"))

  /** Fetch the JSON payload for a URL, consulting the cache first
    * (ref `get_resource`, `censusreporter.py:79-96`).
    */
  def getResource(u: CensusReporterUrl, cache: Boolean = true,
      cacheDir: Path = defaultCacheDir,
      fetch: String => String = CensusApi.httpGet): String = {
    val cached = cacheDir.resolve(u.cacheKey)
    if (cache && Files.exists(cached)) {
      new String(Files.readAllBytes(cached), StandardCharsets.UTF_8)
    } else {
      val body = fetch(u.resourceUrl)
      if (cache) writeCacheFile(cached, body.getBytes(StandardCharsets.UTF_8))
      body
    }
  }

  /** Write a cache file so that it exists only once complete: the bytes
    * go to a temp sibling that is then moved over `path` atomically.
    * Cache lookups count `Files.exists` as a hit, so an in-place write
    * killed midway would leave a truncated payload served on every later
    * hit, and a concurrent loader could read a half-written file.
    */
  private[sources] def writeCacheFile(path: Path, bytes: Array[Byte]): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(
      s".${path.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }

  /** One-call load — the reference's `get_cr_dataframe(table, sl, geoid)`
    * (SURVEY S7).
    */
  def load(spark: SparkSession, tableId: String, summaryLevel: String,
      geoid: String, cache: Boolean = true,
      fetch: String => String = CensusApi.httpGet): CensusFrame = {
    val u = CensusReporterUrl(s"censusreporter:$tableId/$summaryLevel/$geoid")
    frame(spark, getResource(u, cache, fetch = fetch), tableId)
  }

  /** Load from a classpath resource. */
  def loadJsonResource(spark: SparkSession, resource: String, tableId: String): CensusFrame =
    frame(spark, readResource(resource), tableId)

  private def frame(spark: SparkSession, json: String, tableId: String): CensusFrame =
    CensusReporterDecoder.toFrame(spark, CensusReporterDecoder.decode(json, tableId))

  private[sources] def readFile(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  private[sources] def readResource(resource: String): String = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    require(in != null, s"resource not found: $resource")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }
}

/** Scheme → loader registry, the engine's counterpart of the reference's
  * `register_proto('censusreporter', CensusReporterSource)` entry-point
  * mechanism (SURVEY S6).
  */
object SourceRegistry {
  type Loader = (SparkSession, String) => CensusFrame
  @volatile private var registry: Map[String, Loader] = Map(
    "censusreporter" -> { (spark, url) =>
      val u = CensusReporterUrl(url)
      CensusReporter.load(spark, u.tableId, u.summaryLevel, u.geoid)
    })

  def register(schemePrefix: String, loader: Loader): Unit =
    synchronized { registry = registry + (schemePrefix -> loader) }

  def loaderFor(url: String): Option[Loader] = {
    val scheme = url.takeWhile(_ != ':')
    registry.collectFirst { case (p, l) if scheme.startsWith(p) => l }
  }

  def load(spark: SparkSession, url: String): CensusFrame =
    loaderFor(url)
      .getOrElse(throw new AppUrlException(s"No registered source for '$url'"))
      .apply(spark, url)
}

/** BibTeX-ish citation for censusreporter-backed tables
  * (ref `make_citation_dict`, `censusreporter.py:286-319`); `Option`
  * instead of the reference's `False`.
  */
final case class Citation(
    `type`: String, name: String, origin: String, publisher: String,
    title: String, year: Int, accessDate: String, url: String)

object Citation {
  def forTable(url: String, name: String, description: String,
      resolvedUrl: Option[String] = None,
      today: java.time.LocalDate = java.time.LocalDate.now()): Option[Citation] =
    if (CensusReporterUrl.matches(url))
      Some(Citation(
        `type` = "dataset",
        name = name,
        origin = "United States Census Bureau",
        publisher = "CensusReporter.org",
        title = s"2010 - 2015 American Community Survey, Table ${name.split("_", 2).head}: $description",
        year = 2015,
        accessDate = today.toString,
        url = resolvedUrl.getOrElse(url)))
    else None
}
