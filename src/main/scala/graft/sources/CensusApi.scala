package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Census Bureau data API client (reference `censusapi.py`, absent from the
  * snapshot; observable surface pinned by `test/test_censusapi.py:14-34`
  * and the `Census API Examples` notebook).
  *
  * The API returns array-of-arrays JSON — first row is the header, then
  * string rows. Geo predicates (`geo_in='state:06+county:073'`,
  * `geo_for='place:*'`) are *server-side pushdown filters*: they are query
  * parameters the API applies before returning data, so they stay string
  * options on the source rather than Catalyst predicates (SURVEY §3.3).
  */
object CensusApi {
  val Host = "https://api.census.gov/data"

  final case class DatasetRef(id: String, title: String, basePath: String)

  final case class Dataset(id: String, basePath: String,
      fetchFn: String => String = CensusApi.httpGet) {

    /** Variable catalog: name → label (from `{base}/variables.json`). */
    def variables(): Map[String, String] = {
      implicit val formats: Formats = DefaultFormats
      val v = JsonMethods.parse(fetchFn(s"$basePath/variables.json")) \ "variables"
      v match {
        case JObject(fields) =>
          fields.map { case (k, body) =>
            k -> (body \ "label").extractOrElse[String]("")
          }.toMap
        case _ => Map.empty
      }
    }

    def searchVariables(text: String): Map[String, String] =
      variables().filter { case (k, label) =>
        k.toLowerCase.contains(text.toLowerCase) ||
          label.toLowerCase.contains(text.toLowerCase)
      }

    /** Construct the fetch URL with server-side geo predicates
      * (`test/test_censusapi.py:30`).
      */
    def fetchUrl(vars: Seq[String], geoIn: Option[String] = None,
        geoFor: Option[String] = None): String = {
      val params = Seq(s"get=${vars.mkString(",")}") ++
        geoFor.map(g => s"for=$g") ++ geoIn.map(g => s"in=$g")
      s"$basePath?${params.mkString("&")}"
    }

    /** Fetch rows: header row of column names, then data rows. */
    def fetch(vars: Seq[String], geoIn: Option[String] = None,
        geoFor: Option[String] = None): (Seq[String], Seq[Seq[String]]) =
      CensusApi.decodeArrayOfArrays(fetchFn(fetchUrl(vars, geoIn, geoFor)))

    /** Fetch straight into a DataFrame (all strings, like the API). */
    def fetchDataFrame(spark: SparkSession, vars: Seq[String],
        geoIn: Option[String] = None, geoFor: Option[String] = None): DataFrame = {
      val (header, rows) = fetch(vars, geoIn, geoFor)
      CensusApi.toDataFrame(spark, header, rows)
    }
  }

  /** Decode the API's array-of-arrays JSON (first row = header). */
  def decodeArrayOfArrays(jsonText: String): (Seq[String], Seq[Seq[String]]) = {
    val parsed = JsonMethods.parse(jsonText)
    val all = parsed match {
      case JArray(rows) => rows.map {
        case JArray(cells) => cells.map {
          case JString(s) => s
          case JNull => null
          case other => JsonMethods.compact(JsonMethods.render(other))
        }
        case other => throw new IllegalArgumentException(s"Expected row array, got $other")
      }
      case other => throw new IllegalArgumentException(s"Expected array-of-arrays, got $other")
    }
    require(all.nonEmpty, "empty API response")
    (all.head, all.tail)
  }

  def toDataFrame(spark: SparkSession, header: Seq[String],
      rows: Seq[Seq[String]]): DataFrame =
    DriverFrame(spark, StructType(header.map(StructField(_, StringType, nullable = true))), rows)

  /** Dataset catalog search over `{Host}.json` (`api.search_datasets`);
    * a failed catalog fetch raises.
    */
  def searchDatasets(pattern: String, fetchFn: String => String = httpGet): Seq[DatasetRef] = {
    val rx = pattern.r
    parseCatalog(fetchFn).filter(d =>
      rx.findFirstIn(d.title).isDefined || rx.findFirstIn(d.id).isDefined)
  }

  /** `api.get_dataset('ACSSF5Y2015')`-style accessor. The two ids the
    * reference tests exercise (`test/test_censusapi.py:21-27`) are
    * resolved directly; any other id is resolved through the dataset
    * catalog the client already fetches for [[searchDatasets]] — the
    * entry whose `identifier` matches contributes its first
    * `distribution.accessURL` as the base path. Falls back to
    * `$Host/$id` only when the catalog has no match (or is unreachable),
    * so offline behavior is unchanged.
    */
  def getDataset(id: String, fetchFn: String => String = defaultFetch): Dataset = {
    val base = id match {
      case "POPESTpop2015" => s"$Host/2015/pep/population"
      case "ACSSF5Y2015" => s"$Host/2015/acs/acs5"
      case other => catalogBasePath(other, fetchFn).getOrElse(s"$Host/$other")
    }
    Dataset(id, base, fetchFn)
  }

  /** The default transport as a SINGLETON function value: identity-keyed
    * caching below is only sound if every default-argument call shares
    * one function object — eta-expanding `httpGet` at each call site
    * would mint a fresh lambda per call and defeat the memoization.
    */
  private val defaultFetch: String => String = httpGet

  /** Parsed catalogs memoized per fetch function (identity-keyed: the
    * default [[defaultFetch]] is a singleton, so the live catalog is
    * fetched at most once per process; each injected test transport sees
    * its own entry). Failed fetches are NOT cached — a transient outage
    * doesn't poison later lookups. Bounded: once `MaxCachedCatalogs`
    * distinct transports are cached, further ones parse uncached, so a
    * caller minting lambdas per call can't grow the map without bound.
    */
  private val catalogCache =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, Seq[DatasetRef]]()
  private val MaxCachedCatalogs = 32

  /** The catalog's entries in order: `identifier`, `title` and the first
    * `distribution.accessURL` (empty when missing).
    */
  private def parseCatalog(fetchFn: String => String): Seq[DatasetRef] = {
    implicit val formats: Formats = DefaultFormats
    (JsonMethods.parse(fetchFn(s"$Host.json")) \ "dataset") match {
      case JArray(ds) => ds.map { d =>
        val base = (d \ "distribution") match {
          case JArray(dist :: _) => (dist \ "accessURL").extractOrElse[String]("")
          case _ => ""
        }
        DatasetRef((d \ "identifier").extractOrElse[String](""),
          (d \ "title").extractOrElse[String](""), base)
      }
      case _ => Nil
    }
  }

  /** Catalog lookup for [[getDataset]]: match `identifier` exactly or by
    * trailing path segment (the live catalog publishes identifiers as
    * `https://api.census.gov/data/id/<id>` URLs) among entries with an
    * access URL. The catalog is fetched and parsed once per transport,
    * then consulted in-memory.
    */
  private[sources] def catalogBasePath(id: String,
      fetchFn: String => String): Option[String] = {
    val catalog = Option(catalogCache.get(fetchFn)).getOrElse {
      val parsed = scala.util.Try(parseCatalog(fetchFn)).toOption
      if (catalogCache.size < MaxCachedCatalogs)
        parsed.foreach(catalogCache.putIfAbsent(fetchFn, _))
      parsed.getOrElse(Nil)
    }
    catalog.collectFirst {
      case d if d.basePath.nonEmpty && (d.id == id || d.id.endsWith("/" + id)) => d.basePath
    }
  }

  /** One client for every source GET (thread-safe, pools connections). */
  private lazy val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  /** The one HTTP GET of every source (this API, CensusReporter,
    * VarRep): explicit connect/request timeouts so a filtered or offline
    * network fails fast (and [[getDataset]] falls back to its
    * `$Host/$id` guess promptly) instead of hanging for the OS TCP
    * timeout. A status of 400 or above throws an `IOException` naming
    * the URL.
    */
  private[sources] def httpGetBytes(url: String): Array[Byte] = {
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(60)).GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
    if (resp.statusCode() >= 400)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} for $url")
    resp.body()
  }

  /** [[httpGetBytes]] decoded as UTF-8. */
  private[sources] def httpGet(url: String): String =
    new String(httpGetBytes(url), java.nio.charset.StandardCharsets.UTF_8)
}
