package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** Source-layer behavior pinned by the reference:
  * URL accept/reject matrix (`test/test_url.py:20-34`), decode semantics
  * (`censusreporter.py:178-282`), citation (`censusreporter.py:286-319`),
  * Census Bureau API surface (`test/test_censusapi.py:14-34`).
  */
class CensusSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ---- S1: URL parse matrix ----

  test("URL accept matrix (test_url.py:20-27)") {
    val accepted = Seq(
      "censusreporter:B17001/140/05000US06073",
      "censusreporter:/B17001/140/05000US06073",
      "censusreporter://B17001/140/05000US06073",
      "censusreporter://B17001/140/05000US06073/")
    accepted.foreach { us =>
      val u = CensusReporterUrl(us)
      assert(u.tableId == "B17001", us)
      assert(u.summaryLevel == "140", us)
      assert(u.geoid == "05000US06073", us)
      // canonical form round-trips
      assert(CensusReporterUrl(u.normalized).normalized == u.normalized)
    }
  }

  test("URL reject matrix (test_url.py:29-34)") {
    val rejected = Seq(
      "censusreporter:B17001",
      "censusreporter:/B17001/140/",
      "censusreporter://B17001/",
      "censusreporter://B17001/140/",
      "censusreporter://B17001/140/05000US06073/foobar",
      "http://example.com/a/b/c")
    rejected.foreach { us =>
      intercept[IllegalArgumentException](CensusReporterUrl(us))
    }
  }

  test("cache key and resource URL (censusreporter.py:68-77)") {
    val u = CensusReporterUrl("censusreporter:B17001/140/05000US06073")
    assert(u.cacheKey == "api.censusreporter.org/1.0/B17001/140/05000US06073.json")
    assert(u.resourceUrl ==
      "http://api.censusreporter.org/1.0/data/show/latest?table_ids=B17001&geo_ids=140|05000US06073")
  }

  // ---- S3: cache behavior ----

  test("getResource caches and skips refetch (censusreporter.py:79-96)") {
    val dir = java.nio.file.Files.createTempDirectory("crcache")
    val u = CensusReporterUrl("censusreporter:B17001/140/05000US06073")
    var fetches = 0
    val fetch = (_: String) => { fetches += 1; """{"x": 1}""" }
    assert(CensusReporter.getResource(u, cache = true, dir, fetch) == """{"x": 1}""")
    assert(CensusReporter.getResource(u, cache = true, dir, fetch) == """{"x": 1}""")
    assert(fetches == 1, "second call must hit the cache")
    assert(java.nio.file.Files.exists(dir.resolve(u.cacheKey)))
  }

  // ---- S4: decode semantics ----

  private def fixtureJson: String = {
    val in = getClass.getClassLoader.getResourceAsStream("censusreporter/acs_fixture.json")
    new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
  }

  test("decode: 2+2K columns, sorted codes, '.'-codes dropped, interleaved margins") {
    val t = CensusReporterDecoder.decode(fixtureJson, "B17001")
    // 7 real columns (the '.5' pseudo header dropped) → 2 + 14
    assert(t.columns.length == 16)
    assert(t.columns.take(2).map(_.code) == Seq("geoid", "name"))
    val codes = t.columns.drop(2).map(_.code)
    assert(codes == Seq(
      "B17001001", "B17001001_m90", "B17001002", "B17001002_m90",
      "B17001003", "B17001003_m90", "B17001004", "B17001004_m90",
      "B17001005", "B17001005_m90", "B17001006", "B17001006_m90",
      "B17001007", "B17001007_m90"))
    assert(t.columns.map(_.position) == (0 until 16))
    assert(t.rows.length == 3)
    assert(t.rows.forall(_.length == 16))
    assert(t.release.id == "acs2015_5yr")
  }

  test("decode: title stack flattens hierarchy with ':' stripped (censusreporter.py:228-233)") {
    val t = CensusReporterDecoder.decode(fixtureJson, "B17001")
    def title(code: String) = t.columns.find(_.code == code).get.title
    assert(title("B17001001") == "Total")
    assert(title("B17001002") == "Total Income in the past 12 months below poverty level")
    assert(title("B17001003") == "Total Income in the past 12 months below poverty level Male")
    assert(title("B17001004") ==
      "Total Income in the past 12 months below poverty level Male Under 5 years")
    // sibling at same indent replaces the stack top, not extends
    assert(title("B17001005") ==
      "Total Income in the past 12 months below poverty level Male 5 years")
    // pop back to indent 2 truncates deeper levels
    assert(title("B17001006") ==
      "Total Income in the past 12 months below poverty level Female")
    assert(title("B17001007") ==
      "Total Income in the past 12 months below poverty level Female Under 5 years")
    // margins carry "Margins for" titles and the same 3-digit index
    val m = t.columns.find(_.code == "B17001004_m90").get
    assert(m.title.startsWith("Margins for Total Income"))
    assert(m.index == "004")
  }

  test("decode: single-column table (scalar fix-up case, censusreporter.py:269-273)") {
    val t = CensusReporterDecoder.decode(fixtureJson, "B01003")
    assert(t.columns.length == 4) // geoid, name, B01003001, B01003001_m90
    assert(t.rows.forall(_.length == 4))
  }

  test("decoded frame supports the full census API (lookup, m90, views)") {
    val cf = CensusReporter.loadJsonResource(spark, "censusreporter/acs_fixture.json", "B17001")
    assert(cf.release.map(_.id).contains("acs2015_5yr"))
    assert(cf.df.count() == 3)
    assert(cf.censusCode("001") == "B17001001")
    val total = cf.df.select(org.apache.spark.sql.functions.sum(cf.lookup("001")))
      .head().getDouble(0)
    assert(total == 6205.0 + 4797.0 + 5245.0)
    val m90sum = cf.df.select(org.apache.spark.sql.functions.sum(cf.m90("001")))
      .head().getDouble(0)
    assert(m90sum == 396.0 + 367.0 + 410.0)
    // row generator: header + 3 rows (test_url.py:51 analogue)
    assert(cf.rowIterator.length == 4)
    // titled view keeps pairing intact
    val titled = cf.titledColumns
    assert(titled.df.columns.contains("Total"))
  }

  test("selectCensus pairs margins by metadata on the titled and code-title views") {
    val cf = CensusReporter.loadJsonResource(spark, "censusreporter/acs_fixture.json", "B17001")
    val titled = cf.titledColumns
    assert(titled.m90Name("Total") == "B17001001_m90")
    assert(titled.selectCensus("geoid", "Total").df.columns.toSeq ==
      Seq("geoid", "Total", "B17001001_m90"))
    assert(titled.selectCensus("geoid", "001").df.columns.toSeq ==
      Seq("geoid", "Total", "B17001001_m90"))
    val ct = cf.ctColumns
    assert(ct.selectCensus("geoid", "B17001001").df.columns.toSeq ==
      Seq("geoid geoid", "B17001001 Total", "B17001001_m90"))
    // a margin selected on its own stays alone
    assert(ct.selectCensus("B17001001_m90").df.columns.toSeq == Seq("B17001001_m90"))
  }

  test("schemaMeta lists each code's estimate then its margin, at its frame position") {
    val cf = CensusReporter.loadJsonResource(spark, "censusreporter/acs_fixture.json", "B17001")
    val meta = cf.schemaMeta
    assert(meta.map(_.code) == cf.df.columns.toSeq)
    assert(meta.map(_.position) == meta.indices)
    // SURVEY §1.2: the key columns, then 7 codes as 14 entries — the '.5'
    // pseudo header is dropped
    val census = meta.drop(2)
    assert(meta.take(2).map(_.code) == Seq("geoid", "name"))
    assert(census.map(_.code) == (1 to 7).flatMap { i =>
      val code = f"B17001$i%03d"
      Seq(code, code + "_m90")
    })
    assert(census.grouped(2).forall { case Seq(e, m) =>
      !e.isM90 && m.isM90 && m.index == e.index && m.position == e.position + 1
    })
  }

  test("selectPairs keeps only the keys and the named pairs, valued as withPairs") {
    val cf = CensusReporter.loadJsonResource(spark, "censusreporter/acs_fixture.json", "B17001")
    val r = cf.ratio("B17001002", "B17001001")
    val selected = cf.selectPairs(Seq("geoid"), "r" -> r).df
    assert(selected.columns.toSeq == Seq("geoid", "r", "r_m90"))
    val viaWith = cf.withPairs("r" -> r).df.select("geoid", "r", "r_m90")
    assert(selected.collect().toSet == viaWith.collect().toSet)
    assert(selected.count() == 3)
  }

  test("previewTranspose holds each column's first n values, in schema order") {
    val cf = CensusReporter.loadJsonResource(spark, "censusreporter/acs_fixture.json", "B17001")
    val rows = cf.df.collect().toSeq
    for (n <- Seq(2, 5)) { // 5 is past the fixture's 3 rows
      val preview = cf.previewTranspose(n)
      assert(preview.map(_._1) == cf.df.columns.toSeq)
      preview.zipWithIndex.foreach { case ((_, values), i) =>
        assert(values == rows.take(n).map(_.get(i)))
      }
    }
  }

  test("SourceRegistry dispatches censusreporter scheme (S6)") {
    SourceRegistry.register("fixture", (s, _) =>
      CensusReporter.loadJsonResource(s, "censusreporter/acs_fixture.json", "B17001"))
    val cf = SourceRegistry.load(spark, "fixture:whatever")
    assert(cf.df.count() == 3)
    intercept[AppUrlException](SourceRegistry.load(spark, "unknown:xyz"))
  }

  // ---- F9: citation ----

  test("citation dict for censusreporter URLs, None otherwise (censusreporter.py:286-319)") {
    val c = Citation.forTable("censusreporter:B17001/140/05000US06073",
      "B17001_140_05000US06073", "Poverty Status by Sex by Age",
      today = java.time.LocalDate.of(2026, 8, 12))
    assert(c.isDefined)
    assert(c.get.`type` == "dataset")
    assert(c.get.origin == "United States Census Bureau")
    assert(c.get.publisher == "CensusReporter.org")
    assert(c.get.title ==
      "2010 - 2015 American Community Survey, Table B17001: Poverty Status by Sex by Age")
    assert(c.get.year == 2015)
    assert(c.get.accessDate == "2026-08-12")
    assert(Citation.forTable("http://example.com/x", "n", "d").isEmpty)
  }

  // ---- S9: Census Bureau API client ----

  test("CensusApi fetch URL carries server-side geo predicates (test_censusapi.py:30)") {
    val ds = CensusApi.Dataset("ACSSF5Y2015", "https://api.census.gov/data/2015/acs/acs5")
    assert(ds.fetchUrl(Seq("B01003_001E", "NAME"),
      geoIn = Some("state:06+county:073"), geoFor = Some("place:*")) ==
      "https://api.census.gov/data/2015/acs/acs5?get=B01003_001E,NAME&for=place:*&in=state:06+county:073")
  }

  test("CensusApi decodes array-of-arrays into a DataFrame (header row first)") {
    val json = """[["NAME","B01003_001E","state","county"],
                   ["San Diego County, California","3223096","06","073"],
                   ["Imperial County, California","180191","06","025"]]"""
    val (header, rows) = CensusApi.decodeArrayOfArrays(json)
    assert(header == Seq("NAME", "B01003_001E", "state", "county"))
    assert(rows.length == 2)
    val df = CensusApi.toDataFrame(spark, header, rows)
    assert(df.count() == 2)
    assert(df.schema.fieldNames.toSeq == header)
    val ds = CensusApi.Dataset("X", "http://unused", _ => json)
    assert(ds.fetchDataFrame(spark, Seq("NAME")).count() == 2)
  }

  test("CensusApi dataset catalog search by regex (test_censusapi.py:14-20)") {
    val catalogJson = """{"dataset": [
      {"identifier": "ACSSF5Y2015", "title": "ACS 5-Year Estimates 2015",
       "distribution": [{"accessURL": "https://api.census.gov/data/2015/acs/acs5"}]},
      {"identifier": "POPESTpop2015", "title": "Population Estimates 2015",
       "distribution": [{"accessURL": "https://api.census.gov/data/2015/pep/population"}]}]}"""
    val hits = CensusApi.searchDatasets("(?i)population", _ => catalogJson)
    assert(hits.map(_.id) == Seq("POPESTpop2015"))
    assert(hits.head.basePath.endsWith("/pep/population"))
    assert(CensusApi.searchDatasets("ACS.*2015", _ => catalogJson).map(_.id) ==
      Seq("ACSSF5Y2015"))
  }

  test("CensusApi getDataset resolves unknown ids through the catalog (VERDICT r2 #6)") {
    val catalogJson = """{"dataset": [
      {"identifier": "https://api.census.gov/data/id/CBP2016", "title": "County Business Patterns 2016",
       "distribution": [{"accessURL": "https://api.census.gov/data/2016/cbp"}]},
      {"identifier": "ACSSF5Y2015", "title": "ACS 5-Year Estimates 2015",
       "distribution": [{"accessURL": "https://api.census.gov/data/2015/acs/acs5"}]}]}"""
    // non-hardcoded id, URL-style identifier → matched by trailing segment
    val ds = CensusApi.getDataset("CBP2016", _ => catalogJson)
    assert(ds.basePath == "https://api.census.gov/data/2016/cbp")
    // well-known ids never hit the catalog
    var fetched = 0
    val known = CensusApi.getDataset("ACSSF5Y2015", { _ => fetched += 1; catalogJson })
    assert(known.basePath == "https://api.census.gov/data/2015/acs/acs5" && fetched == 0)
    // no catalog match (or unreachable catalog) falls back to $Host/$id
    assert(CensusApi.getDataset("NOPE", _ => catalogJson).basePath ==
      s"${CensusApi.Host}/NOPE")
    assert(CensusApi.getDataset("NOPE", _ => throw new java.io.IOException("offline"))
      .basePath == s"${CensusApi.Host}/NOPE")
  }

  test("CensusApi catalog fetched once per transport; failures not cached (ADVICE r3)") {
    val catalogJson = """{"dataset": [
      {"identifier": "https://api.census.gov/data/id/CBP2016", "title": "CBP 2016",
       "distribution": [{"accessURL": "https://api.census.gov/data/2016/cbp"}]}]}"""
    var fetched = 0
    val transport: String => String = { _ => fetched += 1; catalogJson }
    assert(CensusApi.getDataset("CBP2016", transport).basePath ==
      "https://api.census.gov/data/2016/cbp")
    assert(CensusApi.getDataset("CBP2016", transport).basePath ==
      "https://api.census.gov/data/2016/cbp")
    assert(fetched == 1, s"catalog refetched: $fetched fetches for 2 lookups")
    // a failed fetch falls back but is NOT memoized — the next call retries
    var calls = 0
    val flaky: String => String = { _ =>
      calls += 1
      if (calls == 1) throw new java.io.IOException("offline") else catalogJson
    }
    assert(CensusApi.getDataset("CBP2016", flaky).basePath == s"${CensusApi.Host}/CBP2016")
    assert(CensusApi.getDataset("CBP2016", flaky).basePath ==
      "https://api.census.gov/data/2016/cbp")
  }

  test("CensusApi variable search filters by substring") {
    val varsJson = """{"variables": {
        "B01003_001E": {"label": "Estimate!!Total population"},
        "B17001_001E": {"label": "Estimate!!Total poverty"},
        "NAME": {"label": "Geographic Area Name"}}}"""
    val ds = CensusApi.Dataset("X", "http://unused", _ => varsJson)
    assert(ds.variables().size == 3)
    assert(ds.searchVariables("poverty").keySet == Set("B17001_001E"))
    assert(ds.searchVariables("b01003").keySet == Set("B01003_001E"))
  }

  // ---- S10: variance-replicate load + math ----

  test("VarRep loads wide CSV into packed replicate arrays and computes MOE") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("varrep")
    val header = (Seq("TBLID", "GEOID", "ORDER", "TITLE", "CME", "ESTIMATE", "MOE") ++
      (1 to 80).map(i => s"Var_Rep$i")).mkString(",")
    // constant replicates == estimate → zero variance; +1 offset → 4/80*80=4
    val est = 100.0
    val row1 = (Seq("B01001", "g1", "1", "Total", "", est.toString, "5") ++
      Seq.fill(80)(est.toString)).mkString(",")
    val row2 = (Seq("B01001", "g2", "1", "Total", "", est.toString, "5") ++
      Seq.fill(80)((est + 1).toString)).mkString(",")
    java.nio.file.Files.write(dir.resolve("vr.csv"),
      s"$header\n$row1\n$row2\n".getBytes)
    val df = VarRep.loadVarRep(spark, dir.resolve("vr.csv").toString)
    assert(df.columns.contains("replicates") && !df.columns.contains("Var_Rep1"))
    val out = df.select(col("GEOID"),
      VarRep.replicateVariance(col("ESTIMATE"), col("replicates")).as("v"),
      VarRep.replicateMoe(col("ESTIMATE"), col("replicates")).as("moe"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out("g1")._1 == 0.0)
    assert(math.abs(out("g2")._1 - 4.0) < 1e-12) // 4/80 * 80 * 1²
    assert(math.abs(out("g2")._2 - 1.645 * 2.0) < 1e-12)
  }

  test("VarRep variance of int-typed input with a 50,000 deviation does not overflow") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // (r - est)² = 2.5e9 exceeds Int.MaxValue: an int multiply overflows
    val schema = StructType(Seq(StructField("ESTIMATE", IntegerType),
      StructField("replicates", ArrayType(IntegerType))))
    val df = spark.createDataFrame(java.util.List.of(
      Row(39000000, Seq.fill(80)(39050000))), schema)
    val r = df.select(
      VarRep.replicateVariance(col("ESTIMATE"), col("replicates")),
      VarRep.replicateMoe(col("ESTIMATE"), col("replicates"))).head()
    assert(r.getDouble(0) == 1e10)
    assert(r.getDouble(1) == 1.645e5)
  }

  private def writeVarRep(dir: java.nio.file.Path, header: Seq[String],
      rows: Seq[Seq[String]]): String = {
    val path = dir.resolve("vr.csv")
    java.nio.file.Files.write(path,
      (header +: rows).map(_.mkString(",")).mkString("", "\n", "\n").getBytes)
    path.toString
  }

  private val varRepHeader = Seq("TBLID", "GEOID", "ORDER", "TITLE", "CME", "ESTIMATE",
    "MOE") ++ (1 to 80).map(i => s"Var_Rep$i")

  test("VarRep keeps an all-digit GEOID's leading zero (declared schema)") {
    val path = writeVarRep(java.nio.file.Files.createTempDirectory("varrep-geoid"),
      varRepHeader, Seq(Seq("B01001", "01001020100", "1", "Total", "", "100", "5") ++
        Seq.fill(80)("100")))
    val df = VarRep.loadVarRep(spark, path)
    assert(df.schema("GEOID").dataType == org.apache.spark.sql.types.StringType)
    assert(df.select("GEOID").head().getString(0) == "01001020100")
  }

  test("VarRep fails loudly on a header that differs from the documented layout") {
    val header = varRepHeader.take(2) ++ Seq("NAME") ++ varRepHeader.drop(2)
    val path = writeVarRep(java.nio.file.Files.createTempDirectory("varrep-header"),
      header, Seq(Seq("B01001", "01001020100", "Autauga", "1", "Total", "", "100", "5") ++
        Seq.fill(80)("100")))
    val e = intercept[Exception](VarRep.loadVarRep(spark, path).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("CSV header")), messages.mkString(" | "))
  }

  /** Line start offsets of `bytes` (`\n`, `\r` or `\r\n` ends a line). */
  private def lineStarts(bytes: Array[Byte]): Seq[Int] =
    0 +: bytes.indices.filter { i =>
      bytes(i) == '\n' || (bytes(i) == '\r' && (i + 1 == bytes.length || bytes(i + 1) != '\n'))
    }.map(_ + 1).filter(_ < bytes.length)

  /** The byte range bounds the decoder cuts an uncompressed file into. */
  private def rangeBounds(length: Int, k: Int): Seq[Int] =
    (0 to k).map(i => (length.toLong * i / k).toInt)

  test("VarRep rows equal Spark's CSV file reader's on adversarial files") {
    import org.apache.spark.sql.functions._
    def line(geo: String = "g1", title: String = "Total", est: String = "100",
        moe: String = "5", rep1: String = "101"): String =
      (Seq("B01001", geo, "1", title, "", est, moe, rep1) ++ Seq.fill(79)("99.5"))
        .mkString(",")
    val header = varRepHeader.mkString(",")
    def lf(lines: String*): String = lines.mkString("", "\n", "\n")
    // a CRLF file whose middle byte is the \n of a \r\n: two ranges split it
    val crlfSplit = (0 until 2000).iterator.map { pad =>
      Seq(header, line(), line("g2"), line("g3", title = "T" * pad))
        .mkString("", "\r\n", "\r\n")
    }.find { t => val m = t.length / 2; t(m) == '\n' && t(m - 1) == '\r' }.get
    val files = Seq(
      "CRLF line endings" -> Seq(header, line(), line("g2")).mkString("", "\r\n", "\r\n"),
      "a CRLF split between its \\r and \\n" -> crlfSplit,
      "a trailing blank line" -> Seq(header, line(), line("g2")).mkString("", "\n", "\n\n"),
      "header only" -> s"$header\n",
      "a line across a range boundary" -> lf(header, line(), line("g2", title = "T" * 300),
        line("g3")),
      "a range that holds no line start" -> lf(header, line(title = "T" * 4000), line("g2")),
      "an empty numeric field" -> lf(header, line(moe = "")),
      "a non-numeric replicate" -> lf(header, line(rep1 = "n/a")),
      "a quoted TITLE with a comma" -> lf(header, line(title = "\"Total, all ages\"")),
      "an all-digit GEOID with a leading zero" -> lf(header, line(geo = "01001020100")),
      "a null ESTIMATE" -> lf(header, line(est = "")),
      "a gzip'd file" -> lf(header, line(), line("g2"), line("g3")))
    val dir = java.nio.file.Files.createTempDirectory("varrep-parity")
    def withMoe(df: org.apache.spark.sql.DataFrame) =
      df.select(col("*"), VarRep.replicateMoe(col("ESTIMATE"), col("replicates")).as("m"))
        .collect().map(_.toSeq).toSeq
    val got = files.zipWithIndex.map { case ((name, text), i) =>
      val bytes = text.getBytes("UTF-8")
      val gzip = name == "a gzip'd file"
      val path = dir.resolve(if (gzip) s"vr$i.csv.gz" else s"vr$i.csv")
      val out = java.nio.file.Files.newOutputStream(path)
      try {
        if (gzip) {
          val z = new java.util.zip.GZIPOutputStream(out)
          z.write(bytes); z.finish()
        } else out.write(bytes)
      } finally out.close()
      val raw = spark.read.schema(VarRep.varRepSchema).option("header", "true")
        .option("enforceSchema", "false").csv(path.toString)
      val reps = raw.columns.toIndexedSeq.drop(7)
      val expected = withMoe(raw.select(raw.columns.toIndexedSeq.take(7).map(raw(_)) :+
        array(reps.map(raw(_)): _*).as("replicates"): _*))
      // a forced range count applies to an uncompressed file only
      val byRanges = (1 to 5).map(k => k -> withMoe(VarRep.loadVarRep(spark, path.toString,
        Some(k))))
      byRanges.foreach { case (k, rows) => assert(rows == expected, s"$name, $k ranges") }
      assert(withMoe(VarRep.loadVarRep(spark, path.toString)) == expected, name)
      name -> (bytes, byRanges.head._2)
    }.toMap
    def rows(name: String) = got(name)._2
    assert(rows("CRLF line endings").map(_(1)) == Seq("g1", "g2"))
    assert(rows("a CRLF split between its \\r and \\n").map(_(1)) == Seq("g1", "g2", "g3"))
    assert(rows("a trailing blank line").length == 2)
    assert(rows("header only").isEmpty)
    assert(rows("a line across a range boundary").map(_(1)) == Seq("g1", "g2", "g3"))
    assert(rows("a range that holds no line start").map(_(1)) == Seq("g1", "g2"))
    assert(rows("an empty numeric field").head(6) == null)
    assert(rows("a non-numeric replicate").head(7).asInstanceOf[collection.Seq[_]].head == null)
    assert(rows("a quoted TITLE with a comma").head(3) == "Total, all ages")
    assert(rows("an all-digit GEOID with a leading zero").head(1) == "01001020100")
    assert(rows("a null ESTIMATE").head(8) == null)
    assert(rows("a gzip'd file").map(_(1)) == Seq("g1", "g2", "g3"))
    // the files hold the boundary cases they are named for
    val straddle = got("a line across a range boundary")._1
    assert((2 to 5).forall(k => !rangeBounds(straddle.length, k).init.tail
      .forall(lineStarts(straddle).contains)))
    val long = got("a range that holds no line start")._1
    assert(rangeBounds(long.length, 5).sliding(2).exists { case Seq(a, b) =>
      !lineStarts(long).exists(s => s >= a && s < b) })
  }

  test("concurrent VarRep loads share one bounded pool of daemon decode threads") {
    import org.apache.spark.sql.functions._
    val paths = Seq(1, 2).map { f =>
      writeVarRep(java.nio.file.Files.createTempDirectory(s"varrep-pool$f"), varRepHeader,
        (1 to 400).map(r => Seq("B01001", s"f$f-g$r", "1", "Total", "",
          (100 * f + r).toString, "5") ++ Seq.fill(80)((100 * f + r + 1).toString)))
    }
    def moes(path: String) = VarRep.loadVarRep(spark, path, Some(4))
      .select(col("GEOID"), VarRep.replicateMoe(col("ESTIMATE"), col("replicates")))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val want = paths.map(moes)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val runs = (1 to 3).flatMap(_ => paths.map(p => Future(moes(p))))
    val results = runs.map(Await.result(_, scala.concurrent.duration.Duration(120, "s")))
    results.grouped(2).foreach(r => assert(r == want))
    assert(want.map(_.map(_._1)) == Seq(1, 2).map(f => (1 to 400).map(r => s"f$f-g$r")))
    assert(want.flatten.forall(_._2 == 1.645 * math.sqrt(4.0)))
    import scala.jdk.CollectionConverters._
    val decoders = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("graft-csv-decode"))
    assert(decoders.nonEmpty)
    assert(decoders.forall(_.isDaemon), decoders.map(_.getName))
    assert(decoders.size <= Runtime.getRuntime.availableProcessors, decoders.map(_.getName))
  }

  test("VarRep remote fetch: URL construction, zip unwrap, cache-hit skips fetch") {
    import org.apache.spark.sql.functions._
    // mirror of the reference's get_varrep_dataframe(2015,'B01001','140',
    // state='11', cache=False) entry point (test_basic.py:221-225), with
    // the HTTP transport injected (no network in the sandbox).
    assert(VarRep.varRepUrl(2015, "B01001", "140", "11") ==
      "https://www2.census.gov/programs-surveys/acs/replicate_estimates/" +
        "2015/data/5-year/140/B01001_11.csv.zip")

    val header = (Seq("TBLID", "GEOID", "ORDER", "TITLE", "CME", "ESTIMATE", "MOE") ++
      (1 to 80).map(i => s"Var_Rep$i")).mkString(",")
    val nRows = 97
    val rows = (1 to nRows).map { r =>
      (Seq("B01001", s"g$r", r.toString, "Total", "", "100.0", "5") ++
        Seq.fill(80)("100.0")).mkString(",")
    }
    val csv = (header +: rows).mkString("", "\n", "\n").getBytes("UTF-8")
    // zip the payload like the published files
    val baos = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(baos)
    zout.putNextEntry(new java.util.zip.ZipEntry("B01001_11.csv"))
    zout.write(csv); zout.closeEntry(); zout.close()
    val zipped = baos.toByteArray

    var fetches = List.empty[String]
    val transport: String => Array[Byte] = { url => fetches ::= url; zipped }
    val cacheDir = java.nio.file.Files.createTempDirectory("varrep-cache")

    val df = VarRep.load(spark, 2015, "B01001", "140", "11",
      cache = true, cacheDir = cacheDir, fetch = transport)
    assert(df.count() == nRows) // the 8771-row assertion shape, scaled down
    assert(df.columns.contains("replicates") && !df.columns.contains("Var_Rep1"))
    assert(fetches == List(VarRep.varRepUrl(2015, "B01001", "140", "11")))

    // second load: cache hit, transport not consulted again
    val df2 = VarRep.load(spark, 2015, "B01001", "140", "11",
      cache = true, cacheDir = cacheDir,
      fetch = _ => fail("cache hit must not fetch"))
    assert(df2.count() == nRows)

    // cache=false refetches even with a warm cache
    VarRep.load(spark, 2015, "B01001", "140", "11",
      cache = false, cacheDir = cacheDir, fetch = transport)
    assert(fetches.length == 2)

    // plain-CSV payloads (unzipped transports) work too
    assert(new String(VarRep.unwrapCsv(csv), "UTF-8").startsWith("TBLID,"))
  }

  test("k-val pinned constants (test_basic.py:231-234)") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1).select(
      VarRep.kVal(lit(1000.0)).as("a"), VarRep.kVal(lit(10000.0)).as("b"),
      VarRep.kVal(lit(49999.0)).as("c"), VarRep.kVal(lit(50001.0)).as("d"))
    val r = df.head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) == ((4, 10, 18, 22)))
    assert(VarRep.aveWeight(11) == 13)
  }
}
