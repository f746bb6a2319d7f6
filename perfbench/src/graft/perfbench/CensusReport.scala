package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.CensusFrame
import graft.functions.AcsMath
import graft.sources.{CensusApi, CensusReporter, CensusReporterDecoder, CensusReporterUrl, VarRep}

/** The census reporting loop: an op is one analyst request — URL →
  * fetch/cache → decode → CensusFrame → derived measures (and a grouped
  * `with_m90` SQL aggregate on multi-geo tables) → rows collected to the
  * driver. A cycle is a fixed, seed-shuffled mix of 24 requests over six
  * size tiers; half of the cacheable requests repeat a URL of the previous
  * cycle (cache hits), the rest are new URLs (misses). The mix and the
  * hit share are assumptions, not measured traffic; the payload shapes
  * follow the reference tables. The "server" is an injected fetch that
  * serves pre-generated payloads, so no network is involved and every
  * miss costs what the program does with its bytes.
  */
final class CensusReport(ctx: Ctx) extends Workload {
  import CensusReport._

  val scanInput = false
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val cacheDir = ctx.work.resolve("cache")

  // ---- the simulated servers ----
  private val routes = new ConcurrentHashMap[String, Array[Byte]]()
  private val fetches = new AtomicLong
  private def serveBytes(url: String): Array[Byte] = {
    val body = routes.get(url)
    if (body == null) throw new java.io.IOException(s"no route for $url")
    fetches.incrementAndGet()
    body
  }
  private val serveText: String => String =
    url => new String(serveBytes(url), StandardCharsets.UTF_8)

  // ---- payload pools, two variants per tier ----
  private var crPool: Map[String, IndexedSeq[Gen.CrPayload]] = Map.empty
  private var crBytes: Map[String, IndexedSeq[Array[Byte]]] = Map.empty
  private var apiPool: IndexedSeq[Gen.ApiPayload] = IndexedSeq.empty
  private var apiBytes: IndexedSeq[Array[Byte]] = IndexedSeq.empty
  private var vrePool: IndexedSeq[Gen.VrePayload] = IndexedSeq.empty

  private var schedule: IndexedSeq[Slot] = IndexedSeq.empty
  private var cycleNo = 0
  private val uniq = new AtomicLong
  /** (URL key, payload variant) requested as misses in the previous
    * cycle, per (tier, slot).
    */
  private var lastMiss = Map.empty[(String, Int), (String, Int)]
  private var thisMiss = Map.empty[(String, Int), (String, Int)]

  // ---- per-window tallies for the per-layer metrics ----
  private var requests = 0L
  private var cacheable = 0L
  private var hits = 0L
  private var decodedBytes = 0L
  private var rowsReturned = 0L

  // ---- bytes the program writes into its cache directory ----
  private var cacheMark = Map.empty[Path, (Long, Long)]

  /** Every cache file with its size and modification time. */
  private def cacheFiles: Map[Path, (Long, Long)] =
    if (!Files.exists(cacheDir)) Map.empty
    else {
      val st = Files.walk(cacheDir)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map { q =>
        q -> (Files.size(q), Files.getLastModifiedTime(q).toMillis)
      }.toMap
      finally st.close()
    }

  override def writeMark(): Unit = cacheMark = cacheFiles

  /** Sizes of the cache files created or rewritten since the mark. */
  override def writtenSinceMark(): Long =
    cacheFiles.iterator.collect { case (q, st) if !cacheMark.get(q).contains(st) => st._1 }.sum

  def setup(): Unit = {
    val s = ctx.seed
    crPool = CrTiers.map(t => t.name -> (0 until 2).map(v =>
      Gen.crPayload(mix(s, t.name, v), t.tableId, t.sumLevel, t.nGeo, t.nCodes))).toMap
    crBytes = crPool.map { case (k, ps) => k -> ps.map(_.json.getBytes(StandardCharsets.UTF_8)) }
    apiPool = (0 until 2).map(v => Gen.apiPayload(mix(s, "api", v), ApiPlaces, ApiVars))
    apiBytes = apiPool.map(_.json.getBytes(StandardCharsets.UTF_8))
    vrePool = (0 until 2).map(v => Gen.vrePayload(mix(s, "vre", v), VreGeos, VreLines))
    val slots = CrTiers.flatMap(t =>
        (0 until t.hits).map(i => Slot(t.name, hit = true, i)) ++
          (0 until t.misses).map(i => Slot(t.name, hit = false, i))) ++
      (0 until ApiRequests).map(i => Slot("api", hit = false, i)) ++
      Seq(Slot("vre", hit = true, 0), Slot("vre", hit = false, 0))
    schedule = new scala.util.Random(s).shuffle(slots).toIndexedSeq
    // warm-up: cycles that pay codegen, class loading and JIT of every
    // tier's path and fill the cache (the first cycle's hit slots are
    // misses). After one cycle, op latency still fell over the next two.
    val warm = (1 to WarmCycles).map(_ => cycle().map(_.latencyS).sum)
    Main.log(warm.map(t => f"$t%.2f").mkString("warm-up cycles ", ", ", " s"))
    resetTallies()
  }

  def resetTallies(): Unit = {
    requests = 0; cacheable = 0; hits = 0; decodedBytes = 0; rowsReturned = 0
  }

  def describe: String = {
    val fp = java.security.MessageDigest.getInstance("SHA-256")
    crBytes.toSeq.sortBy(_._1).foreach(_._2.foreach(b => fp.update(b)))
    apiBytes.foreach(b => fp.update(b))
    vrePool.foreach(v => fp.update(v.csv))
    val tiers = CrTiers.map(t => s""""${t.name}":"${t.tableId}/${t.sumLevel} ${t.nGeo}x${2 + 2 * t.nCodes}"""")
    s"""{"op":"one analyst request","row_unit":"geo rows decoded",""" +
      s""""requests_per_cycle":${schedule.size},"cacheable_hit_share":0.5,""" +
      s""""tiers":{${tiers.mkString(",")},"api":"$ApiPlaces places x${1 + 2 * ApiVars}",""" +
      s""""vre":"${VreGeos * VreLines} rows x80 replicates"},""" +
      s""""fingerprint":"${fp.digest().map("%02x".format(_)).mkString}"}"""
  }

  def cycle(): Seq[OpSample] = {
    thisMiss = Map.empty
    val out = schedule.map(runOp)
    lastMiss = thisMiss
    cycleNo += 1
    out
  }

  /** The URL key (geoid or state) a slot requests this cycle, and the
    * payload variant behind it: a hit repeats a miss of the last cycle.
    */
  private def keyFor(slot: Slot): (String, Int) =
    lastMiss.get((slot.tier, slot.idx)).filter(_ => slot.hit).getOrElse {
      val k = (f"${uniq.incrementAndGet()}%09d", (cycleNo + slot.idx) % 2)
      if (!slot.hit) thisMiss += (slot.tier, slot.idx) -> k
      k
    }

  private def runOp(slot: Slot): OpSample = {
    tr.beginOp()
    val (key, variant) = keyFor(slot)
    val f0 = fetches.get()
    val t0 = System.nanoTime()
    try {
      val (rows, inBytes, check) = tr("bench.op") {
        slot.tier match {
          case "api" => apiOp(key, variant)
          case "vre" => vreOp(key, variant)
          case t => crOp(CrTiers.find(_.name == t).get, key, variant)
        }
      }
      val lat = (System.nanoTime() - t0) / 1e9
      val fetched = fetches.get() - f0
      requests += 1
      if (slot.tier != "api") {
        cacheable += 1
        if (fetched == 0) hits += 1
      }
      val err = check()
      OpSample(slot.tier, lat, rows, inBytes, 0, err.isEmpty, err.getOrElse(""))
    } catch {
      case scala.util.control.NonFatal(e) =>
        OpSample(slot.tier, (System.nanoTime() - t0) / 1e9, 0, 0, 0, ok = false, e.toString)
    }
  }

  // every op returns (input rows, input bytes, deferred output check)
  private type OpOut = (Long, Long, () => Option[String])

  private def crOp(t: CrTier, key: String, variant: Int): OpOut = {
    val p = crPool(t.name)(variant)
    val u = CensusReporterUrl(s"censusreporter:${t.tableId}/${t.sumLevel}/${t.prefix}US$key")
    routes.put(u.resourceUrl, crBytes(t.name)(variant))
    val json = tr("sources.get_resource") {
      CensusReporter.getResource(u, cache = true, cacheDir = cacheDir, fetch = serveText)
    }
    val table = tr("sources.decode") { CensusReporterDecoder.decode(json, t.tableId) }
    decodedBytes += json.length
    val cf = tr("sources.to_frame") { CensusReporterDecoder.toFrame(spark, table) }
    val c = p.codes
    val derived = tr("censusframe.build") {
      val f = cf.addRse(c(0))
      val pairs =
        if (t.nCodes >= 18) Seq(
          "share" -> f.proportion(c(1), c(0)),
          "sum45" -> f.sumM(c(3), c(4)),
          "ratio" -> f.ratio(c(3), c(17)),
          "prod" -> f.product(c(2), c(3)))
        else Nil
      val w = f.withPairs(pairs: _*)
      w.df.select((Seq("geoid", c(0) + "_rse") ++
        pairs.flatMap { case (n, _) => Seq(n, n + "_m90") }).map(w.df(_)): _*)
    }
    val rows = tr("censusframe.collect") { derived.collect() }
    val grouped = if (!t.sql) None else Some {
      val prefix = if (t.sumLevel == "140") 12 else 9
      val df = tr("censusframe.sql_analyze") {
        cf.df.createOrReplaceTempView("request")
        spark.sql(s"SELECT substr(geoid, 1, $prefix) AS grp, with_m90(${c(0)}) " +
          s"FROM request GROUP BY substr(geoid, 1, $prefix)")
      }
      (prefix, tr("censusframe.collect") { df.collect() })
    }
    rowsReturned += rows.length + grouped.map(_._2.length).getOrElse(0)
    (p.geoids.size.toLong, json.length.toLong, () => checkCr(t, p, rows, grouped))
  }

  private def apiOp(key: String, variant: Int): OpOut = {
    val p = apiPool(variant)
    val ds = CensusApi.Dataset("ACSSF5Y2015", s"${CensusApi.Host}/2015/acs/acs5", serveText)
    val vars = "NAME" +: p.vars.flatMap(v => Seq(v + "E", v + "M"))
    val url = ds.fetchUrl(vars, geoIn = Some(s"state:$key"), geoFor = Some("place:*"))
    routes.put(url, apiBytes(variant))
    val body = tr("sources.get_resource") { ds.fetchFn(url) }
    val (header, raw) = tr("sources.decode") { CensusApi.decodeArrayOfArrays(body) }
    decodedBytes += body.length
    val df = tr("sources.to_frame") { CensusApi.toDataFrame(spark, header, raw) }
    val v = p.vars
    val derived = tr("censusframe.build") {
      val f = CensusFrame(df.select(col("NAME") +: v.flatMap(x => Seq(
        col(x + "E").cast("double").as(x), col(x + "M").cast("double").as(x + "_m90"))): _*))
        .addRse(v(0))
      val w = f.withPairs("share" -> f.proportion(v(1), v(0)), "ratio" -> f.ratio(v(2), v(1)))
      w.df.select(Seq("NAME", v(0) + "_rse", "share", "share_m90", "ratio", "ratio_m90")
        .map(w.df(_)): _*)
    }
    val rows = tr("censusframe.collect") { derived.collect() }
    rowsReturned += rows.length
    (raw.size.toLong, body.length.toLong, () => checkApi(p, rows))
  }

  private def vreOp(key: String, variant: Int): OpOut = {
    val p = vrePool(variant)
    routes.put(VarRep.varRepUrl(2015, "B01001", "140", key), p.csv)
    val path = tr("sources.get_resource") {
      VarRep.fetchVarRep(2015, "B01001", "140", key, cache = true, cacheDir = cacheDir,
        fetch = serveBytes)
    }
    val df = tr("sources.decode") { VarRep.loadVarRep(spark, path.toString) }
    decodedBytes += p.csv.length
    val derived = tr("censusframe.build") {
      df.select(col("GEOID"), col("ORDER"),
        VarRep.replicateMoe(col("ESTIMATE"), col("replicates")).as("moe_rep"))
    }
    val rows = tr("censusframe.collect") { derived.collect() }
    rowsReturned += rows.length
    (p.est.length.toLong, p.csv.length.toLong, () => checkVre(p, rows))
  }

  // ---- output checks: recompute on the driver with the Handbook formulas ----

  private def close(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want))

  private def checkCr(t: CrTier, p: Gen.CrPayload, rows: Array[Row],
      grouped: Option[(Int, Array[Row])]): Option[String] = {
    val at = p.geoids.zipWithIndex.toMap
    if (rows.length != p.geoids.size) return Some(s"${t.name}: ${rows.length} rows")
    val bad = rows.find { r =>
      val g = at(r.getString(0))
      val (e, m) = (p.est(g), p.err(g))
      val want = Seq(Handbook.rse(e(0), m(0))) ++ (if (t.nCodes < 18) Nil else {
        val (s, sm) = Handbook.proportion(e(1), m(1), e(0), m(0))
        val (a, am) = Handbook.sumM(Seq((e(3), m(3)), (e(4), m(4))))
        val (q, qm) = Handbook.ratio(e(3), m(3), e(17), m(17))
        val (x, xm) = Handbook.product(e(2), m(2), e(3), m(3))
        Seq(s, sm, a, am, q, qm, x, xm)
      })
      want.zipWithIndex.exists { case (w, i) => !close(r.getDouble(i + 1), w) }
    }
    bad.map(r => s"${t.name}: derived measures differ at ${r.getString(0)}").orElse {
      grouped.flatMap { case (prefix, g) =>
        val want = p.geoids.indices.groupBy(i => p.geoids(i).take(prefix)).map {
          case (k, is) => k -> (is.map(i => p.est(i)(0)).sum,
            math.sqrt(is.map(i => p.err(i)(0) * p.err(i)(0)).sum))
        }
        if (g.length != want.size) Some(s"${t.name}: ${g.length} groups, want ${want.size}")
        else g.find { r =>
          val (e, m) = want(r.getString(0))
          !close(r.getDouble(1), e) || !close(r.getDouble(2), m)
        }.map(r => s"${t.name}: with_m90 aggregate differs at ${r.getString(0)}")
      }
    }
  }

  private def checkApi(p: Gen.ApiPayload, rows: Array[Row]): Option[String] = {
    val at = p.names.zipWithIndex.toMap
    if (rows.length != p.names.size) return Some(s"api: ${rows.length} rows")
    rows.find { r =>
      val i = at(r.getString(0))
      val (e, m) = (p.est(i), p.err(i))
      val (s, sm) = Handbook.proportion(e(1), m(1), e(0), m(0))
      val (q, qm) = Handbook.ratio(e(2), m(2), e(1), m(1))
      Seq(Handbook.rse(e(0), m(0)), s, sm, q, qm).zipWithIndex
        .exists { case (w, j) => !close(r.getDouble(j + 1), w) }
    }.map(r => s"api: derived measures differ at ${r.getString(0)}")
  }

  private def checkVre(p: Gen.VrePayload, rows: Array[Row]): Option[String] = {
    if (rows.length != p.est.length) return Some(s"vre: ${rows.length} rows")
    rows.find { r =>
      val i = p.geoids.indexOf(r.getString(0)) * p.nLines + r.getInt(1) - 1
      !close(r.getDouble(2), Handbook.replicateMoe(p.est(i), p.reps(i)))
    }.map(r => s"vre: replicate MOE differs at ${r.getString(0)}/${r.getInt(1)}")
  }

  def layerMetrics(w: Main.Window): Seq[(String, Double, String)] = {
    val ops = math.max(1, w.samples.size).toDouble
    val decodeS = tr.total("sources.decode")
    Seq(
      ("sources.requests", requests.toDouble, "count"),
      ("sources.cache_hit_ratio", hits.toDouble / math.max(1L, cacheable), "frac"),
      ("sources.get_resource_s", tr.total("sources.get_resource") / ops, "s"),
      ("sources.decode_s", decodeS / ops, "s"),
      ("sources.decode_mb_per_s", decodedBytes / 1048576.0 / math.max(1e-9, decodeS), "MB/s"),
      ("sources.to_frame_s", tr.total("sources.to_frame") / ops, "s"),
      ("sources.cache_bytes_written", w.writtenBytes.toDouble, "B"),
      ("censusframe.build_s", tr.total("censusframe.build") / ops, "s"),
      ("censusframe.sql_analyze_s", tr.total("censusframe.sql_analyze") / ops, "s"),
      ("censusframe.collect_s", tr.total("censusframe.collect") / ops, "s"),
      ("censusframe.rows_returned", rowsReturned / ops, "count"))
  }
}

object CensusReport {
  final case class Slot(tier: String, hit: Boolean, idx: Int)

  /** A Census Reporter size tier: `nGeo` geographies of a table with
    * `nCodes` estimates (`2 + 2·nCodes` columns after decoding).
    */
  final case class CrTier(name: String, tableId: String, sumLevel: String,
      nGeo: Int, nCodes: Int, hits: Int, misses: Int, sql: Boolean) {
    def prefix: String = sumLevel + "00"
  }

  val CrTiers: Seq[CrTier] = Seq(
    CrTier("county", "B17001", "050", 1, 59, hits = 5, misses = 5, sql = false),
    CrTier("state_counties", "B01001", "050", 58, 49, hits = 2, misses = 2, sql = true),
    // B17001/140 for one county: 628 tracts × 120 columns
    CrTier("county_tracts", "B17001", "140", 628, 59, hits = 1, misses = 1, sql = true),
    // the tracts of the largest county (2,346), one estimate each. The
    // decoder's per-geo lookups make its cost quadratic in geos: 8,057
    // geos took 3.9 s per request and national scale (~73k) would take
    // minutes, so the ladder stops here.
    CrTier("metro_tracts", "B01003", "140", 2346, 1, hits = 1, misses = 1, sql = true))
  val WarmCycles = 3
  val ApiRequests = 4
  val ApiPlaces = 1500
  val ApiVars = 3
  // DC B01001 replicate estimates: 179 tracts × 49 lines = 8,771 rows
  val VreGeos = 179
  val VreLines = 49

  def mix(seed: Long, tier: String, variant: Int): Long =
    seed * 1000003L + tier.hashCode * 31L + variant
}

/** The ACS General Handbook formulas, in plain doubles, evaluated in the
  * same order as the program's Column algebra.
  */
object Handbook {
  def sumM(ps: Seq[(Double, Double)]): (Double, Double) =
    (ps.map(_._1).reduce(_ + _), math.sqrt(ps.map(p => p._2 * p._2).reduce(_ + _)))

  def proportion(n: Double, nm: Double, d: Double, dm: Double): (Double, Double) = {
    val p = n / d
    val rad = nm * nm - p * p * (dm * dm)
    (p, if (rad >= 0) math.sqrt(rad) / d else math.sqrt(nm * nm + p * p * (dm * dm)) / d)
  }

  def ratio(n: Double, nm: Double, d: Double, dm: Double): (Double, Double) = {
    val r = n / d
    (r, math.sqrt(nm * nm + r * r * (dm * dm)) / d)
  }

  def product(a: Double, am: Double, b: Double, bm: Double): (Double, Double) =
    (a * b, math.sqrt(a * a * (bm * bm) + b * b * (am * am)))

  def rse(e: Double, m: Double): Double = m / AcsMath.Z90 / e * 100.0

  def replicateMoe(est: Int, reps: Array[Int]): Double = {
    var acc = 0.0
    reps.foreach(r => acc += (r - est) * (r - est))
    math.sqrt(acc * (4.0 / 80.0)) * AcsMath.Z90
  }
}
