package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generator is a pure function of its
  * seed and arguments: the same seed yields byte-identical payloads and
  * rows, and the program only ever sees what these produce.
  */
object Gen {

  // ---- census payloads ----

  /** A Census Reporter JSON payload and the values it encodes (the
    * output checks recompute every derived measure from these).
    */
  final case class CrPayload(tableId: String, codes: IndexedSeq[String],
      geoids: IndexedSeq[String], est: Array[Array[Double]],
      err: Array[Array[Double]], json: String)

  /** `nGeo` geographies × `nCodes` estimate columns of table `tableId`.
    * Geoids spread over 7 counties so grouped queries have several
    * groups; estimates are counts (line 001 is the total, every later
    * line a share of it, so proportions are genuine subsets).
    */
  def crPayload(seed: Long, tableId: String, sumLevel: String, nGeo: Int,
      nCodes: Int): CrPayload = {
    val rng = new SplittableRandom(seed)
    val codes = (1 to nCodes).map(i => f"$tableId$i%03d")
    val geoids = (0 until nGeo).map { g =>
      if (sumLevel == "140") f"14000US06${1 + 2 * (g % 7)}%03d${g / 7}%06d"
      else f"05000US${1 + g / 64}%02d${1 + 2 * (g % 64)}%03d"
    }
    val est = Array.fill(nGeo)(new Array[Double](nCodes))
    val err = Array.fill(nGeo)(new Array[Double](nCodes))
    for (g <- 0 until nGeo) {
      val total = 200 + rng.nextInt(20000)
      for (k <- 0 until nCodes) {
        val e = if (k == 0) total else 1 + rng.nextInt(total)
        est(g)(k) = e
        err(g)(k) = 5 + rng.nextInt(math.max(2, e / 4))
      }
    }
    val sb = new java.lang.StringBuilder(nGeo * (64 + nCodes * 24))
    sb.append("""{"release":{"id":"acs2015_5yr","name":"ACS 2015 5-year",""")
    sb.append(""""years":"2011-2015"},"tables":{"""").append(tableId)
    sb.append("""":{"title":"Synthetic table","columns":{""")
    codes.zipWithIndex.foreach { case (c, k) =>
      if (k > 0) sb.append(',')
      val indent = if (k == 0) 0 else 1 + (k - 1) % 3
      sb.append('"').append(c).append("""":{"name":"Line """).append(k + 1)
        .append(""":","indent":""").append(indent).append('}')
    }
    // a pseudo-header code: the decoder must drop codes containing '.'
    sb.append(""","""").append(tableId).append("""001.5":{"name":"Header","indent":null}}}},""")
    sb.append(""""geography":{""")
    geoids.zipWithIndex.foreach { case (g, i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(g).append("""":{"name":"Area """).append(i)
        .append("""","parents":{}}""")
    }
    sb.append("""},"data":{""")
    geoids.zipWithIndex.foreach { case (g, i) =>
      if (i > 0) sb.append(',')
      sb.append('"').append(g).append("""":{"""").append(tableId).append("""":{"estimate":{""")
      codes.indices.foreach { k =>
        if (k > 0) sb.append(',')
        sb.append('"').append(codes(k)).append("\":").append(est(i)(k).toLong)
      }
      sb.append("""},"error":{""")
      codes.indices.foreach { k =>
        if (k > 0) sb.append(',')
        sb.append('"').append(codes(k)).append("\":").append(err(i)(k).toLong)
      }
      sb.append("}}}")
    }
    sb.append("}}")
    CrPayload(tableId, codes, geoids, est, err, sb.toString)
  }

  /** A Census Bureau API array-of-arrays payload: header row, then one
    * string row per place with `nVars` (estimate, margin) variable pairs.
    */
  final case class ApiPayload(vars: IndexedSeq[String], names: IndexedSeq[String],
      est: Array[Array[Double]], err: Array[Array[Double]], json: String)

  def apiPayload(seed: Long, nPlaces: Int, nVars: Int): ApiPayload = {
    val rng = new SplittableRandom(seed)
    val vars = (1 to nVars).map(i => f"B01001_$i%03d")
    val names = (0 until nPlaces).map(i => s"Place $i city")
    val est = Array.fill(nPlaces)(new Array[Double](nVars))
    val err = Array.fill(nPlaces)(new Array[Double](nVars))
    val sb = new java.lang.StringBuilder(nPlaces * (40 + nVars * 16))
    sb.append("""[["NAME"""")
    vars.foreach(v => sb.append(",\"").append(v).append("E\",\"").append(v).append("M\""))
    sb.append(""","state","place"]""")
    for (p <- 0 until nPlaces) {
      val total = 50 + rng.nextInt(50000)
      sb.append(",\n[\"").append(names(p)).append('"')
      for (k <- 0 until nVars) {
        val e = if (k == 0) total else 1 + rng.nextInt(total)
        est(p)(k) = e
        err(p)(k) = 3 + rng.nextInt(math.max(2, e / 5))
        sb.append(",\"").append(e).append("\",\"").append(err(p)(k).toLong).append('"')
      }
      sb.append(f""","06","$p%05d"]""")
    }
    sb.append(']')
    ApiPayload(vars, names, est, err, sb.toString)
  }

  /** A long-format variance-replicate CSV (`TBLID, GEOID, ORDER, TITLE,
    * CME, ESTIMATE, MOE, Var_Rep1..Var_Rep80`), `nGeo × nLines` rows.
    */
  final case class VrePayload(geoids: IndexedSeq[String], nLines: Int,
      est: Array[Int], reps: Array[Array[Int]], csv: Array[Byte])

  def vrePayload(seed: Long, nGeo: Int, nLines: Int): VrePayload = {
    val rng = new SplittableRandom(seed)
    val geoids = (0 until nGeo).map(g => f"14000US11001$g%06d")
    val n = nGeo * nLines
    val est = new Array[Int](n)
    val reps = Array.fill(n)(new Array[Int](80))
    val sb = new java.lang.StringBuilder(n * 420)
    sb.append("TBLID,GEOID,ORDER,TITLE,CME,ESTIMATE,MOE")
    (1 to 80).foreach(i => sb.append(",Var_Rep").append(i))
    for (i <- 0 until n) {
      val e = 100 + rng.nextInt(5000)
      est(i) = e
      val spread = 1 + rng.nextInt(200)
      for (r <- 0 until 80) reps(i)(r) = e + rng.nextInt(2 * spread + 1) - spread
      sb.append("\nB01001,").append(geoids(i / nLines)).append(',').append(i % nLines + 1)
        .append(",Line ").append(i % nLines + 1).append(",V,").append(e).append(',')
        .append(spread * 2)
      reps(i).foreach(r => sb.append(',').append(r))
    }
    sb.append('\n')
    VrePayload(geoids, nLines, est, reps, sb.toString.getBytes("UTF-8"))
  }

  // ---- pretrain corpus ----
  // The base corpus follows the documents table of TPC-H sf0.1, measured
  // on its 5,000 rows: 10-100 tokens per document, uniform (mean 54), over
  // a 30-word vocabulary; lang "en" 41%, "zh", "es", "fr" and "de" about
  // 15% each; 20 sources, `src<doc_id % 20>`; 250 documents (5%) are
  // another document's text plus " dup", 4 of them chained ("dup dup");
  // 8 texts occur twice, each two near-duplicates of one document.

  private val Vocab = IndexedSeq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  /** sf0.1's language counts per 5,000 documents. */
  private val LangCounts = IndexedSeq("en" -> 2059, "zh" -> 753, "es" -> 744,
    "fr" -> 742, "de" -> 702)

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  private def lang(rng: SplittableRandom): String = {
    var k = rng.nextInt(LangCounts.map(_._2).sum)
    LangCounts.find { case (_, c) => k -= c; k < 0 }.get._1
  }

  /** The base corpus: `n` documents by the sf0.1 law above. Each document
    * is a near-duplicate with probability 1/20: the text of another,
    * uniformly chosen document (possibly itself a near-duplicate) plus
    * " dup". Exact duplicates arise only when two near-duplicates pick
    * the same document, as in sf0.1.
    */
  def baseDocs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rng = new SplittableRandom(seed)
    val texts = Array.fill(n)(
      Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" "))
    for (i <- 0 until n if rng.nextInt(20) == 0) {
      val j = rng.nextInt(n - 1)
      texts(i) = texts(if (j >= i) j + 1 else j) + " dup"
    }
    texts.indices.map(i => Doc(i.toLong, texts(i), lang(rng), s"src${i % 20}"))
  }

  /** The replicated corpus: `factor` replicas per base document by the
    * stress-corpus law (replica 0 is the original; a replica r > 0 is the
    * text plus an md5-derived token, or an exact copy for one in three),
    * with the seed folded into the md5 tag. Ids are `base·factor + r`.
    */
  def replicatedDocs(spark: SparkSession, seed: Long, nBase: Int,
      factor: Int): DataFrame = {
    import spark.implicits._
    val base = baseDocs(seed, nBase).map(d => (d.docId, d.text, d.lang, d.source))
      .toDF("doc_id", "text", "lang", "source")
    base.select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("r"))
      .withColumn("tag", substring(md5(concat(lit(s"$seed|"), col("doc_id"),
        lit("_"), col("r"))), 1, 6))
      .withColumn("text2",
        when(col("r") === 0 || conv(substring(col("tag"), 1, 4), 16, 10) % 3 === 0,
          col("text"))
          .otherwise(concat(col("text"), lit(" "), col("tag"))))
      .select((col("doc_id") * factor + col("r")).as("doc_id"),
        col("text2").as("text"), col("lang"), col("source"),
        length(col("text2")).cast("long").as("n_chars"))
  }

  /** orders(o_orderkey, o_custkey) and lineitem(l_orderkey, l_suppkey):
    * the link graph q146 ranks. Every key is uniform over its range,
    * drawn from hashes of the seed, as in sf0.1, where an order's
    * lineitem count is Poisson with mean 4 (1.8% of orders have none), a
    * customer's order count Poisson with mean 10, and every supplier has
    * about 600 lineitems.
    */
  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    spark.range(n).select(col("id").as("o_orderkey"),
      pmod(xxhash64(lit(seed), col("id"), lit(1)), lit(customers)).as("o_custkey"))

  def lineitem(spark: SparkSession, seed: Long, n: Long, orders: Long,
      suppliers: Long): DataFrame =
    spark.range(n).select(
      pmod(xxhash64(lit(seed), col("id"), lit(2)), lit(orders)).as("l_orderkey"),
      pmod(xxhash64(lit(seed), col("id"), lit(3)), lit(suppliers)).as("l_suppkey"))
}
