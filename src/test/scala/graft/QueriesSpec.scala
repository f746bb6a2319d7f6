package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: every declared query runs at sf0.001 and produces a sane result;
  * the exact-value gate is the DuckDB oracle (tools/check_oracle.py, and
  * the driver's t2 at sf0.01).
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // queries that legitimately return few/zero rows at the smallest sf
  private val mayBeEmpty = Set("q45_ngram_jaccard", "q48_ann_search")

  test("entry flagship query returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("every query has distinct name and every oracle has a query") {
    val names = SparkEntry.packs.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries.toSet.subsetOf(SparkEntry.queries.keySet))
  }

  SparkEntry.packs.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val n = q.fn(spark, dir).count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned no rows")
    }
  }

  test("q127 inverted-index containment catches the extreme-size-ratio pair banding misses") {
    // a 5-shingle doc quoted verbatim inside a ~600-word doc: the
    // container's MinHash signature is dominated by its own content, so
    // the banded candidate path (q122) never pairs them — the
    // documented recall limit the inverted-index variant exists to
    // close. Containment is 5/5 = 1.0.
    // words chosen so ≥2 of the small doc's 5 shingles survive the
    // 1-in-4 consistent shingle sketch (a1..a7 → 'a2 a3 a4','a4 a5 a6')
    import spark.implicits._
    val small = (1 to 7).map(i => s"a$i").mkString(" ")
    val big = small + " " + (1 to 600).map(i => s"z$i").mkString(" ")
    val td = java.nio.file.Files.createTempDirectory("contain").toString
    Seq((1L, small, "en", "src", small.length.toLong),
        (2L, big, "en", "src", big.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$td/documents.parquet")
    val inv = SparkEntry.queries("q127_containment_inverted")(spark, td).collect()
    // both sampled shingles of doc 1 appear in doc 2's sample —
    // consistent sketching keeps identical-content containment at 1.0
    assert(inv.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
        == Set((1L, 2L, 1.0)), s"got ${inv.mkString(",")}")
    val banded = SparkEntry.queries("q122_containment_dedup")(spark, td).count()
    assert(banded == 0,
      "premise broken: banding found the extreme-ratio pair — the " +
        "recall-difference this test locks no longer exists")
  }

  /** q127's shingle stream has two split-aware physical forms: the pure
    * map-side ShingleRows generator (multi-split corpora, or
    * `spark.graft.kernelSpread=off` — no doc exchange at all) and the
    * same generator behind one kernel-spread doc exchange (`auto` on
    * single-row-group local testdata — pays one slim exchange to
    * parallelize; replaced the windowed-lead form, which moved one row
    * per TOKEN). Both must produce the bit-identical query result.
    */
  test("q127 map-side and windowed shingle streams produce identical results") {
    def run(mode: String): (Set[(Long, Long, Long, Double)], String) = {
      spark.conf.set("spark.graft.kernelSpread", mode)
      try {
        val df = queries.PipelineQueries.q127Frame(spark, dir)
        (df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet, df.queryExecution.executedPlan.toString)
      } finally spark.conf.unset("spark.graft.kernelSpread")
    }
    val (mapSide, mapSidePlan) = run("off")
    val (windowed, windowedPlan) = run("auto")
    // not vacuous: `auto` really runs the doc_id spread exchange here,
    // and `off` really runs without it
    assert(windowedPlan.contains("REPARTITION_BY_NUM") &&
      windowedPlan.contains("hashpartitioning(doc_id"), windowedPlan)
    assert(!mapSidePlan.contains("REPARTITION_BY_NUM"), mapSidePlan)
    assert(mapSide.nonEmpty)
    assert(mapSide == windowed,
      s"diff: ${(mapSide diff windowed) ++ (windowed diff mapSide)}")
  }

  test("capped posting collector: kept groups complete, oversized groups truncate to cap+1") {
    // the q127 bounded-buffer contract (round-6 ADVICE): with
    // maxElems = cap+1, a group whose true df ≤ cap carries its COMPLETE
    // sorted list (result-identical to uncapped collect_list), and a
    // hot-shingle group truncates to exactly cap+1 — always > cap, so
    // the df filter drops the same groups, while no aggregation buffer
    // ever holds more than cap+1 elements.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cap = 3
    // group g repeats g times over 8 input partitions (partial buffers merge)
    val rows = (1L to 6L).flatMap(g => (1L to g).map(i => (g, i)))
    val df = spark.createDataset(rows).repartition(8).toDF("g", "v")
    val agg = df.groupBy(col("g"))
      .agg(sort_array(graft.functions.CollectCapped.pairs(
        struct(col("v"), col("g")), cap + 1)).as("ds"))
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    (1L to 6L).foreach { g =>
      val got = agg(g)
      if (g <= cap + 1) {
        assert(got.map(_.getLong(0)) == (1L to g),
          s"group $g (df=$g ≤ cap+1) must carry its complete sorted list")
      } else {
        assert(got.size == cap + 1,
          s"group $g (df=$g > cap+1) must truncate to exactly cap+1=${cap + 1}, got ${got.size}")
      }
    }
  }

  test("q129's salted pre-cap equals the direct per-source window on a hot domain") {
    // the scale claim behind q129: pre-capping top-K per (source, salt)
    // prunes NO global-top-K member (each bucket's top-K is a superset
    // of the global winners that hash to it), so the final window sees
    // ≤ K×nSalts rows per source yet returns exactly the direct result.
    // Synthetic skew: one domain with 5000 docs, two with 20.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val k = 10
    val docs = ((1L to 5000L).map(i => (i, s"text $i", "hot")) ++
        (5001L to 5020L).map(i => (i, s"text $i", "s1")) ++
        (5021L to 5040L).map(i => (i, s"text $i", "s2")))
      .toDF("doc_id", "text", "source").repartition(8)
    import org.apache.spark.sql.expressions.Window
    val ckey = md5(concat(lit("cap|"), coalesce(col("text"), lit(""))))
    val base = docs.select(col("doc_id"), col("source"), ckey.as("ckey"),
      pmod(xxhash64(col("doc_id")), lit(8)).as("salt"))
    val w1 = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("ckey"), col("doc_id"))
    val w2 = Window.partitionBy(col("source")).orderBy(col("ckey"), col("doc_id"))
    val salted = base
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("cap_rank", row_number().over(w2)).filter(col("cap_rank") <= k)
      .select(col("doc_id"), col("source"), col("cap_rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val direct = base
      .withColumn("cap_rank", row_number().over(w2)).filter(col("cap_rank") <= k)
      .select(col("doc_id"), col("source"), col("cap_rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(salted == direct,
      s"salted pre-cap changed the kept set: ${(salted diff direct) ++ (direct diff salted)}")
    assert(direct.count(_._2 == "hot") == k && direct.count(_._2 == "s1") == k)
  }

  test("q132 semantic dedup drops exactly the lower-id-within-tau cell-mates") {
    // independent driver-side mirror of the SemDeDup semantics on the
    // real sf0.001 corpus: re-run the assignment, group by cell, and
    // re-derive the drop set with scalar Scala cosines (same 6-dec
    // HALF_UP rounding) — the query's codegen'd pipeline must agree.
    import org.apache.spark.sql.functions._
    val tau = 0.4
    val cents = queries.PipelineQueries.ivfCents(spark, dir)
    val assigned = graft.operators.Ivf
      .assign(spark.read.parquet(s"$dir/embeddings.parquet"), cents)
      .select(col("vec_id"), col("cid"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expectedKept = assigned.groupBy(_._2).valuesIterator.flatMap { cell =>
      val sorted = cell.sortBy(_._1)
      sorted.collect { case (id, _, v)
          if !sorted.exists(o => o._1 < id && cos(o._3, v) >= tau) => id }
    }.toSet
    assert(expectedKept.size < assigned.length,
      "premise broken: sf0.001 embeddings contain no within-cell semantic dups")
    val got = SparkEntry.queries("q132_semantic_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(got == expectedKept,
      s"diff: ${(got diff expectedKept) ++ (expectedKept diff got)}")
  }

  test("q132Frame routes k > InlineFormMaxK through the two-level " +
      "assignment (scalar drop-set mirror at k=80)") {
    // the scale path: above the inline-form ceiling the pipeline must
    // assign via the recursive-IVF path (nprobe=2), not the flat argmax.
    // The mirror re-derives the drop set from the TWO-LEVEL assignments;
    // the premise check asserts flat and two-level actually disagree
    // somewhere at this k, so a silent fall-back to flat would fail.
    import org.apache.spark.sql.functions._
    val tau = 0.4
    val k = 80
    val cents = queries.PipelineQueries.ivfCentsK(spark, dir, k)
    val k1 = math.max(2, math.round(math.sqrt(k.toDouble)).toInt)
    val (coarse, coarseOf) = graft.operators.Ivf.coarsen(spark, cents, k1, 2)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val twoLevel = graft.operators.Ivf
      .assignTwoLevel(e, cents, coarse, coarseOf, nprobe = 2)
      .select(col("vec_id"), col("cid"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    val flat = graft.operators.Ivf.assign(e, cents)
      .select(col("vec_id"), col("cid")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(twoLevel.exists { case (id, cid, _) => flat(id) != cid },
      "premise broken: two-level agrees with flat everywhere at k=80, " +
        "routing would be unobservable")
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expectedKept = twoLevel.groupBy(_._2).valuesIterator.flatMap { cell =>
      val sorted = cell.sortBy(_._1)
      sorted.collect { case (id, _, v)
          if !sorted.exists(o => o._1 < id && cos(o._3, v) >= tau) => id }
    }.toSet
    val got = queries.PipelineQueries.q132Frame(spark, dir, k)
      .collect().map(_.getLong(0)).toSet
    assert(got == expectedKept,
      s"diff: ${(got diff expectedKept) ++ (expectedKept diff got)}")
  }

  test("q137 bigram predictability matches a scalar LM mirror") {
    // independent driver-side re-derivation: split-on-space tokens,
    // add-one-smoothed bigram probabilities over exact integer counts,
    // per-bigram ppm rounded to 6 decimals, exact-decimal mean — the
    // vocabulary-join pipeline must agree row-for-row (including docs
    // with repeated-space empty tokens and <2-token docs dropping out)
    import org.apache.spark.sql.functions._
    val texts = queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)))
    val docToks = texts.collect { case (id, Some(t)) => id -> t.split(" ", -1).toSeq }
    val vocab = docToks.flatMap(_._2).toSet
    val c1 = docToks.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val allBigrams = docToks.flatMap { case (_, ws) => ws.zip(ws.drop(1)) }
    val c2 = allBigrams.groupBy(identity).view.mapValues(_.size).toMap
    def ppm(b: (String, String)): BigDecimal = {
      val p = (c2(b) + 1.0) / (c1(b._1) + vocab.size)
      BigDecimal(p * 1e6).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val expected = docToks.collect { case (id, ws) if ws.length >= 2 =>
      val bs = ws.zip(ws.drop(1))
      // exact-decimal sum, then the division happens in DOUBLE (the
      // same IEEE op the query and the oracle perform)
      val avg = bs.map(ppm).sum.toDouble / bs.length
      (id, bs.length.toLong,
        BigDecimal(avg).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = SparkEntry.queries("q137_bigram_predictability")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty && got == expected,
      s"diff: ${((got diff expected) ++ (expected diff got)).take(10)}")
  }

  test("q143 quality classifier matches a scalar mirror") {
    // independent driver-side re-derivation of the whole bootstrap:
    // q97-gate labels (per-source ttr percent-rank) on the doc_id%5≠0
    // split, add-1-smoothed token posteriors, exact-decimal mean score
    // over EVERY doc (held-out docs score through the same vocab; unseen
    // tokens contribute the 0.5 prior)
    import org.apache.spark.sql.functions._
    val docRows = queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ", -1).toSeq))
    val train = docRows.filter(_._1 % 5 != 0)
      .map { case (id, src, ws) => (id, src, ws, ws.distinct.size.toDouble / ws.size) }
    // SQL percent_rank: (rank - 1) / (n - 1), rank = 1 + count strictly below
    val pos: Map[Long, Boolean] = train.groupBy(_._2).flatMap { case (_, g) =>
      g.map { case (id, _, _, ttr) =>
        val rank = 1 + g.count(_._4 < ttr)
        val pr = if (g.size == 1) 0.0 else (rank - 1).toDouble / (g.size - 1)
        id -> (pr >= 0.5)
      }
    }
    // fastText hashing trick: tokens live in 2^20 md5 buckets
    def bucket(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("clf|" + w).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 1048576L
    }
    val allOcc = train.flatMap { case (id, _, ws, _) =>
      ws.map(w => bucket(w) -> pos(id))
    }
    val counts = allOcc.groupBy(_._1).view.mapValues { occ =>
        val cp = occ.count(_._2); (cp, occ.size - cp)
      }.toMap
    def q(w: String): BigDecimal = {
      val (cp, cn) = counts.getOrElse(bucket(w), (0, 0))
      BigDecimal((cp + 1.0) / (cp + cn + 2.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    // the keep cut: positive-class prior at token-occurrence level
    val prior = BigDecimal((allOcc.count(_._2) + 1.0) / (allOcc.size + 2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = docRows.map { case (id, _, ws) =>
      val score = ws.map(q).sum.toDouble / ws.size // decimal sum, IEEE divide
      val r6 = BigDecimal(score).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, ws.size.toLong, r6, r6 >= prior)
    }.toSet
    val got = SparkEntry.queries("q143_quality_classifier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toSet
    assert(expected.nonEmpty && got == expected,
      s"diff: ${((got diff expected) ++ (expected diff got)).take(10)}")
    // the bootstrap must actually discriminate: both classes present
    assert(got.exists(_._4) && got.exists(!_._4))
  }

  test("q143 broadcast-model form ≡ compositional join twin, bit-for-bit") {
    // the shipped form applies the trained model map-side through the
    // DocMeanPosterior broadcast expression; the join twin explodes,
    // left-joins the posterior table on the bucket key, and re-agg's
    // per doc — same math, different transport, identical bits
    val viaModel = SparkEntry.queries("q143_quality_classifier")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    val viaJoin = queries.PipelineQueries.Clf.joinForm(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    assert(viaModel.nonEmpty && viaModel == viaJoin,
      s"diff: ${((viaModel diff viaJoin) ++ (viaJoin diff viaModel)).take(10)}")
  }

  test("q145 exact-substring dedup matches a scalar mirror") {
    // the whole seed-and-mark chain re-derived driver-side: sliding
    // 8-gram md5 hashes, corpus-wide lexicographic-first occurrence,
    // duplicate-window union, survivor reassembly + fingerprint
    val K = 8
    val docsRows = queries.Tables(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val grams = docsRows.flatMap { case (id, ws) =>
      (0 to ws.length - K).map(i =>
        (h32(ws.slice(i, i + K).mkString(" ")), id, i))
    }
    val dupPos = grams.groupBy(_._1).values.filter(_.size >= 2).flatMap { occ =>
      val first = occ.map(t => (t._2, t._3)).min
      occ.map(t => (t._2, t._3)).filter(_ != first)
    }.toSeq.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = docsRows.map { case (id, ws) =>
      val dp = dupPos.getOrElse(id, Set.empty[Int])
      val cov = dp.flatMap(p => p until p + K)
      val surv = ws.indices.filterNot(cov.contains)
      (id, ws.length.toLong, dp.size.toLong, surv.size.toLong,
        md5hex(surv.map(ws).mkString(" ")))
    }.toSet
    val got = SparkEntry.queries("q145_exact_substring")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(got == expect,
      s"diff: ${((got diff expect) ++ (expect diff got)).take(5)}")
    // the planted near-dup clusters guarantee real removals at sf0.001,
    // and ExactSubstr must catch spans q94's aligned grid cannot
    assert(got.exists(t => t._3 > 0))
  }

  test("q145 catches unaligned duplicated spans the q94 chunk grid misses") {
    // two docs sharing a 9-token run at different offsets (1 and 4):
    // no 10-token aligned chunk matches, but the sliding 8-gram does
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q145").toString
    val shared = (1 to 9).map(i => s"shared$i").mkString(" ")
    Seq(
      (0L, s"a $shared tail1 tail2 tail3", "en", "s", 0L),
      (1L, s"b1 b2 b3 b4 $shared c1 c2", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val byId = SparkEntry.queries("q145_exact_substring")(spark, tmp)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // doc 0 (lexicographic first) keeps everything; doc 1 loses the
    // shared run's two 8-gram windows = 9 covered tokens
    assert(byId(0L) == (0L, 13L), s"first occurrence must survive: $byId")
    assert(byId(1L) == (2L, 6L), s"9-token span removed from doc 1: $byId")
  }

  test("q132 scopes comparisons to the cell: cross-cell near-dups both survive") {
    // the documented recall boundary (and the scale guarantee in the
    // same breath): vectors in DIFFERENT cells are never paired, however
    // similar — that is what bounds pairwise work to sum(cell^2). q70's
    // banded-LSH form is the complementary catcher. Premise: find a
    // cross-cell pair at cos >= tau whose members each have NO lower-id
    // same-cell witness within tau; both must be kept.
    import org.apache.spark.sql.functions._
    val tau = 0.4
    val cents = queries.PipelineQueries.ivfCents(spark, dir)
    val assigned = graft.operators.Ivf
      .assign(spark.read.parquet(s"$dir/embeddings.parquet"), cents)
      .select(col("vec_id"), col("cid"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def hasLowerWitness(id: Long, cid: Long, v: Seq[Double]): Boolean =
      assigned.exists(o => o._2 == cid && o._1 < id && cos(o._3, v) >= tau)
    val crossSurvivable = for {
      x <- assigned; y <- assigned
      if x._1 < y._1 && x._2 != y._2 && cos(x._3, y._3) >= tau
      if !hasLowerWitness(x._1, x._2, x._3) && !hasLowerWitness(y._1, y._2, y._3)
    } yield (x._1, y._1)
    assert(crossSurvivable.nonEmpty,
      "premise broken: no clean cross-cell near-dup pair at sf0.001")
    val keptSet = SparkEntry.queries("q132_semantic_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    crossSurvivable.foreach { case (x, y) =>
      assert(keptSet.contains(x) && keptSet.contains(y),
        s"cross-cell pair ($x,$y) should both survive — cells bound the comparison scope")
    }
  }

  test("q134 two-level assignment matches a scalar mirror of both levels") {
    // independent driver-side re-derivation: scalar cosines (6-dec
    // HALF_UP), level 1 over live coarse cells, level 2 over the chosen
    // cell's members, flat argmax for the agree bit — the expression
    // pipeline must agree row-for-row.
    import org.apache.spark.sql.functions._
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def argmax(cands: Seq[(Long, Seq[Double])], v: Seq[Double]): Long =
      cands.map { case (cid, cv) => (cos(cv, v), -cid, cid) }.max._3
    val cents = queries.PipelineQueries.ivfCents(spark, dir)
    val (coarse, coarseOf) = graft.operators.Ivf.coarsen(spark, cents, 3, 2)
    val members = cents.groupBy { case (cid, _) => coarseOf(cid) }
    val live = coarse.filter { case (ccid, _) => members.contains(ccid) }
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val expected = vecs.map { case (id, v) =>
      val ccid = argmax(live, v)
      val cid = argmax(members(ccid), v)
      (id, ccid, cid, cid == argmax(cents, v))
    }.toSet
    val got = SparkEntry.queries("q134_twolevel_assign")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == expected,
      s"diff: ${(got diff expected) ++ (expected diff got)}")
    assert(got.nonEmpty && got.count(_._4) * 2 > got.size,
      "two-level should agree with flat on most sf0.001 vectors")
  }

  test("q136 keep-hard policy matches a scalar mirror with (cos, id) priority") {
    // the SemDeDup paper policy: priority = (assignment cos asc, id asc);
    // a vector is dropped iff a same-cell mate within tau PRECEDES it.
    import org.apache.spark.sql.functions._
    val tau = 0.4
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val assigned = graft.operators.Ivf
      .assign(spark.read.parquet(s"$dir/embeddings.parquet"),
        queries.PipelineQueries.ivfCents(spark, dir))
      .select(col("vec_id"), col("cid"), col("cos"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getSeq[Double](3)))
    def precedes(aCos: Double, aId: Long, bCos: Double, bId: Long): Boolean =
      aCos < bCos || (aCos == bCos && aId < bId)
    val expectedKept = assigned.groupBy(_._2).valuesIterator.flatMap { cell =>
      cell.collect { case (id, _, c, v)
          if !cell.exists(o => precedes(o._3, o._1, c, id) && cos(o._4, v) >= tau) => id }
    }.toSet
    val got = SparkEntry.queries("q136_semdedup_keep_hard")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(got == expectedKept,
      s"diff: ${(got diff expectedKept) ++ (expectedKept diff got)}")
    // the policies must actually differ somewhere on the corpus — else
    // this query is q132 under another name and the test is vacuous
    val lowId = SparkEntry.queries("q132_semantic_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(got != lowId, "keep-hard chose identical reps to keep-low-id")
  }

  test("q135 multi-probe matches a scalar mirror and can only improve recall") {
    // nprobe=2 mirror: top-2 live coarse cells by (cos desc, ccid),
    // argmax over the UNION of their members. Agreement with the flat
    // argmax is provably monotone in the probe set (the flat winner is
    // the global max under the same comparator), so q135's agree set
    // must contain q134's.
    import org.apache.spark.sql.functions._
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def argmax(cands: Seq[(Long, Seq[Double])], v: Seq[Double]): Long =
      cands.map { case (cid, cv) => (cos(cv, v), -cid, cid) }.max._3
    val cents = queries.PipelineQueries.ivfCents(spark, dir)
    val (coarse, coarseOf) = graft.operators.Ivf.coarsen(spark, cents, 3, 2)
    val members = cents.groupBy { case (cid, _) => coarseOf(cid) }
    val live = coarse.filter { case (ccid, _) => members.contains(ccid) }
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val expected = vecs.map { case (id, v) =>
      val ranked = live.map { case (ccid, cv) => (-cos(cv, v), ccid) }.sorted
      val probed = ranked.take(2).map(_._2)
      val cid = argmax(probed.flatMap(members(_)), v)
      (id, probed.head, cid, cid == argmax(cents, v))
    }.toSet
    val got = SparkEntry.queries("q135_twolevel_multiprobe")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == expected,
      s"diff: ${(got diff expected) ++ (expected diff got)}")
    val singleAgree = SparkEntry.queries("q134_twolevel_assign")(spark, dir)
      .collect().filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    val multiAgree = got.filter(_._4).map(_._1)
    assert(singleAgree.subsetOf(multiAgree),
      "multi-probe lost agreement on: " + (singleAgree diff multiAgree))
  }

  test("q133's two-level prefix sum equals the direct per-source window split") {
    // the scale claim behind q133: bucketing by the leading 2 hex chars
    // OF the sort key makes bucket order concatenate to exactly the
    // single-window per-source order, so offset + in-bucket rank IS the
    // global per-source position. Synthetic skew: one hot source (5000
    // docs), two small (7 and 3 docs — small enough that a hash-mod
    // split would starve val/test, the case exact stratification exists
    // for).
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val docsDf = ((1L to 5000L).map(i => (i, s"text $i", "hot")) ++
        (5001L to 5007L).map(i => (i, s"text $i", "s1")) ++
        (5008L to 5010L).map(i => (i, s"text $i", "s2")))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(8)
    val td = java.nio.file.Files.createTempDirectory("split").toString
    docsDf.write.mode("overwrite").parquet(s"$td/documents.parquet")
    val got = SparkEntry.queries("q133_stratified_split")(spark, td)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    // direct single-window mirror
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("split|"), coalesce(col("text"), lit("")))), col("doc_id"))
    val direct = docsDf
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("split",
        when(col("pos") <= expr("(n * 8 + 9) DIV 10"), lit("train"))
          .when(col("pos") <= expr("(n * 8 + 9) DIV 10 + (n + 9) DIV 10"), lit("val"))
          .otherwise(lit("test")))
      .select(col("doc_id"), col("source"), col("pos"), col("split"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(got.toSet == direct.toSet,
      s"diff: ${(got.toSet diff direct.toSet) ++ (direct.toSet diff got.toSet)}")
    // exact per-source quotas: ceil(0.8n) / ceil(0.1n) / rest — every
    // source appears in every split (n=3 → 3 train... check the math:
    // ceil(2.4)=3? (3*8+9)/10 = 33/10 = 3 train, (3+9)/10=1 val → 0 test)
    val bySrc = got.groupBy(_._2).view.mapValues(_.groupBy(_._4).view.mapValues(_.size).toMap).toMap
    assert(bySrc("hot") == Map("train" -> 4000, "val" -> 500, "test" -> 500))
    assert(bySrc("s1") == Map("train" -> 6, "val" -> 1))       // n=7: ceil(5.6)=6, ceil(0.7)=1
    assert(bySrc("s2") == Map("train" -> 3))                    // n=3: ceil(2.4)=3, then val quota ceil(0.3)=1 but only 0 rows left
    // positions are a permutation of 1..n per source
    got.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.size.toLong),
        s"positions for $src are not 1..n")
    }
  }

  test("q141 DSIR resample matches a scalar mirror (buckets, ratios, " +
      "Bernoulli keep)") {
    // independent driver-side re-derivation of the whole pipeline:
    // md5-hashed bigram buckets, add-1-smoothed likelihood ratios in
    // the query's exact double-op order, exact-decimal mean, and the
    // u·rmax < imp Bernoulli keep — set-equal including which docs
    // are sampled OUT
    import org.apache.spark.sql.functions._
    val nB = 1024
    def md5hex8(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val texts = queries.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val feats = texts.flatMap { case (id, lang, t) =>
      val ws = t.split(" ", -1)
      ws.zip(ws.drop(1)).map { case (a, b) =>
        (id, lang, md5hex8(s"dsir|$a|$b") % nB)
      }
    }
    val nt = feats.count(_._2 == "en").toDouble
    val nr = feats.length.toDouble
    val ratio = feats.groupBy(_._3).view.mapValues { fs =>
      val bt = fs.count(_._2 == "en").toDouble
      val br = fs.length.toDouble
      r6((bt + 1.0) * (nr + nB) / ((br + 1.0) * (nt + nB)))
    }.toMap
    val rmax = ratio.values.max
    val expected = feats.groupBy(_._1).collect { case (id, fs) =>
      val imp = r6(fs.map(f => BigDecimal(ratio(f._3)).setScale(6)).sum.toDouble
        / fs.length)
      val u = (md5hex8(s"dsirk|$id") % 16777216L).toDouble / 16777216.0
      (id, fs.length.toLong, imp, u * rmax < imp)
    }.collect { case (id, n, imp, true) => (id, n, imp) }.toSet
    val got = SparkEntry.queries("q141_dsir_resample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty && got == expected,
      s"diff: ${((got diff expected) ++ (expected diff got)).take(10)}")
    // the sampler genuinely drops docs (it is a resample, not a rename)
    assert(got.size < feats.groupBy(_._1).size)
  }

  test("q142 margin mining: TopKScored normalizers equal the window form " +
      "and accepted pairs clear the margin cut") {
    // the bounded-aggregate normalizer (the scale path) must produce
    // the same avgNN_k — and therefore the same accepted pairs — as
    // the naive row_number window over all scored pairs
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val cents = queries.PipelineQueries.ivfCents(spark, dir)
    val e = queries.Tables(spark, dir, "embeddings")
    val anchors = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        sqrt(operators.TextOps.norm2(col("embedding"))).as("qn"),
        explode(slice(array_sort(
          operators.Ivf.rankedCells(cents, col("embedding"))), 1, 2)).as("pc"))
      .select(col("qid"), col("qv"), col("qn"), col("pc.cid").as("cid"))
    val cand = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("bid"), col("embedding").as("bv"),
        sqrt(operators.TextOps.norm2(col("embedding"))).as("bn"),
        operators.Ivf.bestCell(cents, col("embedding")).as("cid"))
    val pairs = anchors.join(cand, Seq("cid"))
      .select(col("qid"), col("bid"),
        round(operators.TextOps.dot(col("qv"), col("bv")) /
          (col("qn") * col("bn")), 6).as("cosine"))
      .cache()
    def winAvg(key: String, other: String, out: String) = {
      val w = Window.partitionBy(col(key))
        .orderBy(col("cosine").desc, col(other))
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
        .groupBy(col(key).as("k"))
        .agg((sum(col("cosine").cast("decimal(24,6)")).cast("double") /
          count(lit(1))).as(out))
    }
    val naW = winAvg("qid", "bid", "na").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nbW = winAvg("bid", "qid", "nb").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // window-form margins → window-form best pair per anchor
    val best = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .map { case (q, b, c) =>
        val m = BigDecimal(c / ((naW(q) + nbW(b)) / 2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (q, b, c, m)
      }
      .groupBy(_._1).view.mapValues(_.maxBy(x => (x._4, -x._2))).values
      .filter(_._4 > 1.0)
      .map { case (q, b, c, m) => (q, b, c, m) }.toSet
    val got = SparkEntry.queries("q142_bitext_margin")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    pairs.unpersist()
    assert(best.nonEmpty && got == best,
      s"diff: ${((got diff best) ++ (best diff got)).take(10)}")
  }

  test("q147 BM25 == scalar mirror at sf0.001 (exact rank vectors)") {
    import org.apache.spark.sql.functions._
    import graft.queries.PipelineQueries
    val docsRows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
    val nd = docsRows.length.toLong
    val avgLen = docsRows.map(_._2.length.toLong).sum.toDouble / nd.toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val queries = PipelineQueries.Bm25Queries
    val dfm = queries.flatMap(_._2).distinct
      .map(tm => tm -> docsRows.count(_._2.contains(tm)).toLong).toMap
    // the same IEEE chain as bm25TopK, scalar-replayed (fixed-order sum
    // of 6-dec-rounded per-term scores; log-free Robertson idf)
    def termScore(ws: Seq[String], tm: String): Double = {
      val tf = ws.count(_ == tm).toDouble
      val idf = (nd - dfm(tm) + 0.5) / (dfm(tm) + 0.5)
      r6(idf * (tf * (1.2 + 1.0)) / (tf + 1.2 *
        ((1.0 - 0.75) + 0.75 * (ws.length.toDouble / avgLen))))
    }
    val expected = queries.flatMap { case (qid, ts) =>
      docsRows.toSeq
        .map { case (id, ws) => (id, ts.map(termScore(ws, _)).reduceLeft(_ + _)) }
        .filter(_._2 > 0.0)
        .sortBy { case (id, sc) => (-sc, id) }
        .take(10).zipWithIndex
        .map { case ((id, sc), i) => (qid, (i + 1).toLong, id, sc) }
    }.toSet
    val got = PipelineQueries.bm25TopK(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.size == queries.size * 10,
      s"mirror under-filled: ${expected.size}")
    assert(got == expected,
      s"diff: ${((got diff expected) ++ (expected diff got)).take(10)}")
  }

  test("q148 PMI collocations == scalar mirror at sf0.001 (ordered top-30)") {
    import org.apache.spark.sql.functions._
    import graft.queries.PipelineQueries
    val docsWs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text")).collect()
      .map(_.getString(0).split(" ", -1).toSeq)
    val tu = docsWs.map(_.length.toLong).sum.toDouble
    val tb = docsWs.map(ws => (ws.length - 1).toLong).sum.toDouble
    val uni = docsWs.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    val bi = docsWs.filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.tail))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 5)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the same IEEE chain as pmiTopK: (cb/tb) / ((c1/tu)*(c2/tu)), 6-dec
    val expected = bi.toSeq.map { case ((w1, w2), cb) =>
      val ratio = r6((cb.toDouble / tb) /
        ((uni(w1).toDouble / tu) * (uni(w2).toDouble / tu)))
      (w1, w2, cb, ratio)
    }.sortBy { case (w1, w2, _, ratio) => (-ratio, w1, w2) }.take(30)
    val got = PipelineQueries.pmiTopK(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(expected.size == 30, s"mirror under-filled: ${expected.size}")
    assert(got == expected,
      s"diff: ${got.zip(expected).filter(p => p._1 != p._2).take(5)}")
  }

  test("q149 chunking == scalar mirror at sf0.001; coverage + tail law hold") {
    import graft.queries.PipelineQueries
    val C = 64; val O = 16; val step = C - O
    val docsRows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0),
        Option(r.getString(1)).getOrElse("").split(" ", -1)))
    val expect = docsRows.flatMap { case (id, ws) =>
      val n = ws.length
      (0 until n by step).filter(g => g == 0 || n - g > O).map(g =>
        (id, g.toLong, (g / step).toLong, math.min(C, n - g).toLong,
          ws.slice(g, g + C).mkString(" ")))
    }.toSet
    val got = PipelineQueries.chunkOverlap(spark, dir, C, O).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(got == expect,
      s"diff: ${((got diff expect) ++ (expect diff got)).take(5)}")
    val byDoc = got.groupBy(_._1)
    assert(byDoc.size == docsRows.length, "every doc must yield >=1 chunk")
    byDoc.foreach { case (id, cs) =>
      val n = docsRows.find(_._1 == id).get._2.length
      // token coverage is exact: the chunk windows tile [0, n) with
      // O-token overlaps and no gap (the tail-drop rule never loses
      // tokens — a dropped tail is a strict suffix of its predecessor)
      assert(cs.flatMap(c => c._2 until c._2 + c._4) == (0L until n).toSet)
      // no chunk past the first is redundant (adds <= 0 new tokens)
      cs.filter(_._3 > 0).foreach(c =>
        assert(c._4 > O, s"doc $id chunk ${c._3} has len ${c._4} <= overlap"))
    }
  }

  test("q150 RRF fusion == driver-side fusion of its two rankings") {
    import graft.queries.PipelineQueries
    val sparse = PipelineQueries.bm25TopK(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getLong(1)).toMap
    val dense = PipelineQueries.denseTopK(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getLong(1)).toMap
    val expect = (sparse.keySet ++ dense.keySet).groupBy(_._1).flatMap {
      case (qid, keys) =>
        keys.toSeq.map { k =>
          val sr = sparse.get(k); val dr = dense.get(k)
          val score = sr.map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
            dr.map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
          (k._2, score, sr, dr)
        }.sortBy { case (doc, score, _, _) => (-score, doc) }
          .take(10).zipWithIndex.map { case ((doc, score, sr, dr), i) =>
            (qid, (i + 1).toLong, doc, score, sr, dr)
          }
    }.toSet
    val got = SparkEntry.queries("q150_hybrid_rrf")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSet
    assert(got == expect,
      s"diff: ${((got diff expect) ++ (expect diff got)).take(5)}")
    // a doc retrieved by BOTH systems must exist somewhere (the fusion
    // premise), and it must outrank any doc with only one comparable rank
    assert(got.exists(t => t._5.isDefined && t._6.isDefined),
      "no doc retrieved by both systems — fusion premise broken at this sf")
  }

  test("q151 separates a template farm from diverse text") {
    // 20 docs stamped from one template (only a numeric slot varies) vs
    // 20 docs of distinct words: the farm's trigram diversity collapses
    // while the diverse source stays near 1 — the mixture-health signal
    // the profile exists to surface
    import spark.implicits._
    import graft.queries.PipelineQueries
    val tmp = java.nio.file.Files.createTempDirectory("q151").toString
    val farm = (1 to 20).map(i =>
      (i.toLong, s"buy cheap item $i now best price guaranteed today " +
        "limited offer free shipping order online visit our store page",
        "en", "farm", 0L))
    val fresh = (1 to 20).map(i =>
      (100L + i, (1 to 9).map(j => s"u${i}_$j").mkString(" "), "en", "fresh", 0L))
    (farm ++ fresh).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val bysrc = PipelineQueries.ngramDiversity(spark, tmp).collect()
      .map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(6))).toMap
    val (farmTtr, farmTri) = bysrc("farm")
    val (freshTtr, freshTri) = bysrc("fresh")
    assert(freshTri == 1.0 && freshTtr == 1.0, s"fresh: $freshTtr/$freshTri")
    assert(farmTri < 0.25 && farmTtr < 0.15, s"farm: $farmTtr/$farmTri")
  }

  test("q151 approx (HLL) dial stays within 3·rsd of exact per source at sf0.01") {
    import graft.queries.PipelineQueries
    val d01 = "/root/testdata/sf0.01"
    def profile(ap: Boolean) =
      PipelineQueries.ngramDiversity(spark, d01, approx = ap).collect()
        .map(r => r.getString(0) -> (r.getLong(2), r.getLong(5))).toMap
    val exact = profile(false)
    val approx = profile(true)
    assert(exact.keySet == approx.keySet)
    for (k <- exact.keys) {
      val relTok = math.abs(approx(k)._1 - exact(k)._1).toDouble / exact(k)._1
      val relTri = math.abs(approx(k)._2 - exact(k)._2).toDouble / exact(k)._2
      assert(relTok <= 0.06 && relTri <= 0.06,
        s"$k: tokens ${exact(k)._1}→${approx(k)._1}, " +
          s"trigrams ${exact(k)._2}→${approx(k)._2}")
    }
  }

  test("q152 == scalar Levenshtein over the banded candidates at sf0.001") {
    val cands = SparkEntry.queries("q43_minhash_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val prev = Array.range(0, b.length + 1)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, b.length + 1)
      }
      prev(b.length)
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = cands.flatMap { case (x, y) =>
      val d0 = lev(texts(x), texts(y))
      val m = math.max(texts(x).length, texts(y).length)
      if (d0.toDouble <= 0.2 * m)
        Some((x, y, d0.toLong, m.toLong, r6(1.0 - d0.toDouble / m)))
      else None
    }.toSet
    val got = SparkEntry.queries("q152_edit_distance_neardup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(got == expect,
      s"diff: ${((got diff expect) ++ (expect diff got)).take(5)}")
    assert(got.nonEmpty, "planted near-dups must survive the 0.8 gate")
  }

  test("q152 fused bucket-local path == hot-fallback pair-join path (all paths forced)") {
    import graft.queries.PipelineQueries
    // hotCap=1 marks every multi-member bucket hot → the ENTIRE corpus
    // verifies through the pair-join fallback; the default runs pure
    // fused. Identical output locks the generator's pair expansion,
    // first-shared-band skip, length gate, and dist math against the
    // compositional form.
    val fused = PipelineQueries.editDistanceNearDup(spark, dir).collect()
    val viaHot = PipelineQueries.editDistanceNearDup(spark, dir, hotCap = 1)
      .collect()
    assert(fused.map(_.toSeq).toSeq == viaHot.map(_.toSeq).toSeq)
    assert(fused.nonEmpty)
  }

  test("q157 rep verify: components EQUAL the pairwise form's on planted " +
      "clone cliques; edges are a subset everywhere (precision 1)") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    // planted cliques: 6 clusters × 8 members, each member a 1-char-typo
    // variant of its cluster base (well inside the 0.2 gate and sharing
    // bands), plus unrelated singletons
    val rnd = new scala.util.Random(7)
    val bases = (0 until 6).map(c =>
      (1 to 40).map(j => s"tok${c}_$j").mkString(" "))
    val clones = for (c <- 0 until 6; m <- 0 until 8) yield {
      val t = if (m == 0) bases(c) else {
        val chars = bases(c).toCharArray
        chars(rnd.nextInt(chars.length)) = ('a' + rnd.nextInt(26)).toChar
        new String(chars)
      }
      ((c * 8 + m).toLong, t, "en", "s", 0L)
    }
    val uniques = (0 until 10).map(i =>
      (1000L + i, (1 to 40).map(j => s"u${i}_$j").mkString(" "), "en", "s", 0L))
    val tmp = java.nio.file.Files.createTempDirectory("q157").toString
    (clones ++ uniques).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")

    def components(edges: Array[(Long, Long)]): Map[Long, Long] = {
      // driver-side union-find over the tiny spec corpus
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (clones ++ uniques).map(_._1).map(id => id -> find(id)).toMap
    }
    val pairEdges = PipelineQueries.editDistanceNearDup(spark, tmp)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val repEdges = PipelineQueries.editDistanceNearDupRep(spark, tmp)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every rep edge is an exact verified pair → subset of the pairwise set
    assert(repEdges.toSet.subsetOf(pairEdges.toSet),
      s"rep emitted a non-pairwise edge: ${repEdges.toSet -- pairEdges.toSet}")
    // kernel-call accounting: the rep form pays b−1 per bucket — on the
    // 8-member cliques that is ≤ 7·4 edges per clique vs 28·4 pairs
    assert(repEdges.length < pairEdges.length)
    // connectivity recall on the clone-clique regime: identical components
    val cp = components(pairEdges)
    val cr = components(repEdges)
    assert(cr == cp, s"rep components diverged: " +
      s"${cp.toSeq.diff(cr.toSeq).take(5)}")
    // and the planting worked: 6 cliques + 10 singletons = 16 components
    assert(cp.values.toSet.size == 16, s"got ${cp.values.toSet.size}")
  }

  test("scaled-events jitter spans the full ±30 min uniformly and replica " +
      "user-id spaces are disjoint (ADVICE r11 lock)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("sev").toString
    Stress.genScaledEvents(spark, dir, tmp, 4)
    val base = graft.queries.Tables(spark, dir, "events")
    val scaled = spark.read.parquet(s"$tmp/events.parquet")
    assert(scaled.count() == base.count() * 4)
    // replica r>0 deltas vs the base event: uniform-ish over ±1800 s
    val deltas = scaled.filter(col("event_id") % 4 =!= 0)
      .select((col("event_id") / 4).cast("long").as("beid"),
        unix_micros(col("ts")).as("stu"))
      .join(base.select(col("event_id").as("beid"),
        unix_micros(col("ts")).as("btu")), "beid")
      .select((col("stu") - col("btu")).as("d"))
    val st = deltas.agg(min("d"), max("d"), avg("d"), stddev("d")).head()
    val (mn, mx, mean, sd) =
      (st.getLong(0), st.getLong(1), st.getDouble(2), st.getDouble(3))
    assert(mn < -1700000000L && mx > 1700000000L,
      s"jitter not spanning ±30min: [$mn, $mx] µs (the r11 bug capped it " +
        "at a near-constant −30 min)")
    assert(math.abs(mean) < 150000000L, s"jitter mean skewed: $mean µs")
    assert(sd > 900000000.0 && sd < 1200000000.0,
      s"jitter not uniform-ish (expected sd ≈ 1039 s): ${sd / 1e6} s")
    // a user id appearing under two replicas would merge distinct users
    val overlap = scaled.withColumn("rep", col("event_id") % 4)
      .groupBy("user_id").agg(countDistinct("rep").as("nreps"))
      .filter(col("nreps") > 1).count()
    assert(overlap == 0, s"replica user-id spaces overlap: $overlap users")
  }

  test("q155 merges NFC/case/whitespace variants that raw exact dedup cannot see") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q155").toString
    val composed = "café menu du jour"          // é precomposed
    val decomposed = "café menu du jour"       // e + combining acute
    assert(composed != decomposed)               // different code points...
    assert(java.text.Normalizer.normalize(decomposed,
      java.text.Normalizer.Form.NFC) == composed) // ...same NFC form
    Seq((0L, composed, "fr", "s", 0L),
        (1L, decomposed, "fr", "s", 0L),
        (2L, "CAFÉ MENU DU JOUR", "fr", "s", 0L),
        (3L, "  café   menu\tdu  jour ", "fr", "s", 0L),
        (4L, "something else entirely", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    // raw exact dedup sees 5 distinct docs; canonical dedup sees 2 classes
    assert(SparkEntry.queries("q40_dedup_exact")(spark, tmp).count() == 5)
    val got = SparkEntry.queries("q155_canonical_dedup")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 4L), (4L, 1L)), s"got ${got.mkString(",")}")
  }

  test("q155 classes can only merge relative to q40 (corpus law at sf0.001)") {
    val raw = SparkEntry.queries("q40_dedup_exact")(spark, dir).count()
    val canon = SparkEntry.queries("q155_canonical_dedup")(spark, dir).count()
    assert(canon <= raw && canon > 0)
  }

  test("q156 sessionizes on the 30-min gap and orders paths by (ts, event_id)") {
    // one user: events at 0, 10, 29, 90, 100 minutes → sessions
    // {0,10,29} (each gap ≤ 30) and {90,100}; two events at the SAME
    // timestamp order by event_id
    val tmp = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 0L, "view"),
      (1L, "2024-01-01 00:10:00", 0L, "click"),
      (1L, "2024-01-01 00:29:00", 0L, "purchase"),
      (1L, "2024-01-01 01:30:00", 0L, "view"),
      (1L, "2024-01-01 01:40:00", 0L, "error"),
      (2L, "2024-01-01 00:00:00", 0L, "signup"),
      (2L, "2024-01-01 00:00:00", 0L, "view")))
    val got = SparkEntry.queries("q156_session_paths")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("signup>view", 1L), ("view>click>purchase", 1L),
      ("view>error", 1L)), s"got $got")
  }

  test("q152 keeps a typo-ridden pair whose shingle Jaccard fails the 0.5 gate") {
    // 25 single-char typos scattered every 8th word of a 200-word doc:
    // each typo destroys its 3 covering shingles, dragging 3-shingle
    // Jaccard to ~0.45 (below the q72/q87 verify gate) while edit
    // distance stays 25 chars (~0.98 similarity) — the character-level
    // verifier exists exactly for this failure mode. Offsets chosen so
    // the pair still shares a MinHash band (deterministic md5 hashes).
    import spark.implicits._
    val base = (1 to 200).map(i => s"word$i")
    val typo = base.zipWithIndex.map { case (w, i) =>
      if (i % 8 == 5) w + "x" else w }
    def sh(ws: Seq[String]) =
      (0 to ws.length - 3).map(i => ws.slice(i, i + 3).mkString(" ")).toSet
    val j = sh(base).intersect(sh(typo)).size.toDouble /
      sh(base).union(sh(typo)).size
    assert(j < 0.5, s"premise broken: shingle Jaccard $j >= 0.5")
    val tmp = java.nio.file.Files.createTempDirectory("q152").toString
    Seq((0L, base.mkString(" "), "en", "s", 0L),
        (1L, typo.mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    assert(SparkEntry.queries("q43_minhash_pairs")(spark, tmp).count() == 1,
      "premise broken: the pair no longer shares a MinHash band")
    val got = SparkEntry.queries("q152_edit_distance_neardup")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1L, 25L)), s"got ${got.mkString(",")}")
  }

  test("q149 drops a tail window fully covered by its predecessor") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    val tmp = java.nio.file.Files.createTempDirectory("q149").toString
    def doc(id: Long, n: Int) =
      (id, (1 to n).map(i => s"w$i").mkString(" "), "en", "s", 0L)
    // n=60: window at 48 adds tokens 48..59, all inside chunk 0 → dropped
    // n=70: window at 48 reaches 69 > 63 → kept, len 22
    // n=0 tokens impossible (split of "" is [""]) → empty doc = 1 chunk
    Seq(doc(0L, 60), doc(1L, 70), (2L, null: String, "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = PipelineQueries.chunkOverlap(spark, tmp, 64, 16).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((0L, 0L, 60L), (1L, 0L, 64L), (1L, 1L, 22L),
      (2L, 0L, 1L)), s"got $got")
  }

  /** A tiny events parquet with controlled per-user timelines. */
  private def eventsFixture(rows: Seq[(Long, String, Long, String)]): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ev").toString
    rows.zipWithIndex.map { case ((uid, ts, _, tp), i) =>
      (i.toLong, java.sql.Timestamp.valueOf(ts), uid, tp, 0.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    tmp
  }

  test("q153 funnel enforces step ORDER and the 24h window") {
    // u1 completes in order; u2's click precedes its first view (must
    // not count); u3's click lands outside the 24 h window; u4 clicks
    // in time but purchases too late; u5 never views
    val tmp = eventsFixture(Seq(
      (1L, "2024-01-01 00:00:00", 0L, "view"),
      (1L, "2024-01-01 01:00:00", 0L, "click"),
      (1L, "2024-01-01 02:00:00", 0L, "purchase"),
      (2L, "2024-01-01 00:00:00", 0L, "click"),
      (2L, "2024-01-01 01:00:00", 0L, "view"),
      (3L, "2024-01-01 00:00:00", 0L, "view"),
      (3L, "2024-01-02 01:00:00", 0L, "click"),
      (4L, "2024-01-01 00:00:00", 0L, "view"),
      (4L, "2024-01-01 01:00:00", 0L, "click"),
      (4L, "2024-01-02 02:00:00", 0L, "purchase"),
      (5L, "2024-01-01 00:00:00", 0L, "purchase")))
    val r = SparkEntry.queries("q153_funnel_steps")(spark, tmp).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 2L, 1L)),
      s"got $r")
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 0.5, s"rates: $r")
  }

  test("q154 retention cohorts: anchor week, offsets, and exclusions") {
    // 2024-01-01 is a Monday. u1: signup wk0, active wk0/1/3; u2:
    // signup wk0 only; u3: signup wk1, active wk2; u4 never signs up
    // (excluded); u1's pre-signup event (none here) and u3's wk-2
    // activity BEFORE its signup week must not produce negative offsets
    val tmp = eventsFixture(Seq(
      (1L, "2024-01-01 10:00:00", 0L, "signup"),
      (1L, "2024-01-03 10:00:00", 0L, "view"),
      (1L, "2024-01-09 10:00:00", 0L, "click"),
      (1L, "2024-01-24 10:00:00", 0L, "purchase"),
      (2L, "2024-01-02 10:00:00", 0L, "signup"),
      (3L, "2024-01-05 10:00:00", 0L, "view"), // before u3's signup week
      (3L, "2024-01-08 10:00:00", 0L, "signup"),
      (3L, "2024-01-17 10:00:00", 0L, "view"),
      (4L, "2024-01-01 10:00:00", 0L, "view")))
    val rows = SparkEntry.queries("q154_retention_cohorts")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(rows.toSeq == Seq(
      ("2024-01-01", 0, 2L, 2L, 1.0),
      ("2024-01-01", 1, 1L, 2L, 0.5),
      ("2024-01-01", 3, 1L, 2L, 0.5),
      ("2024-01-08", 0, 1L, 1L, 1.0),
      ("2024-01-08", 1, 1L, 1L, 1.0)), s"got ${rows.mkString("\n")}")
  }

  test("q160 composition: stage survivor sets shrink monotonically and later stages respect earlier keep-lists") {
    // drive the chain through the stagePin hook — the same seam the
    // stress harness uses for per-stage attribution — capturing each
    // stage's survivor manifest
    val stages = scala.collection.mutable.LinkedHashMap[Int, (String, Set[Long])]()
    val out = queries.PipelineQueries.q160Frame(spark, dir, 6000L,
      stageRun = Some((i, name, mk) => {
        val pinned = mk().localCheckpoint()
        stages(i) = (name, pinned.select("doc_id").collect().map(_.getLong(0)).toSet)
        pinned
      })).collect()
    // stage 3 is the fused decontaminate+gate (r19); stage numbering
    // keeps the historical gap at 4 so cross-round attribution rows stay
    // aligned
    assert(stages.keySet == Set(1, 2, 3, 5), s"stages seen: ${stages.keys}")
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val s1 = stages(1)._2; val s2 = stages(2)._2; val s3 = stages(3)._2
    val s5 = stages(5)._2
    // monotone containment down the chain
    assert(s1.size <= total)
    assert(s2.subsetOf(s1), "near-dup keep-list escaped the canonical survivors")
    assert(s3.subsetOf(s2), "decontaminate+gate escaped the near-dup keep-list")
    assert(s5.subsetOf(s3), "mixture cut escaped the gated set")
    // stage 3 removed every eval doc (doc_id % 10 == 7) from the train side
    assert(s3.forall(_ % 10 != 7), "an eval doc survived decontamination")
    // final output is exactly the stage-5 manifest, each row labeled + packed
    val outIds = out.map(_.getAs[Long]("doc_id")).toSet
    assert(outIds == s5, "output rows != mixture-materialized manifest")
    val splits = out.map(_.getAs[String]("split")).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    // per-split packing: cum_tokens strictly increasing in doc_id order and
    // seq boundaries at 512
    out.groupBy(_.getAs[String]("split")).foreach { case (sp, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      val cums = sorted.map(_.getAs[Long]("cum_tokens"))
      assert(cums.zip(cums.tail).forall { case (a, b) => a < b }, s"cum not increasing in $sp")
      sorted.foreach { r =>
        assert(r.getAs[Long]("seq_id") == (r.getAs[Long]("cum_tokens") - 1) / 512)
      }
    }
  }

  test("q161 rep-anchored composition can only OVER-keep vs q160's pairwise form") {
    // the rep form's divergence channel is under-CONNECTION on
    // threshold-marginal chains (ST11c contract: every folded edge is
    // individually verified, so it can only fail to merge, never merge
    // wrongly) — at the keep-list level that means rep survivors are a
    // SUPERSET of pairwise survivors
    def s2Of(rep: Boolean): Set[Long] = {
      var s2: Set[Long] = Set.empty
      queries.PipelineQueries.q160Frame(spark, dir, 6000L,
        stageRun = Some((i, name, mk) => {
          val pinned = mk().localCheckpoint()
          if (i == 2) s2 = pinned.collect().map(_.getLong(0)).toSet
          pinned
        }),
        repAnchoredNearDup = rep).queryExecution.logical // construct only
      s2
    }
    val pairwise = s2Of(rep = false)
    val repAnchored = s2Of(rep = true)
    assert(pairwise.subsetOf(repAnchored),
      s"rep form LOST survivors: ${(pairwise diff repAnchored).take(10)}")
  }

  test("q161's stage 2 starts no Spark job outside the fixpoint's own phases") {
    // the rep form's stage 2 is edge construction (lazy) plus the
    // keep-list fixpoint, whose prepare and rounds run as nested
    // PhaseStats phases — so every job the stage starts while it is
    // built must be one of the fixpoint run's (no survivor count, no
    // staging write). q161 only: q160's pairwise form runs its memoized
    // bucket probe on first use.
    var stage2 = -1
    var fixpoint = -1
    queries.PipelineQueries.q160Frame(spark, dir, 6000L,
      stageRun = Some((i, _, mk) => {
        var built: org.apache.spark.sql.DataFrame = null
        if (i == 2) {
          stage2 = TestSpark.jobsOf(spark) { built = mk() }
          fixpoint = operators.PhaseStats.last(operators.Dedup.FixpointTag)
            .stats.map(_.jobs).sum
        } else built = mk()
        built.localCheckpoint()
      }),
      repAnchoredNearDup = true).queryExecution.logical // construct only
    assert(fixpoint > 0, "the fixpoint ran no job inside stage 2")
    assert(stage2 == fixpoint,
      s"stage 2 started ${stage2 - fixpoint} job(s) outside the fixpoint")
  }

  test("rep-anchored id-join edges == the payload-carrying batch-twin derivation") {
    // q160/q161's stage-2 rep form uses the q157 id-join discipline (no
    // shingle payload on the band explode); the streaming batch twin
    // carries payloads. Same semantics by construction — locked here on
    // the real corpus so a drift in either kernel (banding, rep choice,
    // verify threshold) breaks loudly.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def norm(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idJoin = norm(queries.PipelineQueries.repAnchoredEdges(docs)
      .select(col("src"), col("dst")))
    val twin = graft.streaming.DocsStream.nearDupVerifiedBatch(docs, docs)
      .select(col("doc_id").as("src"), col("dup_of").as("dst")).distinct()
    val twinBoth = norm(twin.union(
      twin.select(col("dst").as("src"), col("src").as("dst"))))
    assert(idJoin == twinBoth,
      s"edge sets differ: onlyIdJoin=${(idJoin diff twinBoth).take(5)} " +
        s"onlyTwin=${(twinBoth diff idJoin).take(5)}")
    assert(idJoin.nonEmpty, "vacuous: corpus produced no rep edges")
  }

  test("q162 length-bucketed packing laws: grade covers the doc, sequences never exceed capacity, no doc straddles") {
    val rows = SparkEntry.queries("q162_bucketed_pack")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("grade"), r.getAs[Long]("seq_in_grade"), r.getAs[Long]("slot")))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, g, _, slot) =>
      assert(g >= n || g == 512, s"doc $id: grade $g < tokens $n below the cap")
      assert(g % 64 == 0 && g >= 64 && g <= 512, s"doc $id: grade $g off-grid")
      assert(slot >= 0 && slot < 512 / g, s"doc $id: slot $slot >= capacity ${512 / g}")
    }
    // a sequence holds at most floor(512/grade) docs, and sequence token
    // mass (at grade granularity) never exceeds 512 — no doc straddles
    rows.groupBy(r => (r._3, r._4)).foreach { case ((g, seq), members) =>
      assert(members.length <= 512 / g,
        s"sequence ($g, $seq) holds ${members.length} > ${512 / g} docs")
      assert(members.length * g <= 512)
      // slots within a sequence are distinct and contiguous from 0
      val slots = members.map(_._5).sorted.toSeq
      assert(slots == slots.indices.map(_.toLong),
        s"sequence ($g, $seq) slots not contiguous: $slots")
    }
    // contrast with q95: the contiguous form DOES straddle (some doc's
    // cum window crosses a 512 boundary), which is exactly what the
    // bucketed form trades tail-sequence slack to avoid
    val q95 = SparkEntry.queries("q95_sequence_pack")(spark, dir).collect()
      .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("cum_tokens")))
    assert(q95.exists { case (n, cum) => (cum - 1) / 512 != (cum - n) / 512 },
      "fixture too small: q95 never straddles, the contrast is vacuous")
  }

  test("q163/q164 boundaries: full contamination drops, disjoint keeps; degenerate repetition drops, prose keeps") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("q163x").toString
    val evalText = (1 to 20).map(i => s"ev$i").mkString(" ")      // 20 tokens
    val cleanText = (1 to 20).map(i => s"cl$i").mkString(" ")     // disjoint grams
    val halfText = ((1 to 10).map(i => s"ev$i") ++ (1 to 10).map(i => s"hx$i")).mkString(" ")
    val repText = Seq.fill(30)("spam").mkString(" ")              // one bigram, all dup
    Seq(
      (17L, evalText), (20L, evalText), (21L, cleanText), (22L, halfText),
      (23L, repText), (24L, cleanText))
      .map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val c = SparkEntry.queries("q163_contamination_frac")(spark, tmp).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("frac"), r.getAs[Boolean]("keep"))).toMap
    assert(!c.contains(17L), "eval doc must not be graded")
    assert(c(20L)._1 == 1.0 && !c(20L)._2, s"verbatim eval copy: ${c(20L)}")
    assert(c(21L)._1 == 0.0 && c(21L)._2, s"disjoint doc: ${c(21L)}")
    // halfText shares the eval doc's first 3 8-gram windows of ev1..ev10
    assert(c(22L)._1 > 0.0 && c(22L)._1 < 1.0, s"partial overlap: ${c(22L)}")
    val r = SparkEntry.queries("q164_intradoc_repetition")(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Double]("dup_tri_frac"), x.getAs[Double]("top_bigram_frac"),
          x.getAs[Boolean]("keep"))).toMap
    assert(r(23L)._1 > 0.9 && r(23L)._2 == 1.0 && !r(23L)._3,
      s"degenerate repetition must drop: ${r(23L)}")
    assert(r(21L)._1 == 0.0 && r(21L)._3, s"diverse prose must keep: ${r(21L)}")
  }
}
