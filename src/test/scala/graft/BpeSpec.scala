package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** [[graft.operators.Bpe]]: merge training and application semantics.
  * Cross-engine exactness is q113/q114's oracle; this pins the local
  * invariants — especially the leftmost-non-overlapping application
  * order that BOTH engines implement identically.
  */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private def docs = graft.queries.Tables(spark, dir, "documents")

  test("charSyms pads and spaces; pairs are adjacent and total on 1-char words") {
    val out = Seq("abc", "x", "").toDF("w")
      .select(Bpe.charSyms(col("w")).as("s"), Bpe.pairs(Bpe.charSyms(col("w"))).as("p"))
      .collect()
    assert(out(0).getString(0) == " a b c ")
    assert(out(0).getSeq[String](1) == Seq("a b", "b c"))
    assert(out(1).getSeq[String](1) == Nil)
    assert(out(2).getSeq[String](1) == Nil)
  }

  test("applyMerges is leftmost non-overlapping (the documented order, both engines)") {
    // " a b a b a b ": occurrences 1 and 2 share the middle space, so a
    // single pass merges the 1st and 3rd — NOT the 2nd. This is what
    // Java String.replace and DuckDB replace both do; the oracle parity
    // of q113/q114 rests on it.
    val m = Seq(Bpe.Merge("a b", "ab", 0L))
    val got = Seq("ababab").toDF("w")
      .select(Bpe.applyMerges(Bpe.charSyms(col("w")), m))
      .collect().head.getString(0)
    assert(got == " ab a b ab ", s"got '$got'")
  }

  test("driver merge pass mirrors padded replace: merge consumes the trailing space") {
    // same cases the expression-side test pins: [a,b,a,b,a,b] → [ab,a,b,ab]
    // (middle occurrence shares a space), [a,b,a,b] → [ab,a,b]
    def run(toks: String*) =
      Bpe.applyMergeToks(toks.toArray, "a", "b", "ab").toSeq
    assert(run("a", "b", "a", "b", "a", "b") == Seq("ab", "a", "b", "ab"))
    assert(run("a", "b", "a", "b") == Seq("ab", "a", "b"))
    assert(run("a", "a", "a") == Seq("a", "a", "a"))
    assert(run("x", "a", "b", "y") == Seq("x", "ab", "y"))
  }

  test("training scans the corpus a constant number of times, independent of rounds") {
    // the scale contract: one wordFreq aggregation total; merge rounds run
    // driver-side over the vocabulary-sized table. A per-merge corpus
    // rescan would make 32k-merge vocabularies cost 32k corpus passes.
    def jobsFor(rounds: Int): Int = TestSpark.jobsOf(spark) { Bpe.train(docs, rounds) }
    val j2 = jobsFor(2)
    val j6 = jobsFor(6)
    assert(j2 > 0 && j2 == j6, s"corpus work grows with rounds: $j2 jobs @2 vs $j6 @6")
  }

  test("minCount prunes the singleton tail before the merge loop") {
    // "lo lo lo hi hi rare": minCount=2 drops the singleton "rare", so
    // no merge can come from its pairs; the pinned table proves the
    // guard feeds training, not just the collect. With minCount=1 the
    // same corpus trains "r a"-capable rounds on the full vocab.
    val docs = Seq("lo lo lo hi hi rare").toDF("text")
    val pruned = Bpe.wordFreq(docs, minCount = 2L)
    assert(pruned.toSet == Set("lo" -> 3L, "hi" -> 2L), s"got $pruned")
    val merges = Bpe.trainFromFreq(pruned, rounds = 2)
    // round 1: pairs {l o: 3, h i: 2} → "l o"; round 2: only "h i" left
    assert(merges.map(m => (m.pair, m.merged, m.count)) ==
      Seq(("l o", "lo", 3L), ("h i", "hi", 2L)), s"got $merges")
    val full = Bpe.wordFreq(docs, minCount = 1L)
    assert(full.toSet == Set("lo" -> 3L, "hi" -> 2L, "rare" -> 1L))
  }

  test("maxWords caps the driver collect at top-N by count, deterministically") {
    val docs = Seq("aa aa aa bb bb cc").toDF("text")
    val top2 = Bpe.wordFreq(docs, maxWords = 2)
    assert(top2 == Seq("aa" -> 3L, "bb" -> 2L), s"got $top2")
  }

  test("pair tie-break is UTF-8 byte order (engine collation), not UTF-16 code units") {
    // U+E000 (3-byte UTF-8, ee 80 80) vs U+10000 (4-byte, f0 90 80 80):
    // byte order ranks U+E000 first; Java's String compareTo ranks the
    // surrogate-encoded U+10000 (0xD800...) first. Two tied pairs built
    // from these must resolve the way Spark's orderBy and DuckDB would.
    val e = "\uE000"
    val s = new String(Character.toChars(0x10000))
    assert(Bpe.utf8Order.compare(e, s) < 0, "UTF-8 byte order violated")
    assert(e.compareTo(s) > 0, "premise: UTF-16 order disagrees")
    val merges = Bpe.trainFromFreq(Seq(e + e -> 1L, s + s -> 1L), rounds = 1)
    assert(merges.head.pair == s"$e $e",
      s"tie must resolve by UTF-8 bytes, got '${merges.head.pair}'")
  }

  test("training is deterministic and merges are well-formed") {
    val a = Bpe.train(docs, rounds = 3)
    val b = Bpe.train(docs, rounds = 3)
    assert(a == b, "training not deterministic")
    assert(a.length == 3 && a.distinct.length == 3)
    a.foreach { m =>
      assert(m.merged == m.pair.replace(" ", "") && m.count > 0)
      assert(m.pair.split(" ").length == 2, s"pair '${m.pair}' not binary")
    }
  }

  test("vocabulary-scale encode (mapPartitions) == expression encode, and handles 2000 merges") {
    // the expression path chains one replace per merge — fine at 4,
    // infeasible at vocab scale; the host path must agree wherever both
    // run, then keep working where only it can
    val merges = Bpe.train(docs, rounds = 4)
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val exprSide = docs.select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        aggregate(transform(words, w =>
            size(split(trim(Bpe.applyMerges(Bpe.charSyms(w), merges)), " ")).cast("long")),
          lit(0L), (a, x) => a + x).as("n_bpe_tokens"))
      .orderBy(col("doc_id")).collect()
    val hostSide = Bpe.tokenCounts(docs, merges).orderBy(col("doc_id")).collect()
    assert(exprSide.sameElements(hostSide),
      "mapPartitions encode diverged from the expression encode")
    // a table far beyond the 4-merge oracle size: ask for 2000 rounds,
    // driver-trained over the vocabulary in-memory (scan count still 1).
    // This tiny synthetic corpus exhausts its pair inventory well before
    // that — the point is the host path handles whatever table training
    // produces, where a replace-per-merge expression chain could not.
    val big = Bpe.trainFromFreq(Bpe.wordFreq(docs), rounds = 2000)
    assert(big.length > 20, s"corpus only supports ${big.length} merges")
    val bigToks = Bpe.tokenCounts(docs, big)
      .agg(sum(col("n_bpe_tokens"))).collect()(0).getLong(0)
    val smallToks = hostSide.map(_.getLong(2)).sum
    assert(bigToks < smallToks,
      s"more merges must compress further: $bigToks !< $smallToks")
  }

  test("native BpeTokenStats kernel == HOF expression path == mapPartitions tier") {
    import graft.functions.BpeTokenStats
    val merges = Bpe.train(docs, rounds = 4)
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val hofSide = docs.select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        aggregate(transform(words, w =>
            size(split(trim(Bpe.applyMerges(Bpe.charSyms(w), merges)), " ")).cast("long")),
          lit(0L), (a, x) => a + x).as("n_bpe_tokens"))
      .orderBy(col("doc_id")).collect()
    val kernelSide = docs
      .select(col("doc_id"), BpeTokenStats.of(col("text"), merges).as("st"))
      .select(col("doc_id"), col("st.n_words").as("n_words"),
        col("st.n_bpe_tokens").as("n_bpe_tokens"))
      .orderBy(col("doc_id")).collect()
    val hostSide = Bpe.tokenCounts(docs, merges).orderBy(col("doc_id")).collect()
    assert(kernelSide.sameElements(hofSide),
      "native kernel diverged from the HOF expression path")
    assert(kernelSide.sameElements(hostSide),
      "native kernel diverged from the mapPartitions tier")

    // null text → null struct fields, matching the HOF path's null
    // propagation; empty/whitespace-only text → (0, 0), not null
    val edge = Seq((1L, Option("")), (2L, Option("   ")), (3L, None))
      .toDF("doc_id", "text")
    val k = edge
      .select(col("doc_id"), BpeTokenStats.of(col("text"), merges).as("st"))
      .select(col("doc_id"), col("st.n_words"), col("st.n_bpe_tokens"))
      .orderBy(col("doc_id")).collect()
    val h = edge.select(col("doc_id"),
        size(filter(split(col("text"), " "), w => length(w) > 0)).cast("long"),
        aggregate(transform(filter(split(col("text"), " "), w => length(w) > 0), w =>
            size(split(trim(Bpe.applyMerges(Bpe.charSyms(w), merges)), " ")).cast("long")),
          lit(0L), (a, x) => a + x))
      .orderBy(col("doc_id")).collect()
    assert(k.sameElements(h), s"edge cases diverged: kernel=${k.toSeq} hof=${h.toSeq}")
    assert(k(2).isNullAt(1) && k(2).isNullAt(2), "null text must yield null stats")

    // the kernel stays inside whole-stage codegen: a static call, not a
    // CodegenFallback subtree (the whole point of replacing the HOFs)
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      docs.select(BpeTokenStats.of(col("text"), merges)).queryExecution.executedPlan)
    assert(gen.contains("graft.functions.BpeTokenStats.compute"),
      "expected a static kernel call in generated code")
  }

  test("encoding compresses: BPE tokens strictly fewer than characters") {
    val merges = Bpe.train(docs, rounds = 4)
    val words = filter(split(col("text"), " "), w => length(w) > 0)
    val totals = docs.select(
        aggregate(transform(words, w => length(w).cast("long")),
          lit(0L), (a, x) => a + x).as("chars"),
        aggregate(transform(words, w =>
            size(split(trim(Bpe.applyMerges(Bpe.charSyms(w), merges)), " ")).cast("long")),
          lit(0L), (a, x) => a + x).as("toks"))
      .agg(sum(col("chars")).as("chars"), sum(col("toks")).as("toks"))
      .collect().head
    assert(totals.getLong(1) < totals.getLong(0),
      s"no compression: ${totals.getLong(1)} tokens vs ${totals.getLong(0)} chars")
  }
}
