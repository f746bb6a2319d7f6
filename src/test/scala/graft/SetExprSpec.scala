package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{SetFunctions, SortedSetOps, TextFunctions}

/** The sorted-set verify kernels (ShingleHashSet / IntersectCardSorted /
  * JaccardSorted): parity with the compositional string-set form,
  * sorted-distinct output contract, merge-scan model check, analysis-time
  * input rejection, SQL registration, codegen fusion.
  */
class SetExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$dir/documents.parquet")

  /** The compositional twin of the 56-bit shingle hash (the documented
    * DuckDB contract): conv(substr(md5(s), 1, 14), 16, 10) over the
    * ShinglesK shingles, distinct'd and sorted.
    */
  private def hashedSetHof(text: org.apache.spark.sql.Column, k: Int) =
    sort_array(array_distinct(transform(
      TextFunctions.shinglesFromText(text, k),
      s => conv(substring(md5(s), 1, 14), 16, 10).cast("long"))))

  test("shingle_hash_set == sorted distinct 56-bit md5 prefixes of the shingles") {
    val both = docs.select(
      SetFunctions.shingleHashSet(col("text"), 3).as("native"),
      hashedSetHof(col("text"), 3).as("hof"))
    assert(both.filter(not(col("native") <=> col("hof"))).count() == 0)
  }

  test("shingle_hash_set edge cases: short text empty, null text null, k respected") {
    import spark.implicits._
    val df = Seq("one two", "a b c d", "x x x x x", null.asInstanceOf[String])
      .toDF("text")
    val rows = df.select(
      SetFunctions.shingleHashSet(col("text"), 3).as("s3"),
      hashedSetHof(col("text"), 3).as("h3"),
      SetFunctions.shingleHashSet(col("text"), 8).as("s8")).collect()
    assert(rows(0).getSeq[Long](0).isEmpty)      // < 3 tokens
    assert(rows(1).getSeq[Long](0).length == 2)  // 2 distinct 3-shingles
    assert(rows(1).getSeq[Long](0) == rows(1).getSeq[Long](1))
    assert(rows(2).getSeq[Long](0).length == 1)  // repeated shingle dedupes
    assert(rows(3).isNullAt(0))                  // null in, null out
    assert(rows.take(3).forall(_.getSeq[Long](2).isEmpty)) // k=8 > all lengths
  }

  test("jaccard_sorted == string-set jaccard on every banded candidate pair") {
    // all within-source doc pairs of the sf0.001 corpus whose string
    // jaccard is defined — compare the hashed merge-scan value against
    // size(array_intersect)/size(array_union) over the string sets
    val base = docs.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), col("source"),
        array_distinct(TextFunctions.shinglesFromText(col("text"), 3)).as("ss"),
        SetFunctions.shingleHashSet(col("text"), 3).as("hs"))
    val pairs = base.as("a").join(base.as("b"),
        col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
      .select(
        (size(array_intersect(col("a.ss"), col("b.ss"))) /
          size(array_union(col("a.ss"), col("b.ss")))).as("str_j"),
        SetFunctions.jaccardSorted(col("a.hs"), col("b.hs")).as("hash_j"),
        SetFunctions.intersectCardSorted(col("a.hs"), col("b.hs")).as("inter"),
        size(array_intersect(col("a.ss"), col("b.ss"))).as("str_inter"))
    assert(pairs.count() > 1000)
    assert(pairs.filter(not(col("str_j") <=> col("hash_j"))).count() == 0)
    assert(pairs.filter(not(col("inter") <=> col("str_inter"))).count() == 0)
  }

  test("merge-scan model check vs scala Set ops (exhaustive small universes)") {
    // every pair of subsets of a 6-element universe, as sorted arrays
    val universe = Array(-5L, 0L, 3L, 7L, 100L, Long.MaxValue)
    val subsets = (0 until 64).map(m =>
      universe.zipWithIndex.collect { case (v, i) if (m & (1 << i)) != 0 => v })
    for (a <- subsets; b <- subsets) {
      val expected = a.toSet.intersect(b.toSet).size
      val got = SortedSetOps.intersectCard(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b))
      assert(got == expected, s"intersect ${a.toSeq} ${b.toSeq}")
      val j = SortedSetOps.jaccard(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b))
      if (a.isEmpty && b.isEmpty) assert(j == null)
      else assert(j.doubleValue() ==
        expected.toDouble / a.toSet.union(b.toSet).size)
    }
  }

  test("in-handler jaccardSortedSeq == SortedSetOps.jaccard bit-for-bit " +
      "(displaced rows and joined rows share one output column)") {
    // DocsStream.nearDupVerified verifies displaced pairs with the Scala
    // kernel inside the state handler and everything else with the
    // codegen'd expression downstream — the two land in the SAME jaccard
    // column, so they must agree exactly on every input, including the
    // empty/empty case (expression: null; handler: 0.0 — both fall to
    // the >= tau filter, asserted here as the documented equivalence)
    val universe = Array(-5L, 0L, 3L, 7L, 100L, Long.MaxValue)
    val subsets = (0 until 64).map(m =>
      universe.zipWithIndex.collect { case (v, i) if (m & (1 << i)) != 0 => v })
    for (a <- subsets; b <- subsets) {
      val expr = SortedSetOps.jaccard(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b))
      val handler = graft.streaming.DocsStream.jaccardSortedSeq(
        a.toIndexedSeq, b.toIndexedSeq)
      if (a.isEmpty && b.isEmpty) {
        assert(expr == null && handler == 0.0)
        assert(!(handler >= 0.5), "both forms must fail the threshold")
      } else assert(expr.doubleValue() == handler,
        s"kernel divergence on ${a.toSeq} / ${b.toSeq}")
    }
  }

  test("sorted-set kernels reject nullable-element arrays at analysis time") {
    import spark.implicits._
    val df = Seq((Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L)))
      .toDF("a", "b") // element type is nullable long
    val e = intercept[Exception] {
      df.select(SetFunctions.jaccardSorted(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("jaccard_sorted") ||
      e.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("SQL registration binds the same kernels") {
    SetFunctions.register(spark)
    val r = spark.sql(
      """SELECT shingle_hash_set('a b c d', 3) AS hs,
                jaccard_sorted(shingle_hash_set('a b c d', 3),
                               shingle_hash_set('b c d e', 3)) AS j,
                intersect_card_sorted(shingle_hash_set('a b c d', 3),
                                      shingle_hash_set('a b c d', 3)) AS i""").head()
    assert(r.getSeq[Long](0).length == 2)
    assert(r.getDouble(1) == 1.0 / 3.0) // {abc,bcd} vs {bcd,cde}
    assert(r.getInt(2) == 2)
    // the verify generator is SQL-surfaced too (lifted into Generate)
    val pairs = spark.sql(
      """SELECT verified_jaccard_pairs(
           array(struct(1L, array('x'), array_compact(array(7L, 8L))),
                 struct(2L, array('y'), array_compact(array(7L, 8L)))),
           0, 0.5)""").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("VerifiedJaccardPairs matches brute force and skips earlier-shared bands") {
    import spark.implicits._
    // members: (doc_id, bkeys over 3 bands, sorted hash set)
    val members = Seq(
      (1L, Seq("x", "p", "r"), Seq(1L, 2L, 3L, 4L)),
      (2L, Seq("x", "q", "s"), Seq(1L, 2L, 3L, 5L)), // j(1,2)=3/5=0.6
      (3L, Seq("y", "q", "t"), Seq(1L, 9L)),         // j(1,3)=1/5, j(2,3)=1/5
      (4L, Seq("z", "w", "t"), Seq(1L, 2L, 3L, 4L))) // j(1,4)=1.0, j(2,4)=0.6
    def run(band: Int, ms: Seq[(Long, Seq[String], Seq[Long])]): Set[(Long, Long)] = {
      val df = Seq((band, ms)).toDF("band", "msraw")
        .select(col("band"), expr(
          "transform(msraw, m -> struct(m._1 AS doc_id, m._2 AS bkeys, " +
            "cast(m._3 AS array<bigint>) AS shset))").as("ms"))
        // the analyzer types literal Seq[Long]/Seq[String] elements as
        // containsNull=true; the kernel contract (analysis-enforced)
        // wants non-null elements in bkeys and shset alike
        .select(col("band"), expr(
          "transform(ms, m -> struct(m.doc_id, array_compact(m.bkeys) AS bkeys, " +
            "array_compact(m.shset) AS shset))").as("ms"))
      df.select(SetFunctions.verifiedJaccardPairs(col("ms"), col("band"), 0.5))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // band 0: no earlier bands — all pairs >= 0.5 survive
    assert(run(0, members) == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // band 1: pairs that already shared band 0 ("x" for 1,2) are skipped
    assert(run(1, members) == Set((1L, 4L), (2L, 4L)))
    // band 2: (1,2) shared band 0, (2,3) shares band 1 but fails jaccard,
    // (3,4) shares nothing earlier but fails jaccard; (1,4),(2,4) remain
    assert(run(2, members) == Set((1L, 4L), (2L, 4L)))
    // unordered input yields ordered ids
    assert(run(0, members.reverse) == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // both-empty sets: jaccard NULL, never emitted
    val empt = Seq((5L, Seq("e", "e", "e"), Seq.empty[Long]),
      (6L, Seq("f", "f", "f"), Seq.empty[Long]))
    assert(run(0, empt).isEmpty)
    // singleton / empty buckets emit nothing
    assert(run(0, members.take(1)).isEmpty)
    assert(run(0, Nil).isEmpty)
  }

  /** The IllegalArgumentException in `e`'s cause chain (a task failure
    * arrives wrapped in SparkExceptions). */
  private def illegalArgument(e: Throwable): IllegalArgumentException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $e", e))

  test("the bucket walk rejects a band its members' band keys cannot index") {
    SetFunctions.register(spark)
    // two members, one band key each, identical sets (Jaccard 1.0)
    def pairs(band: Int) = spark.sql(
      s"""SELECT verified_jaccard_pairs(
            array(struct(1L, array('x'), array_compact(array(7L, 8L))),
                  struct(2L, array('y'), array_compact(array(7L, 8L)))),
            $band, 0.5)""").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs(1) == Seq((1L, 2L)))
    Seq(3, 5000).foreach { band =>
      val e = illegalArgument(intercept[Exception](pairs(band)))
      Seq("verified_jaccard_pairs", s"band $band", "has 1").foreach(w =>
        assert(e.getMessage.contains(w), e.getMessage))
    }
    val neg = illegalArgument(intercept[Exception](pairs(-1)))
    assert(neg.getMessage.contains("verified_jaccard_pairs") &&
      neg.getMessage.contains("band -1"), neg.getMessage)
  }

  test("VerifiedEditPairs matches brute-force edit distance and skips " +
      "earlier-shared bands") {
    import spark.implicits._
    import graft.functions.EditDistance
    val frac = 0.2
    def run(band: Int, ms: Seq[(Long, Seq[String], String)])
        : Set[(Long, Long, Long, Long)] = {
      val df = Seq((band, ms)).toDF("band", "msraw")
        .select(col("band"), expr(
          "transform(msraw, m -> struct(m._1 AS doc_id, " +
            "array_compact(m._2) AS bkeys, m._3 AS text))").as("ms"))
      df.select(SetFunctions.verifiedEditPairs(col("ms"), col("band"), frac))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    }
    /** Every i<j pair sharing no band before `band`, within the cap. */
    def bruteForce(band: Int, ms: Seq[(Long, Seq[String], String)])
        : Set[(Long, Long, Long, Long)] =
      ms.combinations(2).collect { case Seq(x, y)
          if !(0 until band).exists(k => x._2(k) == y._2(k)) =>
        val d = EditDistance.distance(
          x._3.codePoints.toArray, y._3.codePoints.toArray)
        val maxLen = math.max(x._3.codePointCount(0, x._3.length),
          y._3.codePointCount(0, y._3.length))
        (math.min(x._1, y._1), math.max(x._1, y._1), d.toLong, maxLen.toLong,
          d <= frac * maxLen)
      }.collect { case (a, b, d, l, true) => (a, b, d, l) }.toSet
    val base = "the quick brown fox jumps over" // 30 code points, cap 6
    val members = Seq(
      (1L, Seq("x", "p", "r"), base),
      (2L, Seq("x", "q", "s"), base.replace("quick", "quack")),  // d 1
      (3L, Seq("y", "q", "t"), base),                            // == 1: d 0
      (4L, Seq("z", "w", "t"), base + "s and"),                  // gap 5 ≤ 7
      (5L, Seq("v", "u", "t"), base + " and runs"),              // gap 9 > 7
      (6L, Seq("o", "n", "m"), "ünïcödé " + base.drop(8)),       // 30 cps
      (7L, Seq("l", "k", "j"), "the QUICK brOwn fox jumps over")) // d 6 = cap
    (0 to 2).foreach { band =>
      assert(run(band, members) == bruteForce(band, members), s"band $band")
    }
    // equal texts verify at distance 0; a distance AT the cap verifies
    assert(run(0, members).contains((1L, 7L, 6L, 30L)))
    assert(run(0, members).contains((1L, 3L, 0L, 30L)))
    // band 1 skips (1,2), which shared band 0; band 2 also skips (2,3)
    assert(run(0, members).exists(p => p._1 == 1L && p._2 == 2L))
    assert(!run(1, members).exists(p => p._1 == 1L && p._2 == 2L))
    assert(run(1, members).exists(p => p._1 == 2L && p._2 == 3L))
    assert(!run(2, members).exists(p => p._1 == 2L && p._2 == 3L))
    // the length gate: a 9-code-point gap past the cap never verifies,
    // a 5-code-point gap inside it does
    assert(!run(0, members).exists(p => p._1 == 1L && p._2 == 5L))
    assert(run(0, members).contains((1L, 4L, 5L, 35L)))
    // unordered input yields ordered ids
    assert(run(0, members.reverse) == run(0, members))
    // singleton / empty buckets emit nothing
    assert(run(0, members.take(1)).isEmpty)
    assert(run(0, Nil).isEmpty)
    // a null member field fails loudly, naming the function
    val nullText = Seq((0, Seq((1L, Seq("x"), base), (2L, Seq("y"), null: String))))
      .toDF("band", "msraw")
      .select(col("band"), expr(
        "transform(msraw, m -> struct(m._1 AS doc_id, " +
          "array_compact(m._2) AS bkeys, m._3 AS text))").as("ms"))
    val e = illegalArgument(intercept[Exception](nullText
      .select(SetFunctions.verifiedEditPairs(col("ms"), col("band"), frac)).collect()))
    assert(e.getMessage.contains("verified_edit_pairs") &&
      e.getMessage.contains("null member field"), e.getMessage)
  }

  test("verify stage stays inside whole-stage codegen (no interpreted fallback)") {
    val df = docs.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        SetFunctions.shingleHashSet(col("text"), 3).as("hs"),
        SetFunctions.shingleHashSet(col("text"), 4).as("hs4"))
      .select(SetFunctions.jaccardSorted(col("hs"), col("hs4")).as("j"))
      .filter(col("j") >= 0.0)
    val code = org.apache.spark.sql.execution.debug
      .codegenString(df.queryExecution.executedPlan)
    assert(code.contains("ShingleHashSet.compute"))
    assert(code.contains("SortedSetOps.jaccard"))
  }
}
