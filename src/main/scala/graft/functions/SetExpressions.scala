package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native sorted-set kernels for the near-dup VERIFY stage (q72/q87,
  * q45/q84, q118, q122 — the exact-Jaccard / containment check that runs
  * once per banded candidate pair).
  *
  * Why these exist (tier (b) of the custom-operator ladder): the
  * compositional verify is `size(array_intersect(sh_a, sh_b)) /
  * size(array_union(sh_a, sh_b))` over `array_distinct`'d STRING shingle
  * arrays. That shape pays three ways at scale:
  *   1. the 3-word shingle STRINGS (~20-30 bytes each, ~1 per corpus
  *      token) shuffle through BOTH sides of the candidate join;
  *   2. `array_intersect`/`array_union` build a UTF8String hash set per
  *      PAIR — within-cluster candidate counts grow quadratically with
  *      cluster size, so at 10x corpus scale the per-pair set-build is
  *      where the wall time lives (measured: q72 3.2x at 10x);
  *   3. intersection and union each walk both arrays — two passes.
  *
  * [[ShingleHashSet]] collapses a document's verify payload to a SORTED
  * DISTINCT `array<long>` of 56-bit md5-prefix shingle hashes, built in
  * one pass per document map-side (~3.5x fewer shuffled bytes than the
  * string form on this corpus). [[IntersectCardSorted]] /
  * [[JaccardSorted]] then verify a pair with a single linear merge scan
  * — no per-pair allocation beyond the loop counters.
  *
  * BIT-PARITY CONTRACT (spec-locked; what keeps the DuckDB oracle
  * valid): the hash of shingle s is the first 14 hex digits of `md5(s)`
  * read as an unsigned 56-bit value — DuckDB replays it as
  * `CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT)`, Spark's
  * compositional twin is `conv(substring(md5(s), 1, 14), 16, 10)` —
  * over exactly the k-shingles of `split(text, ' ')` ([[ShinglesK]]
  * semantics: trailing empty tokens kept, fewer than k tokens yields an
  * empty array). Jaccard/containment over the hashed sets equals the
  * string-set value unless two DISTINCT shingles of the same document
  * pair collide in 56 bits (P ≈ n²/2^57 — at 10^6 distinct shingles
  * per doc pair, ~10^-5); both engines share any collision, so the
  * oracle comparison is exact even then. The reference's dedup
  * semantics (Jaccard over distinct shingle sets) is unchanged.
  */
case class ShingleHashSet(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_set"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column and k > 0, got ${child.dataType} / $k")

  override def nullSafeEval(t: Any): Any =
    ShingleHashSet.compute(t.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashSet.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSet =
    copy(child = newChild)
}

object ShingleHashSet {

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** Static entry the generated code calls. Returns the sorted distinct
    * 56-bit shingle-hash set; fewer than k tokens yields an empty array
    * (the twin of `array_distinct` over [[ShinglesK]]'s empty result).
    *
    * Operates on the UTF8String's UTF-8 BYTES directly — no String
    * decode, no split array, no per-shingle StringBuilder (the former
    * String round-trip was the dominant map-side allocation of the
    * verify stage at 100× stress). The hash contract is unchanged: the
    * md5 input of shingle `w_i .. w_{i+k-1}` is the byte run from the
    * start of token i to the end of token i+k-1, which IS the UTF-8
    * encoding of the space-joined shingle, because the separator is the
    * single byte 0x20 and (in UTF-8) 0x20 can only BE the space
    * character — multi-byte sequences all have the high bit set. Token
    * boundaries from byte-level 0x20 scanning ([[Utf8Tokens]]) therefore
    * equal `String.split(" ", -1)`'s (empty tokens included), and each
    * shingle's digest equals `md5(utf8(w_i + " " + .. + w_{i+k-1}))`
    * bit for bit.
    */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val b = text.getBytes // one bounded copy per row; no decode
    val starts = Utf8Tokens.starts(b, k)
    if (starts == null) return ArrayData.toArrayData(Array.empty[Long])
    val n = starts.length - k
    val md = digests.get()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val from = starts(i)
      md.reset()
      md.update(b, from, starts(i + k) - 1 - from)
      val h = md.digest()
      // first 14 hex digits == first 7 bytes, read unsigned big-endian
      hs(i) = ((h(0) & 0xffL) << 48) | ((h(1) & 0xffL) << 40) |
        ((h(2) & 0xffL) << 32) | ((h(3) & 0xffL) << 24) |
        ((h(4) & 0xffL) << 16) | ((h(5) & 0xffL) << 8) | (h(6) & 0xffL)
      i += 1
    }
    java.util.Arrays.sort(hs)
    // dedupe in place on the sorted run
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    ArrayData.toArrayData(if (w == n) hs else java.util.Arrays.copyOf(hs, w))
  }
}

/** Shared input contract of the sorted-set binary kernels: both children
  * must be `array<long>` with non-null elements, sorted strictly
  * increasing ([[ShingleHashSet]]'s output). Element nullability is
  * rejected at ANALYSIS time — the merge scan reads elements with
  * `getLong`, which would silently read a null slot as garbage 0
  * (the VectorSub lesson, enforced here the hard way because nothing
  * in these kernels' pipelines produces nullable-element long arrays).
  */
trait SortedSetBinary extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<bigint> columns with non-null " +
          s"elements (sorted distinct, e.g. shingle_hash_set output), got $l / $r")
    }
}

/** |A ∩ B| of two sorted distinct long arrays — one merge scan. */
case class IntersectCardSorted(left: Expression, right: Expression)
    extends SortedSetBinary {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "intersect_card_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedSetOps.intersectCard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedSetOps.intersectCard($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntersectCardSorted = copy(left = newLeft, right = newRight)
}

/** Jaccard |A∩B| / |A∪B| of two sorted distinct long arrays in one merge
  * scan. Both empty (the only zero-union case) yields NULL — the twin of
  * `size(array_intersect) / size(array_union)`'s 0/0 under ANSI-off
  * division, and of DuckDB's NULL on 0/0.
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends SortedSetBinary {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedSetOps.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}Box = graft.functions.SortedSetOps.jaccard($a, $b);
         |if (${ev.value}Box == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Box.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): JaccardSorted = copy(left = newLeft, right = newRight)
}

/** The bucket walk both bucket-local verify generators share: takes a
  * collected LSH bucket — `array<struct<doc_id, bkeys, payload>>`, the
  * members of one (band, bkey) group — plus the bucket's band index,
  * and emits one row per i<j member pair the subclass's [[verify]]
  * keeps, ids ordered asc.
  *
  * Why a generator instead of `pair_combinations` → filter (tier (b→c)
  * escalation, measured): the compositional form materializes BOTH
  * members' full payloads — two shingle sets or texts, ~KBs — into an
  * unsafe row for EVERY i<j pair before the filter can drop it.
  * Within-bucket pair count is quadratic in bucket size, so at 100×
  * replica scale that copy stream was the q72 wall time (~82 s warm,
  * CPU-bound, after the shuffle was already linear). Here each member's
  * id, earlier band keys and payload are read ONCE per bucket into
  * object arrays and each pair costs one [[verify]] call; only the
  * surviving rows ever exist downstream.
  *
  * A pair is verified at its FIRST shared band only: pairs whose
  * `bkeys` already matched at an earlier band index are skipped (they
  * were emitted by that band's bucket), so each candidate pair costs
  * one verify across the whole job, not one per shared band, and the
  * output is duplicate-free without a distinct. The band index comes
  * from the caller, so it is checked: a negative band, or a member
  * carrying fewer band keys than the band index, throws instead of
  * reading past the key array.
  *
  * The threshold of each subclass is a constructor literal, not an
  * evaluated child: it is fixed per plan.
  */
abstract class BucketPairWalk[P <: AnyRef] extends Expression with Generator
    with CodegenFallback {

  def members: Expression
  def band: Expression

  /** The member struct's third field: its type, and how the type-check
    * message and the null-field error name it. */
  protected def payloadType: DataType
  protected def payloadSql: String
  protected def payloadName: String

  /** Reads member `m`'s payload (struct field 2, non-null) once per
    * bucket. */
  protected def load(m: InternalRow): P

  /** The output row for the pair (`lo` < `hi` ids, or equal), or null
    * when the pair does not verify. */
  protected def verify(a: P, b: P, lo: Long, hi: Long): InternalRow

  final override def children: Seq[Expression] = Seq(members, band)

  override def checkInputDataTypes(): TypeCheckResult =
    (members.dataType, band.dataType) match {
      // containsNull = false REQUIRED on the members array and on the
      // band-key array (mirroring the shset element constraint): eval
      // reads them with getStruct/getUTF8String and a null element
      // arriving via the public SQL surface would NPE the task. The
      // producing plans (collect_list of struct over array(concat_ws..))
      // are non-null by construction, so this rejects only genuinely
      // unsafe inputs — at analysis time, with a message, instead of at
      // run time with a stack trace.
      case (ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(StringType, false), _, _),
            StructField(_, pt, _, _))), false),
          IntegerType) if pt == payloadType =>
        TypeCheckResult.TypeCheckSuccess
      case (m, b) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<struct<long, array<string> non-null " +
          s"elems, $payloadSql>> non-null elems, int), got ($m, $b)")
    }

  final override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = members.eval(input)
    val bandV = band.eval(input)
    if (v == null || bandV == null) return Iterator.empty
    val bandIdx = bandV.asInstanceOf[Int]
    if (bandIdx < 0)
      throw new IllegalArgumentException(s"$prettyName: band $bandIdx is negative")
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) return Iterator.empty
    // one materialization per bucket: ids, earlier band keys, payloads
    val ids = new Array[Long](n)
    val earlier = new Array[Array[UTF8String]](n)
    val payloads = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      val m = arr.getStruct(i, 3)
      // the element types are non-null by the analysis check; the struct
      // FIELDS can still be nullable-typed (parquet ids are), so a null
      // field fails loudly here instead of as a garbage getLong read or
      // an NPE inside the verify
      if (m.isNullAt(0) || m.isNullAt(1) || m.isNullAt(2))
        throw new IllegalArgumentException(
          s"$prettyName: null member field in bucket struct " +
            s"(doc_id/bkeys/$payloadName must all be non-null)")
      ids(i) = m.getLong(0)
      val bk = m.getArray(1)
      if (bk.numElements() < bandIdx)
        throw new IllegalArgumentException(
          s"$prettyName: band $bandIdx needs $bandIdx earlier band keys per " +
            s"member, doc_id ${ids(i)} has ${bk.numElements()}")
      val e = new Array[UTF8String](bandIdx)
      var k = 0
      while (k < bandIdx) { e(k) = bk.getUTF8String(k); k += 1 }
      earlier(i) = e
      payloads(i) = load(m)
      i += 1
    }
    new Iterator[InternalRow] {
      private var ii = 0
      private var jj = 1
      private var nextRow: InternalRow = advance()
      private def advance(): InternalRow = {
        while (ii < n - 1) {
          val a = ii
          val b = jj
          jj += 1
          if (jj == n) { ii += 1; jj = ii + 1 }
          var shared = false
          var k = 0
          while (!shared && k < bandIdx) {
            if (earlier(a)(k).equals(earlier(b)(k))) shared = true
            k += 1
          }
          if (!shared) {
            val row = verify(payloads(a).asInstanceOf[P], payloads(b).asInstanceOf[P],
              math.min(ids(a), ids(b)), math.max(ids(a), ids(b)))
            if (row != null) return row
          }
        }
        null
      }
      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow; nextRow = advance(); r
      }
    }
  }
}

/** Bucket-local near-dup Jaccard verification: members carry their
  * sorted shingle-hash set (`array<bigint>`, [[ShingleHashSet]]'s
  * output); emits `struct<doc_a, doc_b>` for every pair whose
  * merge-scan Jaccard meets `threshold`.
  */
case class VerifiedJaccardPairs(members: Expression, band: Expression,
    threshold: Double)
    extends BucketPairWalk[ArrayData] {

  override def prettyName: String = "verified_jaccard_pairs"

  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false)))

  override protected def payloadType: DataType = ArrayType(LongType, containsNull = false)
  override protected def payloadSql: String = "array<bigint> non-null elems"
  override protected def payloadName: String = "shset"

  override protected def load(m: InternalRow): ArrayData = m.getArray(2)

  override protected def verify(a: ArrayData, b: ArrayData, lo: Long,
      hi: Long): InternalRow = {
    val jac = SortedSetOps.jaccard(a, b)
    if (jac != null && jac.doubleValue() >= threshold) InternalRow(lo, hi)
    else null
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VerifiedJaccardPairs =
    copy(members = newChildren(0), band = newChildren(1))
}

/** A bucket member's text with its code points, converted once per
  * bucket and shared across the member's pairs. */
final class CodePointText(val utf8: UTF8String) {
  val cps: Array[Int] = EditDistance.toCodePoints(utf8)
}

/** Bucket-local EDIT-DISTANCE verification — [[VerifiedJaccardPairs]]'
  * twin for q152, with the text payload in place of the shingle set;
  * emits `struct<doc_a, doc_b, edit_dist, max_len>` for every pair
  * within `distFrac` × the longer text.
  *
  * Why: the compose-then-join form shipped BOTH pair texts through two
  * pair-keyed exchanges — quadratic in clone-cluster size (measured at
  * 100× replica scale: 2.6 GB shuffle + 2.0 GB spill, 147 s warm). Here
  * a doc's text crosses the wire once per band; pairs expand, band-skip,
  * and verify inside the generator.
  *
  * Per-pair cost discipline: a pair whose length difference alone
  * exceeds `distFrac × max_len` is rejected before any DP (edit distance
  * ≥ length difference); byte-equal texts short-cut to distance 0;
  * everything else runs the bounded bit-parallel Myers kernel
  * ([[EditDistance.distanceBounded]]), which abandons a non-matching
  * long pair after ~cap columns and is exact when kept.
  */
case class VerifiedEditPairs(members: Expression, band: Expression,
    distFrac: Double)
    extends BucketPairWalk[CodePointText] {

  override def prettyName: String = "verified_edit_pairs"

  override def elementSchema: StructType = StructType(Seq(
    StructField("doc_a", LongType, nullable = false),
    StructField("doc_b", LongType, nullable = false),
    StructField("edit_dist", LongType, nullable = false),
    StructField("max_len", LongType, nullable = false)))

  override protected def payloadType: DataType = StringType
  override protected def payloadSql: String = "string"
  override protected def payloadName: String = "text"

  override protected def load(m: InternalRow): CodePointText =
    new CodePointText(m.getUTF8String(2))

  override protected def verify(a: CodePointText, b: CodePointText, lo: Long,
      hi: Long): InternalRow = {
    val la = a.cps.length
    val lb = b.cps.length
    val maxLen = math.max(la, lb)
    val cap = distFrac * maxLen
    // length gate: dist >= |la - lb|, so a gap past the cap can never
    // verify — no DP
    if (math.abs(la - lb) > cap) return null
    val dist =
      if (a.utf8.equals(b.utf8)) 0
      else EditDistance.distanceBounded(a.cps, b.cps, math.floor(cap).toInt)
    if (dist >= 0 && dist <= cap) InternalRow(lo, hi, dist.toLong, maxLen.toLong)
    else null
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VerifiedEditPairs =
    copy(members = newChildren(0), band = newChildren(1))
}

object SortedSetOps {

  /** Merge-scan |A ∩ B|; inputs must be sorted distinct. */
  def intersectCard(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter
  }

  /** Merge-scan Jaccard; null when both sets are empty (0/0). */
  def jaccard(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val union0 = na + nb
    if (union0 == 0) return null
    val inter = intersectCard(a, b)
    java.lang.Double.valueOf(inter.toDouble / (union0 - inter))
  }
}

object SetFunctions {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column API for [[ShingleHashSet]]. */
  def shingleHashSet(text: Column, k: Int): Column =
    GraftSqlBridge.column(ShingleHashSet(GraftSqlBridge.expression(text), k))

  /** Column API for [[IntersectCardSorted]]. */
  def intersectCardSorted(a: Column, b: Column): Column =
    GraftSqlBridge.column(IntersectCardSorted(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Column API for [[JaccardSorted]]. */
  def jaccardSorted(a: Column, b: Column): Column =
    GraftSqlBridge.column(JaccardSorted(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Generator Column for [[VerifiedJaccardPairs]]:
    * `df.select(SetFunctions.verifiedJaccardPairs(col("ms"), col("band"), 0.5))`
    * yields columns `doc_a`, `doc_b` — one row per verified pair.
    */
  def verifiedJaccardPairs(members: Column, band: Column,
      threshold: Double): Column =
    GraftSqlBridge.column(VerifiedJaccardPairs(
      GraftSqlBridge.expression(members), GraftSqlBridge.expression(band),
      threshold))

  /** Generator Column for [[VerifiedEditPairs]]: yields `doc_a`,
    * `doc_b`, `edit_dist`, `max_len` — one row per edit-verified pair.
    */
  def verifiedEditPairs(members: Column, band: Column,
      distFrac: Double): Column =
    GraftSqlBridge.column(VerifiedEditPairs(
      GraftSqlBridge.expression(members), GraftSqlBridge.expression(band),
      distFrac))

  /** SQL surface for the set kernels (`shingle_hash_set`,
    * `intersect_card_sorted`, `jaccard_sorted`) and the
    * `verified_jaccard_pairs` generator — the same expressions the
    * Column API binds.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    GraftSqlBridge.registerFunction(spark, "shingle_hash_set", { exprs =>
      require(exprs.length == 2,
        s"shingle_hash_set(text, k) got ${exprs.length} args")
      ShingleHashSet(exprs.head,
        exprs(1).eval(null).asInstanceOf[Number].intValue)
    })
    def binary(name: String,
        make: (Expression, Expression) => Expression): Unit =
      GraftSqlBridge.registerFunction(spark, name, { exprs =>
        require(exprs.length == 2,
          s"$name takes exactly 2 array arguments, got ${exprs.length}")
        make(exprs(0), exprs(1))
      })
    binary("intersect_card_sorted", IntersectCardSorted(_, _))
    binary("jaccard_sorted", JaccardSorted(_, _))
    // generator: the analyzer lifts it into a Generate node like explode
    GraftSqlBridge.registerFunction(spark, "verified_jaccard_pairs", { exprs =>
      require(exprs.length == 3,
        s"verified_jaccard_pairs(members, band, threshold) got ${exprs.length} args")
      // threshold is baked into the generator at construction, so it
      // must be evaluable WITHOUT a row — demand foldability up front
      // (eval(null) on a non-foldable arg fails with an opaque NPE)
      require(exprs(2).foldable,
        "verified_jaccard_pairs threshold must be a literal (foldable) " +
          s"expression, got ${exprs(2).sql}")
      // SQL numeric literals arrive as Decimal, not java.lang.Number
      VerifiedJaccardPairs(exprs(0), exprs(1), exprs(2).eval(null) match {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: Number => n.doubleValue
        case other => throw new IllegalArgumentException(
          s"verified_jaccard_pairs threshold must be numeric, got $other")
      })
    })
  }
}
