package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native fused MinHash signature over a text column: tokenizes, forms
  * 3-word shingles, and takes the per-seed minimum of the md5-derived
  * 32-bit hash — all in one tight loop per row.
  *
  * Why an Expression (tier (b) of the custom-operator ladder): the
  * compositional form `array_min(transform(shingles3(split(text)), s =>
  * seededHash(j, s)))` is built from higher-order array functions, which
  * are CodegenFallback in Spark — every element evaluation walks the
  * interpreted expression tree (measured ~10µs/element on this corpus's
  * 3-word shingles). Per document that is O(words × seeds) interpreted
  * steps, and it executes inside the SCAN stage, which has one task per
  * parquet row group — on a 10⁹-document corpus the signature projection
  * becomes the pipeline's bottleneck. This expression does the same math
  * as straight-line JVM code (~100× less per-shingle overhead) and keeps
  * the projection inside whole-stage codegen via a static call.
  *
  * BIT-PARITY CONTRACT (spec-locked, and what keeps the DuckDB oracle
  * valid): for seed j and shingle s the hash is the first 8 hex digits
  * of `md5(j + "|" + s)` read as an unsigned 32-bit value — exactly
  * [[graft.operators.TextOps.seededHash]] — over exactly the shingles
  * `concat_ws(" ", ws[i], ws[i+1], ws[i+2])` of `split(text, " ")`
  * (trailing empty tokens kept, same as Spark's split with limit -1).
  * Fewer than 3 tokens yields null, matching `array_min` over the
  * guarded empty shingle array.
  */
case class MinHashSig(child: Expression, nHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && nHashes > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column and nHashes > 0, " +
        s"got ${child.dataType} / $nHashes")

  override def nullSafeEval(t: Any): Any =
    MinHashSig.compute(t.asInstanceOf[UTF8String], nHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinHashSig.compute($c, $nHashes);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Maximal multiplicity among the 32-bit md5 hashes of the text's word
  * k-shingles — the per-doc "most frequent k-gram mass" numerator of
  * the intra-doc repetition filters (q164), as ONE codegen'd map-side
  * call. The compositional twin (explode k-grams → hash32 →
  * count per (doc, hash) → max per doc) shuffles the full k-gram
  * stream and aggregates ~|corpus k-grams| distinct keys — measured
  * 3.5 GB shuffle + 6.9 GB spill at the 5M-doc decade, ALL of which
  * this expression deletes (per-doc work is O(L) with a bounded local
  * map; no exchange at all). Hash law identical to TextOps.hash32 ∘
  * ShinglesK (spec-locked): md5 of the space-joined shingle, first 4
  * digest bytes unsigned big-endian. Fewer than k tokens → 0.
  */
case class TopShingleCount(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "top_shingle_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column and k > 0, got ${child.dataType} / $k")

  override def nullSafeEval(t: Any): Any =
    TopShingleCount.compute(t.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TopShingleCount.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): TopShingleCount =
    copy(child = newChild)
}

object TopShingleCount {

  /** Static entry the generated code calls. */
  def compute(text: UTF8String, k: Int): Long = {
    val ws = text.toString.split(" ", -1)
    if (ws.length < k) return 0L
    val md = Md5.scratch()
    val counts = new java.util.HashMap[Long, Int]()
    var max = 0
    var i = 0
    val n = ws.length - k + 1
    while (i < n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      md.start()
      md.update(sb.toString.getBytes(StandardCharsets.UTF_8))
      val v = md.first(4)
      val c = counts.merge(v, 1, (a, b) => a + b)
      if (c > max) max = c
      i += 1
    }
    max.toLong
  }
}

object MinHashSig {

  // seed prefixes `j + "|"` as pre-encoded ASCII bytes — the digest input
  // (j + "|" + shingle) is the concatenation of this prefix with the
  // shingle's UTF-8 byte run, so the per-(shingle, seed) String build +
  // re-encode of the old form is pure overhead with an identical digest
  private val seedPrefixes: Array[Array[Byte]] =
    Array.tabulate(64)(j => (j.toString + "|").getBytes(StandardCharsets.UTF_8))
  private def seedPrefix(j: Int): Array[Byte] =
    if (j < 64) seedPrefixes(j)
    else (j.toString + "|").getBytes(StandardCharsets.UTF_8)

  /** Static entry the generated code calls (Scala emits a static
    * forwarder on the companion class). Returns null for < 3 tokens.
    *
    * Operates on the UTF8String's UTF-8 BYTES directly (the
    * [[ShingleHashSet]] discipline): token boundaries come from
    * [[Utf8Tokens]], and the byte run from the start of token i to
    * the end of token i+2 IS the UTF-8 encoding of the space-joined
    * 3-shingle. The digest therefore equals
    * `md5(utf8(j + "|" + w_i + " " + w_{i+1} + " " + w_{i+2}))` bit for
    * bit — the spec-locked oracle contract — while the former
    * per-(shingle, seed) String concat + getBytes (8 allocations and
    * UTF-8 encodes of the same shingle per position at nHashes = 8) and
    * the per-call digest allocation are gone. This projection runs
    * inside the SCAN stage (one task per parquet row group), so its
    * constant factor is the edge pipeline's map-side floor.
    */
  def compute(text: UTF8String, nHashes: Int): ArrayData = {
    val b = text.getBytes
    val starts = Utf8Tokens.starts(b, 3)
    if (starts == null) return null
    val md = Md5.scratch()
    val mins = Array.fill(nHashes)(Long.MaxValue)
    val n = starts.length - 3
    var i = 0
    while (i < n) {
      val from = starts(i)
      val slen = starts(i + 3) - 1 - from
      var j = 0
      while (j < nHashes) {
        md.start()
        md.update(seedPrefix(j))
        md.update(b, from, slen)
        // first 8 hex digits == first 4 bytes
        val v = md.first(4)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }
}

/** Native word k-shingles from a text column — the array-expression twin
  * of `TextOps.shinglesK(TextOps.tokens(text), k)` with identical output
  * (same strings, same order, same multiplicity; fewer than k tokens
  * yields an empty array). Exists for the same reason as [[MinHashSig]]:
  * the HOF form interprets its lambda per shingle inside the scan stage.
  */
case class ShinglesK(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles_k"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column and k > 0, got ${child.dataType} / $k")

  override def nullSafeEval(t: Any): Any =
    ShinglesK.compute(t.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShinglesK.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesK =
    copy(child = newChild)
}

object ShinglesK {
  def compute(text: UTF8String, k: Int): ArrayData = {
    val ws = text.toString.split(" ", -1)
    if (ws.length < k) return ArrayData.toArrayData(Array.empty[UTF8String])
    val n = ws.length - k + 1
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Word k-shingles as GENERATED ROWS — the fused twin of
  * `explode(ShinglesK(text, k))`, emitting one `sh` row per shingle
  * (null text or fewer than k tokens emits nothing, exactly as explode
  * over the null/empty array would).
  *
  * Why a Generator and not explode-over-the-expression: Catalyst's
  * `InferFiltersFromGenerate` synthesizes `size(<input>) > 0` from any
  * ExplodeBase and predicate pushdown inlines the full input expression
  * into that Filter — with `explode(shingles_k(text, 3))` the shingle
  * kernel runs TWICE per doc in the scan stage (once in the inferred
  * filter, once in the generate). The rule matches only the explode
  * family, so a custom Generator sidesteps the double-eval structurally
  * (no materialize-then-explode projection to keep un-collapsed), and
  * skips the intermediate array allocation as well.
  */
case class ShingleRows(child: Expression, k: Int)
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "shingle_rows"

  override def elementSchema: StructType = StructType(Seq(
    StructField("sh", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column and k > 0, got ${child.dataType} / $k")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) return Iterator.empty
    val arr = ShinglesK.compute(t.asInstanceOf[UTF8String], k)
    val n = arr.numElements()
    if (n == 0) Iterator.empty
    else new Iterator[InternalRow] {
      private var i = 0
      override def hasNext: Boolean = i < n
      override def next(): InternalRow = {
        val r = InternalRow(arr.getUTF8String(i)); i += 1; r
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ShingleRows =
    copy(child = newChildren(0))
}

/** DISTINCT word-k-gram 32-bit hashes as ONE codegen'd array — the fused
  * twin of `array_distinct(shingles_k(text, k))` mapped through
  * `TextOps.hash32(gram)`, to be exploded into one `g` row per distinct
  * k-gram (null text yields null, fewer than k tokens an empty array —
  * explode emits nothing for either, exactly as the old form's
  * `size(tokens) >= k` pre-filter arranged).
  *
  * Why (r19, guide §1.2 per-task work): the compositional form
  * materializes one UTF8String per k-gram POSITION (ShinglesK), walks
  * them again for `array_distinct` (quadratic element-compares in
  * Spark's implementation), and then pays the builtin `md5` chain per
  * surviving gram — digest → 32-char hex string → substring → conv
  * parse — TWICE per gram when a downstream join's inferred
  * `isnotnull(g)` filter inlines the chain (visible in the r18 q88/q101
  * plans). This kernel walks the text's UTF-8 bytes once (the
  * [[MinHashSig]] byte-boundary discipline: a k-gram IS the byte run
  * from token i's start to token i+k-1's end), dedupes EXACTLY on the
  * gram byte runs via an open-addressing probe (two distinct grams that
  * collide in 32-bit hash space still emit two values — identical
  * multiset to `array_distinct` over the materialized strings), and
  * reads each hash straight off the first 4 digest bytes. An ARRAY
  * expression behind the builtin explode, not a custom Generator: the
  * builtin explode keeps GenerateExec inside whole-stage codegen (a
  * CodegenFallback Generator forces an interpreted boundary and one
  * boxed InternalRow per gram — measured +12% on q101), and Spark 4.1's
  * InferFiltersFromGenerate does not inline non-trivial generate inputs
  * into a synthesized filter (checked in the before/after plans), so
  * the ShingleRows double-eval concern does not apply here. After the
  * explode, `g` is a non-null attribute, so the old inferred
  * `isnotnull(md5-chain)` re-computation disappears structurally.
  *
  * BIT-PARITY CONTRACT (spec-locked, oracle-critical): each element
  * equals `conv(substring(md5(gram), 1, 8), 16, 10)` — the first 4 md5
  * bytes of the gram's UTF-8 read as an unsigned 32-bit big-endian
  * value — over exactly the distinct space-joined k-grams of
  * `split(text, " ")` in first-occurrence order.
  */
case class GramHashArray(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hash_array"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column and k > 0, got ${child.dataType} / $k")

  override def nullSafeEval(t: Any): Any =
    ArrayData.toArrayData(GramHashArray.compute(t.asInstanceOf[UTF8String], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(" +
        s"graft.functions.GramHashArray.compute($c, $k))")

  override protected def withNewChildInternal(newChild: Expression): GramHashArray =
    copy(child = newChild)
}

/** The repo's 32-bit md5 hash law as ONE codegen'd call:
  * `conv(substring(md5(s), 1, 8), 16, 10)` — the first 4 md5 bytes of
  * the string's UTF-8 read as an unsigned 32-bit big-endian long —
  * without the builtin chain's intermediate 32-char hex string,
  * substring, and radix parse (r19, guide §1.2). Bit-identical to
  * [[graft.operators.TextOps.hash32]] (spec-locked in TextExprSpec);
  * exists for per-ROW-EXPLODED hot paths (q127's per-shingle sampling
  * filter) where the hex chain runs once per generated row.
  */
case class Md5Hash32(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_hash32"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType}")

  override def nullSafeEval(t: Any): Any =
    Md5Hash32.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Hash32.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Hash32 =
    copy(child = newChild)
}

/** The per-thread MD5 scratch every hashing kernel shares: one digest
  * and one 16-byte output, so no digest allocates (a kernel hashes
  * once per shingle, gram or token). Use: [[start]], feed bytes with
  * [[update]], then read the digest's leading bytes with [[first]].
  */
private[functions] final class Md5 private {
  private val md = MessageDigest.getInstance("MD5")
  private val out = new Array[Byte](16)

  /** Begin a new digest. */
  def start(): Unit = md.reset()
  def update(b: Array[Byte]): Unit = md.update(b)
  def update(b: Array[Byte], from: Int, len: Int): Unit = md.update(b, from, len)
  /** End the digest; its first `nBytes` (≤ 8) as one unsigned big-endian
    * number — the value of its first `2 · nBytes` hex digits.
    */
  def first(nBytes: Int): Long = {
    md.digest(out, 0, 16)
    var v = 0L
    var i = 0
    while (i < nBytes) { v = (v << 8) | (out(i) & 0xffL); i += 1 }
    v
  }
}

private[functions] object Md5 {
  private val perThread = ThreadLocal.withInitial[Md5](() => new Md5)
  /** The calling thread's scratch. */
  def scratch(): Md5 = perThread.get()
}

/** Token boundaries of a UTF-8 text split on the single byte 0x20: they
  * equal `String.split(" ", -1)`'s, empty tokens included, because 0x20
  * can only BE the space character in UTF-8 (every byte of a multi-byte
  * sequence has the high bit set).
  */
private[functions] object Utf8Tokens {

  /** `starts(j)` = byte offset of token j, plus the sentinel
    * `starts(nTok) = b.length + 1`, so `starts(i + k) - 1` uniformly names
    * the end of token i+k-1 (the offset of the separating space, or
    * `b.length` for the last token); the token count is
    * `starts.length - 1`. Null below `minTokens` tokens.
    */
  def starts(b: Array[Byte], minTokens: Int): Array[Int] = {
    val len = b.length
    var nTok = 1
    var i = 0
    while (i < len) { if (b(i) == 0x20) nTok += 1; i += 1 }
    if (nTok < minTokens) return null
    val starts = new Array[Int](nTok + 1)
    var t = 1
    i = 0
    while (i < len) { if (b(i) == 0x20) { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(nTok) = len + 1
    starts
  }
}

object Md5Hash32 {

  def compute(s: UTF8String): Long = {
    val md = Md5.scratch()
    md.start()
    md.update(s.getBytes)
    md.first(4)
  }
}

object GramHashArray {

  /** Distinct k-gram hashes in first-occurrence order. Token boundaries
    * come from [[Utf8Tokens]]; dedup probes compare the gram BYTE RUNS
    * themselves, so distinctness is exactly string distinctness; md5
    * runs once per distinct gram.
    */
  def compute(text: UTF8String, k: Int): Array[Long] = {
    val b = text.getBytes
    val starts = Utf8Tokens.starts(b, k)
    if (starts == null) return Array.emptyLongArray
    val n = starts.length - k
    // open-addressing table at load ≤ 0.5; slots hold position + 1
    val cap = Integer.highestOneBit(math.max(4, 2 * n - 1)) << 1
    val mask = cap - 1
    val table = new Array[Int](cap)
    val md = Md5.scratch()
    val out = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val from = starts(i)
      val glen = starts(i + k) - 1 - from
      val end = from + glen
      // FNV-1a over the gram bytes — table placement only; never emitted
      var h = 0x811c9dc5
      var p = from
      while (p < end) { h = (h ^ (b(p) & 0xff)) * 0x01000193; p += 1 }
      var slot = h & mask
      var dup = false
      var probing = true
      while (probing) {
        val e = table(slot)
        if (e == 0) { table(slot) = i + 1; probing = false }
        else {
          val ef = starts(e - 1)
          val el = starts(e - 1 + k) - 1 - ef
          if (el == glen &&
              java.util.Arrays.equals(b, ef, ef + glen, b, from, end)) {
            dup = true; probing = false
          } else slot = (slot + 1) & mask
        }
      }
      if (!dup) {
        md.start()
        md.update(b, from, glen)
        // first 8 hex digits == first 4 bytes
        out(m) = md.first(4)
        m += 1
      }
      i += 1
    }
    if (m == n) out else java.util.Arrays.copyOf(out, m)
  }
}

/** Native 32-bit SimHash over the whitespace tokens of a text column —
  * twin of `TextOps.simhash32(tokens(text))` (seed = None) and
  * `TextOps.simhash32Seeded(s, tokens(text))` (seed = Some(s)). The HOF
  * form interprets a 32-bit-test filter PER BIT over the token-hash
  * array (32 interpreted passes per document); this computes all bit
  * counts in one pass per token.
  */
case class SimHash32(child: Expression, seed: Option[Int])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType}")

  override def nullSafeEval(t: Any): Any =
    SimHash32.compute(t.asInstanceOf[UTF8String], seed.map(_.toString).orNull)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedLit = seed.map(s => s""""$s"""").getOrElse("null")
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash32.compute($c, $seedLit)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
}

object SimHash32 {

  /** seedPrefix null → unseeded md5(w); else md5(seedPrefix + "|" + w).
    * Bit b of the result is set when more than half the token hashes
    * have bit b set — identical to the HOF accumulation.
    */
  def compute(text: UTF8String, seedPrefix: String): Long = {
    val ws = text.toString.split(" ", -1)
    val md = Md5.scratch()
    val counts = new Array[Int](32)
    var i = 0
    while (i < ws.length) {
      val in = if (seedPrefix == null) ws(i) else seedPrefix + "|" + ws(i)
      md.start()
      md.update(in.getBytes(StandardCharsets.UTF_8))
      val v = md.first(4)
      var b = 0
      while (b < 32) {
        if (((v >> b) & 1L) == 1L) counts(b) += 1
        b += 1
      }
      i += 1
    }
    val n = ws.length
    var out = 0L
    var b = 0
    while (b < 32) {
      if (counts(b) * 2 > n) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Native character-bigram profile scorer for the lang-id ladder's third
  * rung (q107): one pass over the text's code points computing, for each
  * language profile, `hits / (len - 1)` — the fraction of the text's
  * bigrams that appear in that profile.
  *
  * Why an Expression (tier (b), same rationale as [[MinHashSig]]): the
  * compositional form materializes the bigram array through an
  * interpreted `transform` (one lambda dispatch per CHARACTER position)
  * and then runs one interpreted `filter` pass per profile — 1 + P
  * CodegenFallback HOF walks per document inside the scan stage. This
  * kernel extracts each bigram once and tests all P profile hash-sets in
  * the same tight loop behind a single codegen'd static call.
  *
  * BIT-PARITY CONTRACT (spec-locked): bigrams are the CODE-POINT pairs
  * `substr(text, i, 2), i = 1..length(text)-1` — `length`/`substr`
  * index code points in both engines, so astral-plane characters form
  * single bigram positions, never surrogate halves. Scores are IEEE
  * double `hits.toDouble / (length-1).toDouble`, identical to Spark's
  * int/int `Divide` promotion. Texts with fewer than 2 code points have
  * no bigrams and yield a null score array (q107 filters them out ahead
  * of the projection; under ANSI the HOF form's 0/0 would instead
  * raise, so the kernel must sit behind the same `length >= 2` guard).
  */
case class BigramProfileScores(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "bigram_profile_scores"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && profiles.nonEmpty)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column and at least one profile, " +
        s"got ${child.dataType} / ${profiles.length} profiles")

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    BigramProfileScores.prepare(profiles)

  override def nullSafeEval(t: Any): Any =
    BigramProfileScores.compute(t.asInstanceOf[UTF8String], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("bigramProfiles",
      BigramProfileScores.prepare(profiles), "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = graft.functions.BigramProfileScores.compute($c, $setsRef);
       |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BigramProfileScores =
    copy(child = newChild)
}

object BigramProfileScores {

  def prepare(profiles: Seq[Seq[String]]): Array[java.util.HashSet[String]] =
    profiles.map { p =>
      val s = new java.util.HashSet[String](p.length * 2)
      p.foreach(s.add)
      s
    }.toArray

  /** Static kernel (codegen calls this directly). Null when the text has
    * fewer than 2 code points (no bigrams — callers guard, see contract).
    */
  def compute(t: UTF8String, sets: Array[java.util.HashSet[String]]): ArrayData = {
    val s = t.toString
    // code-point start offsets: starts(i) = UTF-16 offset of code point i
    val len = s.length
    val n = s.codePointCount(0, len)
    if (n < 2) return null
    val starts = new Array[Int](n + 1)
    var off = 0
    var cp = 0
    while (off < len) {
      starts(cp) = off
      off += Character.charCount(s.codePointAt(off))
      cp += 1
    }
    starts(n) = len
    val hits = new Array[Int](sets.length)
    var i = 0
    while (i < n - 1) {
      val bg = s.substring(starts(i), starts(i + 2))
      var p = 0
      while (p < sets.length) {
        if (sets(p).contains(bg)) hits(p) += 1
        p += 1
      }
      i += 1
    }
    val total = (n - 1).toDouble
    val out = new Array[Double](hits.length)
    var q = 0
    while (q < hits.length) {
      out(q) = hits(q) / total
      q += 1
    }
    ArrayData.toArrayData(out)
  }
}

/** Unicode NFC normalization — the canonicalization stage of exact
  * dedup. Exact-hash dedup (q40) treats composed "é" (U+00E9) and
  * decomposed "e"+U+0301 as DIFFERENT documents even though every
  * renderer shows the same text; normalizing to NFC before hashing
  * collapses those phantom variants. Spark has no builtin for this;
  * DuckDB's `nfc_normalize` replays it for the oracle (both sides
  * implement Unicode's canonical composition, which is stable across
  * versions for assigned code points).
  *
  * One pass, codegen'd static call; the common case (already-normalized
  * text — all ASCII is) is detected with `Normalizer.isNormalized` and
  * returns the input UTF8String without re-encoding.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType}")

  override def nullSafeEval(t: Any): Any =
    NfcNormalize.compute(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

object TextFunctions {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column API for [[NfcNormalize]]. */
  def nfcNormalize(text: Column): Column =
    GraftSqlBridge.column(NfcNormalize(GraftSqlBridge.expression(text)))

  /** Column API for [[MinHashSig]]: the n-component signature array. */
  def minhashSigNative(text: Column, nHashes: Int): Column =
    GraftSqlBridge.column(MinHashSig(GraftSqlBridge.expression(text), nHashes))

  /** Column API for [[TopShingleCount]]. */
  def topShingleCount(text: Column, k: Int): Column =
    GraftSqlBridge.column(TopShingleCount(GraftSqlBridge.expression(text), k))

  /** Column API for [[ShinglesK]]: word k-shingles straight from text. */
  def shinglesFromText(text: Column, k: Int): Column =
    GraftSqlBridge.column(ShinglesK(GraftSqlBridge.expression(text), k))

  /** Generator Column for [[ShingleRows]]: one `sh` row per k-shingle,
    * fused (no intermediate array, no InferFiltersFromGenerate
    * double-eval — see the class doc).
    */
  def shingleRows(text: Column, k: Int): Column =
    GraftSqlBridge.column(ShingleRows(GraftSqlBridge.expression(text), k))

  /** Column API for [[GramHashArray]]: the DISTINCT word-k-gram 32-bit
    * hashes, fused (no gram-string materialization, no array_distinct
    * pass, no hex-string md5 chain — see the class doc). Explode it for
    * the per-gram row stream.
    */
  def gramHashArray(text: Column, k: Int): Column =
    GraftSqlBridge.column(GramHashArray(GraftSqlBridge.expression(text), k))

  /** Column API for [[Md5Hash32]]: `TextOps.hash32` as one codegen'd
    * call (no intermediate hex string / substring / radix parse).
    */
  def hash32Native(s: Column): Column =
    GraftSqlBridge.column(Md5Hash32(GraftSqlBridge.expression(s)))

  /** Column API for [[SimHash32]]: unseeded (seed = None) or seeded. */
  def simhash32Native(text: Column, seed: Option[Int] = None): Column =
    GraftSqlBridge.column(SimHash32(GraftSqlBridge.expression(text), seed))

  /** Column API for [[BigramProfileScores]]: per-profile bigram hit
    * fractions, in profile order.
    */
  def bigramProfileScores(text: Column, profiles: Seq[Seq[String]]): Column =
    GraftSqlBridge.column(
      BigramProfileScores(GraftSqlBridge.expression(text), profiles))
}
