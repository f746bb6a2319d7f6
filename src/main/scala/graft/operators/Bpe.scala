package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training + application — the real merge
  * loop (q78's regex splitter is the *pre*-tokenizer; this learns the
  * vocabulary). Training is ONE corpus aggregation total: a single pass
  * builds the (word, count) frequency table — vocabulary-sized, not
  * corpus-sized — and every merge round then counts symbol pairs over
  * that weighted table on the driver. A 32k-merge vocabulary therefore
  * costs one corpus scan plus 32k passes over the vocabulary, not 32k
  * corpus scans (the SentencePiece/HF-tokenizers shape). Applying merges
  * is a chain of literal `replace` calls — pure map-side expressions, so
  * encoding a 100 TB corpus with a trained table is zero-shuffle.
  *
  * Symbol sequences are space-separated and space-PADDED (" a b c "),
  * so a merge replaces the substring " a b " with " ab " without regex
  * lookbehind (RE2 on the oracle side has none). Replacement is
  * leftmost non-overlapping in BOTH engines (Java `String.replace`,
  * DuckDB `replace`), which is the documented application order:
  * consecutive overlapping occurrences ("a b a b" sharing the middle
  * space) merge one per pass, identically in both engines — parity by
  * construction, which is what the q113/q114 oracles hash-check. The
  * driver-side merge loop reproduces EXACTLY those padded-replace
  * semantics (see [[applyMergeToks]]), so the learned table is
  * bit-identical to the per-round-corpus-scan formulation the oracle
  * unrolls. Corpus frames carry the text in a `text` column (and
  * [[tokenCounts]] its id in `doc_id`), as every pipeline table does.
  */
object Bpe {

  /** One merge: the pair "a b" and its fused form "ab". */
  final case class Merge(pair: String, merged: String, count: Long)

  /** " a b c " — the padded char-symbol sequence of a word. */
  def charSyms(word: Column): Column =
    concat(lit(" "), concat_ws(" ", split(word, "")), lit(" "))

  /** Adjacent symbol pairs of a padded sequence (empty when < 2 symbols —
    * total, the [[TextOps.shinglesK]] lesson).
    */
  def pairs(syms: Column): Column = {
    val toks = split(trim(syms), " ")
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
  }

  /** Apply a trained merge table (in order) to a padded sequence. */
  def applyMerges(syms: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(syms) { (s, m) =>
      replace(s, lit(s" ${m.pair} "), lit(s" ${m.merged} "))
    }

  /** THE one corpus pass of training: (word, occurrence count), collected
    * to the driver. Vocabulary-sized — the distinct-word table of even a
    * web-scale corpus is orders of magnitude smaller than the corpus, and
    * `minCount` prunes the long singleton tail when it is not (the
    * standard tokenizer-trainer guard; the default 1 keeps exact oracle
    * parity). For adversarial vocabularies (a corpus of unique strings)
    * `maxWords` caps the collect at the top-N by count (ties broken by
    * word, ascending — deterministic), executed as a TakeOrdered, so
    * driver memory is bounded by N regardless of corpus pathology.
    */
  def wordFreq(docs: DataFrame, minCount: Long = 1L,
      maxWords: Int = Int.MaxValue): Seq[(String, Long)] = {
    val agg = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
    val capped = if (maxWords == Int.MaxValue) agg
      else agg.orderBy(col("n").desc, col("word")).limit(maxWords)
    capped.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
  }

  /** Word → symbol tokens, matching `split(word, "")` / DuckDB's
    * per-character slice: one symbol per code point.
    */
  private def symsOf(word: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** One leftmost-non-overlapping merge pass over a token sequence —
    * the exact semantics of `replace(" a b ", " ab ")` on the padded
    * string: a match consumes BOTH flanking spaces, so the token right
    * after a merge can never begin the next match (its leading space is
    * gone). [a,b,a,b] merges once → [ab, a, b], not twice.
    */
  private[graft] def applyMergeToks(toks: Array[String], a: String,
      b: String, merged: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
        out += merged
        if (i + 2 < toks.length) { out += toks(i + 2); i += 3 } else i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** UTF-8 byte order, unsigned — the collation Spark's UTF8String and
    * DuckDB both compare strings in. Scala's default String ordering is
    * UTF-16 code-unit compareTo, which DISAGREES for strings mixing
    * supplementary characters (4-byte UTF-8, surrogate code units
    * 0xD800+) with U+E000..U+FFFF (3-byte UTF-8, code units ≥ 0xE000):
    * byte order puts the latter first, code-unit order the former.
    * The tie-break below must match the engines, not the JVM.
    */
  private[graft] val utf8Order: Ordering[String] =
    new Ordering[String] {
      def compare(x: String, y: String): Int = {
        val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val c = (a(i) & 0xff) - (b(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        a.length - b.length
      }
    }

  /** Driver-side merge loop over the weighted vocabulary: each round
    * counts adjacent pairs (weighted by word count), takes the top
    * (count desc, pair asc — UTF-8 byte order via [[utf8Order]], the
    * same tie-break Spark's orderBy and DuckDB apply), and rewrites the
    * vocabulary in place. Pure function of `freq` — no Spark jobs.
    * Driver memory bound: the symbol table is O(Σ word lengths) of the
    * (minCount/maxWords-pruned) vocabulary and is rewritten in place,
    * so cost is vocab-size × rounds work and vocab-size space —
    * independent of corpus size.
    */
  def trainFromFreq(freq: Seq[(String, Long)], rounds: Int): Seq[Merge] = {
    var table: Array[(Array[String], Long)] =
      freq.map { case (w, n) => (symsOf(w), n) }.toArray
    var merges = Seq.empty[Merge]
    for (_ <- 1 to rounds) {
      val counts = mutable.HashMap.empty[String, Long]
      table.foreach { case (toks, n) =>
        var i = 0
        while (i + 1 < toks.length) {
          val p = toks(i) + " " + toks(i + 1)
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (counts.nonEmpty) {
        // total order (count desc, pair asc in UTF-8 bytes) →
        // deterministic regardless of hash-map iteration order
        val (pair, n) = counts.minBy { case (p, c) => (-c, p) }(
          Ordering.Tuple2(Ordering.Long, utf8Order))
        val Array(a, b) = pair.split(" ", 2)
        val fused = pair.replace(" ", "")
        table = table.map { case (toks, cnt) =>
          (applyMergeToks(toks, a, b, fused), cnt)
        }
        merges = merges :+ Merge(pair, fused, n)
      }
    }
    merges
  }

  /** Train `rounds` merges: one corpus aggregation ([[wordFreq]]), then
    * the driver-side weighted merge loop — corpus scan count is
    * independent of `rounds`.
    */
  def train(docs: DataFrame, rounds: Int): Seq[Merge] =
    trainFromFreq(wordFreq(docs), rounds)

  /** Host twin of [[applyMerges]]: Java `String.replace` IS the padded
    * leftmost-non-overlapping semantics the expression chain uses, so
    * the two paths are equal by construction (spec-locked).
    */
  def applyMergesHost(syms: String, merges: Seq[Merge]): String =
    merges.foldLeft(syms)((s, m) => s.replace(s" ${m.pair} ", s" ${m.merged} "))

  /** Host twin of [[charSyms]]. */
  def charSymsHost(word: String): String = {
    val sb = new StringBuilder(" ")
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      sb.appendAll(Character.toChars(cp)).append(' ')
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** Per-doc (n_words, n_bpe_tokens) accounting at VOCABULARY scale: a
    * real 32k-merge table cannot ride as 32k chained `replace`
    * expressions (expression-tree depth and codegen method limits) —
    * this is the documented `mapPartitions` tier of the operator
    * ladder: one imperative pass per row with the merge table shipped
    * once per task in the closure. Still zero-shuffle, still
    * deterministic, and bit-identical to the expression path on any
    * table size both can run ([[applyMergesHost]] ≡ [[applyMerges]]).
    */
  def tokenCounts(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val words = text.split(" ").filter(_.nonEmpty)
          var toks = 0L
          words.foreach { w =>
            val merged = applyMergesHost(charSymsHost(w), merges)
            toks += merged.trim.split(" ").length
          }
          (id, words.length.toLong, toks)
        }
      }.toDF("doc_id", "n_words", "n_bpe_tokens")
  }
}
