package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text shingling / hashing primitives shared by the dedup and similarity
  * operators. Everything is built from `md5` so results are reproducible
  * in any engine (the DuckDB oracle recomputes them bit-identically) —
  * and everything is a Catalyst expression (no UDFs), so the operators
  * stay codegen-friendly and distribute trivially: each document's
  * signature is computed map-side with zero shuffles.
  *
  * This object is the one home of the near-dup law's PER-DOC column
  * laws — eligibility, the MinHash signature, the band keys, the k=3
  * shingle-hash set and the canonical class key. The batch queries, the
  * streaming twins and the stress harness all build from these, so they
  * cannot drift apart; the FRAME-level banding (band explode, bucket
  * probe, rep pairs) lives in [[Dedup]].
  */
object TextOps {

  /** Whitespace tokens of a single-space-separated text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Near-dup eligibility: at least 3 tokens, i.e. at least one k=3
    * shingle. Ineligible docs have no signature and no edges. */
  def eligible(text: Column): Column = size(tokens(text)) >= 3

  /** The MinHash signature: `nHashes` seeded minima over the k=3
    * shingles, from the fused native [[graft.functions.MinHashSig]]
    * kernel (bit-identical to the [[minhash]] HOF composition). */
  def signature(text: Column, nHashes: Int = 8): Column =
    graft.functions.TextFunctions.minhashSigNative(text, nHashes)

  /** LSH band keys over a signature array: band b joins components 2b
    * and 2b+1 with "_" — `nBands` bands of 2 rows. The DuckDB oracles
    * render the same law as `duckBandsCte`. */
  def bandKeys(sig: Column, nBands: Int = 4): Seq[Column] =
    bandKeysOf(j => element_at(sig, j + 1), nBands)

  /** [[bandKeys]] over signature components held as separate columns
    * (`mh(j)` is component j). */
  def bandKeysOf(mh: Int => Column, nBands: Int = 4): Seq[Column] =
    (0 until nBands).map(b => concat_ws("_", mh(2 * b), mh(2 * b + 1)))

  /** Band keys as an array of `(band, bkey)` structs, for the sites that
    * explode the keys straight off the signature. */
  def bandStructs(keys: Seq[Column]): Column =
    array(keys.zipWithIndex.map { case (k, b) =>
      struct(lit(b).as("band"), k.as("bkey"))
    }: _*)

  /** The verification payload: the sorted distinct 56-bit k=3
    * shingle-hash set ([[graft.functions.ShingleHashSet]]). */
  def shingleSet(text: Column): Column =
    graft.functions.SetFunctions.shingleHashSet(text, 3)

  /** Canonical exact-dedup class key: md5 of the NFC-normalized,
    * casefolded, whitespace-collapsed, trimmed text. Null text gives a
    * null key, so all null texts form one class. */
  def canonicalKey(text: Column): Column =
    md5(trim(regexp_replace(lower(
      graft.functions.TextFunctions.nfcNormalize(text)), "\\s+", " ")))

  /** Word k-shingles as space-joined strings (k=3). */
  def shingles3(ws: Column): Column = shinglesK(ws, 3)

  /** Word k-shingles for arbitrary k; total — fewer than k tokens yields
    * an empty array (without the guard, Spark's `sequence(1, 0)` counts
    * DOWN and `element_at` with indices ≤ 0 reads from the array end,
    * producing garbage shingles silently). k=8..13 is the usual n-gram
    * width for test-set decontamination.
    */
  def shinglesK(ws: Column, k: Int): Column =
    when(size(ws) >= k,
      transform(sequence(lit(1), size(ws) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(ws, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** 32-bit hash of a string, seeded: first 8 hex digits of
    * `md5(seed + "|" + s)` as a long. Mirrors the DuckDB expression
    * `CAST(concat('0x', substr(md5(seed || '|' || s), 1, 8)) AS BIGINT)`.
    */
  def seededHash(seed: Int, s: Column): Column =
    conv(substring(md5(concat(lit(seed + "|"), s)), 1, 8), 16, 10).cast("long")

  /** Unseeded 32-bit md5 hash (for token-level hashing). */
  def hash32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** MinHash signature component j over a shingle array: the minimum
    * seeded hash across the set. One map-side pass per component.
    */
  def minhash(j: Int, shingleArr: Column): Column =
    array_min(transform(shingleArr, s => seededHash(j, s)))

  /** SimHash bit accumulation: bit b is set when more than half the token
    * hashes have bit b set.
    */
  private def simhashBits(hs: Column, n: Column): Column =
    (0 until 32).map { b =>
      val cnt = size(filter(hs, h => shiftright(h, b).bitwiseAND(lit(1L)) === lit(1L)))
      when(cnt * 2 > n, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** 32-bit SimHash over a token array (unseeded token hash). */
  def simhash32(ws: Column): Column =
    simhashBits(transform(ws, w => hash32(w)), size(ws))

  /** Seeded 32-bit SimHash half: two seeds give a 64-bit signature as
    * (lo, hi) halves — wide enough that 16-bit bands stay selective at
    * scale, without the signed-shift edge cases a single 64-bit long
    * would hit (DuckDB errors on `1::BIGINT << 63`).
    */
  def simhash32Seeded(seed: Int, ws: Column): Column =
    simhashBits(transform(ws, w => seededHash(seed, w)), size(ws))

  /** Winnowing fingerprints: distinct minima of a sliding window (size 4)
    * over the seeded shingle-hash sequence — the rolling-hash document
    * fingerprint set. Requires ≥4 shingles (≥6 tokens).
    */
  def winnowFingerprints(shingleArr: Column): Column = {
    val hs = transform(shingleArr, s => seededHash(0, s))
    array_distinct(transform(sequence(lit(1), size(hs) - 3),
      i => array_min(slice(hs, i, lit(4)))))
  }

  /** Sequential-fold dot product of two equal-length arrays in double —
    * same accumulation order as DuckDB's `list_sum` over an index
    * comprehension, so results match bit-for-bit. Implemented as the
    * native codegen'd [[graft.functions.DotProduct]] expression; the
    * higher-order-function formulation is kept as [[dotHof]] for
    * reference and cross-checked bit-identical in VectorExprSpec.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotNative(a, b)

  /** HOF formulation of [[dot]] (allocates an intermediate array per row,
    * not whole-stage-codegen'd — kept for equivalence testing).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column = dot(a, a)

  /** Cosine similarity rounded to 6 places (sub-ULP cross-engine jitter
    * in the fold is ~1e-16; rounding makes the hash comparison exact).
    */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b))), 6)

  /** Random-hyperplane components for LSH, derived from md5 so any engine
    * reproduces them: `((int(md5(j+"_"+i)[0:8], 16) % 2001) - 1000)/1000`.
    */
  def hyperplane(j: Int, dim: Int): Seq[Double] = (0 until dim).map { i =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
  }

  /** Sign-of-projection LSH bucket over `nPlanes` md5-derived hyperplanes:
    * bit j set when `dot(plane_j, v) >= 0`.
    */
  def lshBucket(embedding: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { j =>
      val plane = array(hyperplane(j, dim).map(lit): _*)
      when(dot(embedding, plane) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Banded LSH bucket: same sign-of-projection code as [[lshBucket]] but
    * over planes `[planeStart, planeStart + nPlanes)`, so B bands of r
    * planes give OR-amplified recall (a pair is a candidate when ANY band
    * bucket matches) while each band key stays equi-joinable — the
    * all-pairs-free near-dup candidate generator.
    */
  def lshBandBucket(embedding: Column, planeStart: Int, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { j =>
      val plane = array(hyperplane(planeStart + j, dim).map(lit): _*)
      when(dot(embedding, plane) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
}
