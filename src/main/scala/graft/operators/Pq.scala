package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Product quantization (PQ): the memory-compression half of a
  * large-scale ANN index (IVF-PQ). Each `dim`-dim embedding is split
  * into [[M]] subvectors of [[SubDim]] dims; a per-subspace codebook of
  * [[K]] centroids is trained (deterministic Lloyd, same recipe as
  * [[Ivf]]); a vector is then stored as [[M]] small codes — here 64
  * floats (256 B) become 8 codes (8 B at 4 bits/code), a 32× reduction,
  * which is what lets a 100 TB corpus's index live in RAM.
  *
  * Scale shape mirrors [[Ivf]]: trained codebooks are M·K·SubDim doubles
  * (tiny) collected to the driver once and shipped as task literals —
  * encoding is ONE map-side projection over the corpus (zero joins /
  * shuffles), and asymmetric-distance (ADC) search scores each stored
  * code against the query's subvectors through the same literal table,
  * again map-side. Lloyd's shuffle moves only (m, cid, pos) partial sums
  * — M·K·SubDim groups, independent of corpus size.
  *
  * Cross-engine determinism (the DuckDB oracle replays training +
  * encoding + search bit-for-bit):
  *  - seeds are the subvector slices of `vec_id < K` (no RNG);
  *  - assignment ranks by squared L2 ROUNDED to 6 places, ties → lowest
  *    code id (struct-ordered `array_min`);
  *  - centroid means use the [[graft.queries.Det]] exact-decimal recipe;
  *  - an emptied code keeps its previous centroid (codebooks never
  *    shrink);
  *  - ADC sums the per-subspace rounded distances in fixed m=0..M-1
  *    order (double addition is order-dependent — the oracle writes the
  *    same explicit chain).
  */
object Pq {

  // Default shape for the 64-dim testdata corpus. Training takes the
  // shape as parameters (a 128-dim corpus or 8-bit codes are config,
  // not an edit here); everything downstream of training derives the
  // shape from the codebooks themselves.
  val M = 8       // subspaces
  val SubDim = 8  // dims per subspace (M * SubDim = embedding dim)
  val K = 16      // codes per subspace

  /** codebooks(m) = K centroids (cid 0..K-1, in order) of subspace m.
    * The nesting IS the trained shape: `books.length` = M,
    * `books(m).length` = K, `books(m)(c).length` = SubDim.
    */
  type Codebooks = Seq[Seq[Seq[Double]]]

  /** Sequential-fold squared L2 distance (same accumulation order as the
    * oracle's `list_sum` comprehension) — the native codegen'd
    * [[graft.functions.L2DistSq]]; the HOF form is kept as [[d2Hof]] and
    * cross-checked bit-identical in VectorExprSpec.
    */
  def d2(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.d2Native(a, b)

  /** Reference HOF formulation of [[d2]] (interpreted; parity oracle). */
  private[graft] def d2Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v)

  /** Subvector m of an embedding column (1-based slice). */
  def sub(embedding: Column, m: Int, subDim: Int = SubDim): Column =
    slice(embedding, m * subDim + 1, subDim)

  private def litVec(cv: Seq[Double]): Column = array(cv.map(lit): _*)

  /** Code of subvector `sv` in subspace m: argmin rounded-d2 over the
    * literal codebook, ties → lowest cid. Pure map-side expression.
    */
  def code(sv: Column, book: Seq[Seq[Double]]): Column =
    array_min(array(book.zipWithIndex.map { case (cv, cid) =>
      struct(round(d2(sv, litVec(cv)), 6).as("d2"), lit(cid.toLong).as("cid"))
    }: _*)).getField("cid")

  /** The M code columns `c0..c{M-1}` of a vector column, shape-derived
    * from the trained codebooks.
    */
  def codeCols(vec: Column, books: Codebooks): Seq[Column] = {
    val subDim = books.head.head.length
    books.indices.map(m => code(sub(vec, m, subDim), books(m)).as(s"c$m"))
  }

  /** All M codes of an embedding as columns `c0..c{M-1}`. */
  def encode(e: DataFrame, books: Codebooks): DataFrame =
    e.select(col("vec_id") +: codeCols(col("embedding"), books): _*)

  /** All M codes PACKED into one long — 8 bits per code, code m at bits
    * 8m..8m+7. This is the FAISS per-vector index layout (`M` uint8
    * words): with M ≤ 8 and K ≤ 256 a vector's whole code fits one
    * 8-byte value, ~8× less per-row overhead in the stored index than
    * M separate int columns. Still a pure map-side expression.
    */
  def packCodes(vec: Column, books: Codebooks): Column = {
    require(books.length <= 8,
      s"packCodes fits M<=8 codes of 8 bits in a long; got M=${books.length}")
    require(books.head.length <= 256,
      s"packCodes stores 8-bit codes, needs K<=256; got K=${books.head.length}")
    val subDim = books.head.head.length
    books.indices.map { m =>
      shiftleft(code(sub(vec, m, subDim), books(m)).cast("long"), 8 * m)
    }.reduce(_.bitwiseOR(_))
  }

  /** Code m of a [[packCodes]]-packed long: unsigned shift + mask —
    * codegen-friendly integer ops, no array or struct materialization.
    */
  def codeAt(packed: Column, m: Int): Column =
    shiftrightunsigned(packed, 8 * m).bitwiseAND(lit(255L))

  /** Long-form (vec_id, m, sv) view used by training. */
  private def subvectors(e: DataFrame, m: Int, subDim: Int): DataFrame =
    e.select(col("vec_id"), explode(array((0 until m).map(mm =>
        struct(lit(mm).as("m"), sub(col("embedding"), mm, subDim).as("sv"))): _*)).as("x"))
      .select(col("vec_id"), col("x.m").as("m"), col("x.sv").as("sv"))

  /** Deterministic codebook training: seeds = subvector slices of
    * `vec_id < k`, then `rounds` unrolled Lloyd iterations; an emptied
    * code keeps its previous centroid. Shape defaults fit the 64-dim
    * testdata; pass (m, subDim, k) for other corpora — `m * subDim`
    * must equal the embedding dimension.
    */
  def train(e: DataFrame, rounds: Int, m: Int = M, subDim: Int = SubDim,
      k: Int = K): Codebooks = {
    val seeds = subvectors(e.filter(col("vec_id") < k), m, subDim)
      .select(col("m"), col("vec_id").cast("long").as("cid"),
        col("sv").cast("array<double>").as("cv"))
    var books: Codebooks = collectBooks(seeds, m, k)
    for (_ <- 1 to rounds) {
      val litBooks = books
      val assigned = subvectors(e, m, subDim).select(col("vec_id"), col("m"), col("sv"),
        // element_at over the literal per-sub codebooks, indexed by m
        element_at(array((0 until m).map(mm =>
          code(col("sv"), litBooks(mm))): _*), col("m") + 1).as("cid"))
      val means = collectBooksMap(Ivf.clusterMeans(assigned, Seq("m", "cid"), "sv"))
      books = books.zipWithIndex.map { case (book, mm) =>
        book.zipWithIndex.map { case (cv, cid) => means.getOrElse((mm, cid.toLong), cv) }
      }
    }
    books
  }

  private def collectBooks(cents: DataFrame, m: Int, k: Int): Codebooks = {
    val mp = collectBooksMap(cents)
    require(mp.size == m * k,
      s"PQ seeding requires DENSE vec_ids 0..${k - 1} in the embeddings " +
        s"table (the documented deterministic-seed contract): got ${mp.size} " +
        s"of ${m * k} seed subvectors — renumber ids or lower k")
    (0 until m).map(s => (0 until k).map(c => mp((s, c.toLong))).toSeq).toSeq
  }

  private def collectBooksMap(cents: DataFrame): Map[(Int, Long), Seq[Double]] =
    cents.select(col("m").cast("int"), col("cid").cast("long"),
        col("cv").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Double](2))
      .toMap

  /** Residual of a vector w.r.t. its IVF cell centroid (cids must be
    * the dense 0..k-1 of [[Ivf]]'s deterministic seeds): the FAISS
    * IVF-PQ shape — quantizing residuals concentrates the codebooks on
    * within-cell variation, and the subtraction is exact IEEE in both
    * engines so the q115 oracle replays it bit-for-bit.
    */
  def residual(embedding: Column, cid: Column, cents: Ivf.Centroids): Column = {
    val cvArr = array(cents.map { case (_, cv) => litVec(cv) }: _*)
    // native codegen'd kernel — the HOF twin below evaluated 64
    // interpreted element ops per corpus vector in the residual index
    // build and pqResidualBooks training (bit-parity spec-locked)
    graft.functions.VectorFunctions.subNative(
      embedding, element_at(cvArr, (cid + 1).cast("int")))
  }

  /** Reference HOF formulation of [[residual]] (interpreted; parity
    * oracle for VectorExprSpec).
    */
  private[graft] def residualHof(embedding: Column, cid: Column,
      cents: Ivf.Centroids): Column = {
    val cvArr = array(cents.map { case (_, cv) => litVec(cv) }: _*)
    zip_with(embedding, element_at(cvArr, (cid + 1).cast("int")),
      (x, c) => x.cast(DoubleType) - c)
  }

  /** ADC approximate squared distance of a raw stored embedding to the
    * query vector `qv`: per-subspace rounded d2 between the query's
    * subvector and the centroid of the stored code, summed in fixed
    * m-order. Recomputes codes from the raw float column inline, so it
    * reads the UNCOMPRESSED corpus — a diagnostic/spec tool (PqSpec's
    * approximation-floor test), NOT the search path. Searches scan the
    * stored 8-byte codes via [[adcLut]]+[[adcFromCodes]], which this is
    * value-identical to by construction.
    */
  def adc(embedding: Column, qv: Column, books: Codebooks): Column = {
    val subDim = books.head.head.length
    books.indices.map { m =>
      val cvOfCode = element_at(
        array(books(m).map(litVec): _*),
        (code(sub(embedding, m, subDim), books(m)) + 1).cast("int"))
      round(d2(sub(qv, m, subDim), cvOfCode), 6)
    }.reduce(_ + _)
  }

  // ---- the real ANN search path: score STORED codes against a ----
  // ---- query-side lookup table — the corpus floats never load  ----

  /** Driver-side twin of [[d2]], bit-exact: same sequential fold, same
    * IEEE ops in the same order ((x−y)·(x−y) accumulated left-to-right).
    */
  def d2Host(a: Seq[Double], b: Seq[Double]): Double = {
    require(a.length == b.length, s"dim mismatch ${a.length} vs ${b.length}")
    var acc = 0.0
    var i = 0
    while (i < a.length) { val df = a(i) - b(i); acc += df * df; i += 1 }
    acc
  }

  /** Driver-side twin of Spark's `round(x, 6)` on DoubleType: identical
    * code path (scala BigDecimal of the double's decimal rendering,
    * HALF_UP), NaN/∞ passed through — so LUT entries are bit-identical
    * to what the expression-side `round(d2(...), 6)` produces.
    */
  def round6Host(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Driver-side twin of [[residual]] for the query vector: exact IEEE
    * subtraction, same as the expression side's `x.cast(double) − c`.
    */
  def residualHost(q: Seq[Double], cent: Seq[Double]): Seq[Double] = {
    require(q.length == cent.length, s"dim mismatch ${q.length} vs ${cent.length}")
    q.indices.map(i => q(i) - cent(i))
  }

  /** The query's ADC lookup table: lut(m)(c) = rounded d2 between the
    * query's subvector m and codebook centroid c — M·K doubles, computed
    * once per query on the driver and shipped as task literals. This is
    * the object that makes PQ search scan the INDEX instead of the
    * corpus: all per-vector distance work collapses to M array lookups
    * over the stored codes.
    */
  def adcLut(q: Seq[Double], books: Codebooks): Seq[Seq[Double]] = {
    val subDim = books.head.head.length
    require(q.length == books.length * subDim,
      s"query dim ${q.length} != M·SubDim ${books.length * subDim}")
    books.indices.map { m =>
      val qs = q.slice(m * subDim, (m + 1) * subDim)
      books(m).map(cv => round6Host(d2Host(qs, cv)))
    }
  }

  /** ADC distance from STORED code columns: per-subspace lookup of the
    * query's precomputed distance in ONE flat M·K-element literal
    * (`typedlit` — a single `Literal` node holding the whole table, not
    * M separate 16-element `array(lit…)` trees), indexed at
    * `m·K + code + 1`, summed in the same fixed m-order as [[adc]]
    * (double addition is order-dependent; the oracle writes the same
    * chain). Halves the expression-tree size — the win grows with M·K
    * (a K=256 codebook would be 2048 Literal nodes the old way). Zero
    * touches of the embedding column — the scan reads M small codes per
    * vector.
    */
  def adcFromCodes(code: Int => Column, lut: Seq[Seq[Double]]): Column = {
    val k = lut.head.length
    require(lut.forall(_.length == k),
      s"ragged ADC LUT: per-subspace lengths ${lut.map(_.length)}")
    val flat = typedlit(lut.flatten.toIndexedSeq)
    lut.indices.map { m =>
      val c = code(m).cast("int")
      // range-guard the flat index: without it, a corrupt code (k, say)
      // silently reads the NEXT subspace's first entry and yields a
      // plausible wrong distance — the old per-subspace element_at
      // returned NULL there. One codegen'd branch per subspace restores
      // the loud failure (NULL poisons the whole sum); encoder-produced
      // codes are always 0..k-1, so the guarded branch is the only one
      // a healthy pipeline ever takes.
      when(c >= 0 && c < k, element_at(flat, c + lit(m * k + 1)))
        .otherwise(lit(null).cast("double"))
    }.reduce(_ + _)
  }
}
