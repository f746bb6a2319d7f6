package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** ACS margin-of-error propagation algebra as pure Catalyst `Column`
  * expression builders — no UDFs, so whole-stage codegen applies.
  *
  * Each operator mirrors a statistical derived-column capability of the
  * reference (CivicKnowledge/pandas-reporter): every *estimate* column is
  * paired with a 90%-margin-of-error column, and derived columns propagate
  * both. Formulas are the ACS General Handbook ones, pinned numerically by
  * the reference test suite (`/root/reference/test/test_basic.py:105-173`).
  *
  * All margins are 90% margins of error (m90). The 90% z-divisor is 1.645
  * (`test/test_basic.py:97-101`).
  */
object AcsMath {

  /** 90% confidence z-score divisor used throughout ACS publications. */
  val Z90: Double = 1.645

  /** All ACS math is float64 like the reference (`test/test_basic.py:141`,
    * pandas inference); casting up front also avoids ANSI integer overflow
    * when sources infer ints.
    */
  private def d(c: Column): Column = c.cast(org.apache.spark.sql.types.DoubleType)

  /** An (estimate, margin) expression pair — the unit every operator
    * consumes and produces.
    */
  final case class EstM90(est: Column, m90: Column) {
    /** Name the pair `name` / `name_m90` for attachment via select. */
    def named(name: String): Seq[Column] =
      Seq(est.as(name), m90.as(name + "_m90"))
  }

  /** Root-sum-of-squares of margin expressions: `sqrt(Σ mᵢ²)`. */
  def rss(margins: Seq[Column]): Column =
    sqrt(margins.map(m => d(m) * d(m)).reduce(_ + _))

  /** Row-wise sum of estimates with RSS margin propagation.
    *
    * estimate = `Σ cᵢ`; m90 = `sqrt(Σ mᵢ²)`
    * (ref: `test/test_basic.py:105-107`, handbook Table 1:
    * 52354+19464+17190=89008 ± ~4289, `test/test_basic.py:139-145`).
    */
  def sumM(pairs: Seq[(Column, Column)]): EstM90 = {
    require(pairs.nonEmpty, "sumM needs at least one (estimate, m90) pair")
    EstM90(pairs.map(p => d(p._1)).reduce(_ + _), rss(pairs.map(_._2)))
  }

  /** Proportion of a numerator that is a subset of its denominator.
    *
    * estimate = `num/den`; m90 = `sqrt(m_num² − p²·m_den²) / den`.
    * The radicand can go negative when the inputs are not actually a
    * subset pair — the reference requires *no runtime warnings* in that
    * case (`test/test_basic.py:120-133`); ACS practice is to fall back to
    * the non-subset ratio formula, which is what the guard does here.
    * (ref handbook Table 2: 4634/31713 → 0.1461 ± 0.0311,
    * `test/test_basic.py:147-153`).
    */
  def proportion(num0: Column, numM900: Column, den0: Column, denM900: Column): EstM90 = {
    val (num, numM90, den, denM90) = (d(num0), d(numM900), d(den0), d(denM900))
    val p = num / den
    val radicand = numM90 * numM90 - p * p * (denM90 * denM90)
    val ratioM90 = sqrt(numM90 * numM90 + p * p * (denM90 * denM90)) / den
    EstM90(p, when(radicand >= 0, sqrt(radicand) / den).otherwise(ratioM90))
  }

  /** Ratio of two non-subset estimates.
    *
    * estimate = `num/den`; m90 = `sqrt(m_num² + r²·m_den²) / den`
    * (ref handbook Table 3: 4634/6440 → 0.719565 ± 0.213545,
    * `test/test_basic.py:155-163`).
    */
  def ratio(num0: Column, numM900: Column, den0: Column, denM900: Column): EstM90 = {
    val (num, numM90, den, denM90) = (d(num0), d(numM900), d(den0), d(denM900))
    val r = num / den
    EstM90(r, sqrt(numM90 * numM90 + r * r * (denM90 * denM90)) / den)
  }

  /** Product of two estimates.
    *
    * estimate = `a·b`; m90 = `sqrt(a²·m_b² + b²·m_a²)`
    * (ref handbook Table 4: 50624·0.134 → 6784 ± 1405,
    * `test/test_basic.py:165-173`).
    */
  def product(a0: Column, aM900: Column, b0: Column, bM900: Column): EstM90 = {
    val (a, aM90, b, bM90) = (d(a0), d(aM900), d(b0), d(bM900))
    EstM90(a * b, sqrt(a * a * (bM90 * bM90) + b * b * (aM90 * aM90)))
  }

  /** Relative standard error, percent: `(m90/1.645)/estimate × 100`
    * (ref: `test/test_basic.py:97-101`).
    */
  def rse(est: Column, m90: Column): Column =
    d(m90) / lit(Z90) / d(est) * lit(100.0)

  /** The grouped margin law: root-sum-of-squares `sqrt(Σ m²)`, squared in
    * double so an integral margin cannot overflow under ANSI.
    */
  private def rssAgg(m90: Column): Column = sqrt(sum(d(m90) * d(m90)))

  /** Aggregate (grouped) sum of an estimate with RSS-combined margin:
    * estimate = `sum(est)` in the column's own type, m90 = `sqrt(sum(m90²))`
    * — the reference's one non-standard aggregation semantics
    * (`test/test_basic.py:197-207`, notebook cell 12: "sum() will sum the
    * _m90 columns as root of summed squares").
    */
  def aggSumM(est: Column, m90: Column): EstM90 = EstM90(sum(est), rssAgg(m90))

  /** Aggregate mean with RSS-scaled margin: estimate = `avg(est)`,
    * m90 = `sqrt(sum(m90²)) / count(m90)` (margin of a mean of n estimates,
    * n counting the non-null margins).
    */
  def aggMeanM(est: Column, m90: Column): EstM90 =
    EstM90(avg(est), rssAgg(m90) / count(m90))
}
