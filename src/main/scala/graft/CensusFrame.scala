package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.types.{NumericType, StructField}

import graft.functions.AcsMath
import graft.functions.AcsMath.EstM90
import graft.schema.{CensusMeta, ColMeta}

/** Release metadata carried by a census frame
  * (ref: `censusreporter.py:160-166`; shape `{'id': 'acs2015_5yr', ...}`,
  * `test/test_url.py:49`).
  */
final case class Release(id: String, name: String = "", years: String = "")

/** The annotated-table API: a thin wrapper over `DataFrame` that knows the
  * estimate/margin pairing convention and the per-column census metadata.
  *
  * Design note (SURVEY §2.3 M7): the reference relies on pandas row-index
  * alignment to assign derived columns across frames. Spark has no implicit
  * row index, so derived columns are *always computed in the source frame's
  * row context* — [[withPairs]] is one `select` over this frame. Cross-frame
  * assignment must go through an explicit join on `geoid`.
  */
final case class CensusFrame(df: DataFrame, release: Option[Release] = None) {
  import CensusFrame._

  def schemaMeta: Seq[ColMeta] = df.schema.fields.toSeq.flatMap(CensusMeta.fromField)

  // ---- column resolution (SURVEY §2.2 P2-P4) ----

  /** Resolve a user-facing column reference: an exact frame column name, a
    * census code carried in metadata, or a 3-digit line-index alias
    * (`df("001")` ≡ `df("B17001001")`, notebook cell 5).
    */
  def resolveName(ref: String): String = {
    val fields = df.schema.fields
    fields.find(_.name == ref).map(_.name)
      .orElse(fields.find(f => CensusMeta.fromField(f).exists(_.code == ref)).map(_.name))
      .orElse {
        if (ref.length == 3 && ref.forall(_.isDigit))
          fields.find { f =>
            CensusMeta.fromField(f).exists(m => m.index == ref && !m.isM90)
          }.map(_.name)
        else None
      }
      .getOrElse(throw new IllegalArgumentException(
        s"No column for reference '$ref' in [${fields.map(_.name).mkString(", ")}]"))
  }

  /** `lookup(84)` — column at schema `position` (ref `test/test_basic.py:21`;
    * positions count the interleaved margin layout, 84 = 2 + (42−1)·2).
    */
  def lookup(position: Int): Column = {
    val name = df.schema.fields
      .find(f => CensusMeta.fromField(f).exists(_.position == position))
      .map(_.name)
      .getOrElse(throw new IllegalArgumentException(s"No column at position $position"))
    df(name)
  }

  /** `lookup("042")` — estimate column whose census line `index` matches
    * (ref `test/test_basic.py:22-28`).
    */
  def lookup(index: String): Column = df(resolveName(index))

  def censusCode(ref: String): String =
    metaOf(resolveName(ref)).map(_.code).getOrElse(resolveName(ref))

  def censusTitle(ref: String): String =
    metaOf(resolveName(ref)).map(_.title).getOrElse("")

  private def metaOf(name: String): Option[ColMeta] =
    df.schema.fields.find(_.name == name).flatMap(CensusMeta.fromField)

  // ---- m90 pairing (SURVEY §2.3 M6) ----

  /** Frame column name of the margin paired with estimate `ref`. */
  def m90Name(ref: String): String = {
    val est = resolveName(ref)
    pairedM90(est).getOrElse(throw new IllegalArgumentException(s"No m90 column paired with '$est'"))
  }

  /** The pairing rule: `<est>_m90` by name, else the margin whose census
    * metadata names `est`'s code (the titled and code-title views).
    */
  private def pairedM90(est: String): Option[String] = {
    val byConvention = est + "_m90"
    if (df.columns.contains(byConvention)) Some(byConvention)
    else df.schema.fields
      .find(f => CensusMeta.fromField(f).exists(m => m.isM90 && m.valueCode == censusCode(est)))
      .map(_.name)
  }

  /** Estimate column name paired with a margin column name. */
  def valueName(m90Ref: String): String = {
    val m = resolveName(m90Ref)
    val byConvention = m.stripSuffix("_m90")
    if (m.endsWith("_m90") && df.columns.contains(byConvention)) byConvention
    else throw new IllegalArgumentException(s"'$m' is not a margin column")
  }

  def m90(ref: String): Column = df(m90Name(ref))
  def value(m90Ref: String): Column = df(valueName(m90Ref))

  /** (estimate, m90) column pair for `ref`. */
  def pair(ref: String): (Column, Column) = (df(resolveName(ref)), m90(ref))

  // ---- margin-carrying projection (SURVEY §2.2 P1) ----

  /** `selectCensus("geoid", "c0", "c1")` returns
    * `geoid, c0, c0_m90, c1, c1_m90` — selecting an estimate auto-includes
    * its margin (ref `test/test_basic.py:176-195`), paired by [[m90Name]]'s
    * rule, so a titled view's `Total` brings its `B17001001_m90`.
    * Expansion happens at the API layer, pre-Catalyst, so column pruning
    * still sees the full list.
    */
  def selectCensus(refs: String*): CensusFrame = {
    val expanded = refs.flatMap { r =>
      val n = resolveName(r)
      n +: pairedM90(n).toSeq
    }.distinct
    copy(df = df.select(expanded.map(df(_)): _*))
  }

  // ---- statistical operators (SURVEY §2.3 M1-M5) ----

  def sumM(refs: String*): EstM90 = AcsMath.sumM(refs.map(pair))

  def proportion(num: String, den: String): EstM90 = {
    val (n, nm) = pair(num); val (d, dm) = pair(den)
    AcsMath.proportion(n, nm, d, dm)
  }

  def ratio(num: String, den: String): EstM90 = {
    val (n, nm) = pair(num); val (d, dm) = pair(den)
    AcsMath.ratio(n, nm, d, dm)
  }

  def product(a: String, b: String): EstM90 = {
    val (ac, am) = pair(a); val (bc, bm) = pair(b)
    AcsMath.product(ac, am, bc, bm)
  }

  /** Append `ref_rse` (ref `test/test_basic.py:97-101`), replacing a
    * column of that name in place. One `select` over an indexed column
    * list, which Spark collapses with the projections above it; over a
    * driver frame, [[graft.plans.FoldDriverRelation]] then folds the
    * collapsed projection into the frame's rows once.
    */
  def addRse(ref: String): CensusFrame = {
    val name = resolveName(ref) + "_rse"
    val (e, m) = pair(ref)
    val rse = AcsMath.rse(e, m).as(name)
    val existing = df.columns.toIndexedSeq
    val cols = existing.map(c => if (c == name) rse else df(c))
    copy(df = df.select((if (existing.contains(name)) cols else cols :+ rse): _*))
  }

  /** Attach named (estimate, m90) pairs in this frame's row context — the
    * Spark-explicit replacement for pandas index-aligned assignment
    * (SURVEY §2.3 M7). One `select`; Catalyst collapses stacked projections.
    */
  def withPairs(pairs: (String, EstM90)*): CensusFrame = {
    val existing = df.columns.map(df(_)).toSeq
    val added = pairs.flatMap { case (name, p) => p.named(name) }
    copy(df = df.select(existing ++ added: _*))
  }

  /** Keep only the named pairs (plus key columns), still one select. */
  def selectPairs(keys: Seq[String], pairs: (String, EstM90)*): CensusFrame = {
    val keyCols = keys.map(df(_))
    val added = pairs.flatMap { case (name, p) => p.named(name) }
    copy(df = df.select(keyCols ++ added: _*))
  }

  // ---- margin-aware aggregation (SURVEY §2.4 A1/A2) ----

  private def numericDataCols: Seq[String] =
    df.schema.fields.collect {
      case StructField(n, _: NumericType, _, _) => n
    }.toSeq

  /** `groupby(keys).sum()` with RSS margins: estimates summed, `_m90`
    * columns combined as `sqrt(sum(m²))` ([[AcsMath.aggSumM]]; ref
    * `test/test_basic.py:197-207`, notebook cell 12). NaN margins should be
    * filled first (`fillNaMargins`). One shuffle; partial aggregation is
    * map-side (sum and sum-of-squares both decompose).
    */
  def groupBySum(keys: String*): CensusFrame = groupByAgg(keys, mean = false)

  /** `groupby(keys).mean()` with RSS-scaled margins ([[AcsMath.aggMeanM]];
    * SURVEY §2.4 A2).
    */
  def groupByMean(keys: String*): CensusFrame = groupByAgg(keys, mean = true)

  /** Each data column takes its half of the aggregate pair law: the
    * estimate half for an estimate, the margin half for an `_m90` column.
    */
  private def groupByAgg(keys: Seq[String], mean: Boolean): CensusFrame = {
    val law: (Column, Column) => EstM90 = if (mean) AcsMath.aggMeanM else AcsMath.aggSumM
    val aggs = numericDataCols.filterNot(keys.contains).map { c =>
      val p = law(df(c), df(c))
      (if (c.endsWith("_m90")) p.m90 else p.est).as(c)
    }
    copy(df = df.groupBy(keys.map(df(_)): _*).agg(aggs.head, aggs.tail: _*))
  }

  /** `fillna(0)` on margin columns before RSS aggregation (notebook cell 12,
    * SURVEY §2.5 F3).
    */
  def fillNaMargins(value: Double = 0.0): CensusFrame =
    copy(df = df.na.fill(value, df.columns.filter(_.endsWith("_m90")).toIndexedSeq))

  /** Restore sorted column order after groupBy scrambles it (notebook cell
    * 12 `reindex_axis`; SURVEY §2.4 A4).
    */
  def sortColumns: CensusFrame =
    copy(df = df.select(df.columns.sorted.map(df(_)).toIndexedSeq: _*))

  // ---- naming views (SURVEY §2.2 P5) ----

  /** Relabel all columns by census code, preserving metadata. */
  def codedColumns: CensusFrame = relabel(m => m.code)

  /** Relabel by human title (margins keep the `_m90`-suffixed code so the
    * pairing convention survives relabeling).
    */
  def titledColumns: CensusFrame =
    relabel(m => if (m.title.nonEmpty && !m.isM90) m.title else m.code)

  /** Relabel by "code title". */
  def ctColumns: CensusFrame =
    relabel(m => if (m.title.nonEmpty && !m.isM90) m.codeTitle else m.code)

  private def relabel(label: ColMeta => String): CensusFrame = {
    val cols = df.schema.fields.map { f =>
      CensusMeta.fromField(f) match {
        // metadata must ride along: bare .alias() drops it (SURVEY §4 pitfall 1)
        case Some(m) => df(f.name).as(label(m), CensusMeta.toMetadata(m))
        case None    => df(f.name)
      }
    }
    copy(df = df.select(cols.toIndexedSeq: _*))
  }

  /** Column *discovery* by label substring (notebook cell 7, SURVEY P6). */
  def columnsContaining(substr: String): Seq[String] = {
    val fromNames = df.schema.fieldNames.filter(_.contains(substr))
    val fromMeta = df.schema.fields
      .filter(f => CensusMeta.fromField(f).exists(m => m.codeTitle.contains(substr)))
      .map(_.name)
    (fromNames ++ fromMeta).distinct.toSeq
  }

  /** Driver-side transposed preview of the first `n` rows (the notebook's
    * `.T` display idiom, SURVEY P7): one output row per column, one output
    * column per previewed source row. Collects only the preview.
    */
  def previewTranspose(n: Int = 5): Seq[(String, Seq[Any])] = {
    val rows = df.limit(n).collect()
    df.schema.fieldNames.toSeq.zipWithIndex.map { case (name, i) =>
      name -> rows.toSeq.map(_.get(i))
    }
  }

  // ---- row-generator scan (SURVEY §2.1 S5) ----

  /** Header row of column codes then data rows, like the reference's
    * iterator protocol (`censusreporter.py:168-175`). Driver-side.
    */
  def rowIterator: Iterator[Seq[Any]] = {
    val header: Seq[Any] = df.schema.fields.toSeq.map { f =>
      CensusMeta.fromField(f).map(_.code).getOrElse(f.name)
    }
    Iterator(header) ++ df.toLocalIterator().asScala.map(_.toSeq)
  }

  private implicit class RichJIterator[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}

object CensusFrame {
  /** Enrich any DataFrame with the census API without wrapping. */
  implicit class CensusOps(val df: DataFrame) extends AnyVal {
    def census: CensusFrame = CensusFrame(df)
  }
}
