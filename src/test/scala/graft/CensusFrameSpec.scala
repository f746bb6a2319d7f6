package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.schema.CensusMeta

/** Schema-aware frame behavior: lookup, pairing, margin-carrying select,
  * naming views (ref behaviors pinned at `test/test_basic.py:21-28,176-219`
  * and notebook cells 2-7).
  */
class CensusFrameSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import CensusFrame.CensusOps

  private lazy val cf = TestSpark.makeDf().census

  test("lookup by position resolves via metadata (test_basic.py:21)") {
    // position 4 = col1 estimate
    val c = cf.lookup(4)
    val got = cf.df.select(org.apache.spark.sql.functions.sum(c)).head().getDouble(0)
    assert(got == (1 to 10).map(_ * 2).sum.toDouble)
  }

  test("lookup by 3-digit index + m90/value round trip (test_basic.py:22-28)") {
    val est = cf.lookup("002") // col1
    assert(cf.censusCode("002") == "B00001002")
    assert(cf.censusTitle("002") == "Synthetic column 1")
    // m90 of estimate, then back to value
    assert(cf.m90Name("002") == "col1_m90")
    assert(cf.valueName("col1_m90") == "col1")
    val m90Sum = cf.df.select(sum(cf.m90("002"))).head().getDouble(0)
    val expected = (1 to 10).map(r => 7.0 * r / 6).sum
    assert(math.abs(m90Sum - expected) < 1e-9)
  }

  test("3-digit alias equals code-resolved column (notebook cell 5)") {
    assert(cf.resolveName("001") == "col0")
    assert(cf.resolveName("B00001003") == "col2")
    assert(cf.resolveName("col3") == "col3")
    intercept[IllegalArgumentException](cf.resolveName("999"))
  }

  test("selectCensus auto-includes margins (test_basic.py:176-195)") {
    val sel = cf.selectCensus("geoid", "col0", "col2")
    assert(sel.df.columns.toSeq ==
      Seq("geoid", "col0", "col0_m90", "col2", "col2_m90"))
  }

  test("groupBySum/groupByMean square integral margins in double (no ANSI overflow)") {
    import spark.implicits._
    // 50000² overflows int and 4e9² overflows long; both are exact in double
    Seq[(Seq[(String, Long, Long)], String)](
      (Seq(("a", 1L, 50000L), ("a", 2L, 50000L)), "int"),
      (Seq(("a", 1L, 4000000000L), ("a", 2L, 4000000000L)), "long")).foreach {
      case (rows, t) =>
        val df = rows.toDF("g", "e", "e_m90")
          .select(col("g"), col("e").cast(t).as("e"), col("e_m90").cast(t).as("e_m90"))
        val m = rows.head._3.toDouble
        val rss = math.sqrt(m * m + m * m)
        val sum = CensusFrame(df).groupBySum("g").df.select("e", "e_m90").head()
        assert(sum.getLong(0) == 3L && sum.getDouble(1) == rss, s"$t: $sum")
        val mean = CensusFrame(df).groupByMean("g").df.select("e", "e_m90").head()
        assert(mean.getDouble(0) == 1.5 && mean.getDouble(1) == rss / 2, s"$t: $mean")
    }
  }

  test("naming views relabel and preserve metadata (notebook cells 2-3)") {
    val titled = cf.titledColumns
    assert(titled.df.columns.contains("Synthetic column 0"))
    // metadata must survive the relabel so lookups keep working
    assert(titled.censusCode("001") == "B00001001")
    val ct = cf.ctColumns
    assert(ct.df.columns.contains("B00001002 Synthetic column 1"))
    val coded = cf.codedColumns
    assert(coded.df.columns.contains("B00001001"))
    // margins keep the _m90 convention under every view
    assert(titled.df.columns.contains("col0_m90") || titled.df.columns.contains("B00001001_m90"))
  }

  test("columnsContaining discovers by label substring (notebook cell 7)") {
    // like the reference, the paired margin column matches too (its title
    // contains the same phrase)
    assert(cf.columnsContaining("column 2") == Seq("col2", "col2_m90"))
  }

  test("rowIterator yields header of codes then rows (censusreporter.py:168-175)") {
    val it = cf.rowIterator.toSeq
    assert(it.length == 11) // header + 10 rows (test_url.py:51 analogue)
    assert(it.head.take(3) == Seq("geoid", "group", "B00001001"))
  }

  test("metadata codec round-trips") {
    val f = cf.df.schema.fields.find(_.name == "col1").get
    val m = CensusMeta.fromField(f).get
    assert(m.code == "B00001002" && m.index == "002" && m.position == 4)
    assert(m.codeTitle == "B00001002 Synthetic column 1")
    assert(m.m90Code == "B00001002_m90" && !m.isM90)
  }

  test("sortColumns restores lexicographic order (notebook cell 12)") {
    val sorted = cf.groupBySum("group").sortColumns.df.columns.toSeq
    assert(sorted == sorted.sorted)
  }
}
