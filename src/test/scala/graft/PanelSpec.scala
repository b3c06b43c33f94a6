package graft

import graft.ingest.PanelIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end panel ingest + data-prep pipeline against the converted
  * reference dataset (FIXTURES.md §1.4 derived-shape goldens: 696×147
  * monthly, 232-row GDP, 231-row quarterly frames, 163/68 split).
  */
class PanelSpec extends AnyFunSuite with SharedSpark {

  private val dir = "data/panel"

  test("S2: monthly panel loads with the fixed 147-column schema, 696 rows") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    assert(m.columns.length == 147)
    assert(m.count() == 696)
    assert(m.columns.count(_ == "WPSFD49207") == 1 && m.columns.contains("WPSFD49207_2"))
    assert(m.columns.contains("AMBSL_2"))
  }

  test("S2: GDP loads 232 rows with the recorded first/last values") {
    val g = PanelIngest.loadGdp(spark, s"$dir/gdp_quarterly.parquet")
    assert(g.count() == 232)
    val vals = g.orderBy(col("date")).select(col("GDP")).collect().map(_.getDouble(0))
    assert(math.abs(vals.head - 2976.629) < 1e-9)
    assert(math.abs(vals.last - 16813.328) < 1e-9)
  }

  test("W1+A1: quarterly diffed panel is 231×147 spanning 1959Q2..2016Q4") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val q = PanelIngest.quarterlyDiffs(m)
    assert(q.columns.length == 147)
    assert(q.count() == 231)
    val span = q.agg(min(col("quarter")), max(col("quarter"))).collect()(0)
    assert(span.getDate(0).toString == "1959-04-01")
    assert(span.getDate(1).toString == "2016-10-01")
  }

  test("A1 telescoping: quarterly sum of monthly diffs = quarter-end minus prior quarter-end") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val q = PanelIngest.quarterlyDiffs(m)
    val qv = q.filter(col("quarter") === lit("1960-04-01").cast("date"))
      .select(col("INDPRO")).collect()(0).getDouble(0)
    val levels = m.orderBy(col("date"))
      .filter(col("date").between(
        lit("1960-03-01").cast("date"), lit("1960-06-01").cast("date")))
      .select(col("INDPRO")).collect().map(_.getDouble(0))
    // 1960Q2 sum of diffs = INDPRO(1960-06) − INDPRO(1960-03).
    assert(math.abs(qv - (levels.last - levels.head)) < 1e-9)
  }

  test("J1+split: end_var is 231 rows × 148 cols; train 163 / test 68 at 2000Q1") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val g = PanelIngest.loadGdp(spark, s"$dir/gdp_quarterly.parquet")
    val ev = PanelIngest.endVar(PanelIngest.gdpLogDiff(g), PanelIngest.quarterlyDiffs(m))
    assert(ev.columns.length == 148) // quarter + GDP + 146 series
    assert(ev.count() == 231)
    val (train, test0) = PanelIngest.trainTestSplit(ev)
    assert(train.count() == 163)
    assert(test0.count() == 68)
  }

  test("NA semantics: a quarter with any missing monthly diff is NULL, not a partial sum") {
    val m = PanelIngest.loadMonthly(spark, s"$dir/monthly_panel.parquet")
    val q = PanelIngest.quarterlyDiffs(m)
    // Series with late start (#N/A leading cells) must be NULL through
    // their missing span — count nulls stays >= the raw missing quarters.
    val lateStarters = Seq("TCU", "MCUMFN", "DGS3")
    val nNullRaw = m.select(lateStarters.map(n => count(when(col(n).isNull, 1)).as(n)): _*)
      .collect()(0)
    val nNullQ = q.select(lateStarters.map(n => count(when(col(n).isNull, 1)).as(n)): _*)
      .collect()(0)
    lateStarters.indices.foreach { i =>
      if (nNullRaw.getLong(i) > 0) assert(nNullQ.getLong(i) > 0, lateStarters(i))
    }
  }
}
