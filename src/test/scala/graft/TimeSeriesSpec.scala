package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops.TimeSeries

/** W4/W3/R4/W8 edge cases from SURVEY §7.4: leading/trailing nulls stay
  * null (na.rm=FALSE), single observation, exact-year hits, grid
  * completion.
  */
class TimeSeriesSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(rows: (String, Int, java.lang.Double)*) =
    rows.toDF("k", "x", "v")

  test("naApprox interpolates interior nulls linearly") {
    val df = ts(("a", 2020, 10.0), ("a", 2021, null), ("a", 2022, null), ("a", 2023, 40.0))
    val out = TimeSeries.naApprox(df, Seq("k"), "x", "v", "vi")
      .orderBy("x").select("vi").as[Option[Double]].collect()
    assert(out.toSeq == Seq(Some(10.0), Some(20.0), Some(30.0), Some(40.0)))
  }

  test("naApprox leaves leading/trailing nulls (na.rm=FALSE semantics)") {
    val df = ts(("a", 1, null), ("a", 2, 4.0), ("a", 3, null), ("a", 4, 8.0), ("a", 5, null))
    val out = TimeSeries.naApprox(df, Seq("k"), "x", "v", "vi")
      .orderBy("x").select("vi").as[Option[Double]].collect()
    assert(out.toSeq == Seq(None, Some(4.0), Some(6.0), Some(8.0), None))
  }

  test("naApprox with a single observation keeps it and fills nothing") {
    val df = ts(("a", 1, null), ("a", 2, 5.0), ("a", 3, null))
    val out = TimeSeries.naApprox(df, Seq("k"), "x", "v", "vi")
      .orderBy("x").select("vi").as[Option[Double]].collect()
    assert(out.toSeq == Seq(None, Some(5.0), None))
  }

  test("naApprox does not leak across groups") {
    val df = ts(("a", 1, 1.0), ("a", 2, null), ("a", 3, 3.0),
      ("b", 1, 100.0), ("b", 2, null), ("b", 3, 300.0))
    val out = TimeSeries.naApprox(df, Seq("k"), "x", "v", "vi")
      .orderBy("k", "x").select("vi").as[Double].collect()
    assert(out.toSeq == Seq(1.0, 2.0, 3.0, 100.0, 200.0, 300.0))
  }

  test("fillDown carries last observation forward, fillUp backward") {
    val df = ts(("a", 1, null), ("a", 2, 7.0), ("a", 3, null), ("a", 4, null))
    val down = TimeSeries.fillDown(df, Seq("k"), "x", "v", "o")
      .orderBy("x").select("o").as[Option[Double]].collect()
    assert(down.toSeq == Seq(None, Some(7.0), Some(7.0), Some(7.0)))
    val up = TimeSeries.fillUp(df, Seq("k"), "x", "v", "o")
      .orderBy("x").select("o").as[Option[Double]].collect()
    assert(up.toSeq == Seq(Some(7.0), Some(7.0), None, None))
  }

  test("completeGrid adds missing grid rows with null values") {
    val df = ts(("a", 2020, 1.0), ("a", 2023, 4.0))
    val out = TimeSeries.completeGrid(df.select("k", "x", "v"), Seq("k"), "x", 2020, 2023)
    assert(out.count() == 4)
    assert(out.filter(col("v").isNull).count() == 2)
  }

  test("completeGridLocal completes per-group min..max (full_seq)") {
    val df = ts(("a", 1, 1.0), ("a", 3, 3.0), ("b", 10, 1.0), ("b", 11, 2.0))
    val out = TimeSeries.completeGridLocal(df.select("k", "x", "v"), Seq("k"), "x")
    assert(out.count() == 5) // a: 1,2,3 ; b: 10,11
  }

  test("zeroAfterLastObs zeroes only trailing nulls") {
    val df = ts(("a", 1, null), ("a", 2, 5.0), ("a", 3, null), ("a", 4, null))
    val out = TimeSeries.zeroAfterLastObs(df, Seq("k"), "x", "v", "o")
      .orderBy("x").select("o").as[Option[Double]].collect()
    assert(out.toSeq == Seq(None, Some(5.0), Some(0.0), Some(0.0)))
  }

  test("interpolation pipeline: completeGrid then naApprox (the reference chain)") {
    // reference chain R4 -> W4 (R/prepare_prewrangled_capacity_factors.R:113-135)
    val df = ts(("a", 2020, 10.0), ("a", 2022, 30.0))
    val out = TimeSeries.naApprox(
        TimeSeries.completeGrid(df.select("k", "x", "v"), Seq("k"), "x", 2020, 2022),
        Seq("k"), "x", "v", "vi")
      .orderBy("x").select("vi").as[Double].collect()
    assert(out.toSeq == Seq(10.0, 20.0, 30.0))
  }

  test("holt: the bounded fold equals the reference recursion exactly") {
    // per-key series with a deliberate trend + a level shock; the fold
    // (Stats.holt) must equal a driver-side replay of
    //   l' = a*y + (1-a)(l+b); b' = b*(l'-l) + (1-b)*b
    // over the same trailing frame, bit for bit (a=0.5, b=0.25 are exact
    // binary fractions), including the warm-up rows with partial frames
    val ys = Seq(2.0, 3.0, 10.0, 4.0, 5.0, 6.0, 7.0, 8.0, 20.0, 21.0, 22.0)
    val df = ys.zipWithIndex.map { case (y, i) => ("k", i, y) }.toDF("k", "i", "y")
    val got = graft.ops.Stats.holt(df, Seq("k"), Seq("i"), "y",
        alpha = 0.5, beta = 0.25, lookback = 8)
      .orderBy("i").select("level", "trend")
      .as[(Double, Double)].collect().toSeq
    def ref(frame: Seq[Double]): (Double, Double) =
      frame.tail.foldLeft((frame.head, 0.0)) { case ((l, b), y) =>
        val nl = (0.5 * y) + (0.5 * (l + b))
        (nl, (0.25 * (nl - l)) + (0.75 * b))
      }
    val want = ys.indices.map(i => ref(ys.slice(math.max(0, i - 7), i + 1)))
    assert(got == want, s"fold diverged from the recursion:\n$got\nvs\n$want")
    // trend actually tracks the planted ramp: after the shock settles the
    // trend is positive and the one-step forecast exceeds the level
    val (lvl, tr) = got.last
    assert(tr > 0 && lvl + tr > lvl)
  }

  test("completeInterpolateGlobalRange replays completeGridGlobalRange + naApprox exactly") {
    // completeInterpolate (which replaced completeInterpolateGlobalRange)
    // on the global axis and on a fixed axis, each against its relational
    // spelling, doubles compared to the bit
    def key(r: Row) = r.toSeq.map {
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(d).toString
      case o => String.valueOf(o)
    }.mkString("|")
    def replays(fused: org.apache.spark.sql.DataFrame,
        relational: org.apache.spark.sql.DataFrame): Unit = {
      assert(fused.columns.toSeq == relational.columns.toSeq)
      assert(fused.collect().map(key).sorted.toSeq == relational.collect().map(key).sorted.toSeq)
    }
    // global axis: interior holes, group ranges narrower than the global
    // axis (edge nulls must stay null), an all-null group, duplicate
    // (key, x) rows, a key whose ONLY row has null x (the distinct-keys
    // grid must still cover it), and non-dyadic doubles
    val global = Seq[(String, Integer, java.lang.Double)](
      ("a", 2020, 1.0), ("a", 2024, null), ("a", 2027, 0.7),
      ("b", 2022, 3.3), ("b", 2025, null),
      ("c", 2021, null), ("c", 2023, null),
      ("d", 2030, 5.5),
      ("e", 2020, 2.0), ("e", 2022, 2.0), ("e", 2022, 4.0), ("e", 2024, 1.0),
      ("f", null, 9.0)
    ).toDF("g", "x", "v")
    replays(TimeSeries.completeInterpolate(global, Seq("g"), "x", Seq("v"), TimeSeries.Axis.Global),
      TimeSeries.naApprox(TimeSeries.completeGridGlobalRange(global, Seq("g"), "x"),
        Seq("g"), "x", "v", "v"))
    // fixed axis [2020, 2025], two value columns each interpolating from
    // its own anchors: rows outside the axis stay, anchor and interpolate
    // (a: 2017/2018 and 2026/2027; d lies wholly outside), null-x rows
    // pass through (c), an all-null group (e)
    val fixed = Seq[(String, Integer, java.lang.Double, java.lang.Double)](
      ("a", 2017, null, 0.5), ("a", 2018, 1.0, null), ("a", 2020, null, 2.0),
      ("a", 2023, 4.0, null), ("a", 2026, null, 5.5), ("a", 2027, 7.3, null),
      ("b", 2021, 0.3, 0.7), ("b", 2024, null, null), ("b", 2025, 0.9, 1.1),
      ("c", null, 9.0, 1.0), ("c", null, null, null), ("c", 2022, null, 3.0),
      ("d", 2019, 2.0, 2.0), ("d", 2030, null, 6.0),
      ("e", 2021, null, null)
    ).toDF("g", "x", "v", "w")
    val grid = TimeSeries.completeGrid(fixed, Seq("g"), "x", 2020, 2025)
    replays(TimeSeries.completeInterpolate(fixed, Seq("g"), "x", Seq("v", "w"),
        TimeSeries.Axis.Fixed(2020, 2025)),
      TimeSeries.naApprox(TimeSeries.naApprox(grid, Seq("g"), "x", "v", "v"),
        Seq("g"), "x", "w", "w"))
  }

  test("fused interpolation tie rule: a null beside a same-x non-null sibling skips it") {
    // (a, 2022) holds a null AND 5.0: the null takes the line through the
    // nearest non-null observations strictly before and after 2022 —
    // (2020, 1.0) and (2024, 3.0) — so 2.0, not the sibling's 5.0; the
    // grid-only years 2021/2023 do use the sibling as an anchor
    val df = ts(("a", 2020, 1.0), ("a", 2022, null), ("a", 2022, 5.0), ("a", 2024, 3.0))
    val want = Seq((2020, 1.0), (2021, 3.0), (2022, 2.0), (2022, 5.0), (2023, 4.0), (2024, 3.0))
    for (axis <- Seq(TimeSeries.Axis.PerGroup, TimeSeries.Axis.Global)) {
      val out = TimeSeries.completeInterpolate(df, Seq("k"), "x", Seq("v"), axis)
      assert(out.select("x", "v").as[(Int, Double)].collect().toSeq.sorted == want)
    }
    // on a fixed axis with a second value column: w has no value at 2022,
    // so both 2022 rows take w's own line through (2020, 10) and (2024, 30)
    val two = Seq[(String, Int, java.lang.Double, java.lang.Double)](
      ("a", 2020, 1.0, 10.0), ("a", 2022, null, null), ("a", 2022, 5.0, null),
      ("a", 2024, 3.0, 30.0)).toDF("k", "x", "v", "w")
    val out = TimeSeries.completeInterpolate(two, Seq("k"), "x", Seq("v", "w"),
      TimeSeries.Axis.Fixed(2020, 2024))
    assert(out.select("x", "v", "w").as[(Int, Double, Double)].collect().toSeq.sorted ==
      want.map { case (x, v) => (x, v, 10.0 + 5 * (x - 2020)) })
  }
}
