package graft

import org.apache.spark.sql.functions._
import graft.pipelines.Prices

class PricesSpec extends SparkTestBase {
  import spark.implicits._

  private def fossilWide = Seq(
    ("WEO2021", "Crude oil", "usd/barrel", "Global", "SDS", 100.0, 50.0),
    ("WEO2021", "Coal", "usd/tonnes", "EU", "SDS", 60.0, 40.0),
    ("WEO2021", "Coal", "usd/tonnes", "US", "SDS", 80.0, 60.0))
    .toDF("source", "sector", "unit", "scenario_geography", "scenario", "2020", "2030")

  private def powerWide = Seq(
    ("WEO2021", "SDS", "EU", "Gas CCGT", "LCOE", "usd/MWh", 70.0, 50.0),
    ("WEO2021", "SDS", "EU", "Solar PV", "LCOE", "usd/MWh", 40.0, 20.0),
    ("WEO2021", "SDS", "EU", "Wind onshore", "LCOE", "usd/MWh", 60.0, 40.0),
    ("WEO2021", "SDS", "EU", "Gas CCGT", "CAPEX", "usd/kW", 999.0, 999.0)) // dropped
    .toDF("source", "scenario", "region", "technology", "indicator", "unit", "2020", "2030")

  test("WEO2021 prices: unit conversion, global mean, placeholders, interpolation") {
    val out = Prices.preparePriceDataLongWeo2021(fossilWide, powerWide)
    // oil barrel -> GJ conversion
    val oil = out.filter(col("technology") === "Oil" && col("year") === 2020)
      .select("price", "unit").as[(Double, String)].head()
    assert(oil == ((16.0, "GJ")))
    // coal global = mean of EU (60) and US (80)
    val coalGlobal = out.filter(col("technology") === "Coal" &&
      col("scenario_geography") === "Global" && col("year") === 2020)
      .select("price").as[Double].head()
    assert(coalGlobal == 70.0)
    // renewables averaged: (40+60)/2 = 50 at 2020; HydroCap placeholder clones it
    val renew = out.filter(col("technology") === "RenewablesCap" &&
      col("scenario_geography") === "EU" && col("year") === 2020).select("price").as[Double].head()
    assert(renew == 50.0)
    val hydro = out.filter(col("technology") === "HydroCap" &&
      col("scenario_geography") === "EU" && col("year") === 2020).select("price").as[Double].head()
    assert(hydro == 50.0)
    // OilCap placeholder = GasCap
    assert(out.filter(col("technology") === "OilCap").count() > 0)
    // completed + interpolated: every year 2020..2030, never null
    val coalEu = out.filter(col("technology") === "Coal" && col("scenario_geography") === "EU")
    assert(coalEu.count() == 11)
    assert(coalEu.filter(col("price").isNull).count() == 0)
    val mid = coalEu.filter(col("year") === 2025).select("price").as[Double].head()
    assert(mid == 50.0) // halfway 60 -> 40
    // CAPEX indicator rows were dropped
    assert(out.filter(col("indicator") === "CAPEX").count() == 0)
  }

  test("LCOE adjustment: implied price scaled by cost factor") {
    val input = Seq[(String, String, String, String, String, String, String, Int, Double)](
      ("S", "sc", "Global", "Power", "GasCap", "LCOE", "usd/MWh", 2020, 100.0),
      ("S", "sc", "Global", "Power", "GasCap", "LCOE", "usd/MWh", 2021, 80.0),
      ("S", "sc", "Global", "Coal", "Coal", "price", "usd/t", 2020, 60.0),
      // no start-year row: the group drops out
      ("S", "sc", "EU", "Power", "CoalCap", "LCOE", "usd/MWh", 2021, 50.0),
      // two start-year rows: every row of the group comes out twice
      ("S", "sc", "US", "Power", "GasCap", "LCOE", "usd/MWh", 2020, 40.0),
      ("S", "sc", "US", "Power", "GasCap", "LCOE", "usd/MWh", 2020, 40.0),
      ("S", "sc", "US", "Power", "GasCap", "LCOE", "usd/MWh", 2021, 20.0),
      // a non-LCOE row on the first group's keys: passes through once, and
      // neither anchors nor scales that group
      ("S", "sc", "Global", "Power", "GasCap", "capex", "usd/MWh", 2020, 7.0),
      // an LCOE row with a null key drops
      ("S", "sc", "Global", "Power", "NuclearCap", "LCOE", null, 2020, 90.0))
      .toDF("source", "scenario", "scenario_geography", "sector", "technology",
        "indicator", "unit", "year", "price")
    val out = Prices.lcoeAdjustedPrices(input, averageNpmPower = 0.2, startYear = 2020)
    val gas = out.filter(col("technology") === "GasCap" && col("scenario_geography") === "Global" &&
        col("indicator") === "price")
      .select("year", "price").as[(Int, Double)].collect().sorted
    assert(gas.toSeq == Seq((2020, 125.0), (2021, 156.25))) // 100 / (1 - 0.2), 125 * (100/80)
    assert(out.filter(col("indicator") === "LCOE").count() == 0)
    // non-LCOE rows pass through untouched
    assert(out.filter(col("sector") === "Coal").select("price").as[Double].head() == 60.0)
    assert(out.filter(col("indicator") === "capex").select("price").as[Double].collect()
      .toSeq == Seq(7.0))
    assert(out.filter(col("scenario_geography") === "EU").count() == 0)
    val us = out.filter(col("scenario_geography") === "US")
      .select("year", "price").as[(Int, Double)].collect().sorted
    assert(us.toSeq == Seq.fill(4)((2020, 50.0)) ++ Seq.fill(2)((2021, 100.0)))
    assert(out.filter(col("technology") === "NuclearCap").count() == 0)
    assert(out.count() == 2 + 1 + 1 + 6)
  }

  test("regional → Global mean: rows pass through, nulls skipped, Oil gets none") {
    // steel: duplicate regional rows stay, an input Global row is averaged
    // in and kept, a null cost is skipped by the mean
    val lc = Seq[(String, String, String, Int, java.lang.Double)](
        ("baseline", "Europe", "EAF", 2025, 400.0), ("baseline", "Europe", "EAF", 2025, 400.0),
        ("baseline", "Global", "EAF", 2025, 100.0), ("baseline", "Asia", "EAF", 2025, null))
      .toDF("scenario", "region", "technology", "year", "levelized_cost")
    val steel = Prices.mpLcSteelWrangling(lc).filter(col("technology") === "EAF")
      .select(col("scenario_geography"), col("price")).as[(String, Option[Double])]
      .collect().sortBy(_.toString)
    assert(steel.toSeq == Seq(("Asia", None), ("Europe", Some(400.0)), ("Europe", Some(400.0)),
      ("Global", Some(100.0)), ("Global", Some(300.0))))
    // fossil: the Global row is for Gas and Coal only
    val fossil = Seq(
        ("WEO2021", "Crude oil", "usd/barrel", "EU", "SDS", 100.0, 50.0),
        ("WEO2021", "Crude oil", "usd/barrel", "US", "SDS", 80.0, 40.0),
        ("WEO2021", "Coal", "usd/tonnes", "EU", "SDS", 60.0, 40.0),
        ("WEO2021", "Coal", "usd/tonnes", "US", "SDS", 80.0, 60.0))
      .toDF("source", "sector", "unit", "scenario_geography", "scenario", "2020", "2030")
    val out = Prices.preparePriceDataLongWeo2021(fossil, powerWide)
      .filter(col("scenario_geography") === "Global" && col("year") === 2020)
    assert(out.filter(col("technology") === "Oil").count() == 0)
    assert(out.filter(col("technology") === "Coal").select("price").as[Double].collect()
      .toSeq == Seq(70.0))
  }

  test("extrapolatePrices fills 2070-2100 with the fitted line") {
    val rows = (2049 to 2069).map(y => ("t1", "s1", y, 10.0 + 2.0 * (y - 2049)))
    val df = rows.toDF("technology", "scenario", "year", "price")
    val out = Prices.extrapolatePrices(df)
    assert(out.count() == (2100 - 2049 + 1))
    val p2100 = out.filter(col("year") === 2100).select("price").as[Double].head()
    assert(math.abs(p2100 - (10.0 + 2.0 * (2100 - 2049))) < 1e-9)
    assert(out.filter(col("price").isNull).count() == 0)
  }

  test("fanOutNgfsScenarios: 3 models x fast/slow sets + Oxford renames") {
    val df = Seq(
      ("fast_transition_oxford", "Power", "Global", "GasCap", "usd/MWh", "price", 2020, 1.0),
      ("no_transition_oxford", "Power", "Global", "GasCap", "usd/MWh", "price", 2020, 2.0),
      ("slow_transition_oxford", "Power", "Global", "GasCap", "usd/MWh", "price", 2020, 3.0))
      .toDF("scenario", "sector", "scenario_geography", "technology", "unit",
        "indicator", "year", "price")
    val out = Prices.fanOutNgfsScenarios(df, "2023")
    // fast: 3 models x 4 scenarios; slow: 3 x 3; oxford: fast + base
    assert(out.count() == 12 + 9 + 2)
    assert(out.filter(col("scenario") === "NGFS2023GCAM_NZ2050").count() == 1)
    assert(out.filter(col("scenario") === "Oxford2021_base").count() == 1)
    assert(out.filter(col("scenario").contains("slow_transition")).count() == 0)
  }
}
