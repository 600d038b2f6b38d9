package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipelines._

class PipelinesSpec extends SparkTestBase {
  import spark.implicits._

  // ---- carbon price ----------------------------------------------------

  private def ngfsWide: DataFrame = {
    val years = (2015 to 2100 by 5).map(_.toString)
    val base = Seq(("NGFS", "NZ2050", "World", "Price|Carbon", "US$2010/t CO2"),
      ("NGFS", "UNLISTED", "World", "Price|Carbon", "US$2010/t CO2"))
      .toDF("Model", "Scenario", "Region", "Variable", "Unit")
    years.zipWithIndex.foldLeft(base) { case (d, (y, i)) =>
      d.withColumn(y, lit(10.0 * i)) // 0, 10, ..., 170 at 5-year steps
    }
  }

  test("carbon price: zero before 2025, interpolated after, unlisted scenarios all zero") {
    val out = CarbonPrice.prepareNgfsCarbonPrice(spark, ngfsWide, startYear = 2019)
    val nz = out.filter(col("scenario") === "NZ2050")
      .select("year", "carbon_tax").as[(Int, Double)].collect().toMap
    assert(nz.size == 86) // complete 2015..2100
    assert(nz(2020) == 0.0 && nz(2024) == 0.0) // pre-2025 forced to 0
    assert(nz(2025) == 20.0)  // grid point (index 2)
    assert(nz(2027) == 24.0)  // interpolated between 20 (2025) and 30 (2030)
    assert(nz(2100) == 170.0)
    val unlisted = out.filter(col("scenario") === "UNLISTED")
      .agg(sum(abs(col("carbon_tax")))).as[Double].head()
    assert(unlisted == 0.0)
    // injected literal scenarios exist with the documented defaults
    val flat = out.filter(col("scenario") === "flat_carbon_tax_50" && col("year") === 2030)
      .select("carbon_tax").as[Double].head()
    assert(flat == 50.0)
    val none = out.filter(col("scenario") === "no_carbon_tax")
      .agg(sum(abs(col("carbon_tax")))).as[Double].head()
    assert(none == 0.0)
  }

  // ---- capacity factors ------------------------------------------------

  private def weoWide: DataFrame = {
    // generation chosen so cf = gen*1000/8760/cap is a clean ratio
    val rows = Seq(
      // (Indicator, Technology, Sub_Technology, v2020, v2030, v2040)
      ("Capacity", "Coal", None, 100.0, 100.0, 100.0),
      ("Generation", "Coal", None, 438.0, 525.6, 613.2), // cf 0.5, 0.6, 0.7
      ("Capacity", "Renewables", Some("Hydro"), 10.0, 10.0, 10.0),
      ("Generation", "Renewables", Some("Hydro"), 43.8, 43.8, 43.8), // cf 0.5
      ("Capacity", "Total capacity", None, 999.0, 999.0, 999.0)) // filtered out
    rows.map { case (i, t, st, a, b, c) =>
      ("WEO2020", i, "Power", if (i == "Capacity") "GW" else "TWh", "SDS", "World", t, st.orNull, a, b, c)
    }.toDF("Source", "Indicator", "Sector", "Units", "Scenario", "ScenarioGeography",
      "Technology", "Sub_Technology", "2020", "2030", "2040")
  }

  test("capacity factors: ratio, interpolation, bounds, relabel slices") {
    val out = CapacityFactors.prepareCapacityFactorsWeo2021(weoWide, startYear = 2020)
    val coal = out.filter(col("technology") === "CoalCap" && col("scenario") === "WEO2021_SDS")
      .select("year", "capacity_factor").as[(Int, Double)].collect().toMap
    assert(coal.size == 21) // 2020..2040
    assert(math.abs(coal(2020) - 0.5) < 1e-12)
    assert(math.abs(coal(2025) - 0.55) < 1e-12) // interpolated capacity+generation
    assert(math.abs(coal(2040) - 0.7) < 1e-12)
    // Hydro sub-technology promoted, geography Global, NZE/APS clones exist
    assert(out.filter(col("technology") === "HydroCap" &&
      col("scenario") === "WEO2021_SDS").count() == 21)
    assert(out.select("scenario_geography").distinct().as[String].collect().toSeq == Seq("Global"))
    assert(out.filter(col("scenario") === "WEO2021_NZE_2050").count() == 42) // coal + hydro
    assert(out.filter(col("technology") === "Total capacity").count() == 0)
  }

  // ---- abcd ------------------------------------------------------------

  private def activities: DataFrame = Seq[(Long, String, String, String, String, String,
      Option[Double], Option[Double], Option[Double])](
    // MW capacity rows + MWh production rows for the same asset (c1/DE)
    (1L, "c1", "Power", "CoalCap", "DE", "MW", Some(100.0), Some(100.0), Some(100.0)),
    (1L, "c1", "Power", "CoalCap", "DE", "MWh", Some(800.0), None, Some(900.0)),
    // company with all-zero production -> dropped
    (2L, "c2", "Power", "GasCap", "FR", "MW", Some(0.0), Some(0.0), Some(0.0)))
    .toDF("company_id", "company_name", "ald_sector", "ald_business_unit", "ald_location",
      "activity_unit", "Equity Ownership 2020", "Equity Ownership 2021", "Equity Ownership 2022")

  private def emissionsFx: DataFrame = Seq[(Long, String, String, String, String, String,
      Option[Double], Option[Double], Option[Double])](
    (1L, "c1", "Power", "CoalCap", "DE", "tCO2", Some(400.0), None, Some(450.0)))
    .toDF("company_id", "company_name", "ald_sector", "ald_business_unit", "ald_location",
      "activity_unit", "Equity Ownership 2020", "Equity Ownership 2021", "Equity Ownership 2022")

  test("abcd: MW/MWh matching, EF ratio, interpolation, empty-production drop") {
    val out = Abcd.prepareAbcdData(activities, emissionsFx,
      startYear = 2020, timeHorizon = 2, sectorList = Seq("Power"))
    assert(out.filter(col("company_id") === 2L).count() == 0, "all-zero production must drop")
    val c1 = out.filter(col("company_id") === 1L && col("ald_business_unit") === "CoalCap")
      .filter(col("country_iso2") === "DE")
    val byYear = c1.filter(col("plan_tech_prod") === 100.0)
      .select("year", "plan_emission_factor").as[(Int, Double)].collect().toMap
    // EF = emissions/MWh-production: 400/800 = 0.5 (2020); 2021 interpolated
    // emissions=425, production=850 -> 0.5; 2022: 450/900 = 0.5
    assert(byYear.size == 3)
    assert(math.abs(byYear(2020) - 0.5) < 1e-12)
    assert(math.abs(byYear(2021) - 0.5) < 1e-12)
    assert(math.abs(byYear(2022) - 0.5) < 1e-12)
    // asset ids are deterministic and prefixed by company id
    val ids = out.select("asset_id").distinct().as[String].collect()
    assert(ids.forall(_.startsWith("1_")))
    assert(out.filter(col("scenario_geography") =!= "Global").count() == 0)
  }

  test("abcd: a null-business-unit row keeps its values and its asset id") {
    val act = activities.unionByName(Seq[(Long, String, String, String, String, String,
        Option[Double], Option[Double], Option[Double])](
      (3L, "c3", "Oil&Gas", null, "US", "GJ", Some(5.0), Some(6.0), Some(7.0)))
      .toDF(activities.columns: _*))
    val out = Abcd.prepareAbcdData(act, emissionsFx,
      startYear = 2020, timeHorizon = 2, sectorList = Seq("Power", "Oil&Gas"))
    val c3 = out.filter(col("company_id") === 3L)
      .select("year", "plan_tech_prod", "ald_sector", "asset_id")
      .as[(Option[Int], Option[Double], Option[String], String)].collect().sortBy(_._1)
    assert(c3.toSeq == Seq(
      (Some(2020), Some(5.0), Some("Oil&Gas"), "3_1"),
      (Some(2021), Some(6.0), Some("Oil&Gas"), "3_1"),
      (Some(2022), Some(7.0), Some("Oil&Gas"), "3_1")))
  }

  private def coalRows(rows: (Long, String, String, Option[Double], Option[Double],
      Option[Double])*): DataFrame =
    rows.map { case (id, name, unit, a, b, c) => (id, name, "Coal", "Coal", "FR", unit, a, b, c) }
      .toDF(activities.columns: _*)

  test("abcd: a NaN production cell counts as missing, as R's is.na does") {
    // two EF units for one asset: a NaN production kept as NaN made both
    // units' EF ratios NaN, both fanned out to every unit of (sector, bu),
    // and the unique-row check threw; as a missing cell it interpolates
    val out = Abcd.prepareAbcdData(
      coalRows((4L, "c4", "t", Some(10.0), Some(Double.NaN), Some(12.0))),
      coalRows((4L, "c4", "tCO2", Some(40.0), Some(44.0), Some(48.0)),
        (4L, "c4", "tCO2e", Some(50.0), Some(55.0), Some(60.0))),
      startYear = 2020, timeHorizon = 2, sectorList = Seq("Coal"))
    val got = out.select("emissions_factor_unit", "year", "plan_tech_prod", "plan_emission_factor")
      .as[(String, Int, Double, Double)].collect().toSeq.sorted
    assert(got == Seq("tCO2/t" -> 4.0, "tCO2e/t" -> 5.0).flatMap { case (u, ef) =>
      Seq((u, 2020, 10.0, ef), (u, 2021, 11.0, ef), (u, 2022, 12.0, ef)) })
  }

  test("abcd: two names under one company_id interpolate and fill separately") {
    val out = Abcd.prepareAbcdData(
      coalRows((5L, "c5", "t", Some(1.0), None, Some(3.0)),
        (5L, "c5 ltd", "t", None, Some(10.0), None)),
      coalRows((5L, "c5", "tCO2", Some(2.0), Some(4.0), Some(6.0)),
        (5L, "c5 ltd", "tCO2", Some(20.0), Some(20.0), Some(20.0))),
      startYear = 2020, timeHorizon = 2, sectorList = Seq("Coal"))
    val got = out.select("company_name", "year", "plan_tech_prod")
      .as[(String, Int, Double)].collect().toSeq.sorted
    assert(got == Seq(("c5", 2020, 1.0), ("c5", 2021, 2.0), ("c5", 2022, 3.0),
      ("c5 ltd", 2020, 0.0), ("c5 ltd", 2021, 10.0), ("c5 ltd", 2022, 10.0)))
  }

  // ---- financial -------------------------------------------------------

  private def financialRaw: DataFrame = Seq(
    // company 10: two ISINs in DE -> aggregated by median
    (10L, "DE", 0.1, 0.2, 0.5, 0.3),
    (10L, "DE", 0.3, 0.4, 0.7, 0.5),
    // company 11: raw data in FR
    (11L, "FR", 0.2, 0.6, 0.6, 0.4))
    .toDF("company_id", "ald_location", "pd", "net_profit_margin", "debt_equity_ratio", "volatility")

  private def companies: DataFrame = Seq(
    (10L, "Power", "DE"), (11L, "Power", "FR"),
    (12L, "Power", "DE"), // missing from financials; subsidiary of 10
    (13L, "Oil&Gas", "US")) // missing, no parent -> averages
    .toDF("company_id", "ald_sector", "ald_location")

  private def tree: DataFrame = Seq((10L, 12L, 1.0, 1))
    .toDF("parent_company_id", "subsidiary_company_id", "linking_stake", "ownership_level")

  test("financial: medians, closest-parent fill, tiered averages, no nulls") {
    val out = Financial.prepareFinancialData(spark, financialRaw, companies, Some(tree),
      minimumSampleSize = 0, minimumRatioSample = 0,
      allowedRangeNpm = (Double.NegativeInfinity, Double.PositiveInfinity))
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L, 12L, 13L))
    val m = rows.map(r => r.getLong(0) -> r).toMap
    // company 10: median of its two DE isins -> pd 0.2, npm 0.3
    assert(math.abs(m(10L).getAs[Double]("pd") - 0.2) < 1e-12)
    assert(math.abs(m(10L).getAs[Double]("net_profit_margin") - 0.3) < 1e-12)
    // company 12 inherits parent 10's values through the ownership tree
    assert(math.abs(m(12L).getAs[Double]("pd") - 0.2) < 1e-12)
    // company 13 got filled from averages -> rawdata ratio 0
    assert(m(13L).getAs[Double]("net_profit_margin_rawdata_ratio") == 0.0)
    // companies with raw data have ratio 1
    assert(m(11L).getAs[Double]("net_profit_margin_rawdata_ratio") == 1.0)
    // reference invariant: nothing null
    assert(rows.forall(r => (0 until r.length).forall(!r.isNullAt(_))))
  }

  test("financial: ownership_tree = None still fills every company (fixture default)") {
    val out = Financial.prepareFinancialData(spark, financialRaw, companies, None,
      minimumSampleSize = 0, minimumRatioSample = 0,
      allowedRangeNpm = (Double.NegativeInfinity, Double.PositiveInfinity))
    assert(out.count() == 4)
    assert(out.filter(col("pd").isNull).count() == 0)
  }

  // ---- scenario helpers ------------------------------------------------

  test("interpolateYearly completes full_seq and interpolates value") {
    val df = Seq(("s", "Power", "Global", "t", 2020, Some(1.0)), ("s", "Power", "Global", "t", 2022, None),
      ("s", "Power", "Global", "t", 2024, Some(5.0)))
      .toDF("scenario", "sector", "scenario_geography", "technology", "year", "value")
    val out = ScenarioData.interpolateYearly(df,
      Seq("scenario", "sector", "scenario_geography", "technology"))
    val byYear = out.select("year", "value").as[(Int, Option[Double])].collect().toMap
    assert(byYear.size == 5)
    assert(byYear(2021) == Some(2.0) && byYear(2023) == Some(4.0))
  }

  test("addMarketShareColumns: tmsr/smsp deltas against the base year") {
    val df = Seq(
      ("s", "Power", "Global", "coal", 2020, 10.0), ("s", "Power", "Global", "coal", 2021, 12.0),
      ("s", "Power", "Global", "wind", 2020, 30.0), ("s", "Power", "Global", "wind", 2021, 36.0))
      .toDF("scenario", "sector", "scenario_geography", "technology", "year", "value")
    val out = ScenarioData.addMarketShareColumns(df, 2020)
      .filter(col("year") === 2021).orderBy("technology")
      .select("tmsr", "smsp").as[(Double, Double)].collect()
    assert(math.abs(out(0)._1 - 0.2) < 1e-12)        // coal: (12-10)/10
    assert(math.abs(out(0)._2 - 2.0 / 40.0) < 1e-12) // coal: (12-10)/40
    assert(math.abs(out(1)._1 - 0.2) < 1e-12)        // wind: (36-30)/30
    assert(math.abs(out(1)._2 - 6.0 / 40.0) < 1e-12)
  }
}
