package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipelines.RunWorkflow

/** Whole-workflow smoke on synthetic + fixture inputs: all five outputs
  * materialize and satisfy their contracts in one run.
  */
class RunWorkflowSpec extends SparkTestBase with org.scalatest.BeforeAndAfterEach {
  import spark.implicits._

  // run() caches its multiply-consumed frames; in the shared test session
  // those accumulate across the suite and starve later suites' broadcast
  // builds (observed as a flaky broadcast OOM in EndToEndSpec)
  override def afterEach(): Unit = {
    spark.catalog.clearCache()
    super.afterEach()
  }

  private def ngfsWide = {
    val base = Seq(("NGFS", "NZ2050", "World", "Price|Carbon", "US$2010/t CO2"))
      .toDF("Model", "Scenario", "Region", "Variable", "Unit")
    (2015 to 2100 by 5).zipWithIndex.foldLeft(base) { case (d, (y, i)) =>
      d.withColumn(y.toString, lit(5.0 * i))
    }
  }

  private def weoWide = Seq(
    ("WEO2020", "Capacity", "Power", "GW", "SDS", "World", "Coal", null: String, 100.0, 100.0),
    ("WEO2020", "Generation", "Power", "TWh", "SDS", "World", "Coal", null: String, 438.0, 613.2))
    .toDF("Source", "Indicator", "Sector", "Units", "Scenario", "ScenarioGeography",
      "Technology", "Sub_Technology", "2021", "2040")

  private def fossilWide = Seq(
    ("WEO2021", "Crude oil", "usd/barrel", "Global", "SDS", 100.0, 50.0),
    // STEPS: the IPR2023 price baseline clones the WEO2021_STEPS path
    ("WEO2021", "Crude oil", "usd/barrel", "Global", "STEPS", 110.0, 90.0))
    .toDF("source", "sector", "unit", "scenario_geography", "scenario", "2020", "2030")

  private def powerWide = Seq(
    ("WEO2021", "SDS", "EU", "Gas CCGT", "LCOE", "usd/MWh", 70.0, 50.0),
    ("WEO2021", "STEPS", "EU", "Gas CCGT", "LCOE", "usd/MWh", 80.0, 75.0))
    .toDF("source", "scenario", "region", "technology", "indicator", "unit", "2020", "2030")

  private def gecoAutomotive = Seq(
    ("GECO2021", "CurPol", "World", "Automotive", "Electric", "# vehicles", "Sales", 2022, 1.0),
    ("GECO2021", "CurPol", "World", "Automotive", "Electric", "# vehicles", "Sales", 2024, 3.0),
    ("GECO2021", "CurPol", "World", "Automotive", "ICE", "# vehicles", "Sales", 2022, 9.0),
    ("GECO2021", "CurPol", "World", "Automotive", "ICE", "# vehicles", "Sales", 2024, 7.0))
    .toDF("source", "scenario", "scenario_geography", "sector", "technology",
      "units", "indicator", "year", "value")

  test("run: all outputs materialize with their invariants") {
    val activities = SyntheticData.companyActivities(spark, nCompanies = 20)
    val out = RunWorkflow.run(spark, RunWorkflow.Inputs(
      ngfsCarbonPriceWide = ngfsWide,
      weoCapacityFactorsWide = weoWide,
      fossilFuelPricesWide = fossilWide,
      powerLcoeWide = powerWide,
      companyActivities = activities,
      companyEmissions = SyntheticData.companyEmissions(spark, nCompanies = 20),
      eikonFinancials = SyntheticData.eikonFinancials(spark, nCompanies = 20),
      companyIds = None,
      ownershipTree = Some(SyntheticData.ownershipTree(spark, nCompanies = 20)),
      scenarios = Some(graft.pipelines.ScenarioData.ScenarioInputs(
        geco2023 = Some(gecoAutomotive
          .withColumn("source", lit("GECO2023")))) ),
      startYear = 2022, timeHorizon = 5))

    assert(out.carbonPrice.count() > 0)
    assert(out.capacityFactors.filter(col("capacity_factor") < 0 ||
      col("capacity_factor") > 1).count() == 0)
    assert(out.prices.filter(col("price").isNull || col("price") < 0).count() == 0)
    assert(out.abcd.count() > 0)
    // financial output restricted to abcd companies, nothing null
    val abcdCompanies = out.abcd.select("company_id").distinct().count()
    assert(out.financial.count() == abcdCompanies)
    assert(out.financial.filter(col("pd").isNull).count() == 0)
    // stage 1 merged scenario set present, and its automotive perimeter
    // surfaced as dummy unit prices in the price output
    val scen = out.scenariosAnalysisInput.get
    assert(scen.filter(col("scenario") === "GECO2023_CurPol").count() > 0)
    assert(out.prices.filter(col("unit") === "dummy" && col("price") === 1.0).count() > 0)
  }

  // ---- multi-vintage raw fixtures (shapes pinned by the vintage specs) ----

  private def weo2023Cf = {
    // the full Power tech set: removeIncompleteSectors drops any
    // scenario x geography whose sector coverage is partial
    val techs = Seq("CoalCap", "GasCap", "HydroCap", "NuclearCap", "OilCap", "RenewablesCap")
    techs.flatMap { t =>
      Seq(
        ("WEO2023", "APS", "Global", "Power", t, 2030, "GW", "Capacity", 100.0),
        ("WEO2023", "APS", "Global", "Power", t, 2050, "GW", "Capacity", 200.0),
        ("WEO2023", "APS", "Global", "Power", t, 2030, "GW", "Electricity generation", 438.0),
        ("WEO2023", "APS", "Global", "Power", t, 2050, "GW", "Electricity generation", 876.0))
    }.toDF("source", "scenario", "scenario_geography", "sector", "technology",
      "year", "units", "indicator", "value")
  }

  private def ngfs2023Cf = Seq(
    ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "Capacity", "Electricity", "Coal", "GW", 2030, 10.0),
    ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "Capacity", "Electricity", "Coal", "GW", 2032, 10.0),
    ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "Secondary Energy", "Electricity", "Coal", "GW", 2030, 0.1577),
    ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "Secondary Energy", "Electricity", "Coal", "GW", 2032, 0.1577))
    .toDF("Model", "Scenario", "Region", "Variable", "category_a", "category_b",
      "category_c", "Unit", "year", "value")

  private def ipr2023Cf = Seq(
    ("FPS", "WORLD", "GW", "Power", "Capacity", "x", "Coal", 2030, 10.0),
    ("FPS", "WORLD", "GW", "Power", "Electricity generation", "Coal", "ignored", 2030, 43.83))
    .toDF("Scenario", "Region", "Units", "Sector", "Variable_class",
      "Sub_variable_class_1", "Sub_variable_class_2", "year", "value")

  private def gemSteelCf = Seq(
    ("BOF Steel", 2027, 0.7), ("EAF Steel", 2027, 0.6), ("DRI", 2027, 0.5),
    ("OHF Steel", 2027, 0.4))
    .toDF("technology", "year", "value")

  private def ngfs2023Prices = Seq(
    ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "Price", "Primary Energy", "Oil", "US$2010/GJ", 2030, 10.0),
    ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "Price", "Primary Energy", "Oil", "US$2010/GJ", 2032, 14.0))
    .toDF("Model", "Scenario", "Region", "Variable", "category_a", "category_b",
      "category_c", "Unit", "year", "value")

  private def oxfordLcoe = (2021 to 2069).flatMap { y =>
    Seq(
      ("Power", "Oxford - fast_transition", "World", "Natural gas", null: String, y, 60.0),
      ("Power", "Oxford - no_transition", "World", "Natural gas", null: String, y, 60.0))
  }.toDF("Sector", "Scenario", "Region", "Technology", "Sub_Technology", "Year", "LCOE")

  private def oxf2021Prices = (2021 to 2069).map { y =>
    ("Oil", "Fossil Fuels", "Oxford - fast_transition", "World", y, 36.0 + 0.36 * (y - 2021))
  }.toDF("Technology", "Sector", "Scenario", "Region", "Year", "LCOE")

  // first year at startYear (2022): the LC->price adjustment anchors its
  // implied price on the startYear levelized cost
  private def steelLc = Seq(
    ("baseline", "Europe", "Avg BF-BOF", 2022, 500.0),
    ("baseline", "Europe", "Avg BF-BOF", 2030, 550.0),
    ("carbon_cost", "Europe", "Avg BF-BOF", 2022, 800.0),
    ("carbon_cost", "Europe", "Avg BF-BOF", 2030, 900.0))
    .toDF("scenario", "region", "technology", "year", "levelized_cost")

  private def ipr2023Prices = Seq(
    ("FPS", "WORLD", "USD", "price", "Coal", 2030, 80.0),
    ("FPS", "WORLD", "USD", "high price", "Oil", 2030, 100.0),
    ("FPS", "WORLD", "USD", "low price", "Oil", 2030, 60.0))
    .toDF("Scenario", "Region", "Units", "Variable_class", "Sub_variable_class_1",
      "year", "value")

  private def benchRegions = Seq(
    ("Global", "DE"), ("Global", "FR"), ("Global", "US"),
    ("World", "CN"), ("Europe", "IT"), ("EU", "GB"))
    .toDF("scenario_geography", "country_iso")

  test("run with multi-vintage inputs: CF/price union, Global filter, geography stage") {
    val activities = SyntheticData.companyActivities(spark, nCompanies = 10)
    val out = RunWorkflow.run(spark, RunWorkflow.Inputs(
      ngfsCarbonPriceWide = ngfsWide,
      weoCapacityFactorsWide = weoWide,
      fossilFuelPricesWide = fossilWide,
      powerLcoeWide = powerWide,
      companyActivities = activities,
      companyEmissions = SyntheticData.companyEmissions(spark, nCompanies = 10),
      eikonFinancials = SyntheticData.eikonFinancials(spark, nCompanies = 10),
      companyIds = None,
      ownershipTree = None,
      scenarios = None,
      vintages = Some(RunWorkflow.VintageInputs(
        weo2023CapacityFactors = Some(weo2023Cf),
        ngfs2023CapacityFactors = Some(ngfs2023Cf),
        ipr2023CapacityFactors = Some(ipr2023Cf),
        gemSteelCapacityFactors = Some(gemSteelCf),
        ngfs2023FossilPrices = Some(ngfs2023Prices),
        oxfordLcoe = Some(oxfordLcoe),
        ipr2023FossilPrices = Some(ipr2023Prices),
        oxf2021FossilPrices = Some(oxf2021Prices),
        steelLevelizedCost = Some(steelLc))),
      benchRegions = Some(benchRegions),
      startYear = 2022, timeHorizon = 5))

    // every supplied capacity-factor vintage lands in the union, plus the
    // OXF2021 relabel derived from WEO2021 (reference combine :175-183)
    val cfScen = out.capacityFactors.select("scenario").distinct()
      .as[String].collect().toSet
    assert(cfScen.contains("WEO2023_APS"), s"got $cfScen")
    assert(cfScen.contains("NGFS2023GCAM_NZ2050"))
    assert(cfScen.contains("IPR2023_FPS") && cfScen.contains("IPR2023_baseline"))
    assert(cfScen.contains("Steel_baseline") && cfScen.contains("Steel_NZ"))
    assert(cfScen.exists(_.startsWith("Oxford2021_")))
    // GEM steel placeholder: the orchestrator forces value = 1 (:168-172)
    assert(out.capacityFactors
      .filter(col("scenario") === "Steel_baseline" && col("capacity_factor") =!= 1.0)
      .count() == 0)
    // prices: WEO2021 chain is LCOE-adjusted AND vintage-prefixed; the other
    // vintages appear; the frame is Global-only (:360) and st_inputs-named
    val pScen = out.prices.select("scenario").distinct().as[String].collect().toSet
    assert(pScen.exists(_.startsWith("WEO2021_")), s"got $pScen")
    assert(pScen.contains("NGFS2023GCAM_NZ2050"))
    assert(pScen.exists(_.startsWith("Oxford2021_")))
    assert(pScen.contains("Steel_baseline"))
    assert(pScen.contains("IPR2023_FPS") && pScen.contains("IPR2023_baseline"))
    assert(out.prices.columns.contains("ald_business_unit") &&
      out.prices.columns.contains("ald_sector"))
    assert(out.prices.filter(col("scenario_geography") =!= "Global").count() == 0)
    // geography stage ran: bench carries the standardized newname column
    val bench = out.scenariosGeographies.get
    assert(bench.columns.contains("scenario_geography_newname"))
    // invariants ride the terminal action (observeChecks, zero extra jobs)
    val cfChecked = graft.core.DataChecks.observeChecks(out.capacityFactors,
      Seq(graft.core.DataChecks.betweenCheck("capacity_factor", 0.0, 1.0)))
    cfChecked.df.write.format("noop").mode("overwrite").save()
    cfChecked.assertClean()
    val pChecked = graft.core.DataChecks.observeChecks(out.prices,
      Seq(graft.core.DataChecks.notNullCheck(Seq("price")),
        graft.core.DataChecks.betweenCheck("price", 0.0, Double.MaxValue)))
    pChecked.df.write.format("noop").mode("overwrite").save()
    pChecked.assertClean()
  }

  /** Every stage that feeds the TRISK-v2 frames: scenarios, bench regions,
    * an ownership tree. */
  private def v2Inputs = RunWorkflow.Inputs(
    ngfsCarbonPriceWide = ngfsWide,
    weoCapacityFactorsWide = weoWide,
    fossilFuelPricesWide = fossilWide,
    powerLcoeWide = powerWide,
    companyActivities = SyntheticData.companyActivities(spark, nCompanies = 15),
    companyEmissions = SyntheticData.companyEmissions(spark, nCompanies = 15),
    eikonFinancials = SyntheticData.eikonFinancials(spark, nCompanies = 15),
    companyIds = None,
    ownershipTree = Some(SyntheticData.ownershipTree(spark, nCompanies = 15)),
    scenarios = Some(graft.pipelines.ScenarioData.ScenarioInputs(
      geco2023 = Some(gecoAutomotive.withColumn("source", lit("GECO2023"))))),
    benchRegions = Some(benchRegions),
    startYear = 2022, timeHorizon = 5)

  test("run with scenarios + bench regions: TRISK-v2 frames materialize") {
    val out = RunWorkflow.run(spark, v2Inputs)

    val v2 = out.triskV2.get
    // assets.csv contract: 15 pinned columns (run_workflow.R:160-170)
    assert(v2.assets.columns.length == 15)
    assert(v2.assets.columns.contains("asset_id") && v2.assets.columns.contains("capacity"))
    assert(v2.assets.count() > 0)
    val afChecked = graft.core.DataChecks.observeChecks(v2.assets,
      Seq(graft.core.DataChecks.betweenCheck("capacity_factor", 0.0, 1.0)))
    afChecked.df.write.format("noop").mode("overwrite").save()
    afChecked.assertClean()
    // scenarios.csv contract: 14 pinned columns (:233-238); the automotive
    // perimeter carries its dummy unit prices and capfac default 1
    assert(v2.scenarios.columns.length == 14)
    assert(v2.scenarios.count() > 0)
    assert(v2.scenarios
      .filter(col("scenario_capacity_factor").isNull).count() == 0)
    assert(v2.scenarios.select("scenario_provider").distinct()
      .as[String].collect().toSet.contains("GECO2023"))
    // financial_features.csv projection (:264-267) over the no-NA financials
    assert(v2.financialFeatures.columns.toSeq ==
      Seq("company_id", "pd", "net_profit_margin", "debt_equity_ratio", "volatility"))
    val ffChecked = graft.core.DataChecks.observeChecks(v2.financialFeatures,
      Seq(graft.core.DataChecks.notNullCheck(
        Seq("pd", "net_profit_margin", "debt_equity_ratio", "volatility"))))
    ffChecked.df.write.format("noop").mode("overwrite").save()
    ffChecked.assertClean()
    // the v2 carbon price is the geography-renamed stage-2 frame
    assert(v2.ngfsCarbonPrice.count() > 0)

    // cache ownership: unpersistAll releases what run() pinned (the
    // frames stay readable — they just recompute). abcd and the bench
    // geographies are the cached objects themselves, so their storage
    // level must drop to NONE.
    import org.apache.spark.storage.StorageLevel
    assert(out.abcd.storageLevel != StorageLevel.NONE, "abcd should be cached by run()")
    out.unpersistAll()
    assert(out.abcd.storageLevel == StorageLevel.NONE)
    assert(out.scenariosGeographies.get.storageLevel == StorageLevel.NONE)
    assert(v2.ngfsCarbonPrice.count() > 0) // still computable post-release
  }

  test("unpersistAll releases every cache entry the run registered") {
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val out = RunWorkflow.run(spark, v2Inputs)
    out.triskV2.get.financialFeatures.write.format("noop").mode("overwrite").save()
    assert(!cacheManager.isEmpty, "run() should cache its multiply-read stage outputs")
    out.unpersistAll()
    assert(cacheManager.isEmpty, "a cache entry of the run outlived unpersistAll()")
  }

  test("run leaves the session conf exactly as it found it") {
    // no stage writes session conf: a per-plan override (the alignment
    // stage's bloom-filter switch, pinned in WorkflowSpec) must stay
    // scoped to its plan, or it leaks into every later query. The run goes
    // to a fresh session, whose conf no earlier run in this JVM has
    // touched — a leak already present would hide a new one.
    val fresh = spark.newSession()
    def own(df: DataFrame): DataFrame = fresh.createDataFrame(df.rdd, df.schema)
    val in = v2Inputs
    val freshIn = in.copy(
      ngfsCarbonPriceWide = own(in.ngfsCarbonPriceWide),
      weoCapacityFactorsWide = own(in.weoCapacityFactorsWide),
      fossilFuelPricesWide = own(in.fossilFuelPricesWide),
      powerLcoeWide = own(in.powerLcoeWide),
      companyActivities = own(in.companyActivities),
      companyEmissions = own(in.companyEmissions),
      eikonFinancials = own(in.eikonFinancials),
      ownershipTree = in.ownershipTree.map(own),
      scenarios = in.scenarios.map(s => s.copy(geco2023 = s.geco2023.map(own))),
      benchRegions = in.benchRegions.map(own))
    val before = fresh.conf.getAll
    val out = RunWorkflow.run(fresh, freshIn)
    out.triskV2.get.scenarios.write.format("noop").mode("overwrite").save()
    val after = fresh.conf.getAll
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.isEmpty, s"run() changed session conf: " +
      changed.map(k => s"$k: ${before.get(k)} -> ${after.get(k)}").mkString(", "))
  }
}
