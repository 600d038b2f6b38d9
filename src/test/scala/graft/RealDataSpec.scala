package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipelines.{RealData, RunWorkflow, Workflow}

/** END-TO-END ON THE REFERENCE'S REAL SHIPPED BYTES (VERDICT r14 #1).
  *
  * Runs the complete ported workflow (data-raw/run_workflow.R stages 1-9)
  * on the reference's own raw vintage files: all seven scenario vintages the
  * current runner reads (weo, pacta-geco2021, weo23, GECO2023, ipr2023,
  * oxford, MP steel — the NGFS phase-4/5 raw files are not shipped), the
  * four shipped capacity-factor inputs, the WEO2021/WEO2023 price pairs +
  * IPR2023/OXF2021/MP-steel price files, raw_ngfs_carbon_price.csv,
  * bench_regions.rds, and the package's shipped synthetic company
  * workspaces for the closed-source stages.
  *
  * The gates are the REFERENCE'S OWN inline invariants:
  *  - capacity_factor in [0,1], no NA  (R/prepare_prewrangled_capacity_factors.R:177-193)
  *  - price >= 0, no NA                (R/prepare_price_data_long.R:224-231)
  *  - scenario_type never NA           (run_prepare_Scenarios_AnalysisInput.R:428-437)
  *  - exact TRISK-v2 column sets       (run_workflow.R:172-183, 245-257)
  *  - financials complete, one row per company
  * plus the stage-6 alignment fixpoint and geography/scenario-set sanity.
  *
  * Running the prepares IS half the gate already: every pipeline carries the
  * reference's stops as DataChecks that throw on violation mid-plan.
  */
class RealDataSpec extends SparkTestBase {

  // real-data scale in a shared 8g test JVM: leave broadcasts to the
  // pipelines' explicit small-dim hints; a planner-chosen broadcast of a
  // misestimated intermediate OOMs the driver here. Set for the whole
  // suite and put back in afterAll, which runs even when the data load
  // throws — the plan-pinning suites that follow need the stock threshold.
  private val broadcastKey = "spark.sql.autoBroadcastJoinThreshold"
  private var priorBroadcast: Option[String] = None

  override def beforeAll(): Unit = {
    super.beforeAll()
    priorBroadcast = spark.conf.getAll.get(broadcastKey)
    spark.conf.set(broadcastKey, "-1")
  }

  override def afterAll(): Unit =
    try priorBroadcast.fold(spark.conf.unset(broadcastKey))(spark.conf.set(broadcastKey, _))
    finally super.afterAll()

  private lazy val outputs: RunWorkflow.Outputs =
    RunWorkflow.run(spark,
      RealData.loadInputs(spark, ReferenceData.path("data-raw"), ReferenceData.path("data")))

  private def noNulls(df: DataFrame, cols: Seq[String]): Long =
    df.filter(cols.map(col(_).isNull).reduce(_ || _)).count()

  private def distinctStrings(df: DataFrame, c: String): Set[String] =
    df.select(c).distinct().collect().map(_.getString(0)).toSet

  // ---- stage 1: scenarios -----------------------------------------------

  test("real data: scenario merge covers every shipped vintage, no orphan scenario_type") {
    val scen = outputs.scenariosAnalysisInput.get
    val scenarios = distinctStrings(scen, "scenario")
    // every vintage the current runner reads from shipped bytes shows up
    val expected = Set(
      "WEO2021_STEPS", "WEO2021_APS", "WEO2021_SDS", "WEO2021_NZE_2050",
      "WEO2023_STEPS", "WEO2023_APS", "WEO2023_NZE_2050",
      "GECO2021_CurPol", "GECO2021_1.5C-Unif", "GECO2021_NDC-LTS",
      "GECO2023_CurPol", "GECO2023_1.5C", "GECO2023_NDC-LTS",
      "IPR2023_baseline", "IPR2023_FPS",
      "IPR2023Automotive_baseline", "IPR2023Automotive_FPS",
      "Oxford2021_base", "Oxford2021_fast",
      "Steel_baseline", "Steel_NZ")
    val missing = expected -- scenarios
    assert(missing.isEmpty, s"vintage scenarios missing from the merge: $missing")
    // the no-orphan classification is a throwing gate inside the prepare;
    // re-assert the survivors carry a type
    assert(noNulls(scen, Seq("scenario_type")) == 0)
    // start_year cut honored (run_workflow.R:4 start_year = 2023)
    assert(scen.filter(col("year") < 2023).count() == 0)
  }

  // ---- stages 2-4: carbon price, capacity factors, prices ---------------

  test("real data: carbon price interpolates the NGFS grid to a yearly series") {
    val cp = outputs.carbonPrice
    assert(noNulls(cp, Seq("scenario", "scenario_geography", "year", "carbon_tax")) == 0)
    // the reference does NOT cut to start_year: the grid completes from
    // the earliest wide column (2015) to end_year 2100
    // (R/prepare_ngfs_carbon_price.R:104)
    val years = cp.select("year").distinct().collect().map(_.getInt(0)).sorted
    assert(years.toSeq == (2015 to 2100), "carbon price years must be the full yearly grid")
    assert(cp.filter(col("carbon_tax") < 0).count() == 0)
    assert(distinctStrings(cp, "scenario_geography").contains("Global"))
  }

  test("real data: capacity factors pass the reference's [0,1]/no-NA stop and carry every vintage") {
    val cf = outputs.capacityFactors
    assert(cf.columns.toSet ==
      Set("scenario", "scenario_geography", "ald_business_unit", "year", "capacity_factor"))
    assert(noNulls(cf, cf.columns.toSeq) == 0)
    assert(cf.filter(col("capacity_factor") < 0 || col("capacity_factor") > 1).count() == 0)
    val scens = distinctStrings(cf, "scenario")
    // WEO2021 relabel, IPR2023 + its FPS-cloned baseline, OXF2021 borrowed
    // from WEO2021, GEM-steel placeholders, WEO2023
    for (s <- Seq("WEO2021_STEPS", "WEO2021_NZE_2050", "WEO2021_APS",
        "IPR2023_FPS", "IPR2023_baseline", "Oxford2021_base", "Oxford2021_fast",
        "Steel_baseline", "Steel_NZ", "WEO2023_STEPS"))
      assert(scens.contains(s), s"capacity-factor vintage missing: $s (have $scens)")
    // the duplicated-India IPR geography is dropped (runner :143)
    assert(cf.filter(col("scenario").startsWith("IPR") &&
      col("scenario_geography") === "IND").count() == 0)
    // GEM steel placeholder: forced to 1 by the runner before the prepare
    assert(outputs.capacityFactors.filter(col("scenario").startsWith("Steel_") &&
      col("capacity_factor") =!= 1.0).count() == 0)
  }

  test("real data: prices pass the reference's >=0/no-NA stop across all vintages") {
    val p = outputs.prices
    assert(noNulls(p, Seq("scenario", "ald_sector", "ald_business_unit", "year", "price")) == 0)
    assert(p.filter(col("price") < 0).count() == 0)
    val scens = distinctStrings(p, "scenario")
    for (s <- Seq("WEO2021_STEPS", "WEO2023_STEPS", "IPR2023_FPS", "IPR2023_baseline",
        "Oxford2021_base", "Steel_baseline", "Steel_NZ"))
      assert(scens.contains(s), s"price vintage missing: $s (have $scens)")
    // price data is written Global-only (run_prepare_price_data_long.R:360)
    assert(distinctStrings(p, "scenario_geography") == Set("Global"))
    // the automotive placeholder prices exist wherever the scenario set has
    // automotive rows (create_automotive_prices)
    assert(p.filter(col("ald_sector") === "Automotive").count() > 0)
  }

  // ---- stage 5: geography regroup/rename --------------------------------

  test("real data: geography regroup standardizes names across all four st_inputs frames") {
    val bench = outputs.scenariosGeographies.get
    assert(noNulls(bench, Seq("scenario_geography", "country_iso",
      "scenario_geography_newname")) == 0)
    val newNames = distinctStrings(bench, "scenario_geography_newname")
    // standardization: no ampersands, no whitespace, no (R5) markers
    assert(newNames.forall(n => !n.contains("&") && !n.contains(" ") &&
      !n.toLowerCase.contains("(r5)")), s"unstandardized names: ${newNames.take(10)}")
    // every geography surviving in the renamed frames resolves through bench
    val cfGeos = distinctStrings(outputs.capacityFactors, "scenario_geography")
    val unmatched = cfGeos -- newNames - "Global"
    assert(unmatched.isEmpty, s"capacity-factor geographies outside bench: $unmatched")
  }

  // ---- stage 6: alignment -----------------------------------------------

  test("real data: stage-6 alignment reaches its fixpoint (no incomplete perimeter survives)") {
    val scen = outputs.scenariosAnalysisInput.get
    // re-running the perimeter computation on the ALIGNED frames must keep
    // every surviving (scenario, scenario_geography) — alignment is a
    // fixpoint, not just a filter
    val avail = Workflow.availableScenarioGeographies(
      scen, outputs.prices, outputs.capacityFactors)
    val dropped = scen.select("scenario", "scenario_geography").distinct()
      .join(avail, Seq("scenario", "scenario_geography"), "left_anti")
    assert(dropped.count() == 0, "aligned scenario set still has incomplete perimeters")
    // and it kept a non-trivial perimeter
    assert(avail.count() > 0)
  }

  // ---- stages 7-8: abcd + financial -------------------------------------

  test("real data: abcd over the shipped synthetic activities at start_year 2023") {
    val abcd = outputs.abcd
    assert(abcd.count() > 0)
    assert(noNulls(abcd, Seq("plan_tech_prod", "plan_emission_factor")) == 0)
    val yrs = abcd.select("year").distinct().collect().map(_.getInt(0)).sorted
    assert(yrs.toSeq == (2023 to 2028), s"abcd years: ${yrs.toSeq}") // horizon 5
    assert(abcd.count() == abcd.distinct().count()) // the closing stopifnot
  }

  test("real data: financials complete, one row per abcd company, ratios in [0,1]") {
    val fin = outputs.financial
    assert(fin.count() > 0)
    assert(noNulls(fin, fin.columns.toSeq) == 0)
    assert(fin.select("company_id").distinct().count() == fin.count())
    for (c <- Seq("net_profit_margin_rawdata_ratio", "debt_equity_ratio_rawdata_ratio",
        "volatility_rawdata_ratio"))
      assert(fin.filter(col(c) < 0 || col(c) > 1).count() == 0)
  }

  // ---- stage 9: TRISK v2 ------------------------------------------------

  test("real data: TRISK-v2 frames carry the reference's exact column sets") {
    val v2 = outputs.triskV2.get
    assert(v2.assets.columns.toSeq == Seq(
      "asset_id", "asset_name", "company_id", "company_name", "country_iso2",
      "country_name", "technology", "sector", "plant_age_years", "workforce_size",
      "capacity_factor", "capacity", "production_year", "production_unit",
      "emission_factor"))
    assert(v2.scenarios.columns.toSeq == Seq(
      "scenario", "scenario_provider", "scenario_type", "scenario_geography", "sector",
      "technology", "scenario_year", "price_unit", "scenario_price",
      "scenario_capacity_factor", "pathway_unit", "scenario_pathway", "technology_type",
      "country_iso2_list"))
    assert(v2.financialFeatures.columns.toSeq == Seq(
      "company_id", "pd", "net_profit_margin", "debt_equity_ratio", "volatility"))
    assert(v2.assets.count() > 0 && v2.scenarios.count() > 0 &&
      v2.financialFeatures.count() > 0)
    // v2 invariants: capacity = max production per asset
    assert(v2.assets.filter(col("capacity_factor") < 0 ||
      col("capacity_factor") > 1 || col("capacity") <= 0).count() == 0)
    // scenario_type recode leaves only baseline/target
    assert(distinctStrings(v2.scenarios, "scenario_type").subsetOf(Set("baseline", "target")))
    assert(distinctStrings(v2.scenarios, "technology_type") ==
      Set("carbontech", "greentech"))
    // provider prefix extraction
    val providers = distinctStrings(v2.scenarios, "scenario_provider")
    assert(providers.forall(p => !p.contains("_")), s"providers: $providers")
  }

  test("real data: release the workflow caches") {
    outputs.unpersistAll()
    assert(true)
  }
}
