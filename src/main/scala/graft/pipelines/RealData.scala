package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Rds, TypedCsv}

/** Loaders for the reference's SHIPPED raw vintage files — the exact bytes
  * its own data-raw runners read (data-raw/run_workflow.R stages 1-9).
  *
  * Each loader declares the file's full positional schema (the Spark twin of
  * the runner's readr::cols/cols_only call — schema-on-read, no inference
  * pass, BOM-proof because an explicit schema maps columns by position) and
  * then applies readr's NA conventions ("" and "NA" read as missing,
  * readr::read_csv's `na` default) so the frames enter the pipelines with
  * the same null pattern R sees.
  *
  * File-to-runner map (all paths relative to the reference data-raw/):
  *  - scenario_analysis_input_data/…            -> run_prepare_Scenarios_AnalysisInput.R
  *  - capacity_factors_data/…                   -> run_prepare_prewrangled_capacity_factors.R
  *  - price_data_long_data/…                    -> run_prepare_price_data_long.R
  *  - raw_ngfs_carbon_price.csv                 -> run_prepare_ngfs_carbon_price.R
  *  - bench_regions.rds                         -> run_workflow.R:108 (v2 reshape) and
  *                                                 run_rename_geographies.R:176 (regroup input)
  *  - ../data/synthetic_… .rda                  -> the package's shipped example company data
  *                                                 (R/data.R:7-27) standing in for the
  *                                                 closed-source AR/Eikon feeds
  *
  * The NGFS phase-4/5 raw files (scenarios, capacity factors, fossil prices)
  * are NOT shipped in the reference repo, so those vintages stay absent —
  * exactly as the R runners would fail on the missing CSVs. The older
  * ipr_Scenarios_AnalysisInput.csv / raw_capacity_factors_IPR2021.csv /
  * raw_price_data_long_IPR2021.csv vintages are shipped but no longer read
  * by the current runner scripts, and are skipped here for the same reason.
  */
object RealData {

  private val S = StringType
  private val D = DoubleType

  private def schemaOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** readr NA semantics on string columns: read_csv(na = c("", "NA")). The
    * numeric columns already get there for free (both parse-fail to null
    * under PERMISSIVE).
    */
  private def readrNa(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == StringType)
        when(col(f.name) === "" || col(f.name) === "NA", lit(null).cast(S))
          .otherwise(col(f.name)).as(f.name)
      else col(f.name)
    }.toSeq: _*)

  private def csv(spark: SparkSession, path: String, schema: StructType,
      delimiter: String = ","): DataFrame =
    readrNa(TypedCsv.read(spark, path, schema, Nil, delimiter))

  // ---- scenario vintages (run_prepare_Scenarios_AnalysisInput.R) ---------

  /** weo_ / weo23_Scenarios_AnalysisInput.csv column order (indicator BEFORE
    * technology).
    */
  private val scenLongIndicatorFirst = schemaOf(
    "source" -> S, "scenario" -> S, "scenario_geography" -> S, "sector" -> S,
    "indicator" -> S, "technology" -> S, "units" -> S, "year" -> IntegerType, "value" -> D)

  /** pacta_processed_geco / GECO2023 column order (technology BEFORE
    * indicator).
    */
  private val scenLongTechnologyFirst = schemaOf(
    "source" -> S, "scenario" -> S, "scenario_geography" -> S, "sector" -> S,
    "technology" -> S, "indicator" -> S, "units" -> S, "year" -> IntegerType, "value" -> D)

  /** The IPR institute's 9-column layout, shared by its 2023 scenario,
    * capacity-factor and price files.
    */
  private val iprLong = schemaOf(
    "Scenario" -> S, "Region" -> S, "Variable_class" -> S,
    "Sub_variable_class_1" -> S, "Sub_variable_class_2" -> S,
    "Sector" -> S, "Units" -> S, "year" -> IntegerType, "value" -> D)

  def weoScenarios(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/scenario_analysis_input_data/weo_Scenarios_AnalysisInput.csv",
      scenLongIndicatorFirst)

  def geco2021Scenarios(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark,
      s"$dataRaw/scenario_analysis_input_data/pacta_processed_geco_Scenarios_AnalysisInput.csv",
      scenLongTechnologyFirst)

  def weo23Scenarios(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/scenario_analysis_input_data/weo23_Scenarios_AnalysisInput.csv",
      scenLongIndicatorFirst)

  def geco2023Scenarios(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/scenario_analysis_input_data/GECO2023_AnalysisInput.csv",
      scenLongTechnologyFirst)

  def ipr2023Scenarios(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/scenario_analysis_input_data/ipr2023_Scenarios_AnalysisInput.csv",
      iprLong)

  def oxfordScenarios(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/scenario_analysis_input_data/oxford_Scenarios_AnalysisInput.csv",
      schemaOf("Annual energy" -> S, "units" -> S, "scenario" -> S,
        "year" -> IntegerType, "value" -> D, "scenario_geography" -> S))

  def steelScenarios(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/scenario_analysis_input_data/MP_steel_Scenario_Analysis_Input.csv",
      schemaOf("scenario" -> S, "technology" -> S, "year" -> IntegerType, "Production (Mt)" -> D))

  /** run_prepare_Scenarios_AnalysisInput.R:30-90 — weo_geco_data is the
    * rbind of the WEO and PACTA-GECO2021 long files; GECO2021 additionally
    * feeds the IPR automotive baseline on its own.
    */
  def scenarioInputs(spark: SparkSession, dataRaw: String): ScenarioData.ScenarioInputs = {
    val geco2021 = geco2021Scenarios(spark, dataRaw)
    ScenarioData.ScenarioInputs(
      weoGeco = Some(weoScenarios(spark, dataRaw).unionByName(geco2021)),
      geco2021 = Some(geco2021),
      weo23 = Some(weo23Scenarios(spark, dataRaw)),
      geco2023 = Some(geco2023Scenarios(spark, dataRaw)),
      ipr = Some(ipr2023Scenarios(spark, dataRaw)),
      oxf = Some(oxfordScenarios(spark, dataRaw)),
      steel = Some(steelScenarios(spark, dataRaw)))
  }

  // ---- capacity factors (run_prepare_prewrangled_capacity_factors.R) -----

  def weo2020CapacityFactorsWide(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/capacity_factors_data/WEO2020_Raw_data.csv",
      schemaOf((Seq("Source" -> (S: DataType), "Indicator" -> S, "Sector" -> S,
        "Units" -> S, "Scenario" -> S, "ScenarioGeography" -> S, "Technology" -> S,
        "Sub_Technology" -> S) ++
        Seq("2018", "2019", "2025", "2030", "2040").map(_ -> (D: DataType)) ++
        Seq("SourceSheet" -> (S: DataType))): _*))

  def weo2023CapacityFactors(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/capacity_factors_data/raw_capacity_factors_WEO2023.csv",
      scenLongIndicatorFirst)

  def ipr2023CapacityFactors(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/capacity_factors_data/raw_capacity_factors_IPR2023.csv", iprLong)

  def gemSteelCapacityFactors(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/capacity_factors_data/preprocessed_capacity_factors_GEM_Steel.csv",
      schemaOf("year" -> IntegerType, "technology" -> S, "value" -> D))

  // ---- prices (run_prepare_price_data_long.R) ----------------------------

  private def weoFossilWide(years: Seq[String]) = schemaOf(
    (Seq("source" -> (S: DataType), "sector" -> S, "unit" -> S,
      "scenario_geography" -> S, "scenario" -> S) ++
      years.map(_ -> (D: DataType))): _*)

  private def weoPowerWide(years: Seq[String]) = schemaOf(
    (Seq("source" -> (S: DataType), "scenario" -> S, "region" -> S,
      "technology" -> S, "indicator" -> S, "unit" -> S) ++
      years.map(_ -> (D: DataType))): _*)

  def weo2021FossilFuelPrices(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/price_data_long_data/WEO2021_fossil_fuel_prices_by_scenario.csv",
      weoFossilWide(Seq("2010", "2020", "2030", "2050")))

  def weo2021PowerLcoe(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/price_data_long_data/WEO2021_power_generation_technology_costs.csv",
      weoPowerWide(Seq("2020", "2030", "2050")))

  def weo2023FossilFuelPrices(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/price_data_long_data/raw_price_data_long_WEO2023_FF.csv",
      weoFossilWide(Seq("2010", "2022", "2030", "2050")))

  def weo2023PowerLcoe(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/price_data_long_data/raw_price_data_long_WEO2023_power.csv",
      weoPowerWide(Seq("2022", "2030", "2050")))

  def ipr2023FossilPrices(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/price_data_long_data/raw_price_data_long_IPR2023.csv", iprLong)

  def oxf2021FossilPrices(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/price_data_long_data/raw_price_data_long_OXF2021.csv",
      schemaOf("Scenario" -> S, "Sector" -> S, "Region" -> S, "Technology" -> S,
        "Year" -> IntegerType, "LCOE" -> D))

  def oxfordLcoe(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/price_data_long_data/raw_Oxford_LCOE_wrangled.csv",
      schemaOf("Scenario" -> S, "Sector" -> S, "Region" -> S, "Technology" -> S,
        "Sub_Technology" -> S, "Year" -> IntegerType, "LCOE" -> D))

  def steelLevelizedCost(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/price_data_long_data/raw_MP_LC_steel.csv",
      schemaOf("scenario" -> S, "year" -> IntegerType, "region" -> S, "technology" -> S,
        "levelized_cost" -> D),
      delimiter = ";")

  // ---- carbon price + geographies ---------------------------------------

  def ngfsCarbonPriceWide(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/raw_ngfs_carbon_price.csv",
      schemaOf((Seq("Model" -> (S: DataType), "Scenario" -> S, "Region" -> S,
        "Variable" -> S, "Unit" -> S) ++
        (2015 to 2100 by 5).map(_.toString -> (D: DataType))): _*))

  /** data-raw/bench_regions.csv — the cleaned bench-geography artifact the
    * regroup/rename stage reads (run_rename_geographies.R:176
    * cleaning_bench_regions starts from exactly this file). The csv is the
    * CURRENT vintage: it carries the `SAF -> SouthAfrica` IPR alias rows
    * the real IPR2023 inputs need — the shipped bench_regions.rds
    * ([[benchRegionsRds]]) is a STALE pre-SAF vintage whose containment
    * check fails on the real data (a genuine vintage-skew find from the
    * real-data run). Namibia's `NA` iso code is restored after the
    * readr-NA read, mirroring the reference's own
    * `if_else(is.na(country_iso), "NA", ...)` at run_rename_geographies
    * .R:124.
    */
  def benchRegions(spark: SparkSession, dataRaw: String): DataFrame =
    csv(spark, s"$dataRaw/bench_regions.csv", schemaOf(
      "scenario_geography" -> S, "country_iso" -> S, "reg_count" -> IntegerType,
      "scenario_geography_newname" -> S, "country" -> S))
      .withColumn("country_iso", coalesce(col("country_iso"), lit("NA")))

  /** data-raw/bench_regions.rds — the OLDER shipped vintage of the same
    * artifact (what run_workflow.R:108 read for the v2 reshape at its
    * commit time); kept as the in-engine RDS-read witness.
    */
  def benchRegionsRds(spark: SparkSession, dataRaw: String): DataFrame =
    Rds.read(spark, s"$dataRaw/bench_regions.rds", schemaOf(
      "scenario_geography" -> S, "country_iso" -> S, "reg_count" -> IntegerType,
      "scenario_geography_newname" -> S, "country" -> S))

  // ---- company data (the package's shipped synthetic example data) -------

  private val equityOwnershipYears = (2021 to 2025).map(y => s"Equity Ownership $y")

  private def companyWide: StructType = schemaOf(
    (Seq("company_id" -> (LongType: DataType), "company_name" -> S, "ald_sector" -> S,
      "ald_business_unit" -> S, "activity_unit" -> S, "ald_location" -> S) ++
      equityOwnershipYears.map(_ -> (D: DataType))): _*)

  def syntheticCompanyActivities(spark: SparkSession, rdaData: String): DataFrame =
    Rds.readRda(spark, s"$rdaData/synthetic_company_activities.rda",
      "synthetic_company_activities", companyWide)

  def syntheticCompanyEmissions(spark: SparkSession, rdaData: String): DataFrame =
    Rds.readRda(spark, s"$rdaData/synthetic_company_emissions.rda",
      "synthetic_company_emissions", companyWide)

  def syntheticEikonData(spark: SparkSession, rdaData: String): DataFrame =
    Rds.readRda(spark, s"$rdaData/synthetic_eikon_data.rda", "synthetic_eikon_data",
      schemaOf("company_id" -> LongType, "ald_location" -> S, "pd" -> D,
        "net_profit_margin" -> D, "debt_equity_ratio" -> D, "volatility" -> D))

  // ---- the assembled workflow input --------------------------------------

  /** Everything run_workflow.R consumes, from the reference's own bytes:
    * real raw vintages for the open-source stages 1-6, the shipped
    * synthetic company workspaces for the closed-source stages 7-8.
    * start_year = 2023 (run_workflow.R:4), time_horizon = 5
    * (run_prepare_abcd_stress_test_input.R:82).
    */
  def loadInputs(spark: SparkSession, dataRaw: String, rdaData: String): RunWorkflow.Inputs =
    RunWorkflow.Inputs(
      ngfsCarbonPriceWide = ngfsCarbonPriceWide(spark, dataRaw),
      weoCapacityFactorsWide = weo2020CapacityFactorsWide(spark, dataRaw),
      fossilFuelPricesWide = weo2021FossilFuelPrices(spark, dataRaw),
      powerLcoeWide = weo2021PowerLcoe(spark, dataRaw),
      companyActivities = syntheticCompanyActivities(spark, rdaData),
      companyEmissions = syntheticCompanyEmissions(spark, rdaData),
      eikonFinancials = syntheticEikonData(spark, rdaData),
      companyIds = None,
      ownershipTree = None,
      scenarios = Some(scenarioInputs(spark, dataRaw)),
      vintages = Some(RunWorkflow.VintageInputs(
        weo2023CapacityFactors = Some(weo2023CapacityFactors(spark, dataRaw)),
        ipr2023CapacityFactors = Some(ipr2023CapacityFactors(spark, dataRaw)),
        gemSteelCapacityFactors = Some(gemSteelCapacityFactors(spark, dataRaw)),
        weo2023FossilFuelPrices = Some(weo2023FossilFuelPrices(spark, dataRaw)),
        weo2023PowerLcoe = Some(weo2023PowerLcoe(spark, dataRaw)),
        oxfordLcoe = Some(oxfordLcoe(spark, dataRaw)),
        ipr2023FossilPrices = Some(ipr2023FossilPrices(spark, dataRaw)),
        oxf2021FossilPrices = Some(oxf2021FossilPrices(spark, dataRaw)),
        steelLevelizedCost = Some(steelLevelizedCost(spark, dataRaw)))),
      benchRegions = Some(benchRegions(spark, dataRaw)),
      startYear = 2023,
      timeHorizon = 5)
}
