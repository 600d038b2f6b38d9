package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import graft.core.DataChecks
import graft.core.Barriers.BarrierOps

/** Cross-dataset alignment + TRISK-v2 reshaping — Spark re-expression of
  * data-raw/run_workflow.R:28-72 and :98-272.
  *
  * The reference reads, rewrites and re-reads the same CSVs in place; here
  * each step is a pure DataFrame -> DataFrame function (SURVEY §7.4 pt 5 —
  * lazy plans must never read a path being overwritten).
  */
object Workflow {

  /** run_workflow.R:39-61 — the (scenario, scenario_geography) combos that
    * are complete across scenario, price and capacity-factor data.
    */
  def availableScenarioGeographies(
      scenarioData: DataFrame,
      priceData: DataFrame,
      capacityFactors: DataFrame): DataFrame = {
    val price = priceData.drop("scenario_geography").distinct()
    val scenarioPrice = scenarioData.join(price,
      Seq("scenario", "ald_sector", "ald_business_unit", "year"))
    val notInCapfac = scenarioPrice.filter(col("ald_sector") === "Power")
      .join(capacityFactors, Seq("scenario_geography", "scenario", "ald_business_unit"),
        "left_anti")
    scenarioPrice.select("scenario", "scenario_geography").distinct()
      .join(notInCapfac.select("scenario", "scenario_geography").distinct(),
        Seq("scenario", "scenario_geography"), "left_anti")
  }

  /** run_workflow.R:63-72 — semi-filter the three tables to the complete
    * perimeter (returned as new frames, not rewritten in place).
    */
  def alignDatasets(
      scenarioData: DataFrame,
      priceData: DataFrame,
      capacityFactors: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // junction barrier on the perimeter table: `avail` is consumed FOUR
    // times (three semi joins + the scenario distinct) and its own plan
    // nests the scen×price join twice — without the barrier every aligned
    // output frame carries a copy of that subtree, and any DOWNSTREAM
    // composition over the aligned frames (the v2 reshape, a perimeter
    // re-check) multiplies plans into the 10k-node range (r15: the
    // real-data stage-6 fixpoint check serialized >150 MiB task binaries
    // and OOMed an 8g driver; barriered it is a sub-second leaf join).
    //
    // Runtime bloom-filter injection is OFF for this one query (r16):
    // Spark injects bloom_filter_agg subqueries on the multi-join's keys,
    // and the EXECUTED 1 MiB filter literals land duplicated ~30x in the
    // serialized stage plans — measured 100-120 MiB task binaries per
    // stage of the avail materialization on the real data (the r15
    // leftover), driver broadcast pressure with zero pruning value: every
    // frame here is dimension-scale (scenario pathways), so the filters
    // can never skip meaningful IO at any table size. The engine's own
    // bloom sidecars serve the fact-table point-lookup cases explicitly.
    // The override lives in a clone of the session conf that only this
    // thread sees while the barrier plans and runs its plan: the session
    // conf is never written, so no concurrent query loses its filters.
    val noBloom = scenarioData.sparkSession.sessionState.conf.clone()
    noBloom.setConf(SQLConf.RUNTIME_BLOOM_FILTER_ENABLED, false)
    val avail = SQLConf.withExistingConf(noBloom) {
      availableScenarioGeographies(scenarioData, priceData, capacityFactors).planBarrier()
    }
    // broadcast the perimeter (guide §3.1): `avail` is a few hundred
    // (scenario, geography) pairs at any table size, but as a barrier
    // leaf its stats read unknown-huge and the static plan shuffled all
    // THREE data frames into sort-merge semi joins. Broadcast semi joins
    // leave the data frames entirely unshuffled.
    val scenarios = avail.select("scenario").distinct()
    (scenarioData.join(broadcast(avail), Seq("scenario", "scenario_geography"), "left_semi"),
      priceData.join(broadcast(scenarios), Seq("scenario"), "left_semi"),
      capacityFactors.join(broadcast(scenarios), Seq("scenario"), "left_semi"))
  }

  /** run_workflow.R:112-177 — abcd -> TRISK-v2 assets.csv shape:
    * capacity = max production per asset, capacity_factor = prod/capacity
    * (W7), renames, placeholder columns.
    */
  def triskV2Assets(abcd: DataFrame): DataFrame = {
    var assets = abcd.drop("scenario_geography")
      .withColumn("country_name", lit(null).cast("string"))
      .withColumn("plant_age_years", lit(null).cast("double"))
      .withColumn("workforce_size", lit(null).cast("double"))
      .withColumn("technology", col("ald_business_unit"))
    if (!assets.columns.contains("asset_id")) {
      // junction barrier (the Barriers junction rule): id synthesis gives
      // the frame two consumers, the asset-id distinct AND the join-back —
      // without it the whole upstream abcd DAG re-analyzes per consumer.
      // A frame that already carries asset_id feeds only the capacity
      // window, so it stays unbarriered.
      assets = assets.planBarrier()
      val ids = assets.select("company_id", "technology", "country_iso2").distinct()
        .withColumn("asset_id", concat_ws("_", col("company_id").cast("string"),
          row_number().over(Window.partitionBy(col("company_id"))
            .orderBy(col("technology"), col("country_iso2"))).cast("string")))
      assets = assets.join(ids, Seq("company_id", "technology", "country_iso2"), "left")
    }
    val wAsset = Window.partitionBy(col("asset_id"))
    assets = assets
      .withColumn("asset_name", col("company_name"))
      .withColumn("production_year", col("year"))
      .withColumn("emission_factor", col("plan_emission_factor"))
      .withColumn("sector", col("ald_sector"))
      .withColumn("production_unit", col("ald_production_unit"))
      .withColumn("capacity", max(col("plan_tech_prod")).over(wAsset))
      .withColumn("capacity_factor", col("plan_tech_prod") / col("capacity"))
    val expected = Seq(
      "asset_id", "asset_name", "company_id", "company_name", "country_iso2",
      "country_name", "technology", "sector", "plant_age_years", "workforce_size",
      "capacity_factor", "capacity", "production_year", "production_unit", "emission_factor")
    DataChecks.requireColumns(assets, expected)
    assets.select(expected.map(col): _*)
  }

  /** run_workflow.R:186-256 — scenarios.csv: join capacity factors and
    * prices onto the scenario pathways, attach the per-geography country
    * list, recode technology/scenario types, extract the provider prefix.
    */
  def triskV2Scenarios(
      scenariosAnalysisInput: DataFrame,
      capacityFactors: DataFrame,
      priceDataLong: DataFrame,
      benchRegions: DataFrame): DataFrame = {
    // collect_list-style aggregation: country list per geography (run_
    // workflow.R:189-194); sort_array for a deterministic comma join
    val benchAgg = benchRegions
      .groupBy(col("scenario_geography_newname"))
      .agg(concat_ws(",", sort_array(collect_set(col("country_iso")))).as("country_iso2_list"))
      .filter(col("scenario_geography_newname") =!= "Global")
    val price = priceDataLong.drop("scenario_geography").distinct()
    // broadcast the cf and price sides deliberately (guide §3.1): both
    // are scenario-CATALOG-sized by construction (pathways × years —
    // dimension tables at any fact-data scale), but they arrive as
    // barrier leaves whose stats Catalyst treats as unknown-huge, so the
    // static plan picked SortMergeJoin and shuffled+sorted every side —
    // including the scenario spine, the largest frame here. Broadcast
    // hints keep the spine entirely unshuffled until the final sort.
    var s = scenariosAnalysisInput
      .join(broadcast(capacityFactors),
        Seq("scenario_geography", "scenario", "ald_business_unit", "year"), "left")
      .join(broadcast(price), Seq("scenario", "ald_sector", "ald_business_unit", "year"))
      .join(broadcast(benchAgg),
        col("scenario_geography") === benchAgg("scenario_geography_newname"), "left")
      .drop("scenario_geography_newname")
    s = s
      .withColumn("capacity_factor", coalesce(col("capacity_factor"), lit(1.0)))
      .withColumn("scenario_capacity_factor", col("capacity_factor"))
      .withColumn("sector", col("ald_sector"))
      .withColumn("technology", col("ald_business_unit"))
      .withColumn("scenario_year", col("year"))
      .withColumn("scenario_price", col("price"))
      .withColumn("price_unit", col("unit"))
      .withColumn("pathway_unit", col("units"))
      .withColumn("technology_type",
        when(col("direction") === "declining", "carbontech").otherwise("greentech"))
      .withColumn("scenario_type",
        when(col("scenario_type") === "shock", "target").otherwise(col("scenario_type")))
      .withColumn("scenario_provider", regexp_extract(col("scenario"), "^[^_]+", 0))
    val expected = Seq(
      "scenario", "scenario_provider", "scenario_type", "scenario_geography", "sector",
      "technology", "scenario_year", "price_unit", "scenario_price",
      "scenario_capacity_factor", "pathway_unit", "scenario_pathway", "technology_type",
      "country_iso2_list")
    DataChecks.requireColumns(s, expected)
    s.select(expected.map(col): _*)
  }

  /** run_workflow.R:264-267 — financial_features.csv projection. */
  def triskV2FinancialFeatures(financial: DataFrame): DataFrame =
    financial.select("company_id", "pd", "net_profit_margin", "debt_equity_ratio", "volatility")
}
