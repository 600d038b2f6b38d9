package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Cols, DataChecks}
import graft.ops.{Aggregates, Regression, Reshape, TimeSeries}
import graft.core.Barriers.BarrierOps

/** Price pipeline — Spark re-expression of prepare_price_data_long_WEO2021
  * and the LCOE price adjustment (reference R/prepare_price_data_long.R:
  * 12-233, R/prepare_LCOE_adjusted_price_data.R:18-71,160-258).
  */
object Prices {

  private val keyCols = Seq("source", "scenario", "scenario_geography", "sector",
    "technology", "indicator", "unit")

  /** reference :12-233. Fossil-fuel and power (LCOE) wide frames to one
    * long price table: unit conversion, technology recodes, global =
    * mean over regions, placeholder technologies, fill-down, completion
    * and interpolation, with the reference's hard assertions (no NA,
    * price >= 0).
    */
  def preparePriceDataLongWeo2021(fossilWide: DataFrame, powerWide: DataFrame): DataFrame = {
    val firstYear = 2020

    // ---- fossil fuels (reference :17-95) -------------------------------
    DataChecks.requireColumns(fossilWide,
      Seq("source", "sector", "unit", "scenario_geography", "scenario"))
    var fossil = Reshape.unpivotYears(fossilWide,
        Seq("source", "sector", "unit", "scenario_geography", "scenario"), "price")
      .filter(col("year") >= firstYear)
      .withColumn("price",
        when(col("unit") === "usd/barrel", col("price") * 0.16)
          .when(col("unit") === "usd/Mbtu", col("price") * 0.9478171203)
          .otherwise(col("price")))
      .withColumn("unit",
        when(col("unit").isin("usd/barrel", "usd/Mbtu"), "GJ").otherwise(col("unit")))
      .withColumnRenamed("sector", "technology")
    fossil = Reshape.recodeValues(fossil, "technology",
        Map("Crude oil" -> "Oil", "IEA crude oil" -> "Oil", "Natural gas" -> "Gas"))
      .withColumn("sector", when(col("technology") === "Coal", "Coal").otherwise("Oil&Gas"))
      .withColumn("indicator", lit("price"))
    fossil = Aggregates.appendGlobalMean(fossil, "scenario_geography", "price",
      where = col("technology").isin("Gas", "Coal"))

    // ---- power / LCOE (reference :97-189) ------------------------------
    val power = powerLcoeLong(powerWide, firstYear)

    // ---- union + complete + interpolate (reference :190-231) -----------
    completeChecked(fossil.unionByName(power.select(fossil.columns.map(col): _*)))
  }

  /** The shared tail of the WEO2021 and IPR2023 power price preps: complete
    * and interpolate over the global year range, then the reference's hard
    * assertions (no NA, price >= 0) in one aggregate pass (separate assert*
    * calls would re-execute the upstream plan once per check).
    */
  private def completeChecked(prices: DataFrame): DataFrame = {
    val data = TimeSeries.completeInterpolate(prices, keyCols, "year", Seq("price"),
      TimeSeries.Axis.Global)
    DataChecks.assertAll(data, Seq(
      DataChecks.notNullCheck(Seq("price")),
      DataChecks.betweenCheck("price", 0.0, Double.MaxValue)))
    data.select((keyCols :+ "year" :+ "price").map(col): _*)
  }

  /** Shared power/LCOE wrangle (reference R/prepare_price_data_long.R:97-189
    * — the WEO2021 power half; reused verbatim by the IPR2023 power price
    * prep, :488-560): unpivot, LCOE only, technology recode with
    * RenewablesCap catch-all + mean-collapse, OilCap/HydroCap placeholders,
    * fill-down, Global = mean over regions.
    */
  private def powerLcoeLong(powerWide: DataFrame, firstYear: Int): DataFrame = {
    DataChecks.requireColumns(powerWide,
      Seq("source", "scenario", "region", "technology", "indicator", "unit"))
    var power = Reshape.unpivotYears(powerWide,
        Seq("source", "scenario", "region", "technology", "indicator", "unit"), "price")
      .filter(col("year") >= firstYear && col("indicator") === "LCOE")
      .withColumnRenamed("region", "scenario_geography")
      .withColumn("technology",
        when(col("technology") === "Nuclear", "NuclearCap")
          .when(col("technology") === "Coal", "CoalCap")
          .when(col("technology") === "Gas CCGT", "GasCap")
          .otherwise("RenewablesCap"))
      .withColumn("sector", lit("Power"))
      .groupBy((keyCols :+ "year").map(col): _*)
      .agg(avg(col("price")).as("price")) // multiple wind/solar rows -> one
    // placeholder OilCap/HydroCap from GasCap/RenewablesCap (reference :144-158)
    power = Reshape.fanOut(power, "technology", Map(
      "GasCap" -> Seq("GasCap", "OilCap"), "RenewablesCap" -> Seq("RenewablesCap", "HydroCap")))
    Aggregates.appendGlobalMean(
      TimeSeries.fillDown(power, keyCols.filterNot(_ == "year"), "year", "price", "price"),
      "scenario_geography", "price")
  }

  /** reference R/prepare_price_data_long.R:488-560
    * prepare_price_data_long_Power_IPR2023: the WEO2021 LCOE power wrangle
    * standalone (IPR borrows WEO2021 LCOE for power prices), completed over
    * the global year range, interpolated, with the reference's hard
    * assertions (no NA, price >= 0).
    */
  def preparePriceDataLongPowerIpr2023(powerWide: DataFrame): DataFrame =
    completeChecked(powerLcoeLong(powerWide, firstYear = 2020))

  private val ngfsScenarioRecode = Map(
    "Nationally Determined Contributions (NDCs)" -> "NDC", "Below 2 C" -> "B2DS",
    "Delayed transition" -> "DT", "Current Policies" -> "CP",
    "Divergent Net Zero" -> "DN0", "Net Zero 2050" -> "NZ2050",
    "Fragmented World" -> "FW", "Low demand" -> "LD")

  /** Shared NGFS Phase IV/V fossil-fuel price wrangle (reference
    * R/prepare_price_data_long.R:247-310 and :311-375 differ only in the
    * model recode and prefix): recodes, per-group complete+interpolate,
    * $/GJ on Oil&Gas, EJ→tonnes coal conversion (/0.03414368 — GJ per
    * tonne of coal equivalent), model×scenario unite with vintage prefix.
    */
  private def preparePriceDataLongNgfs(
      data: DataFrame,
      startYear: Int,
      modelRecode: Map[String, String],
      prefix: String): DataFrame = {
    var d = data
      .withColumn("scenario",
        coalesce(element_at(typedLit(ngfsScenarioRecode), col("Scenario")), col("Scenario")))
      .withColumn("scenario_geography",
        when(col("Region") === "World", "Global").otherwise(col("Region")))
      .withColumn("model",
        coalesce(element_at(typedLit(modelRecode), col("Model")), col("Model")))
      .withColumn("sector",
        when(col("category_c").isin("Oil", "Gas"), "Oil&Gas")
          .when(col("category_c") === "Coal", "Coal")
          .otherwise(col("category_c")))
      .select(col("scenario"), col("scenario_geography"), col("model"), col("sector"),
        col("category_c").as("technology"), col("category_a").as("indicator"),
        col("Unit").as("unit"), col("year"), col("value"))
    val groupCols = d.columns.filterNot(Set("year", "value")).toSeq
    d = ScenarioData.interpolateYearly(d, groupCols)
      .filter(col("year") >= startYear)
    val oilGas = d.filter(col("sector") === "Oil&Gas")
      .withColumn("unit", lit("$/GJ"))
    val coal = d.filter(col("sector") === "Coal")
      .withColumn("value", col("value") / 0.03414368)
      .withColumn("unit", lit("$/tonnes"))
    oilGas.unionByName(coal)
      .withColumnRenamed("value", "price")
      .withColumn("scenario", concat_ws("_", col("model"), col("scenario"))).drop("model")
      .withColumn("scenario", concat(lit(prefix), col("scenario")))
  }

  /** reference :247-310 prepare_price_data_long_NGFS2023 (Phase IV). */
  def preparePriceDataLongNgfs2023(data: DataFrame, startYear: Int): DataFrame =
    preparePriceDataLongNgfs(data, startYear, Map(
      "GCAM 6.0 NGFS" -> "GCAM", "REMIND-MAgPIE 3.2-4.6" -> "REMIND",
      "MESSAGEix-GLOBIOM 1.1-M-R12" -> "MESSAGE"), "NGFS2023")

  /** reference :311-375 prepare_price_data_long_NGFS2024 (Phase V). */
  def preparePriceDataLongNgfs2024(data: DataFrame, startYear: Int): DataFrame =
    preparePriceDataLongNgfs(data, startYear, Map(
      "GCAM 6.0 NGFS" -> "GCAM", "REMIND-MAgPIE 3.3-4.8" -> "REMIND",
      "MESSAGEix-GLOBIOM 2.0-M-R12-NGFS" -> "MESSAGE"), "NGFS2024")

  /** reference :376-487 prepare_price_data_long_IPR2023: global averages
    * from partial regional coverage (coal per variable class, gas averaged
    * twice — regions then high/low, oil high/low), then barrel/MMBtu→GJ
    * unit conversion.
    */
  def preparePriceDataLongIpr2023(data: DataFrame, startYear: Int): DataFrame = {
    val tech = col("technology")
    // :413-447 — the Global means from partial regional coverage as one
    // two-level aggregate. Level 1 averages the regions per (scenario,
    // technology, variable class, year), with oil's class nulled so that
    // oil averages its regions and high/low together. Level 2 averages gas
    // over its high/low classes; a coal or oil group holds one row there.
    val global = data
      .withColumn("technology",
        when(col("Sub_variable_class_1") === "Oil", "Oil")
          .when(col("Sub_variable_class_1") === "Coal", "Coal")
          .when(col("Sub_variable_class_1") === "Natural gas", "Gas"))
      .filter(tech.isNotNull)
      .groupBy(
        when(col("Scenario") === "RPS", "IPR2023_RPS")
          .when(col("Scenario") === "FPS", "IPR2023_FPS").as("scenario"),
        tech, when(tech === "Oil", lit(null)).otherwise(col("Variable_class")).as("class"),
        col("year"))
      .agg(avg(col("value")).as("price"))
      .groupBy(col("scenario"), tech, when(tech === "Gas", lit(null)).otherwise(col("class")),
        col("year"))
      .agg(avg(col("price")).as("price"))
    // :452-467 — barrel/MMBtu → GJ unit normalization
    global.select(col("scenario"), lit("price").as("indicator"),
        col("year").cast("int").as("year"),
        when(tech === "Oil", col("price") * 0.16)
          .when(tech === "Gas", col("price") * 0.9478171203)
          .otherwise(col("price")).as("price"),
        lit("Global").as("scenario_geography"),
        when(tech === "Coal", "Coal").otherwise("Oil&Gas").as("sector"),
        tech,
        when(tech === "Coal", "usd/tonne").otherwise("GJ").as("unit"))
      .filter(col("year") >= startYear)
  }

  /** reference :644-736 prepare_price_data_long_Oxf2021: LCOE-named raw
    * prices, constant-extension rows 2070-2100, scenario/sector recodes
    * ($/MWh → $/GJ for oil/gas, usd/tonne for coal), then per-(technology,
    * scenario) OLS on 2049-2069 filling every remaining null (the
    * reference's nested lm loop as the closed-form W9 op).
    */
  def preparePriceDataLongOxf2021(data: DataFrame, startYear: Int): DataFrame = {
    var d = data
      .withColumnRenamed("Technology", "technology")
      .withColumnRenamed("Sector", "sector")
      .withColumnRenamed("Scenario", "scenario")
      .withColumnRenamed("Region", "scenario_geography")
      .withColumnRenamed("Year", "year")
      .withColumnRenamed("LCOE", "price")
    // :661-676 add_years: distinct (geo, technology, scenario) × 2070-2100
    val extension = d.select("scenario_geography", "technology", "scenario").distinct()
      .withColumn("year", explode(sequence(lit(2070), lit(2100))))
      .withColumn("price", lit(null).cast("double"))
      .withColumn("sector", lit("Fossil Fuels"))
    d = d.unionByName(extension)
    d = d
      .withColumn("scenario",
        when(col("scenario") === "Oxford - fast_transition", "Oxford2021_fast")
          .when(col("scenario") === "Oxford - no_transition", "Oxford2021_base")
          .when(col("scenario") === "Oxford - slow_transition", "Oxford2021_slow"))
      .withColumn("sector",
        when(col("technology") === "Coal", "Coal")
          .when(col("technology").isin("Gas", "Oil"), "Oil&Gas"))
      // reference case_when has no fallback: non-World geographies null out
      .withColumn("scenario_geography",
        when(col("scenario_geography") === "World", "Global"))
      .withColumn("unit", lit("$/MWh"))
      .withColumn("indicator", lit("price"))
      .withColumn("price",
        when(col("technology").isin("Oil", "Gas"), col("price") / 3.6)
          .when(col("technology") === "Coal", col("price") / 0.122835)
          .otherwise(col("price")))
      .withColumn("unit",
        when(col("technology").isin("Oil", "Gas"), "GJ")
          .when(col("technology") === "Coal", "usd/tonne")
          .otherwise(col("unit")))
      .filter(col("year") >= startYear)
      .filter(col("scenario") =!= "Oxford2021_slow")
    // :728-735 — the R loop predicts EVERY remaining null from the
    // 2049-2069 fit, so the prediction window is the whole retained axis
    Regression.olsExtrapolate(d, Seq("technology", "scenario"), "year", "price",
      fitLo = 2049, fitHi = 2069, predLo = startYear, predHi = 2100)
  }

  /** reference :750-769 create_automotive_prices: synthetic unit prices
    * wherever the scenario set has automotive rows.
    */
  def createAutomotivePrices(scenariosAnalysisInput: DataFrame): DataFrame =
    scenariosAnalysisInput
      .filter(col("ald_sector") === "Automotive")
      .select("scenario", "ald_sector", "ald_business_unit", "year")
      .distinct()
      .withColumnRenamed("ald_business_unit", "technology")
      .withColumnRenamed("ald_sector", "sector")
      .withColumn("price", lit(1))
      .withColumn("scenario_geography", lit("Global"))
      .withColumn("indicator", lit("price"))
      .withColumn("unit", lit("dummy"))

  /** The implied-price adjustment core shared by every LCOE/LC variant
    * (reference R/prepare_LCOE_adjusted_price_data.R:18-71, :137-172,
    * :264-302, :396-437 repeat it verbatim): implied start-year market
    * price = lcoe_t0 / (1 - npm), scaled over time by the cost factor
    * lcoe_t0 / lcoe_t, indicator relabelled to "price".
    *
    * One window pass over `keys` (and `adjust`, so rows it leaves alone
    * never share an adjusted group's window): the start-year anchors are
    * collected over the group and exploded, which keeps the inner join's
    * cardinality — a group without a start-year row drops out, one with k
    * such rows yields each row k times, and a row with a null key drops.
    * Rows where `adjust` is false pass through once, unchanged.
    */
  private def impliedPriceAdjust(
      df: DataFrame,
      keys: Seq[String],
      averageNpm: Double,
      startYear: Int,
      adjust: Column = lit(true)): DataFrame = {
    val w = Window.partitionBy((adjust +: keys.map(col)): _*).orderBy(col("year"))
    val anchor = struct((col("price") / (1 - averageNpm)).as("implied_price"))
    val Seq(costFactor, anchors) = Seq("cost_factor", "anchors").map(Cols.fresh(df, _))
    df.filter(!adjust || keys.map(col(_).isNotNull).reduce(_ && _))
      .select(col("*"),
        (first(col("price")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) /
          col("price")).as(costFactor),
        // a row left alone carries one unused anchor, so the explode keeps it once
        when(adjust, collect_list(when(col("year") === startYear, anchor))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .otherwise(array(anchor)).as(anchors))
      .withColumn(anchors, explode(col(anchors)))
      .withColumn("price",
        when(adjust, col(s"$anchors.implied_price") * col(costFactor)).otherwise(col("price")))
      .withColumn("indicator", when(adjust, lit("price")).otherwise(col("indicator")))
      .drop(costFactor, anchors)
  }

  private val lcoeKeys =
    Seq("source", "scenario", "scenario_geography", "sector", "technology", "unit")

  /** reference R/prepare_LCOE_adjusted_price_data.R:18-71 — derive implied
    * market prices from LCOE by adding the start-year profit margin scaled
    * by the cost factor lcoe_t0 / lcoe_t; every other row passes through.
    * A row whose sector or indicator is null is dropped, as the reference's
    * LCOE filter and its `!` complement both drop it.
    */
  def lcoeAdjustedPrices(input: DataFrame, averageNpmPower: Double, startYear: Int): DataFrame = {
    val isLcoe = col("sector") === "Power" && col("indicator") === "LCOE"
    impliedPriceAdjust(input.filter(col("year") >= startYear && isLcoe.isNotNull),
        lcoeKeys, averageNpmPower, startYear, adjust = isLcoe)
      .select(input.columns.map(col): _*)
  }

  /** reference R/prepare_LCOE_adjusted_price_data.R:81-258
    * prepare_lcoe_adjusted_price_data_oxford2022: Oxford LCOE wrangle
    * (technology recode incl. Sub_Technology splits, OilCap clone,
    * RenewablesCap mean-collapse), implied-price adjustment, 2070-2100
    * extension with OLS fill on the 2049-2069 window, then the NGFS
    * model×scenario fan-out merged with the relabelled Oxford paths.
    */
  def prepareLcoeAdjustedPriceDataOxford2022(
      lcoeOxford: DataFrame,
      averageNpmPower: Double,
      startYear: Int,
      ngfsVintage: String): DataFrame = {
    var d = lcoeOxford
      .filter(col("Sector") === "Power" && col("Scenario").rlike("Oxford") &&
        col("Year") >= startYear)
      .withColumn("technology",
        when(col("Technology") === "Natural gas", "GasCap")
          .when(col("Technology") === "Coal", "CoalCap")
          .when(col("Sub_Technology") === "Hydro", "HydroCap")
          .when(col("Technology") === "Nuclear", "NuclearCap")
          .when(col("Technology") === "Renewables" && col("Sub_Technology") =!= "HydroCap",
            "RenewablesCap")
          .otherwise(col("Technology")))
      .withColumn("scenario_geography",
        when(col("Region") === "World", "Global").otherwise(col("Region")))
      .withColumn("unit", lit("$/MWh"))
      .withColumn("__scenario",
        when(col("Scenario") === "Oxford - fast_transition", "fast_transition_oxford")
          .when(col("Scenario") === "Oxford - no_transition", "no_transition_oxford")
          .when(col("Scenario") === "Oxford - slow_transition", "slow_transition_oxford")
          .otherwise(col("Scenario")))
      .filter(col("__scenario") =!= "slow_transition_oxford")
      .select(col("__scenario").as("scenario"), col("scenario_geography"),
        col("Sector").as("sector"), col("technology"), col("unit"),
        col("Year").as("year"), col("LCOE").as("price"), lit("LCOE").as("indicator"))
      // null technologies are dropped, as the `!=` complement filter drops NA
      .filter(col("technology").isNotNull)
    // :119-132 — OilCap clone + RenewablesCap mean-collapse (window mean +
    // distinct mirrors the reference's grouped mutate + unique); wRenew is
    // keyed on technology, so the collapse touches only RenewablesCap rows
    val wRenew = Window.partitionBy(col("scenario"), col("scenario_geography"),
      col("sector"), col("year"), col("technology"))
    d = Reshape.fanOut(d, "technology", Map("GasCap" -> Seq("GasCap", "OilCap")))
      .withColumn("price",
        when(col("technology") === "RenewablesCap", avg(col("price")).over(wRenew))
          .otherwise(col("price")))
      .distinct()
    // junction: the adjusted frame has four reads — the extension's
    // distinct-keys grid, the union with it, the OLS fit and the fit's
    // join back
    d = impliedPriceAdjust(d,
      Seq("scenario", "scenario_geography", "sector", "technology", "unit"),
      averageNpmPower, startYear).planBarrier()
    // :174-195 — extension rows 2070-2100 (the reference also fabricates
    // slow-transition rows here, but every downstream branch filters them
    // back out, so only the two live scenarios are extended)
    val extension = d
      .select("sector", "scenario_geography", "technology", "unit", "indicator", "scenario")
      .distinct()
      .withColumn("year", explode(sequence(lit(2070), lit(2100))))
      .withColumn("price", lit(null).cast("double"))
    d = d.unionByName(extension.select(d.columns.map(col): _*))
    d = Regression.olsExtrapolate(d, Seq("technology", "scenario"), "year", "price",
      fitLo = 2049, fitHi = 2069, predLo = startYear, predHi = 2100)
    // :216-252 — NGFS fan-out + Oxford relabel, merged
    fanOutNgfsScenarios(d, ngfsVintage)
  }

  /** reference :258-329 prepare_lcoe_adjusted_price_data_IPR2023: the
    * implied-price adjustment on the IPR power LCOE series, non-LCOE rows
    * passed through, Global only, and the WEO SDS pathway duplicated as
    * both IPR2023_FPS and IPR2023_RPS.
    */
  def prepareLcoeAdjustedPriceDataIpr2023(
      input: DataFrame,
      averageNpmPower: Double,
      startYear: Int): DataFrame =
    Reshape.fanOut(
      lcoeAdjustedPrices(input, averageNpmPower, startYear)
        .filter(col("scenario_geography") === "Global" && col("scenario") === "SDS"),
      "scenario", Map("SDS" -> Seq("IPR2023_FPS", "IPR2023_RPS")))

  /** reference :333-385 MP_LC_steel_wrangling: Global = mean over regions,
    * relevant technologies/scenarios only, steel technology fan-outs
    * (EAF→BF-EAF, BF-BOF→{BOF, BF-OHF}), Mission-Possible labels.
    */
  def mpLcSteelWrangling(data: DataFrame): DataFrame = {
    val d = Aggregates.appendGlobalMean(data, "region", "levelized_cost")
      .withColumnRenamed("levelized_cost", "price")
      .withColumnRenamed("region", "scenario_geography")
      .filter(col("technology").isin("Avg BF-BOF", "DRI-Melt-BOF", "EAF", "DRI-EAF"))
      .filter(col("scenario").isin("baseline", "carbon_cost"))
    // recode + fan-outs in one pass: Avg BF-BOF→{BF-BOF, BOF, BF-OHF},
    // DRI-Melt-BOF→DRI-BOF, EAF→{EAF, BF-EAF}
    Reshape.fanOut(d, "technology", Map(
        "Avg BF-BOF" -> Seq("BF-BOF", "BOF", "BF-OHF"), "DRI-Melt-BOF" -> Seq("DRI-BOF"),
        "EAF" -> Seq("EAF", "BF-EAF")))
      .withColumn("sector", lit("Steel"))
      .withColumn("indicator", lit("Levelized Cost"))
      .withColumn("source", lit("Mission Possible"))
      .withColumn("unit", lit("$/ton"))
  }

  /** reference :389-448 prepare_lc_adjusted_price_data_steel: the
    * implied-price adjustment on the Mission-Possible levelized costs,
    * steel scenario relabel.
    */
  def prepareLcAdjustedPriceDataSteel(
      input: DataFrame,
      averageNpmSteel: Double,
      startYear: Int): DataFrame = {
    val lc = input.filter(col("year") >= startYear)
      .filter(col("sector") === "Steel" && col("indicator") === "Levelized Cost")
    impliedPriceAdjust(lc, lcoeKeys, averageNpmSteel, startYear)
      .select(input.columns.map(col): _*)
      .drop("source")
      .withColumn("scenario",
        when(col("sector") === "Steel" && col("scenario") === "baseline", "Steel_baseline")
          .when(col("sector") === "Steel" && col("scenario") === "carbon_cost", "Steel_NZ")
          .otherwise(col("scenario")))
  }

  /** reference R/prepare_LCOE_adjusted_price_data.R:171-205 — extend the
    * year axis to `predHi` and fill with a per-(technology, scenario) OLS
    * line fitted on [fitLo, fitHi]. Replaces the reference's quadratic
    * rbind loop + per-group lm() with a grid join + closed-form fit (W9).
    */
  def extrapolatePrices(
      df: DataFrame,
      fitLo: Int = 2049, fitHi: Int = 2069,
      predLo: Int = 2070, predHi: Int = 2100): DataFrame = {
    val nesting = df.columns.filterNot(Seq("year", "price").contains).toSeq
    val lo = predLo.min(fitLo)
    val completed = TimeSeries.completeGrid(df, nesting, "year", lo, predHi)
      .filter(col("year") >= lo || col("price").isNotNull)
    Regression.olsExtrapolate(completed, Seq("technology", "scenario"), "year", "price",
      fitLo, fitHi, predLo, predHi)
  }

  /** reference R/prepare_LCOE_adjusted_price_data.R:225-252 — fan Oxford
    * transition paths out to NGFS (model x scenario) labels and relabel the
    * Oxford paths themselves, as one static map per vintage (R9 as a
    * generator, not a pivot_longer of label columns). Slow-transition rows
    * and null scenarios are dropped; the scenario column moves last.
    */
  def fanOutNgfsScenarios(pricesAdjusted: DataFrame, ngfsVintage: String): DataFrame = {
    def ngfs(scenarios: String*) = for {
      model <- Seq("GCAM", "REMIND", "MESSAGE"); s <- scenarios
    } yield s"NGFS$ngfsVintage${model}_$s"
    val out = Reshape.fanOut(pricesAdjusted.filter(col("scenario").isNotNull), "scenario", Map(
      "fast_transition_oxford" -> (ngfs("NZ2050", "LD", "B2DS", "DT") :+ "Oxford2021_fast"),
      "no_transition_oxford" -> (ngfs("NDC", "FW", "CP") :+ "Oxford2021_base"),
      "slow_transition_oxford" -> Nil))
    out.select((out.columns.filterNot(_ == "scenario") :+ "scenario").map(col): _*)
  }
}
