package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.DataChecks
import graft.ops.{Reshape, TimeSeries}
import graft.core.Barriers.BarrierOps

/** Capacity-factor pipeline — Spark re-expression of
  * `prepare_prewrangled_capacity_factors_WEO2021` (reference
  * R/prepare_prewrangled_capacity_factors.R:12-240): filter Power, resolve
  * renewables sub-technologies, aggregate the wide year columns, split
  * Capacity/Generation, convert TWh->GW, join, complete+interpolate,
  * cf = generation/capacity with NaN->0, bounds-assert, relabel scenario
  * slices (SDS cloned as NZE_2050, STEPS as APS).
  */
object CapacityFactors {

  private val hoursToYear = 24 * 365

  /** @param data wide frame: Source, Indicator, Sector, Units, Scenario,
    *             ScenarioGeography, Technology, Sub_Technology, year cols
    */
  def prepareCapacityFactorsWeo2021(data: DataFrame, startYear: Int): DataFrame = {
    val endYear = 2040
    DataChecks.requireColumns(data, Seq("Source", "Indicator", "Sector", "Units", "Scenario",
      "ScenarioGeography", "Technology", "Sub_Technology", endYear.toString))

    val yearCols = data.columns.filter(_.startsWith("20")).toSeq

    // reference :31-48 — Power only; renewables must carry a sub-technology,
    // non-renewables must not; Hydro is promoted to a technology
    var d = data
      .filter(col("Sector") === "Power" && col("Technology") =!= "Total capacity")
      .filter((col("Technology") =!= "Renewables" && col("Sub_Technology").isNull) ||
        (col("Technology") === "Renewables" && col("Sub_Technology").isNotNull))
      .withColumn("Technology",
        when(col("Technology") === "Renewables" && col("Sub_Technology") === "Hydro", "Hydro")
          .otherwise(col("Technology")))

    // reference :51-67 — aggregate the dynamic year-column set (A5)
    val grp = Seq("Source", "Indicator", "Sector", "Units", "Scenario",
      "ScenarioGeography", "Technology")
    d = d.groupBy(grp.map(col): _*)
      .agg(sum(col(yearCols.head)).as(yearCols.head),
        yearCols.tail.map(c => sum(col(c)).as(c)): _*)
      // JUNCTION BARRIER (the Abcd.scala:108 treatment): the aggregate
      // feeds BOTH indicator slices, and the Capacity/Generation join below
      // therefore carries the whole subtree twice before completeGrid
      // triples it again — one materialization pass collapses all of it.
      .planBarrier()

    // reference :69-103 — split indicator frames, unpivot, unit-convert
    def longSide(indicator: String, valueName: String): DataFrame =
      Reshape.unpivotYears(
          d.filter(col("Indicator") === indicator).drop("Indicator"),
          grp.filterNot(_ == "Indicator"), valueName)
        .withColumnRenamed("Units", "units")
    val capacity = longSide("Capacity", "capacity")
    val generation = longSide("Generation", "generation")
      .withColumn("generation", col("generation") * 1000 / hoursToYear)
      .withColumn("units", lit("GW"))

    val joinKeys = Seq("Source", "Scenario", "ScenarioGeography", "Sector",
      "Technology", "units", "year")
    var cf = generation.select((joinKeys :+ "generation").map(col): _*)
      .join(capacity.select((joinKeys :+ "capacity").map(col): _*), joinKeys)
      .distinct()
      // junction: completeGrid reads the joined frame twice (distinct keys
      // + join side)
      .planBarrier()

    // reference :110-135 — complete to [startYear, endYear], interpolate
    val nesting = joinKeys.filterNot(_ == "year")
    cf = TimeSeries.completeGrid(cf, nesting, "year", startYear, endYear)
    cf = TimeSeries.naApprox(cf, nesting, "year", "capacity", "capacity")
    cf = TimeSeries.naApprox(cf, nesting, "year", "generation", "generation")
    cf = cf.filter(col("year") >= startYear)

    // reference :138-149 — ratio with 0/0 -> NaN -> 0
    cf = cf
      .withColumn("capacity_factor", col("generation") / col("capacity"))
      .withColumn("capacity_factor",
        when(isnan(col("capacity_factor")) || col("capacity_factor").isNull, 0.0)
          .otherwise(col("capacity_factor")))

    // reference :151-177 — renames + technology recode + World -> Global
    cf = cf
      .withColumnRenamed("Source", "source")
      .withColumnRenamed("Scenario", "scenario")
      .withColumnRenamed("ScenarioGeography", "scenario_geography")
      .withColumnRenamed("Sector", "ald_sector")
      .withColumnRenamed("Technology", "technology")
    cf = Reshape.recodeValues(cf, "technology", Map(
      "Coal" -> "CoalCap", "Oil" -> "OilCap", "Natural gas" -> "GasCap",
      "Hydro" -> "HydroCap", "Nuclear" -> "NuclearCap", "Renewables" -> "RenewablesCap"))
    cf = cf.withColumn("scenario_geography",
      when(col("scenario_geography") === "World", "Global").otherwise(col("scenario_geography")))

    // reference :179-193 — hard bounds: cf in [0, 1], never null
    DataChecks.assertBetween(cf, "capacity_factor", 0.0, 1.0)

    cf = cf.select("scenario", "scenario_geography", "technology", "year", "capacity_factor")

    // reference :213-237 — scenario prefix + relabel slices (U5)
    cf = cf.withColumn("scenario", concat_ws("_", lit("WEO2021"), col("scenario")))
    cf = Reshape.recodeValues(cf, "scenario", Map("WEO2021_SPS" -> "WEO2021_STEPS"))
    Reshape.fanOut(cf, "scenario", Map(
      "WEO2021_SDS" -> Seq("WEO2021_SDS", "WEO2021_NZE_2050"),
      "WEO2021_STEPS" -> Seq("WEO2021_STEPS", "WEO2021_APS")))
  }

  /** The NGFS capacity-factor guard cascade (reference
    * R/prepare_prewrangled_capacity_factors.R:475-496 = :595-613): cf > 1
    * clamps to 1, capacity 0 with generation > 0 → 0, capacity 0 with
    * generation 0 → 0. Note Spark's non-ANSI double 0/0 yields NULL (R's
    * yields NaN), so the `> 1` clamp never fires for a 0/0 ratio — the
    * NULL falls through `when` untouched and the two capacity===0 branches
    * below produce the reference's end state for every case.
    */
  private def boundCapacityFactor(d: DataFrame): DataFrame =
    d.withColumn("capacity_factor",
        when(col("capacity_factor") > 1, 1.0).otherwise(col("capacity_factor")))
      .withColumn("capacity_factor",
        when(col("capacity") === 0 && col("generation") > 0, 0.0)
          .otherwise(col("capacity_factor")))
      .withColumn("capacity_factor",
        when(col("capacity") === 0 && col("generation") === 0, 0.0)
          .otherwise(col("capacity_factor")))

  /** reference R/prepare_prewrangled_capacity_factors.R:250-379
    * prepare_prewrangled_capacity_factors_WEO2023: long input already in
    * scenario shape; Capacity vs Electricity-generation split, TWh→GW,
    * inner join on the full perimeter incl. units, complete to 2050 +
    * interpolate, cf = generation/capacity with NA→0, [0,1] hard bounds,
    * Power completeness, WEO2023 prefix.
    */
  def prepareCapacityFactorsWeo2023(data: DataFrame, startYear: Int): DataFrame = {
    val endYear = 2050
    val d = data.filter(col("sector") === "Power")
    val keep = Seq("source", "scenario", "scenario_geography", "sector", "technology",
      "year", "units")
    val capacity = d.filter(col("indicator") === "Capacity")
      .select((keep :+ "value").map(col): _*)
      .withColumnRenamed("value", "capacity")
    val generation = d.filter(col("indicator") === "Electricity generation")
      .select((keep :+ "value").map(col): _*)
      .withColumnRenamed("value", "generation")
      .withColumn("generation", col("generation") * 1000 / hoursToYear)
      .withColumn("units", lit("GW"))
    val joinKeys = Seq("source", "scenario", "scenario_geography", "sector", "technology",
      "units", "year")
    var cf = generation.join(capacity, joinKeys).distinct()
    val nesting = joinKeys.filterNot(_ == "year")
    cf = TimeSeries.completeGrid(cf, nesting, "year", startYear, endYear)
    cf = TimeSeries.naApprox(cf, nesting, "year", "capacity", "capacity")
    cf = TimeSeries.naApprox(cf, nesting, "year", "generation", "generation")
    cf = cf.filter(col("year") >= startYear)
      .withColumn("capacity_factor", col("generation") / col("capacity"))
      // reference :315-327 — is.na covers both NA and NaN in R
      .withColumn("capacity_factor",
        when(isnan(col("capacity_factor")) || col("capacity_factor").isNull, 0.0)
          .otherwise(col("capacity_factor")))
    DataChecks.assertBetween(cf, "capacity_factor", 0.0, 1.0)
    cf.select("scenario", "scenario_geography", "technology", "year", "capacity_factor")
      .withColumn("ald_sector", lit("Power"))
      .transform(ScenarioData.removeIncompleteSectors)
      .drop("ald_sector")
      .withColumn("scenario", concat_ws("_", lit("WEO2023"), col("scenario")))
  }

  /** Shared NGFS Phase IV/V capacity-factor wrangle (reference :380-497 and
    * :498-614 are identical up to the model recode and scenario prefix):
    * recodes, renewables re-aggregation, per-group complete+interpolate,
    * EJ→GW on the Secondary Energy side, full outer capacity⋈generation,
    * the guard cascade, model×scenario unite with the vintage prefix.
    */
  private def prepareCapacityFactorsNgfs(
      data: DataFrame,
      startYear: Int,
      modelRecode: Map[String, String],
      prefix: String): DataFrame = {
    val scenarioRecode = Map(
      "Nationally Determined Contributions (NDCs)" -> "NDC", "Below 2 C" -> "B2DS",
      "Delayed transition" -> "DT", "Current Policies" -> "CP",
      "Divergent Net Zero" -> "DN0", "Net Zero 2050" -> "NZ2050",
      "Fragmented World" -> "FW", "Low demand" -> "LD")
    val techRecode = Map(
      "Oil" -> "OilCap", "Gas" -> "GasCap", "Coal" -> "CoalCap", "Hydro" -> "HydroCap",
      "Nuclear" -> "NuclearCap", "Solar" -> "RenewablesCap", "Geothermal" -> "RenewablesCap",
      "Biomass" -> "RenewablesCap", "Wind" -> "RenewablesCap")
    var d = data
      .withColumn("scenario",
        coalesce(element_at(typedLit(scenarioRecode), col("Scenario")), col("Scenario")))
      .withColumn("scenario_geography",
        when(col("Region") === "World", "Global").otherwise(col("Region")))
      .withColumn("technology",
        coalesce(element_at(typedLit(techRecode), col("category_c")), col("category_c")))
      .withColumn("model",
        coalesce(element_at(typedLit(modelRecode), col("Model")), col("Model")))
      .select(col("scenario"), col("scenario_geography"), col("technology"), col("model"),
        col("category_a"), col("Unit").as("units"), col("year"), col("value"))
    // :424-430 — renewables re-aggregated per (year, tech, geo, model,
    // scenario, category_a): window sum + distinct
    val w = org.apache.spark.sql.expressions.Window.partitionBy(
      col("year"), col("technology"), col("scenario_geography"), col("model"),
      col("scenario"), col("category_a"))
    val renew = d.filter(col("technology") === "RenewablesCap")
      .withColumn("value", sum(col("value")).over(w)).distinct()
    d = renew.unionByName(d.filter(col("technology") =!= "RenewablesCap")).distinct()
    // :434-441 — interpolate_yearly grouped by everything except year/value
    val groupCols = d.columns.filterNot(Set("year", "value")).toSeq
    d = ScenarioData.interpolateYearly(d, groupCols)
      .filter(col("year") >= startYear)
      // junction: the interpolated frame feeds the generation AND capacity
      // slices of the full outer join
      .planBarrier()
    // :445-467 — EJ→GW (1 EJ/yr = 31.68808781 GW), wide split, full join on
    // the shared perimeter (units align because generation is restated GW)
    val generation = d.filter(col("category_a") === "Secondary Energy")
      .withColumn("value", col("value") * 31.68808781)
      .withColumn("units", lit("GW"))
      .drop("category_a").withColumnRenamed("value", "generation")
    val capacity = d.filter(col("category_a") === "Capacity")
      .drop("category_a").withColumnRenamed("value", "capacity")
    val joinKeys = Seq("scenario", "scenario_geography", "technology", "model", "units", "year")
    var cf = capacity.join(generation, joinKeys, "full_outer")
      .withColumn("capacity_factor", col("generation") / col("capacity"))
    cf = boundCapacityFactor(cf)
    cf.drop("capacity", "generation", "units")
      .withColumn("scenario", concat_ws("_", col("model"), col("scenario"))).drop("model")
      .withColumn("scenario", concat(lit(prefix), col("scenario")))
  }

  /** reference :380-497 prepare_capacity_factors_NGFS2023 (Phase IV). */
  def prepareCapacityFactorsNgfs2023(data: DataFrame, startYear: Int): DataFrame =
    prepareCapacityFactorsNgfs(data, startYear, Map(
      "GCAM 6.0 NGFS" -> "GCAM", "REMIND-MAgPIE 3.2-4.6" -> "REMIND",
      "MESSAGEix-GLOBIOM 1.1-M-R12" -> "MESSAGE"), "NGFS2023")

  /** reference :498-614 prepare_capacity_factors_NGFS2024 (Phase V). */
  def prepareCapacityFactorsNgfs2024(data: DataFrame, startYear: Int): DataFrame =
    prepareCapacityFactorsNgfs(data, startYear, Map(
      "GCAM 6.0 NGFS" -> "GCAM", "REMIND-MAgPIE 3.3-4.8" -> "REMIND",
      "MESSAGEix-GLOBIOM 2.0-M-R12-NGFS" -> "MESSAGE"), "NGFS2024")

  /** reference :615-764 prepare_capacity_factors_IPR2023: technology from
    * the variable-class hierarchy (generation rows use svc1), strict
    * recode-to-null, RenewablesCap ADDED alongside its components (the cf
    * variant keeps the four source techs, unlike the scenario variant),
    * TWh→GW on generation, full outer join, guard cascade.
    */
  def prepareCapacityFactorsIpr2023(data: DataFrame, startYear: Int): DataFrame = {
    val techRecode = Map(
      "Coal_Power" -> "CoalCap", "Natural gas_Power" -> "GasCap",
      "Nuclear_Power" -> "NuclearCap", "Hydro_Power" -> "HydroCap", "Oil_Power" -> "OilCap",
      "Biomass_Power" -> "BiomassCap", "Offshore wind_Power" -> "OffWindCap",
      "Onshore wind_Power" -> "OnWindCap", "Solar_Power" -> "SolarCap")
    val capTechs = techRecode.values.toSeq
    // :618-619 — Power rows key on svc2, generation rows override with svc1
    val rawTech =
      when(col("Variable_class") === "Electricity generation",
        concat_ws("_", col("Sub_variable_class_1"), col("Sector")))
        .when(col("Sector") === "Power",
          concat_ws("_", col("Sub_variable_class_2"), col("Sector")))
        .otherwise(col("Sub_variable_class_1"))
    var d = data
      .withColumn("technology", element_at(typedLit(techRecode), rawTech))
      .withColumn("ald_sector",
        when(col("technology").isin(capTechs: _*), "Power"))
      .withColumn("__scenario",
        when(col("Scenario") === "RPS", "IPR2023_RPS")
          .when(col("Scenario") === "FPS", "IPR2023_FPS"))
      .withColumn("scenario_geography",
        when(col("Region") === "WORLD", "Global").otherwise(col("Region")))
      .filter(col("ald_sector").isNotNull)
      .select(col("__scenario").as("scenario"), col("scenario_geography"), col("ald_sector"),
        col("technology"), col("Variable_class").as("Category"), col("Units").as("units"),
        col("year"), col("value"))
      // junction: d feeds the renewables aggregate, the union base and the
      // Capacity/Generation slices
      .planBarrier()
    // :700-712 — RenewablesCap added per Category; components KEPT
    val renewSrc = Seq("OffWindCap", "OnWindCap", "SolarCap", "BiomassCap")
    val renew = d.filter(col("technology").isin(renewSrc: _*))
      .groupBy("Category", "scenario_geography", "scenario", "ald_sector", "units", "year")
      .agg(sum(col("value")).as("value"))
      .withColumn("technology", lit("RenewablesCap"))
    d = d.unionByName(renew)
    // :716-739 — split, TWh→GW (365.25-day year in this vintage), join
    val generation = d.filter(col("Category") === "Electricity generation")
      .withColumn("value", col("value") * 1000 / (24 * 365.25))
      .withColumn("units", lit("GW"))
      .drop("Category").withColumnRenamed("value", "Generation")
    val capacity = d.filter(col("Category") === "Capacity")
      .drop("Category").withColumnRenamed("value", "Capacity")
    val joinKeys = Seq("scenario", "scenario_geography", "units", "ald_sector",
      "technology", "year")
    // column resolution is case-insensitive: the guard's capacity and
    // generation resolve to Capacity and Generation
    val cf = boundCapacityFactor(capacity.join(generation, joinKeys, "full_outer")
      .withColumn("capacity_factor", col("Generation") / col("Capacity")))
    cf.drop("Capacity", "Generation", "units", "ald_sector")
      .withColumn("year", col("year").cast("int"))
      .filter(col("year") >= startYear)
  }

  /** reference :770-777 — IPR baseline cf = IPR2023_FPS relabelled. */
  def prepareCapacityFactorsIpr2023Baseline(data: DataFrame): DataFrame =
    data.filter(col("scenario") === "IPR2023_FPS")
      .withColumn("scenario", lit("IPR2023_baseline"))

  /** reference :780-813 prepare_capacity_factors_OXF2021: Oxford publishes
    * no capacity factors — the WEO2021 Global SDS/STEPS factors are
    * relabelled to the Oxford scenarios and held constant 2041-2100 at the
    * 2040 value (the reference's quadratic rbind loop becomes a distinct ×
    * sequence grid union + an anchor-year backfill, W11 shape).
    */
  def prepareCapacityFactorsOxf2021(data: DataFrame): DataFrame = {
    var d = data
      .filter(col("scenario_geography") === "Global" &&
        col("scenario").isin("WEO2021_SDS", "WEO2021_STEPS"))
      .withColumn("scenario",
        when(col("scenario") === "WEO2021_SDS", "Oxford2021_fast")
          .when(col("scenario") === "WEO2021_STEPS", "Oxford2021_base")
          .otherwise(col("scenario")))
      // junction: d feeds the extension grid, the union base AND the 2040
      // anchor lookup — three consumers
      .planBarrier()
    val extension = d.select("scenario_geography", "technology", "scenario").distinct()
      .withColumn("year", explode(sequence(lit(2041), lit(2100))))
      .withColumn("capacity_factor", lit(null).cast("double"))
    d = d.unionByName(extension)
    // :799-807 — every NA takes the group's 2040 value
    val anchor = d.filter(col("year") === 2040)
      .select(col("scenario"), col("technology"), col("scenario_geography"),
        col("capacity_factor").as("__cf2040"))
    d.join(broadcast(anchor), Seq("scenario", "technology", "scenario_geography"), "left")
      .withColumn("capacity_factor", coalesce(col("capacity_factor"), col("__cf2040")))
      .drop("__cf2040")
  }

  /** reference :816-882 prepare_capacity_factors_GEM_steel: technology
    * fan-outs from the GEM utilization table (EAF Steel→{EAF, BF-EAF},
    * DRI→{DRI-EAF, DRI-BOF}, BOF→BF-BOF, OHF Steel→BF-OHF), duplicated
    * across both steel scenarios, completed to [startYear, maxYear] with
    * every null taking the group's first non-null value.
    */
  def prepareCapacityFactorsGemSteel(
      data: DataFrame,
      startYear: Int,
      maxYear: Int = 2050): DataFrame = {
    // recode + fan-outs in one pass; a null technology has no steel route
    // (the final isin drops it), so it stays out of the grid as well
    val bof = Seq("BOF", "BF-BOF")
    var d = Reshape.fanOut(data.filter(col("technology").isNotNull), "technology", Map(
        "EAF Steel" -> Seq("BF-EAF", "EAF"), "DRI" -> Seq("DRI-EAF", "DRI-BOF"),
        "BOF Steel" -> bof, "BOF" -> bof, "OHF Steel" -> Seq("OHF Steel", "BF-OHF")))
      .withColumn("scenario_geography", lit("Global"))
      .withColumn("scenario", explode(array(lit("Steel_baseline"), lit("Steel_NZ"))))
    d = TimeSeries.completeGrid(
      d, Seq("technology", "scenario", "scenario_geography"), "year", startYear, maxYear)
    // :866-869 — nulls take the group's first (lowest-year) non-null value
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("technology"), col("scenario"), col("scenario_geography"))
      .orderBy(col("year"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    d = d.withColumn("value",
      coalesce(col("value"), first(col("value"), ignoreNulls = true).over(wAll)))
    d.filter(col("technology").isin(
        "BF-BOF", "BF-EAF", "EAF", "BOF", "DRI-EAF", "DRI-BOF", "BF-OHF"))
      .withColumnRenamed("value", "capacity_factor")
  }
}
