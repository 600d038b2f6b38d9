package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Barriers.BarrierOps
import graft.core.DataChecks
import graft.ops.{Reshape, Shares, TimeSeries}

/** Scenario-data helpers — Spark re-expression of the exported reference
  * functions `interpolate_yearly` and `add_market_share_columns`
  * (reference R/prepare_scenario_data.R:11-72).
  */
object ScenarioData {

  /** reference :11-20 — per-group full_seq completion + na.approx with
    * na.rm=FALSE (edge nulls stay null). Groups = every column except
    * (year, value).
    */
  def interpolateYearly(data: DataFrame, groupCols: Seq[String]): DataFrame =
    TimeSeries.completeInterpolate(data, groupCols, "year", Seq("value"), TimeSeries.Axis.PerGroup)
      .select(data.columns.map(col): _*)

  /** reference :22-72 — tmsr + smsp over the canonical fair-share groups
    * (scenario, sector, scenario_geography) x technology. At the start
    * year tmsr = 0 and smsp = 0 (both are deltas against the base year).
    */
  def addMarketShareColumns(data: DataFrame, startYear: Int): DataFrame = {
    val fsGroups = Seq("scenario", "sector", "scenario_geography")
    Shares.addMarketShares(
      data.filter(col("year") >= startYear),
      techKeys = fsGroups :+ "technology",
      sectorKeys = fsGroups,
      x = "year", v = "value")
  }

  /** The P4I/P4B sector-technology lookup (reference R/lookup.R:4-33) —
    * an in-code literal table (S7), broadcast wherever joined.
    */
  def sectorTechnologyLookup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("automotive", "electric", "Automotive", "Electric"),
      ("automotive", "hybrid", "Automotive", "Hybrid"),
      ("automotive", "ice", "Automotive", "ICE"),
      ("coal", "coal", "Coal", "Coal"),
      ("oil and gas", "gas", "Oil&Gas", "Gas"),
      ("oil and gas", "oil", "Oil&Gas", "Oil"),
      ("power", "coalcap", "Power", "CoalCap"),
      ("power", "gascap", "Power", "GasCap"),
      ("power", "hydrocap", "Power", "HydroCap"),
      ("power", "nuclearcap", "Power", "NuclearCap"),
      ("power", "oilcap", "Power", "OilCap"),
      ("power", "renewablescap", "Power", "RenewablesCap"),
      ("aviation", "freight", "Aviation", "Freight"),
      ("aviation", "passenger", "Aviation", "Passenger"),
      ("cement", "grinding", "Cement", "Grinding"),
      ("cement", "integrated facility", "Cement", "Integrated facility"),
      ("steel", "ac-electric arc furnace", "Steel", "Ac-Electric Arc Furnace"),
      ("steel", "bof shop", "Steel", "Bof Shop"),
      ("steel", "dc-electric arc furnace", "Steel", "Dc-Electric Arc Furnace"),
      ("steel", "open hearth meltshop", "Steel", "Open Hearth Meltshop")
    ).toDF("sector_p4b", "technology_p4b", "sector_p4i", "technology_p4i")
  }

  /** reference R/helpers.R:110-155 remove_incomplete_sectors: within each
    * (scenario, scenario_geography), a sector is kept only when EVERY
    * technology the lookup expects for it is present. The reference loops
    * group-by-group on the driver; here it is one aggregation + anti-join.
    */
  def removeIncompleteSectors(data: DataFrame): DataFrame = {
    val lookup = sectorTechnologyLookup(data.sparkSession)
    val expected = lookup.groupBy(col("sector_p4i").as("ald_sector"))
      .agg(countDistinct(col("technology_p4i")).as("__n_expected"))
    val present = data.select("scenario", "scenario_geography", "ald_sector", "technology")
      .distinct()
      .join(broadcast(lookup),
        col("ald_sector") === col("sector_p4i") && col("technology") === col("technology_p4i"),
        "left_semi")
      .groupBy("scenario", "scenario_geography", "ald_sector")
      .agg(countDistinct(col("technology")).as("__n_present"))
    val incomplete = data.select("scenario", "scenario_geography", "ald_sector").distinct()
      .join(broadcast(expected), Seq("ald_sector"), "left")
      .join(present, Seq("scenario", "scenario_geography", "ald_sector"), "left")
      .filter(col("__n_expected").isNotNull &&
        coalesce(col("__n_present"), lit(0L)) < col("__n_expected"))
      .select("scenario", "scenario_geography", "ald_sector")
    data.join(incomplete, Seq("scenario", "scenario_geography", "ald_sector"), "left_anti")
  }

  /** reference R/prepare_scenario_data.R:123-163 format_p4i: directions
    * from the green-tech list, fair-share percentage = tmsr for declining,
    * smsp for increasing technologies.
    */
  def formatP4i(data: DataFrame, greenTechs: Seq[String]): DataFrame = {
    DataChecks.requireColumns(data, Seq("source", "scenario", "scenario_geography", "sector",
      "technology", "indicator", "units", "year", "tmsr", "smsp"))
    data
      .withColumn("Sub_Technology", lit(null).cast("string"))
      .withColumn("Direction",
        when(col("technology").isin(greenTechs: _*), "increasing").otherwise("declining"))
      .withColumn("FairSharePerc",
        when(col("Direction") === "declining", col("tmsr")).otherwise(col("smsp")))
      .select(
        col("source").as("Source"), col("scenario_geography").as("ScenarioGeography"),
        col("scenario").as("Scenario"), col("sector").as("Sector"),
        col("technology").as("Technology"), col("Sub_Technology"),
        col("indicator").as("Indicator"), col("units").as("Units"), col("year").as("Year"),
        col("value").as("scenario_pathway"), col("tmsr").as("techFSRatio"),
        col("smsp").as("mktFSRatio"), col("Direction"), col("FairSharePerc"))
  }

  /** reference R/prepare_scenario_data.R:435-503
    * preprepare_ngfs_scenario_data (NGFS Phase IV): scenario/model/sector/
    * technology recodes, renewables re-aggregation (grouped window sum +
    * dedup), model x scenario unite with the NGFS2023 prefix.
    */
  def preprepareNgfsScenarioData(data: DataFrame, startYear: Int): DataFrame = {
    val scenarioRecode = Map(
      "Nationally Determined Contributions (NDCs)" -> "NDC", "Below 2 C" -> "B2DS",
      "Delayed transition" -> "DT", "Current Policies" -> "CP",
      "Divergent Net Zero" -> "DN0", "Net Zero 2050" -> "NZ2050",
      "Fragmented World" -> "FW", "Low demand" -> "LD")
    val modelRecode = Map(
      "GCAM 6.0 NGFS" -> "GCAM", "REMIND-MAgPIE 3.2-4.6" -> "REMIND",
      "MESSAGEix-GLOBIOM 1.1-M-R12" -> "MESSAGE")
    val elecTech = Map(
      "Coal" -> "CoalCap", "Gas" -> "GasCap", "Hydro" -> "HydroCap", "Nuclear" -> "NuclearCap",
      "Oil" -> "OilCap", "Solar" -> "RenewablesCap", "Geothermal" -> "RenewablesCap",
      "Biomass" -> "RenewablesCap", "Wind" -> "RenewablesCap")
    var d = data
      .withColumn("scenario",
        coalesce(element_at(typedLit(scenarioRecode), col("Scenario")), col("Scenario")))
      .withColumn("scenario_geography",
        when(col("Region") === "World", "Global").otherwise(col("Region")))
      .withColumn("sector",
        when(col("category_b").isin("Oil", "Gas"), "Oil&Gas")
          .when(col("category_b") === "Coal", "Coal")
          .otherwise("Power"))
      .withColumn("technology",
        when(col("category_b").isin("Oil", "Gas", "Coal"), col("category_b"))
          .when(col("category_b") === "Electricity",
            coalesce(element_at(typedLit(elecTech), col("category_c")), col("category_c")))
          .otherwise(col("category_c")))
      .withColumn("indicator",
        when(col("sector") === "Power", "Capacity").otherwise("Production"))
      .withColumn("source", lit(s"NGFS$startYear"))
      .withColumn("model_name",
        coalesce(element_at(typedLit(modelRecode), col("Model")), col("Model")))
      // explicit select: drop() is case-insensitive and "Model"/"model"
      // would collide
      .select(col("source"), col("scenario"), col("scenario_geography"), col("sector"),
        col("technology"), col("indicator"), col("Unit").as("units"), col("year"),
        col("value"), col("model_name").as("model"))
    // reference :493-499 — re-aggregate the renewables sub-technologies
    // (grouped mutate(sum) + unique == window sum + distinct, SURVEY A1)
    val w = Window.partitionBy(
      col("year"), col("technology"), col("scenario_geography"), col("model"), col("scenario"))
    val renew = d.filter(col("technology") === "RenewablesCap")
      .withColumn("value", sum(col("value")).over(w)).distinct()
    val rest = d.filter(col("technology") =!= "RenewablesCap")
    // full_join with no `by` == union-dedup (J5)
    renew.unionByName(rest).distinct()
      .withColumn("scenario", concat_ws("_", col("model"), col("scenario"))).drop("model")
      .withColumn("scenario", concat(lit("NGFS2023"), col("scenario")))
  }

  /** reference R/prepare_scenario_data.R:506-525 style_ngfs. */
  def styleNgfs(data: DataFrame): DataFrame =
    data
      .drop("Sub_Technology", "Indicator", "mktFSRatio", "techFSRatio", "Source")
      .withColumnRenamed("ScenarioGeography", "scenario_geography")
      .withColumnRenamed("Scenario", "scenario")
      .withColumnRenamed("Sector", "ald_sector")
      .withColumnRenamed("Units", "units")
      .withColumnRenamed("Technology", "technology")
      .withColumnRenamed("Year", "year")
      .withColumnRenamed("Direction", "direction")
      .withColumnRenamed("FairSharePerc", "fair_share_perc")

  /** reference R/prepare_scenario_data.R:173-256 prepare_scenario_data:
    * per-source indicator filters, renewables sub-technology rule, renames,
    * scenario prefixing, NA-perimeter removal, sector completeness.
    */
  def prepareScenarioData(data: DataFrame): DataFrame = {
    DataChecks.requireColumns(data, Seq("Source", "Technology", "ScenarioGeography", "Sector",
      "Units", "Indicator", "Scenario", "Sub_Technology", "Year", "Direction", "mktFSRatio",
      "techFSRatio", "FairSharePerc"))
    var d = data
      .filter(
        (col("Source").rlike("WEO2021") &&
          col("Indicator").isin("Capacity", "Energy Supply", "Production", "Sales")) ||
        (col("Source").rlike("GECO2021") &&
          col("Indicator").isin("Capacity", "Production", "Sales")))
      .filter(!(col("Source").rlike("GECO2021") && col("Sector") =!= "Automotive"))
      .filter(!(col("Technology") === "RenewablesCap" && col("Sub_Technology").isNotNull))
      .drop("Sub_Technology", "Indicator", "mktFSRatio", "techFSRatio")
      .withColumnRenamed("Source", "scenario_source")
      .withColumnRenamed("ScenarioGeography", "scenario_geography")
      .withColumnRenamed("Scenario", "scenario")
      .withColumnRenamed("Sector", "ald_sector")
      .withColumnRenamed("Units", "units")
      .withColumnRenamed("Technology", "technology")
      .withColumnRenamed("Year", "year")
      .withColumnRenamed("Direction", "direction")
      .withColumnRenamed("FairSharePerc", "fair_share_perc")
      .withColumn("scenario", concat_ws("_", col("scenario_source"), col("scenario")))
      .distinct()

    // reference :227-242 — drop (source, geography, sector) perimeters with
    // NA in any column for the operative scenarios
    val operative = Seq("WEO2021_STEPS", "WEO2021_SDS", "WEO2021_NZE_2050", "WEO2021_APS",
      "WEO2020_SPS", "GECO2021_CurPol", "GECO2021_1.5C-Unif", "GECO2021_NDC-LTS")
    val naGeos = d
      .filter(col("scenario").isin(operative: _*))
      .filter(d.columns.map(col(_).isNull).reduce(_ || _))
      .select("scenario_source", "scenario_geography", "ald_sector")
      .distinct()
    d = d.join(naGeos, Seq("scenario_source", "scenario_geography", "ald_sector"), "left_anti")

    // reference :246-252 — supported sectors only, then completeness
    val supportedSectors = sectorTechnologyLookup(d.sparkSession)
      .select(col("sector_p4i").as("ald_sector")).distinct()
    d = d.join(broadcast(supportedSectors), Seq("ald_sector"), "left_semi")
    d = removeIncompleteSectors(d)
    d.drop("scenario_source")
  }

  /** Shared P4I rename block (reference repeats it verbatim in weo23,
    * geco2023 and the IPR automotive baseline): Source→scenario_source …
    * FairSharePerc→fair_share_perc, then scenario = source_scenario and a
    * full dedup.
    */
  private def renameP4iAndPrefix(d: DataFrame): DataFrame =
    d.withColumnRenamed("Source", "scenario_source")
      .withColumnRenamed("ScenarioGeography", "scenario_geography")
      .withColumnRenamed("Scenario", "scenario")
      .withColumnRenamed("Sector", "ald_sector")
      .withColumnRenamed("Units", "units")
      .withColumnRenamed("Technology", "technology")
      .withColumnRenamed("Year", "year")
      .withColumnRenamed("Direction", "direction")
      .withColumnRenamed("FairSharePerc", "fair_share_perc")
      .withColumn("scenario", concat_ws("_", col("scenario_source"), col("scenario")))
      .distinct()

  /** reference R/prepare_scenario_data.R:318-434 prepare_scenario_data_weo23
    * (the LIVE definition — the file defines the function twice and R keeps
    * the second; the shadowed first variant at :262-310 additionally
    * filtered Source/Indicator). Keeps `scenario_pathway`, applies the
    * standard rename/prefix, then supported-sector + completeness pruning.
    */
  def prepareScenarioDataWeo23(data: DataFrame): DataFrame = {
    DataChecks.requireColumns(data, Seq("Source", "Technology", "ScenarioGeography", "Sector",
      "Units", "scenario_pathway", "Indicator", "Scenario", "Sub_Technology", "Year",
      "Direction", "mktFSRatio", "techFSRatio", "FairSharePerc"))
    var d = data
      .filter(!(col("Technology") === "RenewablesCap" && col("Sub_Technology").isNotNull))
      .drop("Sub_Technology", "Indicator", "mktFSRatio", "techFSRatio")
    d = renameP4iAndPrefix(d)
    val supported = sectorTechnologyLookup(d.sparkSession)
      .select(col("sector_p4i").as("ald_sector")).distinct()
    d = d.join(broadcast(supported), Seq("ald_sector"), "left_semi")
    d = removeIncompleteSectors(d)
    d.drop("scenario_source")
  }

  /** reference R/prepare_scenario_data.R:386-434 prepare_geco2023:
    * standard rename/prefix, then World→Global. No sector pruning.
    */
  def prepareGeco2023(data: DataFrame): DataFrame =
    renameP4iAndPrefix(
      data.drop("Sub_Technology", "Indicator", "mktFSRatio", "techFSRatio"))
      .drop("scenario_source")
      .withColumn("scenario_geography",
        when(col("scenario_geography") === "World", "Global")
          .otherwise(col("scenario_geography")))

  private val ngfsScenarioRecode = Map(
    "Nationally Determined Contributions (NDCs)" -> "NDC", "Below 2 C" -> "B2DS",
    "Delayed transition" -> "DT", "Current Policies" -> "CP",
    "Divergent Net Zero" -> "DN0", "Net Zero 2050" -> "NZ2050",
    "Fragmented World" -> "FW", "Low demand" -> "LD")

  private val ngfsElecTech = Map(
    "Coal" -> "CoalCap", "Gas" -> "GasCap", "Hydro" -> "HydroCap", "Nuclear" -> "NuclearCap",
    "Oil" -> "OilCap", "Solar" -> "RenewablesCap", "Geothermal" -> "RenewablesCap",
    "Biomass" -> "RenewablesCap", "Wind" -> "RenewablesCap")

  /** reference R/prepare_scenario_data.R:529-611
    * preprepare_ngfs_scenario_data_v5 (NGFS Phase V, vintage 2024):
    * capacity trajectory selected by dropping `Secondary Energy|Electricity|`
    * variables, Phase-V model recodes, indicator from the Variable prefix,
    * renewables re-aggregation, model×scenario unite with NGFS2024 prefix.
    */
  def preprepareNgfsScenarioDataV5(data: DataFrame): DataFrame = {
    val vintage = 2024
    val modelRecode = Map(
      "GCAM 6.0 NGFS" -> "GCAM", "REMIND-MAgPIE 3.3-4.8" -> "REMIND",
      "MESSAGEix-GLOBIOM 2.0-M-R12-NGFS" -> "MESSAGE")
    val d = data
      .filter(!col("Variable").startsWith("Secondary Energy|Electricity|"))
      .withColumn("scenario",
        coalesce(element_at(typedLit(ngfsScenarioRecode), col("Scenario")), col("Scenario")))
      .withColumn("scenario_geography",
        when(col("Region") === "World", "Global").otherwise(col("Region")))
      .withColumn("sector",
        when(col("category_b").isin("Oil", "Gas"), "Oil&Gas")
          .when(col("category_b") === "Coal", "Coal")
          .otherwise("Power"))
      .withColumn("technology",
        when(col("category_b").isin("Oil", "Gas", "Coal"), col("category_b"))
          .when(col("category_b") === "Electricity",
            coalesce(element_at(typedLit(ngfsElecTech), col("category_c")), col("category_c")))
          .otherwise(col("category_c")))
      // reference :580-583 — Production everywhere except explicit
      // Capacity|Electricity| variables in Power
      .withColumn("indicator",
        when(col("sector") === "Power" && col("Variable").startsWith("Capacity|Electricity|"),
          "Capacity").otherwise("Production"))
      .withColumn("source", lit(s"NGFS$vintage"))
      .withColumn("model_name",
        coalesce(element_at(typedLit(modelRecode), col("Model")), col("Model")))
      .select(col("source"), col("scenario"), col("scenario_geography"), col("sector"),
        col("technology"), col("indicator"), col("Unit").as("units"), col("year"),
        col("value"), col("model_name").as("model"))
    val w = Window.partitionBy(
      col("year"), col("technology"), col("scenario_geography"), col("model"), col("scenario"))
    val renew = d.filter(col("technology") === "RenewablesCap")
      .withColumn("value", sum(col("value")).over(w)).distinct()
    val rest = d.filter(col("technology") =!= "RenewablesCap")
    renew.unionByName(rest).distinct()
      .withColumn("scenario", concat_ws("_", col("model"), col("scenario"))).drop("model")
      .withColumn("scenario", concat(lit("NGFS2024"), col("scenario")))
  }

  /** Extended fair-share groups used by IPR/OXF (units participates in the
    * group key, unlike common_fs_groups): tmsr/smsp per
    * (geography, scenario, ald_sector, units[, technology]).
    */
  private def addSharesWithUnits(d: DataFrame): DataFrame =
    Shares.addMarketShares(d,
      techKeys = Seq("scenario_geography", "scenario", "ald_sector", "units", "technology"),
      sectorKeys = Seq("scenario_geography", "scenario", "ald_sector", "units"),
      x = "year", v = "value")

  /** reference R/prepare_scenario_data.R:612-835
    * prepare_IPR_scenario_data2023: technology synthesis from the variable
    * class hierarchy, strict recode (unmatched → null → dropped),
    * scenario split by Automotive, renewables re-aggregation, tmsr/smsp
    * over units-extended groups, green-tech direction, 2042 automotive
    * horizon cap.
    */
  def prepareIprScenarioData2023(data: DataFrame, startYear: Int): DataFrame = {
    val techRecode = Map(
      "Oil" -> "Oil", "Coal" -> "Coal", "Natural gas" -> "Gas",
      "Coal_Power" -> "CoalCap", "Natural gas_Power" -> "GasCap", "Oil_Power" -> "OilCap",
      "Nuclear_Power" -> "NuclearCap", "Hydro_Power" -> "HydroCap",
      "Biomass_Power" -> "BiomassCap", "Offshore wind_Power" -> "OffWindCap",
      "Onshore wind_Power" -> "OnWindCap", "Solar_Power" -> "SolarCap",
      "BEV" -> "Electric", "PHEV" -> "Hybrid", "H2" -> "FuelCell", "ICE" -> "ICE")
    val sectorFromTech = Map(
      "Oil" -> "Oil&Gas", "Gas" -> "Oil&Gas", "Coal" -> "Coal",
      "CoalCap" -> "Power", "GasCap" -> "Power", "OilCap" -> "Power", "NuclearCap" -> "Power",
      "HydroCap" -> "Power", "BiomassCap" -> "Power", "OffWindCap" -> "Power",
      "OnWindCap" -> "Power", "SolarCap" -> "Power",
      "ICE" -> "Automotive", "Electric" -> "Automotive", "Hybrid" -> "Automotive",
      "FuelCell" -> "Automotive")
    // :616-621 — technology source column depends on the Sector level
    val rawTech =
      when(col("Sector") === "Power", concat_ws("_", col("Sub_variable_class_2"), col("Sector")))
        .when(col("Sector") === "Transport", col("Sub_variable_class_2"))
        .otherwise(col("Sub_variable_class_1"))
    // explicit select at the end: drop() resolves case-insensitively, so
    // dropping "Scenario" would also take the derived "scenario" with it
    var d = data
      .withColumn("technology", element_at(typedLit(techRecode), rawTech))
      .withColumn("ald_sector", element_at(typedLit(sectorFromTech), col("technology")))
      .withColumn("__scenario",
        when(col("Scenario") === "RPS", "IPR2023_RPS")
          .when(col("Scenario") === "FPS" && col("ald_sector") =!= "Automotive", "IPR2023_FPS")
          .when(col("Scenario") === "FPS" && col("ald_sector") === "Automotive",
            "IPR2023Automotive_FPS"))
      .withColumn("scenario_geography",
        when(col("Region") === "WORLD", "Global").otherwise(col("Region")))
      // :683 — unmatched technologies (hydrogen, CCS…) leave ald_sector null
      .filter(col("ald_sector").isNotNull)
      .select(col("__scenario").as("scenario"), col("scenario_geography"),
        col("ald_sector"), col("technology"), col("Units").as("units"),
        col("year"), col("value"))
    // :699-715 — RenewablesCap = sum of the four renewable capacity techs
    val renewSrc = Seq("OffWindCap", "OnWindCap", "SolarCap", "BiomassCap")
    val renew = d.filter(col("technology").isin(renewSrc: _*))
      .groupBy("scenario_geography", "scenario", "ald_sector", "units", "year")
      .agg(sum(col("value")).as("value"))
      .withColumn("technology", lit("RenewablesCap"))
    d = d.unionByName(renew, allowMissingColumns = false)
      .filter(!col("technology").isin(renewSrc: _*))
    // :719-744 — tmsr/smsp over units-extended groups from startYear
    d = d.withColumn("year", col("year").cast("int")).filter(col("year") >= startYear)
    d = addSharesWithUnits(d)
    val greenTechs = Seq("RenewablesCap", "HydroCap", "NuclearCap", "SolarCap", "OffWindCap",
      "OnWindCap", "BiomassCap", "Electric", "FuelCell")
    d.withColumn("direction",
        when(col("technology").isin(greenTechs: _*), "increasing").otherwise("declining"))
      .withColumn("fair_share_perc",
        when(col("direction") === "declining", col("tmsr")).otherwise(col("smsp")))
      .select(col("scenario_geography"), col("scenario"), col("ald_sector"), col("technology"),
        col("units"), col("year"), col("direction"), col("fair_share_perc"),
        col("value").as("scenario_pathway"))
      // :816 — IPR automotive capped at the GECO2021 horizon
      .filter(!(col("ald_sector") === "Automotive" && col("year") >= 2042))
  }

  /** reference :766-775 prepare_IPR_baseline_scenario: the WEO2021 STEPS
    * pathway re-labelled as the IPR baseline.
    */
  def prepareIprBaselineScenario(data: DataFrame): DataFrame =
    data.filter(col("scenario") === "WEO2021_STEPS")
      .withColumn("scenario", lit("IPR2023_baseline"))

  /** reference :779-833 prepare_IPR_baseline_scenario_automotive: the
    * GECO2021 CurPol automotive pathway re-labelled as the IPR automotive
    * baseline.
    */
  def prepareIprBaselineScenarioAutomotive(data: DataFrame): DataFrame = {
    DataChecks.requireColumns(data, Seq("Source", "Technology", "ScenarioGeography", "Sector",
      "Units", "Indicator", "Scenario", "Sub_Technology", "Year", "Direction", "mktFSRatio",
      "techFSRatio", "FairSharePerc"))
    val d = data
      .filter(!(col("Source").rlike("GECO2021") && col("Sector") =!= "Automotive"))
      .filter(!(col("Technology") === "RenewablesCap" && col("Sub_Technology").isNotNull))
      .drop("Sub_Technology", "Indicator", "mktFSRatio", "techFSRatio")
    renameP4iAndPrefix(d)
      .drop("scenario_source")
      .filter(col("scenario") === "GECO2021_CurPol")
      .withColumn("scenario", lit("IPR2023Automotive_baseline"))
  }

  /** reference R/prepare_scenario_data.R:836-937 prepare_OXF_scenario_data:
    * `Annual energy` split into technology/sector, the sequential recode
    * cascade, renewables re-aggregation, tmsr/smsp, then OilCap cloned from
    * GasCap AFTER the share computation (the clone inherits GasCap ratios).
    */
  def prepareOxfScenarioData(data: DataFrame, startYear: Int): DataFrame = {
    var d = data
      .filter(!col("Annual energy").isin(
        "batteries_ST_transport", "batteries_ST_electricity", "batteries_LT_electricity",
        "hydrogen"))
      .withColumn("technology", element_at(split(col("Annual energy"), "_"), 1))
      .withColumn("ald_sector", element_at(split(col("Annual energy"), "_"), 2))
      .drop("Annual energy")
    // :846-861 — the reference reassigns the two columns over 18 SEQUENTIAL
    // lines, each seeing the previous line's result. Replaying that
    // literally as 18 stacked withColumns is semantically right but
    // catastrophically un-plannable: each level embeds the previous
    // technology expression ~2x plus the sector cascade, so Catalyst's
    // Project collapse (PhysicalOperation alias substitution) grows
    // ~3^18 nodes and planning alone takes minutes. The cascade collapses
    // EXACTLY into two levels, because the conditions only test the RAW
    // values (no later line ever matches an earlier line's output:
    // "electricity"->Power is the only sector rewrite before the "final"
    // tests, and tech outputs like CoalCap are never re-tested):
    //  - sector' from (raw tech, raw sector)
    //  - tech'   from (raw tech, sector')
    d = d
      .withColumn("ald_sector",
        when(col("ald_sector") === "electricity", "Power")
          .when(col("technology") === "coal" && col("ald_sector") === "final", "Coal")
          .when(col("technology").isin("gas", "oil") && col("ald_sector") === "final",
            "Oil&Gas")
          .otherwise(col("ald_sector")))
      .withColumn("technology",
        when(col("technology") === "coal" && col("ald_sector") === "Power", "CoalCap")
          .when(col("technology") === "gas" && col("ald_sector") === "Power", "GasCap")
          .when(col("technology") === "oil" && col("ald_sector") === "Power", "OilCap")
          .when(col("technology") === "coal" && col("ald_sector") === "Coal", "Coal")
          .when(col("technology") === "gas" && col("ald_sector") === "Oil&Gas", "Gas")
          .when(col("technology") === "oil" && col("ald_sector") === "Oil&Gas", "Oil")
          .when(col("technology") === "solar", "SolarCap")
          .when(col("technology") === "wind", "WindCap")
          .when(col("technology") === "nuclear", "NuclearCap")
          .when(col("technology") === "hydro", "HydroCap")
          .when(col("technology") === "bioenergy", "BiomassCap")
          .otherwise(col("technology")))
    val renewSrc = Seq("WindCap", "SolarCap", "BiomassCap")
    val renew = d.filter(col("technology").isin(renewSrc: _*))
      .groupBy("scenario_geography", "scenario", "ald_sector", "units", "year")
      .agg(sum(col("value")).as("value"))
      .withColumn("technology", lit("RenewablesCap"))
    d = d.unionByName(renew, allowMissingColumns = false)
      .filter(!col("technology").isin(renewSrc: _*))
    d = d.withColumn("year", col("year").cast("int")).filter(col("year") >= startYear)
    d = addSharesWithUnits(d)
    // :912-917 — OilCap mirrors GasCap including its tmsr/smsp
    d = Reshape.fanOut(d, "technology", Map("GasCap" -> Seq("OilCap", "GasCap")))
    val greenTechs =
      Seq("RenewablesCap", "HydroCap", "NuclearCap", "SolarCap", "WindCap", "BiomassCap")
    d.withColumn("direction",
        when(col("technology").isin(greenTechs: _*), "increasing").otherwise("declining"))
      .withColumn("fair_share_perc",
        when(col("direction") === "declining", col("tmsr")).otherwise(col("smsp")))
      .select(col("scenario_geography"), col("scenario"), col("ald_sector"), col("technology"),
        col("units"), col("year"), col("direction"), col("fair_share_perc"), col("value"))
  }

  /** reference R/prepare_scenario_data.R:938-1065 prepare_steel_scenario_data:
    * cross-complete the scenario×technology×year grid, technology fan-outs
    * (EAF→BF-EAF, BF-BOF→BOF/BF-OHF), trailing nulls→0, DRI-BOF leading
    * nulls anchored to the 2026 value, tmsr-only fair shares.
    */
  def prepareSteelScenarioData(
      data: DataFrame,
      startYear: Int,
      maxYear: Int = 2050): DataFrame = {
    var d = data
      .withColumnRenamed("Production (Mt)", "value")
      .filter(col("technology").isin("Avg BF-BOF", "DRI-Melt-BOF", "EAF", "DRI-EAF"))
      .filter(col("scenario").isin("Baseline", "Carbon Cost"))
      .withColumn("year", col("year").cast("int"))
    // :949-955 — tidyr::complete crosses DISTINCT scenarios × technologies
    // × the fixed year axis (not just observed combos)
    d = TimeSeries.completeCross(d, Seq("scenario", "technology"), "year", startYear, maxYear)
      .withColumn("scenario_geography", lit("Global"))
      .withColumn("sector", lit("Steel"))
    // recode + :969-975 EAF duplicated as BF-EAF, in one pass
    d = Reshape.fanOut(d, "technology", Map(
      "Avg BF-BOF" -> Seq("BF-BOF"), "DRI-Melt-BOF" -> Seq("DRI-BOF"),
      "EAF" -> Seq("EAF", "BF-EAF")))
    // :983-1001 — trailing nulls (after the last observation) become 0;
    // R's max(year[!is.na]) over an all-NA group is -Inf, so all-null
    // groups zero out entirely — zeroAfterLastObs matches both branches
    d = TimeSeries.zeroAfterLastObs(d, Seq("scenario", "technology"), "year", "value", "value")
    // :1010-1022 — DRI-BOF leading nulls anchored to the scenario's 2026
    // value (a 1-row-per-scenario broadcastable lookup)
    val anchor = d
      .filter(col("year") === 2026 && col("technology") === "DRI-BOF")
      .select(col("scenario"), col("value").as("__value_2026"))
      .distinct()
    d = d.join(broadcast(anchor), Seq("scenario"), "left")
      .withColumn("value",
        when(col("technology") === "DRI-BOF" && col("value").isNull &&
          col("__value_2026").isNotNull, col("__value_2026"))
          .otherwise(col("value")))
      .drop("__value_2026")
    // :1026-1038 — BF-BOF duplicated as BOF and BF-OHF
    d = Reshape.fanOut(d, "technology", Map("BF-BOF" -> Seq("BF-BOF", "BOF", "BF-OHF")))
    // :1044-1046 — common fair-share groups (scenario, sector, geography)
    d = addMarketShareColumns(d.filter(col("year") >= startYear), startYear)
    d.withColumn("direction", lit("declining"))
      .withColumn("units", lit("Mt/yr"))
      .withColumn("fair_share_perc", col("tmsr"))
      .withColumnRenamed("sector", "ald_sector")
      .select(col("scenario_geography"), col("scenario"), col("ald_sector"), col("technology"),
        col("units"), col("year"), col("direction"), col("fair_share_perc"),
        col("value").as("scenario_pathway"))
      .withColumn("scenario",
        when(col("scenario") === "Baseline", "Steel_baseline")
          .when(col("scenario") === "Carbon Cost", "Steel_NZ")
          .otherwise(col("scenario")))
  }

  // ---- full scenario stage (data-raw/run_prepare_Scenarios_AnalysisInput.R)

  /** data-raw/run_prepare_Scenarios_AnalysisInput.R:5-15. */
  val greenTechs: Seq[String] = Seq("FuelCell", "Electric", "Hybrid", "RenewablesCap",
    "HydroCap", "NuclearCap", "FuelCell_HDV", "Electric_HDV", "Hybrid_HDV")

  /** :211-212 — IPR's green list adds the renewable components. */
  val greenTechsIpr: Seq[String] = Seq("RenewablesCap", "HydroCap", "NuclearCap", "SolarCap",
    "OffWindCap", "OnWindCap", "BiomassCap", "Electric", "FuelCell")

  /** :18-26. */
  val interpolationGroups: Seq[String] = Seq("source", "scenario", "sector", "technology",
    "scenario_geography", "indicator", "units")

  /** The interpolate → filter → market-shares → format_p4i chain the runner
    * applies to every long vintage (:83-88 and repeats).
    */
  private def interpolateSharesFormat(
      d: DataFrame, startYear: Int, greens: Seq[String]): DataFrame =
    formatP4i(
      addMarketShareColumns(
        // JUNCTION BARRIER (the Barriers junction rule): every downstream
        // prepare reads the interpolated frame several times (NA-perimeter
        // anti-join, incomplete-sector prune) — across the 8-vintage merge
        // those multiplications compound EXPONENTIALLY and Catalyst
        // analysis of the un-barriered real-data tree dominates wall-clock
        // (observed: minutes of pure driver plan-transform on the shipped
        // vintages)
        interpolateYearly(d, interpolationGroups).filter(col("year") >= startYear)
          .planBarrier(),
        startYear),
      greens)

  /** :357-384 baseline scenario labels. */
  val baselineScenarios: Seq[String] = Seq(
    "WEO2021_STEPS", "WEO2023_STEPS", "GECO2021_CurPol", "GECO2023_CurPol", "WEO2021_APS",
    "NGFS2023GCAM_CP", "NGFS2023MESSAGE_CP", "NGFS2023REMIND_CP",
    "NGFS2023MESSAGE_FW", "NGFS2023REMIND_FW", "NGFS2023GCAM_FW",
    "NGFS2023MESSAGE_NDC", "NGFS2023REMIND_NDC", "NGFS2023GCAM_NDC",
    "NGFS2024GCAM_CP", "NGFS2024MESSAGE_CP", "NGFS2024REMIND_CP",
    "NGFS2024MESSAGE_FW", "NGFS2024REMIND_FW", "NGFS2024GCAM_FW",
    "NGFS2024MESSAGE_NDC", "NGFS2024REMIND_NDC", "NGFS2024GCAM_NDC",
    "IPR2023_baseline", "IPR2023Automotive_baseline", "Oxford2021_base", "Steel_baseline")

  /** :385-426 shock scenario labels. */
  val shockScenarios: Seq[String] = Seq(
    "WEO2021_SDS", "WEO2021_NZE_2050", "WEO2023_APS", "WEO2023_NZE_2050",
    "GECO2021_1.5C-Unif", "GECO2021_NDC-LTS", "GECO2023_1.5C", "GECO2023_NDC-LTS",
    "NGFS2023GCAM_B2DS", "NGFS2023MESSAGE_B2DS", "NGFS2023REMIND_B2DS",
    "NGFS2023GCAM_LD", "NGFS2023MESSAGE_LD", "NGFS2023REMIND_LD",
    "NGFS2023GCAM_DT", "NGFS2023MESSAGE_DT", "NGFS2023REMIND_DT",
    "NGFS2023GCAM_NZ2050", "NGFS2023MESSAGE_NZ2050", "NGFS2023REMIND_NZ2050",
    "NGFS2024GCAM_B2DS", "NGFS2024MESSAGE_B2DS", "NGFS2024REMIND_B2DS",
    "NGFS2024GCAM_LD", "NGFS2024MESSAGE_LD", "NGFS2024REMIND_LD",
    "NGFS2024GCAM_DT", "NGFS2024MESSAGE_DT", "NGFS2024REMIND_DT",
    "NGFS2024GCAM_NZ2050", "NGFS2024MESSAGE_NZ2050", "NGFS2024REMIND_NZ2050",
    "IPR2023_FPS", "IPR2023Automotive_FPS", "Oxford2021_fast", "Steel_NZ")

  /** Per-vintage raw frames for the full scenario stage. Long P4I-style
    * frames (weoGeco, geco2021, weo23, geco2023) carry (source, scenario,
    * scenario_geography, sector, technology, units, indicator, year,
    * value); the others are each vintage's raw shape. Any input may be
    * None — its branch is skipped (the reference script would simply not
    * source that CSV).
    */
  final case class ScenarioInputs(
      weoGeco: Option[DataFrame] = None,
      geco2021: Option[DataFrame] = None,
      weo23: Option[DataFrame] = None,
      geco2023: Option[DataFrame] = None,
      ngfsPhase4: Option[DataFrame] = None,
      ngfsV5: Option[DataFrame] = None,
      ipr: Option[DataFrame] = None,
      oxf: Option[DataFrame] = None,
      steel: Option[DataFrame] = None)

  /** The full scenario stage (data-raw/run_prepare_Scenarios_AnalysisInput
    * .R:1-441): every vintage wrangled through its own pipeline, merged via
    * union-dedup (R full_join with no keys), scenario_type assigned from
    * the baseline/shock lists with the reference's no-orphan assertion,
    * technology renamed to ald_business_unit.
    */
  def prepareScenariosAnalysisInput(in: ScenarioInputs, startYear: Int): DataFrame = {
    // :83-90 — WEO2021+GECO2021. Barriered: it feeds the 8-vintage union
    // AND the IPR baseline relabel below (two consumers of the deepest
    // vintage chain). (r15 note: an A/B made this conditional on the IPR
    // input to spare single-vintage calls the eager job; full-run min-of-3
    // showed no win beyond box noise and the barrier-less plan exposes the
    // whole recode chain to every downstream analysis (cache fill, orphan
    // gate, compositions), so the unconditional barrier stays.)
    val preparedData = in.weoGeco.map(d =>
      prepareScenarioData(interpolateSharesFormat(d, startYear, greenTechs))
        .planBarrier())
    // The remaining vintages are independent of each other GIVEN the
    // preparedData barrier above, yet each runs an eager junction-barrier
    // job inside its interpolateSharesFormat at CONSTRUCTION — strictly
    // one after another when built inline. Build them on the small pool
    // (guide §2.6) so each vintage's construction job back-fills the
    // previous one's task tail; order and results are unchanged
    // (Pools.mapAll preserves input order and drains every sibling
    // before propagating a failure).
    val vintageThunks: Seq[() => Option[DataFrame]] = Seq(
      // :94-124 — WEO2023
      () => in.weo23.map(d =>
        prepareScenarioDataWeo23(interpolateSharesFormat(d, startYear, greenTechs))),
      // :126-156 — GECO2023
      () => in.geco2023.map(d =>
        prepareGeco2023(interpolateSharesFormat(d, startYear, greenTechs))),
      // :158-192 — NGFS Phase IV (degree-sign cleanup upstream of recodes)
      () => in.ngfsPhase4.map { d =>
        val pre = preprepareNgfsScenarioData(
          d.withColumn("Scenario", regexp_replace(col("Scenario"), "°", " ")), startYear)
        styleNgfs(interpolateSharesFormat(pre, startYear, greenTechs))
      },
      // :195-232 — NGFS Phase V, then fair_share_perc nulls -> 0
      () => in.ngfsV5.map { d =>
        val pre = preprepareNgfsScenarioDataV5(
          d.withColumn("Scenario", regexp_replace(col("Scenario"), "°", " ")))
        styleNgfs(interpolateSharesFormat(pre, startYear, greenTechs))
          .withColumn("fair_share_perc", coalesce(col("fair_share_perc"), lit(0.0)))
      },
      // :236-304 — IPR: main + WEO baseline + GECO automotive baseline,
      // unioned, fair_share_perc nulls -> 0 (reads preparedData's
      // barriered LEAF — safe across threads)
      () => in.ipr.map { d =>
        var ipr = prepareIprScenarioData2023(d, startYear)
        for (p <- preparedData)
          ipr = graft.ops.Joins.unionDedup(Seq(
            ipr, prepareIprBaselineScenario(p).select(ipr.columns.map(col): _*)))
        for (g <- in.geco2021) {
          val auto = prepareIprBaselineScenarioAutomotive(
            interpolateSharesFormat(g, startYear, greenTechsIpr))
          ipr = ipr.unionByName(auto, allowMissingColumns = true).distinct()
        }
        ipr.withColumn("fair_share_perc", coalesce(col("fair_share_perc"), lit(0.0)))
      },
      // :306-327 — Oxford (value renamed to scenario_pathway by the runner)
      () => in.oxf.map(d =>
        prepareOxfScenarioData(d, startYear).withColumnRenamed("value", "scenario_pathway")),
      // :330-348 — steel
      () => in.steel.map(d => prepareSteelScenarioData(d, startYear)))
    val Seq(preparedWeo23, preparedGeco23, preparedNgfs, preparedNgfsV5,
      preparedIpr, preparedOxf, preparedSteel) =
      graft.core.Pools.mapAll(vintageThunks, 3)(_())

    // :350-356 — merge all vintages (full_join with no keys = union-dedup).
    // Each vintage is barriered before the union: collapsing eight
    // recode-cascade Project chains in ONE plan makes Catalyst's
    // alias-substitution (PhysicalOperation.collectProjectsAndFilters)
    // super-linear in the combined tree — the un-barriered real-data merge
    // spent minutes in pure planning at the cache materialization below.
    // Per-vintage barriers keep each collapse at single-vintage size.
    // ... and the legs' eager materializations OVERLAP (barrierAll, guide
    // §2.6): the eight vintage chains are independent given the earlier
    // preparedData barrier, so their checkpoint jobs back-fill each
    // other's task tails instead of running strictly one after another
    val frames = graft.core.Barriers.barrierAll(
      Seq(preparedData, preparedNgfs, preparedIpr, preparedOxf,
        preparedGeco23, preparedSteel, preparedWeo23, preparedNgfsV5).flatten)
    require(frames.nonEmpty, "at least one scenario vintage input is required")
    val combined = frames
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .distinct()

    // :428-437 — scenario_type with the reference's no-orphan verify.
    // NOTE (faithful gap): the reference's own lists omit NGFS*_DN0
    // ("Divergent Net Zero", which both NGFS recode maps produce) — a
    // DN0-bearing input trips this check in R exactly as it does here.
    // Cached BEFORE the eager orphan collect so the 8-vintage union is
    // materialized once for the check AND for every downstream consumer
    // (automotive prices, alignment, writes).
    val typed = combined.withColumn("scenario_type",
      when(col("scenario").isin(baselineScenarios: _*), "baseline")
        .when(col("scenario").isin(shockScenarios: _*), "shock"))
      .cache()
    val orphans = typed.filter(col("scenario_type").isNull)
      .select("scenario").distinct().limit(20).collect().map(_.getString(0))
    if (orphans.nonEmpty)
      throw graft.core.DataChecks.CheckFailed(
        s"scenarios with no baseline/shock classification: ${orphans.mkString(", ")}")
    // :438-441
    typed.withColumnRenamed("technology", "ald_business_unit")
  }
}
