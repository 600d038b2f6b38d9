package wfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipelines.{RunWorkflow, ScenarioData}

/** The size and breadth of one workload's inputs.
  *
  * @param companies    company count of the activity, emission and
  *                     financial tables
  * @param regions      scenario geographies besides Global; every
  *                     scenario-side frame that carries a geography is
  *                     fanned out over them
  * @param optional     the optional inputs supplied, by frame name (see
  *                     [[InputGen.optionalNames]]); the mandatory WEO
  *                     inputs and the ownership tree are always supplied
  */
final case class Shape(companies: Int, regions: Int, optional: Set[String])

/** Seeded generator of every raw input `RunWorkflow.run` takes, in the
  * shapes of the workflow fixtures: wide `Equity Ownership YYYY` company
  * tables with MW/MWh duplicates, missing cells and full-NA rows,
  * oversampled ISINs with unmatched extras, and each scenario, price and
  * capacity-factor vintage in its raw layout.
  *
  * Every frame starts from `spark.range` and draws its values from
  * `xxhash64(seed, salt, key…)`, so the same seed gives the same inputs on
  * any partitioning and no driver-side rows ship inside tasks.
  */
final class InputGen(spark: SparkSession, seed: Long, shape: Shape) {

  val startYear = 2022
  val timeHorizon = 5

  private val countries = Seq("US", "CA", "MX", "BR", "AR", "GB", "DE", "FR", "IT", "ES",
    "NL", "PL", "SE", "CN", "JP", "KR", "IN", "ID", "AU", "ZA", "NG", "EG", "SA", "TR")
  // company locations: a subset, so the region bridge and the location
  // fan-out both stay small and every location resolves to a region
  private val companyCountries = Seq("DE", "FR", "US", "CN", "BR", "IN")

  private val regionNames: Seq[String] = (1 to shape.regions).map(i => f"R$i%02d")
  // every fifth region repeats the previous one's country set under a
  // longer name, so the geography stage has identical sets to regroup
  private def regionCountries(i: Int): Seq[String] = {
    val base = if (i % 5 == 4) i - 1 else i
    (0 until 3).map(k => countries((base * 3 + k) % countries.size)).distinct
  }
  private def regionName(i: Int): String =
    if (i % 5 == 4) regionNames(i) + "_grouped" else regionNames(i)
  /** Scenario-side geographies: World (the raw spelling of Global) plus the regions. */
  private val scenarioGeos: Seq[String] = "World" +: regionNames.indices.map(regionName)

  /** Uniform draw in [0, 1) keyed by seed, salt and the key columns. */
  private def u(salt: String, keys: Column*): Column =
    (pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1000003L)).cast("double") /
      1000003.0)

  private def one: DataFrame = spark.range(1).drop("id")
  private def across(df: DataFrame, name: String, values: Seq[String]): DataFrame =
    df.withColumn(name, explode(typedLit(values)))
  private def acrossInt(df: DataFrame, name: String, values: Seq[Int]): DataFrame =
    df.withColumn(name, explode(typedLit(values)))

  private def keyOf(df: DataFrame): Seq[Column] = df.columns.toSeq.map(col)

  /** Wide year columns `years` filled by `value(yearIndex, year)`. */
  private def wideYears(df: DataFrame, years: Seq[Int])(value: (Int, Int) => Column): DataFrame =
    years.zipWithIndex.foldLeft(df) { case (d, (y, i)) => d.withColumn(y.toString, value(i, y)) }

  private val scenarioYears: Seq[Int] = 2020 to 2050 by 5

  // ---------------------------------------------------------------- companies

  // (ald_sector, ald_business_unit, activity_unit)
  private val productionTypes = Seq(
    ("Power", "CoalCap", "MW"), ("Power", "GasCap", "MW"), ("Power", "RenewablesCap", "MW"),
    ("Automotive", "Electric", "# vehicles"), ("Automotive", "ICE", "# vehicles"),
    ("Oil&Gas", "Oil", "GJ"), ("Oil&Gas", "Gas", "GJ"), ("Coal", "Coal", "tonnes"))

  /** The wide company table: three production types per company (a random
    * start and an odd stride over the eight types keeps them distinct), MW
    * rows duplicated as MWh, one to three locations each, geometric yearly
    * values with `propNa` missing cells, and one full-NA row per hundred
    * companies.
    */
  private def wideCompanies(salt: String, propNa: Double, mean: Double,
      unitOverride: Option[String]): DataFrame = {
    val types = typedLit(productionTypes.map { case (s, b, un) => Seq(s, b, un) })
    val cid = col("company_id")
    var d = spark.range(1, shape.companies + 1L).select(col("id").as("company_id"))
      .withColumn("__start", floor(u(salt + "start", cid) * 8).cast("int"))
      .withColumn("__stride", floor(u(salt + "stride", cid) * 4).cast("int") * 2 + 1)
      .withColumn("__k", explode(sequence(lit(0), lit(2))))
      .withColumn("__t", element_at(types,
        pmod(col("__start") + col("__k") * col("__stride"), lit(8)) + 1))
      .withColumn("ald_sector", col("__t")(0))
      .withColumn("ald_business_unit", col("__t")(1))
      .withColumn("activity_unit", explode(
        when(col("__t")(2) === "MW", array(lit("MW"), lit("MWh"))).otherwise(array(col("__t")(2)))))
      .withColumn("__nloc", floor(u(salt + "nloc", cid, col("__k")) * 3).cast("int") + 1)
      .withColumn("__loc0", floor(u(salt + "loc", cid, col("__k")) * 6).cast("int"))
      .withColumn("__l", explode(sequence(lit(0), col("__nloc") - 1)))
      .withColumn("ald_location", element_at(typedLit(companyCountries),
        pmod(col("__loc0") + col("__l"), lit(6)) + 1))
      .withColumn("company_name", concat(lit("company-"), cid.cast("string")))
    val fullNa = cid % 100 === 1 && col("__k") === 0
    val rowKey = Seq(cid, col("ald_business_unit"), col("activity_unit"), col("ald_location"))
    d = wideYears(d, startYear to startYear + timeHorizon) { (i, _) =>
      val draw = u(salt + "v" + i, rowKey: _*)
      val miss = u(salt + "na" + i, rowKey: _*) < propNa
      // geometric(mean): floor(log(U) / log(1 - 1/mean)), U in (0, 1]
      val geometric = floor(log(lit(1.0) - draw) / math.log(1.0 - 1.0 / mean))
      when(fullNa || miss, lit(null).cast("double")).otherwise(geometric)
    }
    val years = (startYear to startYear + timeHorizon).map(_.toString)
    d = unitOverride.fold(d)(un => d.withColumn("activity_unit", lit(un)))
    d.select((Seq("company_id", "company_name", "ald_sector", "ald_business_unit",
        "ald_location", "activity_unit").map(col) ++
      years.map(y => col(y).as(s"Equity Ownership $y"))): _*)
  }

  private def companyActivities: DataFrame = wideCompanies("act", 0.3, 1e4, None)
  private def companyEmissions: DataFrame = wideCompanies("emi", 0.2, 1e3, Some("tCO2"))

  /** The ISINs behind the financials: about half the companies, one to
    * four ISINs each, plus ISINs of companies that do not exist.
    */
  private def isinRows: DataFrame = {
    val cid = col("company_id")
    spark.range(1, (shape.companies * 1.1).toLong + 1).select(col("id").as("company_id"))
      .filter(u("fin-keep", cid) < 0.5)
      .withColumn("__j", explode(sequence(lit(0),
        floor(u("fin-nisin", cid) * 4).cast("int"))))
      .withColumn("ald_location", element_at(typedLit(companyCountries),
        floor(u("fin-loc", cid, col("__j")) * 6).cast("int") + 1))
      .withColumn("isin", concat(col("ald_location"), lpad(cid.cast("string"), 9, "0"),
        col("__j").cast("string")))
  }

  /** Eikon-style per-ISIN financials. With the isin -> company table
    * supplied they key on `isin`; otherwise on `company_id`.
    */
  private def eikonFinancials: DataFrame = {
    val k = Seq(col("isin"))
    val d = isinRows
      .withColumn("pd", u("pd", k: _*))
      .withColumn("net_profit_margin", u("npm", k: _*))
      .withColumn("debt_equity_ratio", u("der", k: _*))
      .withColumn("volatility", u("vol", k: _*))
    val cols = Seq("ald_location", "pd", "net_profit_margin", "debt_equity_ratio", "volatility")
    if (shape.optional("company_ids")) d.select(("isin" +: cols).map(col): _*)
    else d.filter(col("company_id") <= shape.companies)
      .select(("company_id" +: cols).map(col): _*)
  }

  /** isin -> company_id for the ISINs of existing companies, plus ISINs
    * that no financial row carries.
    */
  private def companyIds: DataFrame = {
    val known = isinRows.filter(col("company_id") <= shape.companies)
      .select("isin", "company_id")
    val extra = spark.range(1, shape.companies / 10 + 2L)
      .select(concat(lit("XX"), lpad(col("id").cast("string"), 10, "0")).as("isin"),
        col("id").as("company_id"))
    known.unionByName(extra)
  }

  /** Every even company is owned by the preceding odd one (level 1), and
    * every fourth also by the company two before that (level 2).
    */
  private def ownershipTree: DataFrame = {
    val sub = col("id") * 2
    val lvl1 = spark.range(1, shape.companies / 2 + 1L)
      .select((sub - 1).as("parent_company_id"), sub.as("subsidiary_company_id"),
        (lit(0.5) + u("stake", sub) / 2).as("linking_stake"), lit(1).as("ownership_level"))
    val lvl2 = lvl1.filter(col("subsidiary_company_id") % 4 === 0 &&
        col("subsidiary_company_id") > 3)
      .select((col("subsidiary_company_id") - 3).as("parent_company_id"),
        col("subsidiary_company_id"), (col("linking_stake") / 2).as("linking_stake"),
        lit(2).as("ownership_level"))
    lvl1.unionByName(lvl2)
  }

  // ------------------------------------------------------- mandatory WEO inputs

  private def ngfsCarbonPriceWide: DataFrame = {
    var d = across(one, "Model", Seq("GCAM 6.0 NGFS", "MESSAGEix-GLOBIOM 1.1-M-R12",
      "REMIND-MAgPIE 3.2-4.6"))
    d = across(d, "Scenario", Seq("NZ2050", "NDC", "B2DS", "DT", "CP", "FW"))
    d = across(d, "Region", scenarioGeos)
      .withColumn("Variable", lit("Price|Carbon"))
      .withColumn("Unit", lit("US$2010/t CO2"))
    val k = keyOf(d)
    // 2015 is always observed (the grid's first year); later cells miss 1 in 5
    wideYears(d, 2015 to 2100 by 5) { (i, _) =>
      when(lit(i) > 0 && u("cp-na" + i, k: _*) < 0.2, lit(null).cast("double"))
        .otherwise(lit(10.0 * (i + 1)) * (lit(0.5) + u("cp" + i, k: _*)))
    }
  }

  /** WEO2021 capacity and generation per (scenario, geography, technology).
    * Capacity is constant along a series and only generation cells go
    * missing, so every interpolated capacity factor stays within [0, 1].
    */
  private def weoCapacityFactorsWide: DataFrame = {
    val techRows = Seq(Seq("Coal", null), Seq("Oil", null), Seq("Natural gas", null),
      Seq("Nuclear", null), Seq("Renewables", "Hydro"), Seq("Renewables", "Solar"),
      Seq("Renewables", "Wind"), Seq("Renewables", null))
    var d = across(one, "Scenario", Seq("SDS", "STEPS"))
    d = across(d, "ScenarioGeography", scenarioGeos)
      .withColumn("__t", explode(typedLit(techRows)))
      .withColumn("Technology", col("__t")(0))
      .withColumn("Sub_Technology", col("__t")(1))
      .drop("__t")
    val k = keyOf(d)
    val cap = lit(50.0) + u("cf-cap", k: _*) * 100
    val base = d.withColumn("Source", lit("WEO2021")).withColumn("Sector", lit("Power"))
    val years = 2020 to 2040 by 5
    val capacity = wideYears(base.withColumn("Indicator", lit("Capacity"))
      .withColumn("Units", lit("GW")), years)((_, _) => cap)
    val generation = wideYears(base.withColumn("Indicator", lit("Generation"))
      .withColumn("Units", lit("TWh")), years) { (i, _) =>
        when(lit(i) > 0 && lit(i) < years.size - 1 && u("cf-na" + i, k: _*) < 0.25,
          lit(null).cast("double"))
          .otherwise(cap * 8.76 * (lit(0.1) + u("cf-gen" + i, k: _*) * 0.8))
      }
    capacity.unionByName(generation)
      .select((Seq("Source", "Indicator", "Sector", "Units", "Scenario", "ScenarioGeography",
        "Technology", "Sub_Technology") ++ years.map(_.toString)).map(col): _*)
  }

  private val weoPriceScenarios = Seq("STEPS", "SDS", "APS", "NZE_2050")

  /** Fossil prices: oil priced Global, gas and coal per region (the
    * program averages those into Global).
    */
  private def fossilPrices(source: String): DataFrame = {
    val fuels = Seq(Seq("Crude oil", "usd/barrel"), Seq("Natural gas", "usd/Mbtu"),
      Seq("Coal", "usd/t"))
    val regional = ("EU" +: regionNames).distinct
    var d = across(one, "scenario", weoPriceScenarios)
      .withColumn("__f", explode(typedLit(fuels)))
      .withColumn("sector", col("__f")(0)).withColumn("unit", col("__f")(1)).drop("__f")
    d = d.withColumn("scenario_geography", explode(
      when(col("sector") === "Crude oil", typedLit(Seq("Global")))
        .otherwise(typedLit(regional))))
      .withColumn("source", lit(source))
    val k = keyOf(d)
    wideYears(d, scenarioYears)((i, _) => lit(20.0 + i) * (lit(1.0) + u("fp" + i, k: _*)))
  }

  /** Power LCOE per region; solar and wind collapse into RenewablesCap; a
    * CAPEX row the LCOE filter drops; gaps after the first year only.
    */
  private def powerLcoe(source: String): DataFrame = {
    var d = across(one, "scenario", weoPriceScenarios)
    d = across(d, "region", ("EU" +: regionNames).distinct)
    d = across(d, "technology", Seq("Nuclear", "Coal", "Gas CCGT", "Solar PV", "Wind"))
    d = across(d, "indicator", Seq("LCOE", "CAPEX"))
      .withColumn("source", lit(source)).withColumn("unit", lit("usd/MWh"))
    val k = keyOf(d)
    wideYears(d, scenarioYears) { (i, _) =>
      when(lit(i) > 0 && u("lc-na" + i, k: _*) < 0.2, lit(null).cast("double"))
        .otherwise(lit(40.0) * (lit(1.0) + u("lc" + i, k: _*)))
    }
  }

  private def fossilFuelPricesWide: DataFrame = fossilPrices("WEO2021")
  private def powerLcoeWide: DataFrame = powerLcoe("WEO2021")

  // --------------------------------------------------------- scenario vintages

  private val powerTechs =
    Seq("CoalCap", "GasCap", "HydroCap", "NuclearCap", "OilCap", "RenewablesCap")

  /** A long P4I-style scenario frame: the full Power technology set plus
    * coal and oil & gas production, over `geos` and the scenario years,
    * with interior gaps.
    */
  private def longScenario(source: String, scenarios: Seq[String], geos: Seq[String],
      withFossil: Boolean): DataFrame = {
    val techs = powerTechs.map(t => Seq("Power", t, "GW", "Capacity")) ++
      (if (withFossil) Seq(Seq("Coal", "Coal", "t", "Production"),
        Seq("Oil&Gas", "Oil", "GJ", "Production"), Seq("Oil&Gas", "Gas", "GJ", "Production"))
      else Nil)
    var d = across(one, "scenario", scenarios)
    d = across(d, "scenario_geography", geos)
      .withColumn("__t", explode(typedLit(techs)))
      .withColumn("sector", col("__t")(0)).withColumn("technology", col("__t")(1))
      .withColumn("units", col("__t")(2)).withColumn("indicator", col("__t")(3)).drop("__t")
      .withColumn("source", lit(source))
    longValues(d, source)
  }

  private def longValues(d: DataFrame, salt: String): DataFrame = {
    val k = keyOf(d)
    val years = scenarioYears
    acrossInt(d, "year", years)
      .withColumn("value",
        when(col("year") > years.head && col("year") < years.last &&
          u(salt + "-na", (k :+ col("year")): _*) < 0.15, lit(null).cast("double"))
          .otherwise(lit(10.0) * (lit(1.0) + u(salt, (k :+ col("year")): _*))))
  }

  private def automotive(source: String, scenarios: Seq[String]): DataFrame = {
    var d = across(one, "scenario", scenarios)
      .withColumn("scenario_geography", lit("World"))
    d = across(d, "technology", Seq("Electric", "ICE", "Hybrid"))
      .withColumn("sector", lit("Automotive")).withColumn("units", lit("# vehicles"))
      .withColumn("indicator", lit("Sales")).withColumn("source", lit(source))
    longValues(d, source)
  }

  private val ngfsModels4 = Seq("GCAM 6.0 NGFS", "REMIND-MAgPIE 3.2-4.6",
    "MESSAGEix-GLOBIOM 1.1-M-R12")
  private val ngfsModels5 = Seq("GCAM 6.0 NGFS", "REMIND-MAgPIE 3.3-4.8",
    "MESSAGEix-GLOBIOM 2.0-M-R12-NGFS")
  private val ngfsScenarios = Seq("Net Zero 2050", "Below 2°C", "Current Policies",
    "Delayed transition", "Nationally Determined Contributions (NDCs)", "Low demand",
    "Fragmented World")

  /** NGFS raw layout (Model, Scenario, Region, Variable, category_a..c,
    * Unit, year, value): electricity technologies and primary fuels.
    */
  private def ngfsRaw(models: Seq[String], variables: Seq[Seq[String]], salt: String) = {
    var d = across(one, "Model", models)
    d = across(d, "Scenario", ngfsScenarios)
      .withColumn("Region", lit("World"))
      .withColumn("__v", explode(typedLit(variables)))
      .withColumn("Variable", col("__v")(0)).withColumn("category_a", lit("a"))
      .withColumn("category_b", col("__v")(1)).withColumn("category_c", col("__v")(2))
      .withColumn("Unit", col("__v")(3)).drop("__v")
    val k = keyOf(d)
    acrossInt(d, "year", scenarioYears)
      .withColumn("value", lit(5.0) * (lit(1.0) + u(salt, (k :+ col("year")): _*)))
  }

  private val ngfsElec = Seq("Coal", "Gas", "Hydro", "Nuclear", "Oil", "Solar", "Wind")

  private def ngfsPhase4: DataFrame = ngfsRaw(ngfsModels4,
    ngfsElec.map(t => Seq("V", "Electricity", t, "EJ")) ++
      Seq(Seq("V", "Oil", "Oil", "EJ"), Seq("V", "Gas", "Gas", "EJ"),
        Seq("V", "Coal", "Coal", "EJ")), "ngfs4")

  private def ngfsV5: DataFrame = ngfsRaw(ngfsModels5,
    ngfsElec.map(t => Seq(s"Capacity|Electricity|$t", "Electricity", t, "GW")) ++
      Seq(Seq("Secondary Energy|Electricity|Coal", "Electricity", "Coal", "EJ"),
        Seq("Primary Energy|Oil", "Oil", "Oil", "EJ"),
        Seq("Primary Energy|Gas", "Gas", "Gas", "EJ"),
        Seq("Primary Energy|Coal", "Coal", "Coal", "EJ")), "ngfs5")

  /** IPR raw layout: power capacity, transport sales and fossil supply. */
  private def iprScenario: DataFrame = {
    val rows = Seq(
      Seq("Power", "Cap", "x", "Coal"), Seq("Power", "Cap", "x", "Natural gas"),
      Seq("Power", "Cap", "x", "Nuclear"), Seq("Power", "Cap", "x", "Hydro"),
      Seq("Power", "Cap", "x", "Solar"), Seq("Power", "Cap", "x", "Offshore wind"),
      Seq("Transport", "Sales", "x", "BEV"), Seq("Transport", "Sales", "x", "ICE"),
      Seq("Fossil", "Supply", "Natural gas", "y"), Seq("Fossil", "Supply", "Oil", "y"),
      Seq("Fossil", "Supply", "Coal", "y"))
    // RPS has no baseline/shock classification in the scenario stage
    var d = across(one, "Scenario", Seq("FPS"))
      .withColumn("Region", lit("WORLD")).withColumn("Units", lit("Units"))
      .withColumn("__r", explode(typedLit(rows)))
      .withColumn("Sector", col("__r")(0)).withColumn("Variable_class", col("__r")(1))
      .withColumn("Sub_variable_class_1", col("__r")(2))
      .withColumn("Sub_variable_class_2", col("__r")(3)).drop("__r")
    val k = keyOf(d)
    acrossInt(d, "year", scenarioYears)
      .withColumn("value", lit(8.0) * (lit(1.0) + u("ipr", (k :+ col("year")): _*)))
  }

  private def oxfScenario: DataFrame = {
    var d = across(one, "Annual energy", Seq("coal_electricity", "gas_electricity",
      "nuclear_electricity", "hydro_electricity", "wind_electricity", "solar_electricity",
      "coal_final", "oil_final", "gas_final", "hydrogen"))
    d = across(d, "scenario", Seq("Oxford2021_base", "Oxford2021_fast"))
      .withColumn("scenario_geography", lit("Global")).withColumn("units", lit("EJ"))
    val k = keyOf(d)
    acrossInt(d, "year", scenarioYears)
      .withColumn("value", lit(12.0) * (lit(1.0) + u("oxf", (k :+ col("year")): _*)))
  }

  private def steelScenario: DataFrame = {
    var d = across(one, "scenario", Seq("Baseline", "Carbon Cost"))
    d = across(d, "technology", Seq("Avg BF-BOF", "DRI-Melt-BOF", "EAF", "DRI-EAF", "Scrap"))
    val k = keyOf(d)
    acrossInt(d, "year", (2021 to 2050 by 3) :+ 2026)
      .dropDuplicates("scenario", "technology", "year")
      .withColumn("Production (Mt)",
        lit(50.0) * (lit(1.0) + u("steel", (k :+ col("year")): _*)))
  }

  // ---------------------------------------------- capacity-factor vintages

  private def weo2023CapacityFactors: DataFrame = {
    var d = across(one, "scenario", Seq("STEPS", "APS", "NZE_2050"))
    d = across(d, "scenario_geography", "Global" +: regionNames.indices.map(regionName))
    d = across(d, "technology", powerTechs)
      .withColumn("source", lit("WEO2023")).withColumn("sector", lit("Power"))
    val k = keyOf(d)
    val cap = lit(80.0) + u("w23-cap", k: _*) * 100
    val withYear = acrossInt(d, "year", Seq(2030, 2040, 2050))
    val capacity = withYear.withColumn("units", lit("GW"))
      .withColumn("indicator", lit("Capacity")).withColumn("value", cap)
    val generation = withYear.withColumn("units", lit("GW"))
      .withColumn("indicator", lit("Electricity generation"))
      .withColumn("value", cap * 8.76 * (lit(0.1) + u("w23-gen", (k :+ col("year")): _*) * 0.8))
    capacity.unionByName(generation)
  }

  private def ngfsCf(models: Seq[String], salt: String): DataFrame = {
    var d = across(one, "Model", models)
    d = across(d, "Scenario", Seq("Net Zero 2050", "Current Policies"))
      .withColumn("Region", lit("World")).withColumn("Variable", lit("V"))
    d = across(d, "category_c", Seq("Coal", "Gas", "Nuclear", "Hydro", "Solar", "Wind"))
      .withColumn("category_b", lit("Electricity"))
    val k = keyOf(d)
    val cap = lit(10.0) + u(salt + "cap", k: _*) * 10
    val withYear = acrossInt(d, "year", Seq(2030, 2035, 2040))
    val capacity = withYear.withColumn("category_a", lit("Capacity"))
      .withColumn("Unit", lit("GW")).withColumn("value", cap)
    // Secondary Energy in EJ: GW * 8760 h * 3.6e-6 EJ/GWh ~ GW * 0.0315
    val generation = withYear.withColumn("category_a", lit("Secondary Energy"))
      .withColumn("Unit", lit("EJ"))
      .withColumn("value", cap * 0.031536 * (lit(0.1) + u(salt + "gen", (k :+ col("year")): _*) * 0.8))
    capacity.unionByName(generation)
      .select("Model", "Scenario", "Region", "Variable", "category_a", "category_b",
        "category_c", "Unit", "year", "value")
  }

  private def ngfs2023CapacityFactors: DataFrame = ngfsCf(ngfsModels4, "n23cf")
  private def ngfs2024CapacityFactors: DataFrame = ngfsCf(ngfsModels5, "n24cf")

  private def ipr2023CapacityFactors: DataFrame = {
    val techs = Seq("Coal", "Natural gas", "Nuclear", "Hydro", "Solar", "Onshore wind")
    var d = across(one, "Scenario", Seq("FPS", "RPS"))
      .withColumn("Region", lit("WORLD")).withColumn("Sector", lit("Power"))
    d = across(d, "__tech", techs)
    val k = keyOf(d)
    val cap = lit(10.0) + u("iprcf-cap", k: _*) * 10
    val withYear = acrossInt(d, "year", Seq(2030, 2040))
    val capacity = withYear.withColumn("Units", lit("GW"))
      .withColumn("Variable_class", lit("Capacity"))
      .withColumn("Sub_variable_class_1", lit("x"))
      .withColumn("Sub_variable_class_2", col("__tech")).withColumn("value", cap)
    val generation = withYear.withColumn("Units", lit("TWh"))
      .withColumn("Variable_class", lit("Electricity generation"))
      .withColumn("Sub_variable_class_1", col("__tech"))
      .withColumn("Sub_variable_class_2", lit("ignored"))
      .withColumn("value", cap * 8.76 * (lit(0.1) + u("iprcf-gen", (k :+ col("year")): _*) * 0.8))
    capacity.unionByName(generation).drop("__tech")
      .select("Scenario", "Region", "Units", "Sector", "Variable_class",
        "Sub_variable_class_1", "Sub_variable_class_2", "year", "value")
  }

  private def gemSteelCapacityFactors: DataFrame = {
    val d = across(one, "technology", Seq("BOF Steel", "EAF Steel", "DRI", "OHF Steel"))
    acrossInt(d, "year", Seq(2027))
      .withColumn("value", lit(0.4) + u("gem", col("technology")) * 0.5)
  }

  // ------------------------------------------------------------ price vintages

  private def ngfsPrices(models: Seq[String], salt: String): DataFrame = {
    var d = across(one, "Model", models)
    d = across(d, "Scenario", Seq("Net Zero 2050", "Current Policies"))
      .withColumn("Region", lit("World")).withColumn("Variable", lit("V"))
      .withColumn("category_a", lit("Price")).withColumn("category_b", lit("Primary Energy"))
    d = across(d, "category_c", Seq("Oil", "Gas", "Coal"))
      .withColumn("Unit", lit("US$2010/GJ"))
    val k = keyOf(d)
    acrossInt(d, "year", scenarioYears)
      .withColumn("value", lit(6.0) * (lit(1.0) + u(salt, (k :+ col("year")): _*)))
  }

  private def oxfordLcoe: DataFrame = {
    var d = across(one, "Scenario", Seq("Oxford - fast_transition", "Oxford - no_transition"))
      .withColumn("Sector", lit("Power")).withColumn("Region", lit("World"))
      .withColumn("__t", explode(typedLit(Seq(Seq("Natural gas", null), Seq("Coal", null),
        Seq("Nuclear", null), Seq("Renewables", "Hydro"), Seq("Renewables", "Solar"),
        Seq("Renewables", "Wind")))))
      .withColumn("Technology", col("__t")(0)).withColumn("Sub_Technology", col("__t")(1))
      .drop("__t")
    val k = keyOf(d)
    acrossInt(d, "Year", 2021 to 2069)
      .withColumn("LCOE", lit(60.0) * (lit(1.0) + u("oxl", (k :+ col("Year")): _*) * 0.5))
  }

  private def oxf2021Prices: DataFrame = {
    var d = across(one, "Technology", Seq("Oil", "Gas", "Coal"))
      .withColumn("Sector", lit("Fossil Fuels"))
    d = across(d, "Scenario", Seq("Oxford - fast_transition", "Oxford - no_transition"))
      .withColumn("Region", lit("World"))
    val k = keyOf(d)
    acrossInt(d, "Year", 2021 to 2069)
      .withColumn("LCOE", lit(36.0) + (col("Year") - 2021) * 0.36 +
        u("oxp", (k :+ col("Year")): _*))
  }

  private def steelLevelizedCost: DataFrame = {
    var d = across(one, "scenario", Seq("baseline", "carbon_cost"))
    d = across(d, "region", Seq("Europe", "China", "India"))
    d = across(d, "technology", Seq("Avg BF-BOF", "DRI-Melt-BOF", "EAF", "DRI-EAF"))
    val k = keyOf(d)
    acrossInt(d, "year", (startYear to 2050 by 4) :+ 2050).dropDuplicates()
      .withColumn("levelized_cost",
        lit(500.0) * (lit(1.0) + u("slc", (k :+ col("year")): _*)))
  }

  private def ipr2023FossilPrices: DataFrame = {
    val rows = Seq(Seq("price", "Coal"), Seq("high price", "Oil"), Seq("low price", "Oil"),
      Seq("high price", "Natural gas"), Seq("low price", "Natural gas"))
    var d = across(one, "Scenario", Seq("FPS", "RPS"))
    d = across(d, "Region", Seq("WORLD", "EUROPE", "CHINA"))
      .withColumn("Units", lit("USD"))
      .withColumn("__r", explode(typedLit(rows)))
      .withColumn("Variable_class", col("__r")(0))
      .withColumn("Sub_variable_class_1", col("__r")(1)).drop("__r")
    val k = keyOf(d)
    acrossInt(d, "year", scenarioYears)
      .withColumn("value", lit(60.0) * (lit(1.0) + u("iprp", (k :+ col("year")): _*)))
  }

  // ------------------------------------------------------------- bench regions

  private def benchRegions: DataFrame = {
    // World carries Global's country set, so the stage regroups it into Global
    val pairs = countries.flatMap(c => Seq(Seq("Global", c), Seq("World", c))) ++
      regionNames.indices.flatMap(i => regionCountries(i).map(c => Seq(regionName(i), c)))
    one.withColumn("__p", explode(typedLit(pairs)))
      .select(col("__p")(0).as("scenario_geography"), col("__p")(1).as("country_iso"))
  }

  // ------------------------------------------------------------------ assembly

  /** Every raw frame of this shape, by name: the mandatory ones, then the
    * optional ones the shape names.
    */
  def frames: Seq[(String, DataFrame)] = {
    val base = Seq(
      "ngfs_carbon_price" -> (() => ngfsCarbonPriceWide),
      "weo_capacity_factors" -> (() => weoCapacityFactorsWide),
      "fossil_fuel_prices" -> (() => fossilFuelPricesWide),
      "power_lcoe" -> (() => powerLcoeWide),
      "company_activities" -> (() => companyActivities),
      "company_emissions" -> (() => companyEmissions),
      "eikon_financials" -> (() => eikonFinancials),
      "ownership_tree" -> (() => ownershipTree))
    val optional = Seq(
      "company_ids" -> (() => companyIds),
      "bench_regions" -> (() => benchRegions),
      "scen_weo_geco" -> (() => longScenario("WEO2021", Seq("STEPS", "SDS", "APS", "NZE_2050"),
        scenarioGeos, withFossil = true)),
      "scen_geco2021" -> (() => automotive("GECO2021", Seq("CurPol", "1.5C-Unif", "NDC-LTS"))),
      "scen_weo23" -> (() => longScenario("WEO2023", Seq("STEPS", "APS", "NZE_2050"),
        scenarioGeos, withFossil = false)),
      "scen_geco2023" -> (() => automotive("GECO2023", Seq("CurPol", "1.5C", "NDC-LTS"))),
      "scen_ngfs_phase4" -> (() => ngfsPhase4),
      "scen_ngfs_v5" -> (() => ngfsV5),
      "scen_ipr" -> (() => iprScenario),
      "scen_oxf" -> (() => oxfScenario),
      "scen_steel" -> (() => steelScenario),
      "cf_weo2023" -> (() => weo2023CapacityFactors),
      "cf_ngfs2023" -> (() => ngfs2023CapacityFactors),
      "cf_ngfs2024" -> (() => ngfs2024CapacityFactors),
      "cf_ipr2023" -> (() => ipr2023CapacityFactors),
      "cf_gem_steel" -> (() => gemSteelCapacityFactors),
      "price_weo2023_fossil" -> (() => fossilPrices("WEO2023")),
      "price_weo2023_power" -> (() => powerLcoe("WEO2023")),
      "price_ngfs2023" -> (() => ngfsPrices(ngfsModels4, "n23p")),
      "price_ngfs2024" -> (() => ngfsPrices(ngfsModels5, "n24p")),
      "price_oxford_lcoe" -> (() => oxfordLcoe),
      "price_ipr2023" -> (() => ipr2023FossilPrices),
      "price_oxf2021" -> (() => oxf2021Prices),
      "price_steel_lc" -> (() => steelLevelizedCost))
    require(optional.map(_._1) == InputGen.optionalNames)
    (base ++ optional.filter(f => shape.optional(f._1))).map { case (n, f) => n -> f() }
  }
}

object InputGen {

  /** The optional inputs, by frame name. */
  val optionalNames: Seq[String] = Seq("company_ids", "bench_regions",
    "scen_weo_geco", "scen_geco2021", "scen_weo23", "scen_geco2023", "scen_ngfs_phase4",
    "scen_ngfs_v5", "scen_ipr", "scen_oxf", "scen_steel",
    "cf_weo2023", "cf_ngfs2023", "cf_ngfs2024", "cf_ipr2023", "cf_gem_steel",
    "price_weo2023_fossil", "price_weo2023_power", "price_ngfs2023", "price_ngfs2024",
    "price_oxford_lcoe", "price_ipr2023", "price_oxf2021", "price_steel_lc")

  /** Whether the shape's scenarios carry automotive rows, which the price
    * stage turns into dummy prices.
    */
  def hasAutomotive(shape: Shape): Boolean =
    Seq("scen_geco2021", "scen_geco2023", "scen_ipr").exists(shape.optional)

  /** Writes every frame of `gen` as parquet under `dir`, eight at a time
    * (a small frame's write is mostly driver-side latency).
    */
  def write(gen: InputGen, dir: String): Unit =
    Par.map(gen.frames, 8) { case (name, df) => df.write.mode("overwrite").parquet(s"$dir/$name") }

  /** The workflow inputs read back from the parquet `write` produced. */
  def read(spark: SparkSession, dir: String, shape: Shape, gen: InputGen): RunWorkflow.Inputs = {
    def t(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
    def opt(name: String): Option[DataFrame] =
      if (shape.optional(name)) Some(t(name)) else None
    def any(prefixes: String*) = shape.optional.exists(n => prefixes.exists(n.startsWith))
    RunWorkflow.Inputs(
      ngfsCarbonPriceWide = t("ngfs_carbon_price"),
      weoCapacityFactorsWide = t("weo_capacity_factors"),
      fossilFuelPricesWide = t("fossil_fuel_prices"),
      powerLcoeWide = t("power_lcoe"),
      companyActivities = t("company_activities"),
      companyEmissions = t("company_emissions"),
      eikonFinancials = t("eikon_financials"),
      companyIds = opt("company_ids"),
      ownershipTree = Some(t("ownership_tree")),
      scenarios = if (!any("scen_")) None else Some(ScenarioData.ScenarioInputs(
        weoGeco = opt("scen_weo_geco"),
        geco2021 = opt("scen_geco2021"),
        weo23 = opt("scen_weo23"),
        geco2023 = opt("scen_geco2023"),
        ngfsPhase4 = opt("scen_ngfs_phase4"),
        ngfsV5 = opt("scen_ngfs_v5"),
        ipr = opt("scen_ipr"),
        oxf = opt("scen_oxf"),
        steel = opt("scen_steel"))),
      // scenarios need the vintage price merge too: it is what prefixes the
      // WEO2021 prices with their vintage, so that they align with the
      // scenario names
      vintages = if (!any("scen_", "cf_", "price_")) None else Some(RunWorkflow.VintageInputs(
        weo2023CapacityFactors = opt("cf_weo2023"),
        ngfs2023CapacityFactors = opt("cf_ngfs2023"),
        ngfs2024CapacityFactors = opt("cf_ngfs2024"),
        ipr2023CapacityFactors = opt("cf_ipr2023"),
        gemSteelCapacityFactors = opt("cf_gem_steel"),
        weo2023FossilFuelPrices = opt("price_weo2023_fossil"),
        weo2023PowerLcoe = opt("price_weo2023_power"),
        ngfs2023FossilPrices = opt("price_ngfs2023"),
        ngfs2024FossilPrices = opt("price_ngfs2024"),
        oxfordLcoe = opt("price_oxford_lcoe"),
        ipr2023FossilPrices = opt("price_ipr2023"),
        oxf2021FossilPrices = opt("price_oxf2021"),
        steelLevelizedCost = opt("price_steel_lc"))),
      benchRegions = opt("bench_regions"),
      startYear = gen.startYear,
      timeHorizon = gen.timeHorizon)
  }
}
