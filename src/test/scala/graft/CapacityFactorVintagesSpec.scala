package graft

import org.apache.spark.sql.functions._
import graft.pipelines.CapacityFactors

/** Round-2 capacity-factor vintages (reference
  * R/prepare_prewrangled_capacity_factors.R:250-882): WEO2023, NGFS Phase
  * IV/V, IPR2023 (+baseline), OXF2021, GEM steel. Every spec asserts the
  * reference's hard invariant cf ∈ [0, 1] on the produced frame.
  */
class CapacityFactorVintagesSpec extends SparkTestBase {
  import spark.implicits._

  private def assertCfBounds(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.filter(col("capacity_factor") < 0 || col("capacity_factor") > 1 ||
      isnan(col("capacity_factor"))).count()
    assert(bad == 0, s"$bad capacity factors out of [0,1]")
  }

  test("WEO2023: join, complete+interpolate, cf bounds, completeness, prefix") {
    val techs = Seq("CoalCap", "GasCap", "HydroCap", "NuclearCap", "OilCap", "RenewablesCap")
    val rows = techs.flatMap { t =>
      Seq(
        ("WEO2023", "APS", "Global", "Power", t, 2030, "GW", "Capacity", 100.0),
        ("WEO2023", "APS", "Global", "Power", t, 2050, "GW", "Capacity", 200.0),
        // generation TWh: 8760h * 100GW / 1000 = 876 TWh would be cf=1.0;
        // use half for cf = 0.5
        ("WEO2023", "APS", "Global", "Power", t, 2030, "GW", "Electricity generation", 438.0),
        ("WEO2023", "APS", "Global", "Power", t, 2050, "GW", "Electricity generation", 876.0))
    } ++ Seq(
      ("WEO2023", "APS", "Global", "Coal", "Coal", 2030, "GW", "Capacity", 5.0)) // non-Power dropped
    val df = rows.toDF("source", "scenario", "scenario_geography", "sector", "technology",
      "year", "units", "indicator", "value")
    val out = CapacityFactors.prepareCapacityFactorsWeo2023(df, startYear = 2030).cache()
    assertCfBounds(out)
    assert(out.select("scenario").distinct().as[String].head() == "WEO2023_APS")
    // grid completed 2030..2050 for all six techs
    assert(out.count() == 6L * 21)
    // 2030 cf exact: 438 * 1000 / 8760 / 100 = 0.5
    val cf2030 = out.filter(col("technology") === "CoalCap" && col("year") === 2030)
      .select("capacity_factor").as[Double].head()
    assert(math.abs(cf2030 - 0.5) < 1e-9)
    // interpolated midpoint 2040: generation (438+876)/2 TWh, capacity 150
    val cf2040 = out.filter(col("technology") === "CoalCap" && col("year") === 2040)
      .select("capacity_factor").as[Double].head()
    assert(math.abs(cf2040 - (657.0 * 1000 / 8760) / 150.0) < 1e-9)
    assert(!out.columns.contains("ald_sector"))
  }

  private def ngfsRow(model: String, scenario: String, region: String, catA: String,
      catC: String, year: Int, value: Double) =
    (model, scenario, region, "V", catA, "Electricity", catC, "GW", year, value)

  test("NGFS2023/2024: renewables re-agg, interpolate, EJ->GW, guards, unite") {
    val rows = Seq(
      // capacity 10 GW flat; generation chosen so cf is in range:
      // 0.1577 EJ/yr * 31.68808781 ~= 5 GW -> cf ~= 0.5
      ngfsRow("GCAM 6.0 NGFS", "Net Zero 2050", "World", "Capacity", "Coal", 2030, 10.0),
      ngfsRow("GCAM 6.0 NGFS", "Net Zero 2050", "World", "Capacity", "Coal", 2032, 10.0),
      ngfsRow("GCAM 6.0 NGFS", "Net Zero 2050", "World", "Secondary Energy", "Coal", 2030, 0.1577),
      ngfsRow("GCAM 6.0 NGFS", "Net Zero 2050", "World", "Secondary Energy", "Coal", 2032, 0.1577),
      // renewables: solar+wind capacities summed (6+4=10), generation summed
      ngfsRow("GCAM 6.0 NGFS", "Net Zero 2050", "World", "Capacity", "Solar", 2030, 6.0),
      ngfsRow("GCAM 6.0 NGFS", "Net Zero 2050", "World", "Capacity", "Wind", 2030, 4.0),
      ngfsRow("GCAM 6.0 NGFS", "Net Zero 2050", "World", "Secondary Energy", "Solar", 2030, 0.1),
      ngfsRow("GCAM 6.0 NGFS", "Net Zero 2050", "World", "Secondary Energy", "Wind", 2030, 0.0577))
      .toDF("Model", "Scenario", "Region", "Variable", "category_a", "category_b",
        "category_c", "Unit", "year", "value")
    val out = CapacityFactors.prepareCapacityFactorsNgfs2023(rows, startYear = 2030).cache()
    assertCfBounds(out)
    assert(out.select("scenario").distinct().as[String].collect().toSet ==
      Set("NGFS2023GCAM_NZ2050"))
    // interpolation created 2031 for coal
    val coalYears = out.filter(col("technology") === "CoalCap")
      .select("year").as[Int].collect().toSet
    assert(coalYears == Set(2030, 2031, 2032))
    val coalCf = out.filter(col("technology") === "CoalCap" && col("year") === 2031)
      .select("capacity_factor").as[Double].head()
    assert(math.abs(coalCf - 0.1577 * 31.68808781 / 10.0) < 1e-9)
    // renewables merged: one row, cf = (0.1577 * 31.68808781) / 10
    val renew = out.filter(col("technology") === "RenewablesCap" && col("year") === 2030)
    assert(renew.count() == 1)
    val rcf = renew.select("capacity_factor").as[Double].head()
    assert(math.abs(rcf - 0.1577 * 31.68808781 / 10.0) < 1e-6)
    // Phase V prefix differs
    val v5 = CapacityFactors.prepareCapacityFactorsNgfs2024(
      rows.withColumn("Model", lit("REMIND-MAgPIE 3.3-4.8")), startYear = 2030)
    assert(v5.select("scenario").distinct().as[String].collect().toSet ==
      Set("NGFS2024REMIND_NZ2050"))
  }

  test("NGFS guard cascade: cf>1 clamps, 0-capacity and 0/0 zero out") {
    val rows = Seq(
      // generation implies cf > 1 -> clamp to 1
      ngfsRow("GCAM 6.0 NGFS", "Current Policies", "World", "Capacity", "Coal", 2030, 1.0),
      ngfsRow("GCAM 6.0 NGFS", "Current Policies", "World", "Secondary Energy", "Coal", 2030, 1.0),
      // capacity 0, generation > 0 -> 0
      ngfsRow("GCAM 6.0 NGFS", "Current Policies", "World", "Capacity", "Gas", 2030, 0.0),
      ngfsRow("GCAM 6.0 NGFS", "Current Policies", "World", "Secondary Energy", "Gas", 2030, 0.5),
      // both 0 -> 0
      ngfsRow("GCAM 6.0 NGFS", "Current Policies", "World", "Capacity", "Hydro", 2030, 0.0),
      ngfsRow("GCAM 6.0 NGFS", "Current Policies", "World", "Secondary Energy", "Hydro", 2030, 0.0))
      .toDF("Model", "Scenario", "Region", "Variable", "category_a", "category_b",
        "category_c", "Unit", "year", "value")
    val out = CapacityFactors.prepareCapacityFactorsNgfs2023(rows, startYear = 2030)
    val byTech = out.select("technology", "capacity_factor").as[(String, Double)]
      .collect().toMap
    assert(byTech("CoalCap") == 1.0)
    assert(byTech("GasCap") == 0.0)
    assert(byTech("HydroCap") == 0.0)
    assertCfBounds(out)
  }

  test("IPR2023 cf: tech synthesis incl. generation override, renewables kept alongside") {
    def row(cat: String, svc1: String, svc2: String, year: Int, value: Double) =
      ("FPS", "WORLD", "GW", "Power", cat, svc1, svc2, year, value)
    val rows = Seq(
      // capacity rows key on svc2; generation rows key on svc1
      row("Capacity", "x", "Coal", 2030, 10.0),
      row("Electricity generation", "Coal", "ignored", 2030, 43.83),
      row("Capacity", "x", "Solar", 2030, 6.0),
      row("Electricity generation", "Solar", "ignored", 2030, 26.298),
      row("Capacity", "x", "Onshore wind", 2030, 4.0),
      row("Electricity generation", "Onshore wind", "ignored", 2030, 17.532),
      // unmatched tech -> dropped
      row("Capacity", "x", "Hydrogen", 2030, 9.0))
      .toDF("Scenario", "Region", "Units", "Sector", "Variable_class",
        "Sub_variable_class_1", "Sub_variable_class_2", "year", "value")
    val out = CapacityFactors.prepareCapacityFactorsIpr2023(rows, startYear = 2025).cache()
    assertCfBounds(out)
    assert(out.select("scenario").distinct().as[String].head() == "IPR2023_FPS")
    // components kept AND RenewablesCap added
    val techs = out.select("technology").distinct().as[String].collect().toSet
    assert(techs == Set("CoalCap", "SolarCap", "OnWindCap", "RenewablesCap"))
    // TWh -> GW: 43.83 * 1000 / (24*365.25) = 5.0 -> cf 0.5
    val coal = out.filter(col("technology") === "CoalCap")
      .select("capacity_factor").as[Double].head()
    assert(math.abs(coal - 0.5) < 1e-9)
    // renewables: (26.298+17.532 TWh -> 5 GW) / (6+4) = 0.5
    val renew = out.filter(col("technology") === "RenewablesCap")
      .select("capacity_factor").as[Double].head()
    assert(math.abs(renew - 0.5) < 1e-9)
    // baseline: every IPR2023_FPS row again, relabelled
    val base = CapacityFactors.withIpr2023Baseline(out)
    assert(base.select("scenario").distinct().as[String].collect().toSet ==
      Set("IPR2023_FPS", "IPR2023_baseline"))
    assert(base.filter(col("scenario") === "IPR2023_baseline").count() == out.count())
  }

  test("OXF2021 cf: WEO relabel + constant extension 2041-2100 from the 2040 value") {
    val rows = Seq(
      ("WEO2021_SDS", "Global", "CoalCap", 2035, 0.6),
      ("WEO2021_SDS", "Global", "CoalCap", 2040, 0.4),
      ("WEO2021_STEPS", "Global", "CoalCap", 2035, 0.7),
      ("WEO2021_STEPS", "Global", "CoalCap", 2040, 0.55),
      ("WEO2021_APS", "Global", "CoalCap", 2040, 0.9), // not matched -> dropped
      ("WEO2021_SDS", "EU", "CoalCap", 2040, 0.8))     // non-Global -> dropped
      .toDF("scenario", "scenario_geography", "technology", "year", "capacity_factor")
    val out = CapacityFactors.prepareCapacityFactorsOxf2021(rows).cache()
    assertCfBounds(out)
    assert(out.select("scenario").distinct().as[String].collect().toSet ==
      Set("Oxford2021_fast", "Oxford2021_base"))
    // 2 scenarios × (2 original + 60 extension years)
    assert(out.count() == 2L * 62)
    val fast2100 = out.filter(col("scenario") === "Oxford2021_fast" && col("year") === 2100)
      .select("capacity_factor").as[Double].head()
    assert(fast2100 == 0.4) // held constant at the 2040 SDS value
    val base2070 = out.filter(col("scenario") === "Oxford2021_base" && col("year") === 2070)
      .select("capacity_factor").as[Double].head()
    assert(base2070 == 0.55)
  }

  test("GEM steel cf: fan-outs, scenario duplication, grid + first-value fill") {
    val rows = Seq(
      ("BOF Steel", 2027, 0.7),
      ("EAF Steel", 2027, 0.6), ("EAF Steel", 2029, 0.8),
      ("DRI", 2027, 0.5),
      ("OHF Steel", 2027, 0.4))
      .toDF("technology", "year", "value")
    val out = CapacityFactors.prepareCapacityFactorsGemSteel(rows, 2025, 2030).cache()
    assertCfBounds(out)
    val techs = out.select("technology").distinct().as[String].collect().toSet
    assert(techs == Set("BF-BOF", "BF-EAF", "EAF", "BOF", "DRI-EAF", "DRI-BOF", "BF-OHF"))
    assert(out.select("scenario").distinct().as[String].collect().toSet ==
      Set("Steel_baseline", "Steel_NZ"))
    // every (tech, scenario) covers 2025..2030
    assert(out.count() == 7L * 2 * 6)
    // fill: EAF 2025 takes the first non-null (2027 = 0.6); 2029 keeps 0.8
    val eaf = out.filter(col("technology") === "EAF" && col("scenario") === "Steel_baseline")
      .orderBy("year").select("capacity_factor").as[Double].collect()
    assert(eaf.toSeq == Seq(0.6, 0.6, 0.6, 0.6, 0.8, 0.6))
  }
}
