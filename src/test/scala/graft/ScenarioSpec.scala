package graft

import org.apache.spark.sql.functions._
import graft.pipelines.ScenarioData

class ScenarioSpec extends SparkTestBase {
  import spark.implicits._

  test("formatP4i: direction from green techs, fair share = tmsr/smsp by direction") {
    val df = Seq(
      ("WEO2021", "SDS", "Global", "Power", "RenewablesCap", "Capacity", "GW", 2025, 5.0, 0.5, 0.1),
      ("WEO2021", "SDS", "Global", "Power", "CoalCap", "Capacity", "GW", 2025, 3.0, -0.3, -0.05))
      .toDF("source", "scenario", "scenario_geography", "sector", "technology", "indicator",
        "units", "year", "value", "tmsr", "smsp")
    val out = ScenarioData.formatP4i(df, greenTechs = Seq("RenewablesCap", "HydroCap"))
      .orderBy("Technology").collect()
    assert(out(0).getAs[String]("Direction") == "declining") // CoalCap
    assert(out(0).getAs[Double]("FairSharePerc") == -0.3)    // tmsr
    assert(out(1).getAs[String]("Direction") == "increasing")
    assert(out(1).getAs[Double]("FairSharePerc") == 0.1)     // smsp
    assert(out(0).getAs[Double]("scenario_pathway") == 3.0)
  }

  private def p4iRow(source: String, scenario: String, geo: String, sector: String,
      tech: String, indicator: String, year: Int, fsp: java.lang.Double) =
    (source, geo, scenario, sector, tech, null: String, indicator, "GW", year,
      1.0, 0.1, 0.2, "increasing", fsp)

  private val powerTechs = Seq("CoalCap", "GasCap", "HydroCap", "NuclearCap", "OilCap", "RenewablesCap")

  test("prepareScenarioData: indicator filters, prefixing, NA perimeter removal, completeness") {
    val complete = powerTechs.map(t =>
      p4iRow("WEO2021", "SDS", "Global", "Power", t, "Capacity", 2025, 0.5))
    // geography with an NA fair share on an operative scenario -> dropped
    val naGeo = powerTechs.map(t =>
      p4iRow("WEO2021", "SDS", "EU", "Power", t, "Capacity", 2025, null))
    // incomplete sector: only one of six power technologies
    val incomplete = Seq(p4iRow("WEO2021", "SDS", "Asia", "Power", "CoalCap", "Capacity", 2025, 0.5))
    // wrong indicator for WEO -> filtered
    val wrongInd = Seq(p4iRow("WEO2021", "SDS", "Global", "Power", "CoalCap", "Emissions", 2025, 0.5))
    val df = (complete ++ naGeo ++ incomplete ++ wrongInd)
      .toDF("Source", "ScenarioGeography", "Scenario", "Sector", "Technology", "Sub_Technology",
        "Indicator", "Units", "Year", "value", "techFSRatio", "mktFSRatio", "Direction",
        "FairSharePerc")
    val out = ScenarioData.prepareScenarioData(df)
    val geos = out.select("scenario_geography").distinct().as[String].collect().toSet
    assert(geos == Set("Global"))
    assert(out.count() == 6)
    assert(out.select("scenario").distinct().as[String].head() == "WEO2021_SDS")
    assert(!out.columns.contains("scenario_source"))
  }

  test("preprepareNgfsScenarioData: recodes, renewables aggregation, scenario unite") {
    val df = Seq(
      ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "a", "Electricity", "Solar", "EJ", 2030, 1.5),
      ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "a", "Electricity", "Wind", "EJ", 2030, 2.5),
      ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "a", "Electricity", "Coal", "EJ", 2030, 3.0),
      ("GCAM 6.0 NGFS", "Net Zero 2050", "World", "V", "a", "Oil", "Oil", "EJ", 2030, 4.0))
      .toDF("Model", "Scenario", "Region", "Variable", "category_a", "category_b",
        "category_c", "Unit", "year", "value")
    val out = ScenarioData.preprepareNgfsScenarioData(df, startYear = 2023)
    assert(out.select("scenario").distinct().as[String].head() == "NGFS2023GCAM_NZ2050")
    // solar+wind combined into one RenewablesCap row with summed value
    val renew = out.filter(col("technology") === "RenewablesCap")
    assert(renew.count() == 1)
    assert(renew.select("value").as[Double].head() == 4.0)
    val oil = out.filter(col("technology") === "Oil").collect().head
    assert(oil.getAs[String]("sector") == "Oil&Gas")
    assert(oil.getAs[String]("indicator") == "Production")
    assert(out.filter(col("technology") === "CoalCap")
      .select("indicator").as[String].head() == "Capacity")
    assert(out.select("scenario_geography").distinct().as[String].head() == "Global")
  }

  test("removeIncompleteSectors keeps only fully-covered sectors per perimeter") {
    val rows = powerTechs.map(t => ("S1", "Global", "Power", t)) ++
      Seq(("S1", "EU", "Power", "CoalCap"), // incomplete power
        ("S1", "Global", "Coal", "Coal"))   // complete (1 tech expected)
    val df = rows.toDF("scenario", "scenario_geography", "ald_sector", "technology")
    val out = ScenarioData.removeIncompleteSectors(df)
    assert(out.filter(col("scenario_geography") === "EU").count() == 0)
    assert(out.filter(col("ald_sector") === "Coal").count() == 1)
    assert(out.filter(col("scenario_geography") === "Global" && col("ald_sector") === "Power")
      .count() == 6)
  }

  test("completeInterpolateLocal replays completeGridLocal + naApprox exactly") {
    // completeInterpolate on the per-group axis, which replaced
    // completeInterpolateLocal
    // every edge the fused rewrite must preserve: interior holes, leading
    // and trailing nulls (na.rm=FALSE), an all-null group, a single-row
    // group, duplicate (key, x) observations, a null-x pass-through row,
    // and non-dyadic doubles whose interpolation must match to the bit
    val rows: Seq[(String, Integer, java.lang.Double)] = Seq(
      ("a", 2020, 1.0), ("a", 2024, null), ("a", 2027, 0.7),   // holes + interior null
      ("b", 2020, null), ("b", 2022, 3.3), ("b", 2025, null),  // leading+trailing nulls
      ("c", 2021, null), ("c", 2023, null),                    // all-null group
      ("d", 2030, 5.5),                                        // single row
      ("e", 2020, 2.0), ("e", 2022, 2.0), ("e", 2022, 4.0), ("e", 2024, 1.0), // dup x
      ("f", null, 9.0), ("f", 2020, 1.0), ("f", 2023, null)    // null-x pass-through
    )
    val df = rows.toDF("g", "year", "value")
    val fused = graft.ops.TimeSeries.completeInterpolate(
      df, Seq("g"), "year", Seq("value"), graft.ops.TimeSeries.Axis.PerGroup)
    val relational = graft.ops.TimeSeries.naApprox(
      graft.ops.TimeSeries.completeGridLocal(df, Seq("g"), "year"),
      Seq("g"), "year", "value", "value")
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), Option(r.get(1)).map(_.toString).getOrElse(""),
        Option(r.get(2)).map(d => java.lang.Double.doubleToLongBits(
          d.asInstanceOf[Double])).getOrElse(Long.MinValue))
    val f = fused.collect().map(key).sortBy(identity)
    val r = relational.collect().map(key).sortBy(identity)
    assert(f.toSeq === r.toSeq)
  }

  test("interpolateYearly (fused) matches the relational spelling on a fixture-shaped frame") {
    val groups = ScenarioData.interpolationGroups
    val rows: Seq[(String, String, String, String, String, String, String, Int,
        java.lang.Double)] = Seq(
      ("WEO2021", "STEPS", "Power", "CoalCap", "Global", "Capacity", "GW", 2020,
        java.lang.Double.valueOf(1.25)),
      ("WEO2021", "STEPS", "Power", "CoalCap", "Global", "Capacity", "GW", 2024, null),
      ("WEO2021", "STEPS", "Power", "CoalCap", "Global", "Capacity", "GW", 2028,
        java.lang.Double.valueOf(2.75)),
      ("WEO2021", "SDS", "Coal", "Coal", "EU", "Production", "t", 2020, null))
    val df = rows
      .toDF("source", "scenario", "sector", "technology", "scenario_geography",
        "indicator", "units", "year", "value")
    val fused = ScenarioData.interpolateYearly(df, groups)
    val relational = graft.ops.TimeSeries.naApprox(
      graft.ops.TimeSeries.completeGridLocal(df, groups, "year"),
      groups, "year", "value", "value")
    val cols = fused.columns.map(col)
    assert(fused.select(cols: _*).collect().map(_.toString).sorted.toSeq ===
      relational.select(cols: _*).collect().map(_.toString).sorted.toSeq)
  }
}
