package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipelines.{Geographies, Workflow}

class WorkflowSpec extends SparkTestBase {
  import spark.implicits._

  test("groupIdenticalGeographies maps short names to the longest, chains pruned") {
    val bench = Seq(
      ("EU", "DE"), ("EU", "FR"),
      ("Europe", "DE"), ("Europe", "FR"),
      ("EuropeWide", "DE"), ("EuropeWide", "FR"),
      ("Asia", "CN"))
      .toDF("scenario_geography", "country_iso")
    val mapping = Geographies.groupIdenticalGeographies(bench, matchingTol = 1.0)
      .as[(String, String)].collect().toMap
    // all three European groups are identical; everything maps to the
    // longest name and no mapping target is itself mapped away
    assert(mapping.values.forall(_ == "EuropeWide"))
    assert(mapping.keySet.subsetOf(Set("EU", "Europe")))
    assert(!mapping.contains("Asia"))
  }

  test("standardizeGeographyName applies the reference rule chain") {
    val out = Seq("Latin America & Caribbean", "OECD (R5)", "Global")
      .toDF("g").select(Geographies.standardizeGeographyName(col("g")))
      .as[String].collect().toSeq
    // "OECD (R5)" -> title-case lowers to "Oecd", marker stripped (matches
    // the reference's str_to_title -> remove-(R5) chain)
    assert(out == Seq("LatinAmericaAndCaribbean", "Oecd", "Global"))
  }

  test("applyGeographyMapping recodes mapped values, passes others") {
    val df = Seq("EU", "Asia").toDF("scenario_geography")
    val mapping = Seq(("EU", "EuropeWide")).toDF("shortest_name", "longest_name")
    val out = Geographies.applyGeographyMapping(df, "scenario_geography", mapping)
      .orderBy("scenario_geography").as[String].collect().toSeq
    assert(out == Seq("Asia", "EuropeWide"))
  }

  private def scenarioData = Seq(
    ("WEO2021_SDS", "Global", "Power", "CoalCap", 2025, 1.0, "increasing", "baseline", "GW", 2.0),
    ("WEO2021_SDS", "Mars", "Power", "CoalCap", 2025, 1.0, "declining", "shock", "GW", 2.0),
    ("NGFS_NZ2050", "Global", "Oil&Gas", "Oil", 2025, 1.0, "declining", "shock", "GJ", 2.0))
    .toDF("scenario", "scenario_geography", "ald_sector", "ald_business_unit", "year",
      "fair_share_perc", "direction", "scenario_type", "units", "scenario_pathway")

  private def priceData = Seq(
    ("WEO2021_SDS", "Global", "Power", "CoalCap", 2025, 30.0, "usd/MWh"),
    ("NGFS_NZ2050", "Global", "Oil&Gas", "Oil", 2025, 12.0, "usd/GJ"))
    .toDF("scenario", "scenario_geography", "ald_sector", "ald_business_unit", "year",
      "price", "unit")

  private def capfac = Seq(
    ("WEO2021_SDS", "Global", "CoalCap", 2025, 0.5))
    .toDF("scenario", "scenario_geography", "ald_business_unit", "year", "capacity_factor")

  test("alignDatasets drops Power perimeters missing capacity factors") {
    val (s, p, c) = Workflow.alignDatasets(scenarioData, priceData, capfac)
    // (WEO2021_SDS, Mars) is Power without capfac -> dropped from scenarios
    assert(s.count() == 2)
    assert(s.filter(col("scenario_geography") === "Mars").count() == 0)
    assert(p.count() == 2 && c.count() == 1)
  }

  test("alignDatasets keeps runtime bloom filters out of the perimeter plan") {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        ()
    }
    // listener events arrive asynchronously
    def awaitPlans(n: Int): Seq[String] = {
      val deadline = System.nanoTime() + 20e9.toLong
      while (plans.size < n && System.nanoTime() < deadline) Thread.sleep(20)
      plans.asScala.toSeq
    }
    def hasBloom(p: String) = p.contains("might_contain") || p.contains("bloom_filter_agg")
    // the injection rule prunes file scans only: serve the fixtures from
    // parquet
    val dir = java.nio.file.Files.createTempDirectory("graft-align").toString
    def onDisk(df: DataFrame, name: String) = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val (scenarioData, priceData, capfac) = (onDisk(this.scenarioData, "scen"),
      onDisk(this.priceData, "price"), onDisk(this.capfac, "capfac"))
    // fixture frames are far below the 10 GB application-side threshold
    // and would broadcast; lift both so the injection rule can fire
    withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      spark.listenerManager.register(listener)
      try {
        // control: the same perimeter plan under the session conf does
        // carry a runtime bloom filter
        Workflow.availableScenarioGeographies(scenarioData, priceData, capfac)
          .localCheckpoint(true)
        val control = awaitPlans(1)
        assert(control.size == 1 && hasBloom(control.head),
          s"control plan should carry a runtime bloom filter:\n${control.mkString("\n")}")
        val (s, _, _) = Workflow.alignDatasets(scenarioData, priceData, capfac)
        val avail = awaitPlans(2).drop(1)
        assert(avail.size == 1, s"expected the one avail barrier, got ${avail.size}")
        assert(!hasBloom(avail.head), s"avail plan carries a bloom filter:\n${avail.head}")
        assert(s.count() == 2)
      } finally spark.listenerManager.unregister(listener)
    }
  }

  test("triskV2Scenarios reshapes with capfac default 1 and provider prefix") {
    val bench = Seq(("Global", "DE"), ("EuropeX", "FR"))
      .toDF("scenario_geography_newname", "country_iso")
    val out = Workflow.triskV2Scenarios(scenarioData, capfac, priceData, bench)
    assert(out.columns.length == 14)
    val m = out.filter(col("scenario") === "NGFS_NZ2050").collect().head
    assert(m.getAs[Double]("scenario_capacity_factor") == 1.0) // no capfac -> 1
    assert(m.getAs[String]("scenario_provider") == "NGFS")
    assert(m.getAs[String]("technology_type") == "carbontech")
    assert(m.getAs[String]("scenario_type") == "target")
    val coal = out.filter(col("scenario") === "WEO2021_SDS" &&
      col("scenario_geography") === "Global").collect().head
    assert(coal.getAs[Double]("scenario_capacity_factor") == 0.5)
    assert(coal.getAs[String]("technology_type") == "greentech")
  }

  test("triskV2Assets derives capacity and capacity_factor per asset") {
    val abcd = Seq(
      (1L, "c1", "Power", "CoalCap", "DE", "MW", "t/MWh", 2020, 50.0, 0.5, "1_1", "Global"),
      (1L, "c1", "Power", "CoalCap", "DE", "MW", "t/MWh", 2021, 100.0, 0.5, "1_1", "Global"))
      .toDF("company_id", "company_name", "ald_sector", "ald_business_unit", "country_iso2",
        "ald_production_unit", "emissions_factor_unit", "year", "plan_tech_prod",
        "plan_emission_factor", "asset_id", "scenario_geography")
    val out = Workflow.triskV2Assets(abcd).orderBy("production_year")
    val rows = out.collect()
    assert(out.columns.length == 15)
    assert(rows.map(_.getAs[Double]("capacity")).toSeq == Seq(100.0, 100.0))
    assert(rows.map(_.getAs[Double]("capacity_factor")).toSeq == Seq(0.5, 1.0))
    assert(rows.forall(_.getAs[String]("technology") == "CoalCap"))
  }
}
