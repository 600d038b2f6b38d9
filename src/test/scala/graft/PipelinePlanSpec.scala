package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Shares, TimeSeries}
import graft.pipelines.{Abcd, AssetImpact, CapacityFactors, Financial, Prices}

/** Physical-plan pins for the pipeline layer (VERDICT: extend PlanSpec to
  * the pipelines) — shuffle counts and broadcast shapes that would regress
  * silently at fixture scale and hurt at 100 TB.
  */
class PipelinePlanSpec extends SparkTestBase {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def exchanges(df: DataFrame): Int =
    "Exchange hashpartitioning".r.findAllIn(plan(df)).size

  test("steel fan-outs build without a checkpoint leaf (one generator, no junction)") {
    import org.apache.spark.sql.execution.LogicalRDD
    val lc = Seq(("baseline", "Europe", "Avg BF-BOF", 2025, 500.0),
        ("baseline", "Europe", "EAF", 2025, 400.0))
      .toDF("scenario", "region", "technology", "year", "levelized_cost")
    val gem = Seq(("BOF Steel", 2027, 0.7), ("EAF Steel", 2027, 0.6), ("DRI", 2027, 0.5))
      .toDF("technology", "year", "value")
    for ((name, df) <- Seq(
        "mpLcSteelWrangling" -> Prices.mpLcSteelWrangling(lc),
        "prepareCapacityFactorsGemSteel" ->
          CapacityFactors.prepareCapacityFactorsGemSteel(gem, 2025, 2030))) {
      val leaves = df.queryExecution.logical.collectLeaves().filter(_.isInstanceOf[LogicalRDD])
      assert(leaves.isEmpty, s"$name built a checkpoint leaf:\n${df.queryExecution.logical}")
    }
    // the price preps read each frame once, so only Oxford's OLS extension
    // keeps a junction; a barrier persists its checkpoint, so count the RDDs
    // each construction pinned
    val fossil = Seq(("WEO2021", "Coal", "usd/tonnes", "EU", "SDS", 60.0, 40.0),
        ("WEO2021", "Coal", "usd/tonnes", "US", "SDS", 80.0, 60.0))
      .toDF("source", "sector", "unit", "scenario_geography", "scenario", "2020", "2030")
    val power = Seq(("WEO2021", "SDS", "EU", "Gas CCGT", "LCOE", "usd/MWh", 70.0, 50.0),
        ("WEO2021", "SDS", "US", "Gas CCGT", "LCOE", "usd/MWh", 60.0, 40.0))
      .toDF("source", "scenario", "region", "technology", "indicator", "unit", "2020", "2030")
    val ipr = Seq(("FPS", "Europe", "USD", "high price", "Natural gas", 2030, 8.0),
        ("FPS", "Europe", "USD", "price", "Coal", 2030, 80.0))
      .toDF("Scenario", "Region", "Units", "Variable_class", "Sub_variable_class_1",
        "year", "value")
    val lcoe = Seq(("W", "SDS", "Global", "Power", "GasCap", "LCOE", "u", 2021, 60.0),
        ("W", "SDS", "Global", "Power", "GasCap", "LCOE", "u", 2030, 30.0))
      .toDF("source", "scenario", "scenario_geography", "sector", "technology",
        "indicator", "unit", "year", "price")
    val oxford = (2021 to 2069).map(y => ("Power", "Oxford - fast_transition", "World",
        "Natural gas", null: String, y, 60.0 - 0.1 * (y - 2021)))
      .toDF("Sector", "Scenario", "Region", "Technology", "Sub_Technology", "Year", "LCOE")
    def pins(build: => DataFrame): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      build
      val pinned = spark.sparkContext.getPersistentRDDs -- before
      pinned.values.foreach(_.unpersist())
      pinned.size
    }
    val counts = Seq(
      "preparePriceDataLongWeo2021" -> pins(Prices.preparePriceDataLongWeo2021(fossil, power)),
      "preparePriceDataLongPowerIpr2023" -> pins(Prices.preparePriceDataLongPowerIpr2023(power)),
      "preparePriceDataLongIpr2023" -> pins(Prices.preparePriceDataLongIpr2023(ipr, 2025)),
      "lcoeAdjustedPrices" -> pins(Prices.lcoeAdjustedPrices(lcoe, 0.1, 2021)),
      "prepareLcoeAdjustedPriceDataIpr2023" ->
        pins(Prices.prepareLcoeAdjustedPriceDataIpr2023(lcoe, 0.1, 2021)),
      "prepareLcAdjustedPriceDataSteel" -> pins(Prices.prepareLcAdjustedPriceDataSteel(
        Prices.mpLcSteelWrangling(lc), 0.07, 2025)),
      "prepareLcoeAdjustedPriceDataOxford2022" ->
        pins(Prices.prepareLcoeAdjustedPriceDataOxford2022(oxford, 0.1, 2021, "2023")))
    assert(counts.toMap == counts.map { case (name, _) =>
      name -> (if (name == "prepareLcoeAdjustedPriceDataOxford2022") 1 else 0) }.toMap)
  }

  test("abcd builds without a checkpoint leaf; financial pins exactly one") {
    import org.apache.spark.sql.execution.LogicalRDD
    def checkpoints(df: DataFrame): Int =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.distinct.size
    val wide = Seq((1L, "c1", "Power", "CoalCap", "DE", "MW", 100.0, 110.0),
        (1L, "c1", "Power", "CoalCap", "DE", "MWh", 800.0, 900.0))
      .toDF("company_id", "company_name", "ald_sector", "ald_business_unit", "ald_location",
        "activity_unit", "Equity Ownership 2020", "Equity Ownership 2021")
    val abcd = Abcd.prepareAbcdData(wide, wide.withColumn("activity_unit", lit("tCO2")),
      startYear = 2020, timeHorizon = 1, sectorList = Seq("Power"))
    val fin = Financial.prepareFinancialData(spark,
      Seq((10L, "DE", 0.1, 0.2, 0.5, 0.3)).toDF("company_id", "ald_location", "pd",
        "net_profit_margin", "debt_equity_ratio", "volatility"),
      Seq((10L, "Power", "DE"), (11L, "Power", "FR"))
        .toDF("company_id", "ald_sector", "ald_location"),
      None, minimumSampleSize = 0, minimumRatioSample = 0,
      allowedRangeNpm = (Double.NegativeInfinity, Double.PositiveInfinity))
    try {
      assert(checkpoints(abcd) == 0,
        s"abcd built a checkpoint leaf:\n${abcd.queryExecution.logical}")
      assert(checkpoints(fin) == 1,
        s"financial must pin only its company table:\n${fin.queryExecution.logical}")
    } finally { abcd.unpersist(); fin.unpersist() }
  }

  test("complete → interpolate reads its input once on every axis") {
    // a nullable x, so no null-x branch can be optimized away
    val df = Seq[(String, Integer, Double, Double)](("a", 2020, 1.0, 2.0), ("a", 2022, 3.0, 4.0),
      ("b", 2021, 5.0, 6.0)).toDF("k", "x", "v", "w")
    for (axis <- Seq(TimeSeries.Axis.PerGroup, TimeSeries.Axis.Global,
        TimeSeries.Axis.Fixed(2020, 2023))) {
      val out = TimeSeries.completeInterpolate(df, Seq("k"), "x", Seq("v", "w"), axis)
      val leaves = out.queryExecution.logical.collectLeaves().size
      assert(leaves == 1, s"$axis read its input $leaves times:\n${out.queryExecution.logical}")
    }
  }

  test("complete → interpolate then fillDown on the same keys costs one partitioning") {
    // with a null-x row, which must ride the same exchange
    val df = Seq[(String, Integer, Double)](("a", 2020, 1.0), ("a", 2022, 3.0), ("b", 2021, 5.0),
      ("b", null, 7.0)).toDF("k", "x", "v")
    val out = TimeSeries.fillDown(
      TimeSeries.completeInterpolate(df, Seq("k"), "x", Seq("v"), TimeSeries.Axis.Fixed(2020, 2024)),
      Seq("k"), "x", "v", "v")
    val n = exchanges(out)
    assert(n == 1, s"the fill must reuse the generator's exchange, got $n:\n${plan(out)}")
  }

  test("WEO2021 capacity factors pin exactly one checkpoint") {
    val wide = Seq(("Capacity", "GW", 100.0, 100.0), ("Generation", "TWh", 438.0, 613.2))
      .toDF("Indicator", "Units", "2020", "2040")
      .select(lit("WEO2020").as("Source"), col("Indicator"), lit("Power").as("Sector"),
        col("Units"), lit("SDS").as("Scenario"), lit("World").as("ScenarioGeography"),
        lit("Coal").as("Technology"), lit(null).cast("string").as("Sub_Technology"),
        col("2020"), col("2040"))
    // a barrier persists its checkpoint; only the last one is a leaf of
    // the plan, so count the RDDs the construction pinned
    val before = spark.sparkContext.getPersistentRDDs.keySet
    CapacityFactors.prepareCapacityFactorsWeo2021(wide, startYear = 2020)
    val pinned = spark.sparkContext.getPersistentRDDs -- before
    try assert(pinned.size == 1, s"only the year-column aggregate is a junction: $pinned")
    finally pinned.values.foreach(_.unpersist())
  }

  test("market-share chain (tmsr+smsp) costs exactly its two partitionings") {
    val df = Seq(
      ("S", "Power", "Global", "CoalCap", 2020, 10.0),
      ("S", "Power", "Global", "CoalCap", 2021, 8.0),
      ("S", "Power", "Global", "GasCap", 2020, 5.0),
      ("S", "Power", "Global", "GasCap", 2021, 6.0))
      .toDF("scenario", "sector", "scenario_geography", "technology", "year", "value")
    val out = Shares.addMarketShares(df,
      techKeys = Seq("scenario", "sector", "scenario_geography", "technology"),
      sectorKeys = Seq("scenario", "sector", "scenario_geography"),
      x = "year", v = "value")
    // ONE exchange for the whole chain (r16): hash(sectorKeys) satisfies
    // both the (keys, year) sector-total window and the per-tech ordered
    // windows (sectorKeys is a subset of each clustering) — a second
    // exchange would mean a window stopped reusing the shared partitioning
    val n = exchanges(out)
    assert(n == 1, s"tmsr+smsp must cost exactly 1 shuffle, got $n:\n${plan(out)}")
  }

  test("implied-price adjustment reads its input once through one partitioning") {
    val lcoe = Seq(
      ("W", "SDS", "Global", "Power", "GasCap", "LCOE", "u", 2021, 60.0),
      ("W", "SDS", "Global", "Power", "GasCap", "LCOE", "u", 2030, 30.0),
      ("W", "SDS", "Global", "Coal", "Coal", "price", "u", 2021, 50.0))
      .toDF("source", "scenario", "scenario_geography", "sector", "technology",
        "indicator", "unit", "year", "price")
    val out = Prices.lcoeAdjustedPrices(lcoe, averageNpmPower = 0.1, startYear = 2021)
    val leaves = out.queryExecution.logical.collectLeaves().size
    assert(leaves == 1, s"read its input $leaves times:\n${out.queryExecution.logical}")
    val n = exchanges(out)
    assert(n == 1, s"the anchors and the cost factor share one window, got $n:\n${plan(out)}")
    assert(!plan(out).contains("BroadcastHashJoin"), plan(out))
  }

  test("technology-type aggregation is a single hash aggregate pass") {
    val df = Seq(
      ("C1", "Power", "GasCap", "CCGT", 1.0),
      ("C1", "Power", "GasCap", "OCGT", 2.0))
      .toDF("company_id", "ald_sector", "technology", "technology_type",
        "Equity Ownership 2030")
    val out = AssetImpact.aggregateOverTechnologyTypes(df)
    val n = exchanges(out)
    assert(n == 1, s"one grouping -> one shuffle, got $n:\n${plan(out)}")
    assert(plan(out).contains("HashAggregate"))
  }
}
