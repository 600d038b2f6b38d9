package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Shares
import graft.pipelines.{AssetImpact, CapacityFactors, Prices}

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

  test("implied-price adjustment broadcasts the 1-row-per-group implied side") {
    val lcoe = Seq(
      ("W", "SDS", "Global", "Power", "GasCap", "LCOE", "u", 2021, 60.0),
      ("W", "SDS", "Global", "Power", "GasCap", "LCOE", "u", 2030, 30.0))
      .toDF("source", "scenario", "scenario_geography", "sector", "technology",
        "indicator", "unit", "year", "price")
    val out = Prices.lcoeAdjustedPrices(lcoe, averageNpmPower = 0.1, startYear = 2021)
    assert(plan(out).contains("BroadcastHashJoin"),
      s"implied price must broadcast back onto the series:\n${plan(out)}")
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
