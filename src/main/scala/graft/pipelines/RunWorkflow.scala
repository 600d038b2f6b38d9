package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Reshape

/** Full-batch orchestrator — the Spark twin of data-raw/run_workflow.R's
  * sequential script. Each stage is a pure function over DataFrames; the
  * orchestrator wires them in reference order. It materializes nothing
  * itself: the stages own their junctions and outputs (see the CACHE
  * OWNERSHIP note on [[Outputs]]).
  */
object RunWorkflow {

  /** Optional per-vintage raw frames. `None` = vintage not supplied (its
    * rows are simply absent from the union, like a missing CSV would be in
    * the reference scripts). WEO2021 is NOT here — it is the mandatory
    * base vintage carried by [[Inputs]] itself.
    */
  final case class VintageInputs(
      // capacity factors (data-raw/run_prepare_prewrangled_capacity_factors.R)
      weo2023CapacityFactors: Option[DataFrame] = None,
      ngfs2023CapacityFactors: Option[DataFrame] = None,
      ngfs2024CapacityFactors: Option[DataFrame] = None,
      ipr2023CapacityFactors: Option[DataFrame] = None,
      gemSteelCapacityFactors: Option[DataFrame] = None,
      // OXF2021 derives from the prepared WEO2021 frame (:151), so it needs
      // no raw input — just the reference's unconditional inclusion
      includeOxf2021CapacityFactors: Boolean = true,
      // prices (data-raw/run_prepare_price_data_long.R)
      weo2023FossilFuelPrices: Option[DataFrame] = None,
      weo2023PowerLcoe: Option[DataFrame] = None,
      ngfs2023FossilPrices: Option[DataFrame] = None,
      ngfs2024FossilPrices: Option[DataFrame] = None,
      // raw_Oxford_LCOE_wrangled.csv — shared by BOTH NGFS price fan-outs
      oxfordLcoe: Option[DataFrame] = None,
      ipr2023FossilPrices: Option[DataFrame] = None,
      oxf2021FossilPrices: Option[DataFrame] = None,
      steelLevelizedCost: Option[DataFrame] = None,
      averageNpmPower: Double = 0.115,      // run_prepare_price_data_long.R:5
      steelNpm: Double = 0.06866203)        // :330

  final case class Inputs(
      ngfsCarbonPriceWide: DataFrame,
      weoCapacityFactorsWide: DataFrame,
      fossilFuelPricesWide: DataFrame,
      powerLcoeWide: DataFrame,
      companyActivities: DataFrame,
      companyEmissions: DataFrame,
      eikonFinancials: DataFrame,
      companyIds: Option[DataFrame],
      ownershipTree: Option[DataFrame],
      scenarios: Option[ScenarioData.ScenarioInputs] = None,
      vintages: Option[VintageInputs] = None,
      // bench_regions (scenario_geography, country_iso, ...) — enables the
      // stage-5 geography regroup/rename and the TRISK-v2 reshape
      benchRegions: Option[DataFrame] = None,
      startYear: Int = 2021,
      timeHorizon: Int = 5,
      sectorList: Seq[String] = Seq("Automotive", "Power", "Oil&Gas", "Coal"))

  /** run_workflow.R:98-272 — the v2 input frames (assets.csv,
    * scenarios.csv, financial_features.csv, ngfs_carbon_price.csv).
    */
  final case class TriskV2(
      assets: DataFrame,
      scenarios: DataFrame,
      financialFeatures: DataFrame,
      ngfsCarbonPrice: DataFrame)

  /** CACHE OWNERSHIP — one junction rule for every stage (SURVEY §4.1:
    * branch reuse is free in eager R but recomputes the subtree in lazy
    * Spark):
    *  - a frame that several consumers read INSIDE a stage is an eager
    *    [[graft.core.Barriers.barrier]] leaf over compressed columnar
    *    batches (a frame with one consumer is neither barriered nor cached;
    *    a fan-out is one [[graft.ops.Reshape.fanOut]] generator, so its
    *    input has one consumer and is not a junction);
    *  - a stage OUTPUT that its caller reads more than once is cached by
    *    that stage ([[graft.core.Barriers.stageCache]], named after the
    *    stage), and `run()` lists it in `cachedFrames`.
    * `run()` itself calls neither. Its cached stage outputs are the merged
    * scenario frame, abcd and the prepared financials; they stay pinned
    * for the session so the CALLER can still consume every output without
    * recomputation. A long-lived session running the workflow repeatedly
    * must call [[Outputs.unpersistAll]] after its writes, which releases
    * every cache entry the run registered. In `getRDDStorageInfo` a run's
    * blocks are either "In-memory table <stage>" (these entries) or
    * "graft junction" (barrier leaves). Barrier leaves are not cache
    * entries; the context cleaner drops their blocks once they are
    * unreachable, and unpersisting the persistent RDDs drops them at once.
    */
  final case class Outputs(
      carbonPrice: DataFrame,
      capacityFactors: DataFrame,
      prices: DataFrame,
      abcd: DataFrame,
      financial: DataFrame,
      scenariosAnalysisInput: Option[DataFrame] = None,
      // bench_regions with scenario_geography_newname (the reference's
      // usethis::use_data(scenarios_geographies) at run_rename_geographies.R:203)
      scenariosGeographies: Option[DataFrame] = None,
      triskV2: Option[TriskV2] = None,
      // the exact cached stage outputs (outputs may be plans DERIVED from
      // them, whose own unpersist() would not release these entries)
      private[pipelines] val cachedFrames: Seq[DataFrame] = Nil) {

    /** Release every cache entry this invocation registered (the frames
      * remain valid — they just recompute if read again).
      */
    def unpersistAll(): this.type = {
      cachedFrames.foreach(_.unpersist())
      this
    }
  }

  /** The st_inputs column convention: every runner renames
    * technology→ald_business_unit (and the price runner sector→ald_sector)
    * before writing (data-raw/run_prepare_price_data_long.R:357-358,
    * run_prepare_prewrangled_capacity_factors.R:187).
    */
  private def toStInputNames(df: DataFrame): DataFrame = {
    val renamed = df.withColumnRenamed("technology", "ald_business_unit")
    if (renamed.columns.contains("sector")) renamed.withColumnRenamed("sector", "ald_sector")
    else renamed
  }

  /** bind_rows semantics: column union, absent columns null-filled.
    * Every leg is barriered first (the ScenarioData.scala:709 treatment):
    * without it the 7-vintage price/capacity-factor merges compose into
    * ONE physical plan with >150 whole-stage-codegen units whose task
    * binary serializes at ~176 MiB per stage (measured on the real-data
    * run, r15) — per-leg materialization bounds any single job's plan to
    * one vintage's tail. A leg must not itself be a bindRows: its legs are
    * pinned, and then their union is pinned again. On wf_toy, flattening
    * the price merge's nested NGFS + Oxford and IPR fossil + power unions
    * into legs of the one merge cut the "Broadcasting large task binary"
    * warnings (above 1 MiB) of one traced run from 19, the largest two
    * 8.3 MiB, to 5, the largest 2.1 MiB.
    */
  private def bindRows(parts: Seq[DataFrame]): DataFrame =
    graft.core.Barriers.barrierAll(parts)
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Multi-vintage capacity-factor merge in the reference's combine order
    * (run_prepare_prewrangled_capacity_factors.R:175-183: WEO2021, NGFS2023,
    * NGFS2024, IPR2023+baseline, OXF2021, GEM steel, WEO2023).
    */
  private def mergeCapacityFactorVintages(
      cfWeo2021: DataFrame, v: VintageInputs, startYear: Int): DataFrame = {
    val ipr = v.ipr2023CapacityFactors.map { raw =>
      CapacityFactors.withIpr2023Baseline(
        CapacityFactors.prepareCapacityFactorsIpr2023(raw, startYear)
          .filter(col("scenario_geography") =!= "IND")) // :143 duplicated India geography
    }
    bindRows(Seq(
      Some(cfWeo2021),
      v.ngfs2023CapacityFactors.map(CapacityFactors.prepareCapacityFactorsNgfs2023(_, startYear)),
      v.ngfs2024CapacityFactors.map(CapacityFactors.prepareCapacityFactorsNgfs2024(_, startYear)),
      ipr,
      if (v.includeOxf2021CapacityFactors)
        Some(CapacityFactors.prepareCapacityFactorsOxf2021(cfWeo2021)) else None,
      // :168-172 — GEM steel values are forced to 1 (placeholder) by the
      // runner before the prepare
      v.gemSteelCapacityFactors.map(s => CapacityFactors.prepareCapacityFactorsGemSteel(
        s.withColumn("value", lit(1.0)), startYear)),
      v.weo2023CapacityFactors.map(CapacityFactors.prepareCapacityFactorsWeo2023(_, startYear))
    ).flatten)
  }

  /** WEO price chain (run_prepare_price_data_long.R:52-123): long wrangle,
    * LCOE-implied price adjustment, vintage scenario prefix, source drop.
    */
  private def adjustedWeoPrices(
      fossilWide: DataFrame, powerWide: DataFrame,
      vintage: String, npm: Double, startYear: Int): DataFrame =
    Prices.lcoeAdjustedPrices(
        Prices.preparePriceDataLongWeo2021(fossilWide, powerWide), npm, startYear)
      .withColumn("scenario", concat(lit(vintage + "_"), col("scenario")))
      .drop("source")

  /** Multi-vintage price merge (run_prepare_price_data_long.R:345-361):
    * WEO2021, WEO2023, NGFS2023(+Oxford LCOE), NGFS2024(+Oxford LCOE),
    * IPR2023(+WEO power LCOE + WEO2021 baseline), OXF2021, MP steel; the
    * reference filters to Global at write time (price data carries no
    * geography resolution).
    */
  private[graft] def mergePriceVintages(
      in: Inputs, v: VintageInputs): DataFrame = {
    val weo2021 = adjustedWeoPrices(
      in.fossilFuelPricesWide, in.powerLcoeWide, "WEO2021", v.averageNpmPower, in.startYear)
    // :274 — with IPR prices, the IPR baseline clones the adjusted WEO2021
    // STEPS path
    val adjWeo2021 =
      if (v.ipr2023FossilPrices.isEmpty) weo2021
      else Reshape.fanOut(weo2021, "scenario",
        Map("WEO2021_STEPS" -> Seq("WEO2021_STEPS", "IPR2023_baseline")))
    // each NGFS base and its Oxford LCOE prices, and the IPR fossil and
    // power prices, are separate legs of the one merge: a nested bindRows
    // would pin both legs and then pin their union again
    def ngfs(raw: Option[DataFrame], prep: (DataFrame, Int) => DataFrame, vintage: String) =
      raw.toSeq.flatMap { r =>
        prep(r, in.startYear) +: v.oxfordLcoe.toSeq.map(lcoe =>
          Prices.prepareLcoeAdjustedPriceDataOxford2022(
            lcoe, v.averageNpmPower, in.startYear, vintage))
      }
    val ipr = v.ipr2023FossilPrices.toSeq.flatMap { raw =>
      Seq(
        Prices.preparePriceDataLongIpr2023(raw, in.startYear),
        // :263-270 — IPR power prices reuse the WEO2021 power LCOE input
        Prices.prepareLcoeAdjustedPriceDataIpr2023(
          Prices.preparePriceDataLongPowerIpr2023(in.powerLcoeWide),
          v.averageNpmPower, in.startYear).drop("source"))
    }
    val weo2023 = (v.weo2023FossilFuelPrices, v.weo2023PowerLcoe) match {
      case (Some(f), Some(p)) =>
        Some(adjustedWeoPrices(f, p, "WEO2023", v.averageNpmPower, in.startYear))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "WEO2023 prices need BOTH weo2023FossilFuelPrices and weo2023PowerLcoe; " +
          "got exactly one — refusing to silently drop the vintage")
    }
    val legs = Seq(adjWeo2021) ++ weo2023 ++
      ngfs(v.ngfs2023FossilPrices, Prices.preparePriceDataLongNgfs2023, "2023") ++
      ngfs(v.ngfs2024FossilPrices, Prices.preparePriceDataLongNgfs2024, "2024") ++ ipr ++
      v.oxf2021FossilPrices.map(Prices.preparePriceDataLongOxf2021(_, in.startYear)) ++
      v.steelLevelizedCost.map(raw => Prices.prepareLcAdjustedPriceDataSteel(
        Prices.mpLcSteelWrangling(raw), v.steelNpm, in.startYear))
    // :360 — price data is written Global-only; each leg is filtered before
    // its barrier, so only the rows the merge writes are pinned
    bindRows(legs.map(_.filter(col("scenario_geography") === "Global")))
  }

  def run(spark: SparkSession, in: Inputs): Outputs = {
    // stages 1-4 of run_workflow.R are mutually independent up to the
    // automotive-price append (the scenario merge, the capacity-factor
    // merge and the price merge read disjoint inputs), yet each runs its
    // own eager barrier/orphan jobs at CONSTRUCTION — strictly
    // sequentially when built inline. Build the three on the small pool
    // (guide §2.6) so each stage's construction jobs back-fill the
    // previous stage's task tails. Results and order are unchanged.
    val stageThunks: Seq[() => Any] = Seq(
      // stage 1 of run_workflow.R: the multi-vintage scenario merge
      // (data-raw/run_prepare_Scenarios_AnalysisInput.R) when the
      // per-vintage raw frames are supplied; the stage caches its output,
      // which the automotive-price fan-out, the alignment rewrite AND the
      // caller's write all read
      () => in.scenarios.map(ScenarioData.prepareScenariosAnalysisInput(_, in.startYear)),
      // stage 3: capacity factors. junction (r15): with vintages present,
      // the WEO2021 frame feeds BOTH its own merge leg and the OXF2021
      // derivation — barrier it once so the two legs read a leaf instead
      // of re-running the prepare
      () => {
        val cfWeo2021raw = CapacityFactors.prepareCapacityFactorsWeo2021(
          in.weoCapacityFactorsWide, in.startYear)
        val cfWeo2021 =
          if (in.vintages.exists(_.includeOxf2021CapacityFactors)) {
            import graft.core.Barriers.BarrierOps
            cfWeo2021raw.planBarrier()
          } else cfWeo2021raw
        in.vintages
          .map(mergeCapacityFactorVintages(cfWeo2021, _, in.startYear))
          .getOrElse(cfWeo2021)
      },
      // stage 4: prices (the automotive append joins in below, after the
      // scenario stage is available)
      () => in.vintages
        .map(mergePriceVintages(in, _))
        .getOrElse(
          Prices.preparePriceDataLongWeo2021(in.fossilFuelPricesWide, in.powerLcoeWide)))
    val stageResults = graft.core.Pools.mapAll(stageThunks, 3)(_())
    val scenariosAnalysisInput =
      stageResults(0).asInstanceOf[Option[org.apache.spark.sql.DataFrame]]
    val capacityFactors = stageResults(1).asInstanceOf[org.apache.spark.sql.DataFrame]
    var prices = stageResults(2).asInstanceOf[org.apache.spark.sql.DataFrame]

    // stage 2 of run_workflow.R: carbon price (pure construction, no jobs)
    val carbonPrice = CarbonPrice.prepareNgfsCarbonPrice(
      spark, in.ngfsCarbonPriceWide, in.startYear)
    // run_workflow.R price stage appends dummy automotive prices wherever
    // the merged scenario set has automotive rows (create_automotive_prices)
    for (scen <- scenariosAnalysisInput) {
      val auto = Prices.createAutomotivePrices(scen)
        .withColumn("source", lit("synthetic"))
        .withColumn("year", col("year").cast("int"))
        .withColumn("price", col("price").cast("double"))
        // the reference's Global write filter (run_prepare_price_data_long
        // .R:360) applies AFTER auto_prices are bound — autos fan out over
        // the scenario table's FULL geography set, and without this filter
        // every non-Global automotive row leaks into the price deliverable
        // (exposed by the real-data run; the dyadic fixtures are
        // Global-only so the r13/r14 gates never saw it)
        .filter(col("scenario_geography") === "Global")
      prices = prices.unionByName(auto, allowMissingColumns = true)
    }

    // the st_inputs renames apply UNCONDITIONALLY (the reference runners
    // always rename before writing), so Outputs carries one schema
    // regardless of which optional stages ran
    var capacityFactorsOut = toStInputNames(capacityFactors)
    var pricesOut = toStInputNames(prices)
    var scenariosOut = scenariosAnalysisInput
    var carbonPriceOut = carbonPrice

    // stage 5 of run_workflow.R (:24-25, run_rename_geographies.R:190-207):
    // regroup identical bench geographies, standardize the names, and
    // rewrite scenario_geography across ALL FOUR st_inputs frames
    val scenariosGeographies = in.benchRegions.map { bench =>
      val frames = Seq(capacityFactorsOut, pricesOut, carbonPriceOut) ++ scenariosOut.toSeq
      val (benchOut, renamed) = Geographies.regroupAndRenameGeographies(bench, frames)
      capacityFactorsOut = renamed(0)
      pricesOut = renamed(1)
      carbonPriceOut = renamed(2)
      if (scenariosOut.isDefined) scenariosOut = Some(renamed(3))
      benchOut // a checkpoint leaf: the v2 reshape and the caller read it
    }

    // stage 6 of run_workflow.R (:39-72): align the scenario, price and
    // capacity-factor frames to the perimeter complete across all three —
    // rewrite-as-new-frames, never in place (a lazy plan must not read a
    // path being overwritten)
    for (scen <- scenariosOut) {
      val (alignedScen, alignedPrices, alignedCf) = Workflow.alignDatasets(
        scen, pricesOut, capacityFactorsOut)
      scenariosOut = Some(alignedScen)
      pricesOut = alignedPrices
      capacityFactorsOut = alignedCf
    }

    // stage 7: abcd (cached by its stage) — read by the financial stage,
    // the v2 assets reshape AND the caller's write
    val abcd = Abcd.prepareAbcdData(in.companyActivities, in.companyEmissions,
      in.startYear, in.timeHorizon, Nil, in.sectorList)

    // stage 8: financials (isin -> company when an ids table is present)
    val financialInput = in.companyIds
      .map(ids => Financial.attachCompanyIds(in.eikonFinancials, ids))
      .getOrElse(in.eikonFinancials)
    val companies = in.companyActivities
      .select("company_id", "ald_sector", "ald_location").distinct()
    // the stage caches its prepared output; the restricted frame derives
    // from that entry, so the entry itself is what cachedFrames lists
    val preparedFinancial = Financial.prepareFinancialData(spark, financialInput, companies,
      in.ownershipTree, minimumSampleSize = 50, minimumRatioSample = 1.0 / 3,
      allowedRangeNpm = (Double.NegativeInfinity, Double.PositiveInfinity))
    val financial = Financial.restrictToAbcdCompanies(preparedFinancial, abcd)

    // stage 9 of run_workflow.R (:98-272): reshape the aligned st_inputs
    // into the TRISK-v2 frames; needs the scenario set (join spine) and the
    // renamed bench regions (country lists per geography)
    val triskV2 = for {
      scen <- scenariosOut
      benchOut <- scenariosGeographies
    } yield TriskV2(
      assets = Workflow.triskV2Assets(abcd),
      scenarios = Workflow.triskV2Scenarios(scen, capacityFactorsOut, pricesOut, benchOut),
      financialFeatures = Workflow.triskV2FinancialFeatures(financial),
      ngfsCarbonPrice = carbonPriceOut)

    Outputs(carbonPriceOut, capacityFactorsOut, pricesOut, abcd, financial,
      scenariosOut, scenariosGeographies, triskV2,
      cachedFrames = Seq(abcd, preparedFinancial) ++ scenariosAnalysisInput.toSeq)
  }
}
