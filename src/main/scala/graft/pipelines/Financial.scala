package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.DataChecks
import graft.core.Barriers.BarrierOps

/** Financial-data preparation pipeline — Spark re-expression of
  * `prepare_financial_data` (reference R/prepare_prewrangled_financial_
  * data_stress_test.R:528-607).
  *
  * Architecture notes vs the reference:
  *  - the three average tiers (sector x region, sector, global) are one
  *    tiny ROLLUP -> broadcast joins onto the company table, whose avg
  *    not-null check is observed on the output's own assertion pass;
  *  - the reference's 94-line pivot-long/pivot-wide "choose best value"
  *    (R:348-441) is a per-indicator coalesce + provenance label (same
  *    result, no reshape — SURVEY R3);
  *  - the closest-parent lookup is a join + min-level window, ties kept
  *    (slice_min semantics), one shuffle on company_id.
  */
object Financial {

  val indicators = Seq("pd", "net_profit_margin", "debt_equity_ratio", "volatility")
  private val provenanceFeatures = Seq("net_profit_margin", "debt_equity_ratio", "volatility")
  private val averageTypes =
    Seq("Eikon", "bics_subgroup_region average", "bics_subgroup average", "global average")

  /** R median (type-7 at p=0.5) skipping NA and NaN — exact percentile
    * with NaN routed to null (Spark skips only nulls).
    */
  private def rMedian(c: Column): Column = percentile(when(!isnan(c), c), lit(0.5))

  /** reference :61-108 create_averages_eikon: grouped medians with
    * sample-size gating; groups with any null/infinite median are dropped,
    * and avg_net_profit_margin must fall inside `allowedRangeNpm`.
    * `extra` aggregates ride along ungated.
    */
  private def averages(
      grouped: RelationalGroupedDataset,
      minimumSampleSize: Double,
      minimumRatioSample: Double,
      allowedRangeNpm: (Double, Double),
      extra: Seq[Column] = Nil): DataFrame = {
    val agged = grouped.agg(
      count(lit(1)).cast("double").as("__size_sample"),
      indicators.map(i => rMedian(col(i)).as(s"avg_$i")) ++ extra: _*)
    // as written in the reference, size_subgroup == size_sample (both are
    // the group size), so ratio_sample_subgroup == 1 — reproduced as-is
    val gated = agged
      .filter(col("__size_sample") > minimumSampleSize || lit(1.0) > minimumRatioSample)
      .filter(indicators.map(i => col(s"avg_$i").isNotNull &&
        col(s"avg_$i") =!= Double.PositiveInfinity &&
        col(s"avg_$i") =!= Double.NegativeInfinity).reduce(_ && _))
      .filter(col("avg_net_profit_margin").between(allowedRangeNpm._1, allowedRangeNpm._2))
    gated.drop("__size_sample")
  }

  /** reference :119-133 — tolerance-free aggregation of the indicators. */
  private def aggregateIndicators(df: DataFrame, grpCols: Seq[String]): DataFrame = {
    val out = averages(df.groupBy(grpCols.map(col): _*), 0, 0,
      (Double.NegativeInfinity, Double.PositiveInfinity))
    indicators.foldLeft(out)((d, i) => d.withColumnRenamed(s"avg_$i", i))
  }

  /** reference :26-42 — country -> region bridge (embedded resource twin of
    * countrycode::codelist, SURVEY §7.4 pt 6). Broadcast lookup.
    */
  def matchLocationToRegion(spark: SparkSession, df: DataFrame): DataFrame = {
    val bridge = countryRegionBridge(spark)
    df.join(broadcast(bridge), Seq("ald_location"), "left").drop("ald_location")
  }

  def countryRegionBridge(spark: SparkSession): DataFrame = {
    val url = getClass.getResource("/country_region_bridge.csv")
    val lines = scala.io.Source.fromURL(url).getLines().drop(1).toSeq
    import spark.implicits._
    lines.map { l => val Array(a, b) = l.split(","); (a, b) }
      .toDF("ald_location", "ald_region")
  }

  /** reference :172-217 — closest-parent financials for companies missing
    * from the raw data: min ownership_level per (company, sector, region),
    * ties kept; parent's indicator values attached.
    */
  private def closestParentFinancials(
      missing: DataFrame,
      financial: DataFrame,
      ownershipTree: DataFrame): DataFrame = {
    val joined = missing
      .join(ownershipTree.withColumnRenamed("subsidiary_company_id", "company_id"),
        Seq("company_id"), "left")
      .withColumn("ownership_level", coalesce(col("ownership_level"), lit(0)))
      .withColumn("parent_company_id", coalesce(col("parent_company_id"), col("company_id")))
    val w = Window.partitionBy(col("company_id"), col("ald_sector"), col("ald_region"))
      .orderBy(col("ownership_level"))
    val closest = joined.withColumn("__rk", rank().over(w)).filter(col("__rk") === 1)
      .drop("__rk")
    val parentVals = financial
      .select((Seq(col("company_id").as("parent_company_id"), col("ald_region"),
        col("ald_sector")) ++ indicators.map(col)): _*)
    val out = closest
      .join(parentVals, Seq("parent_company_id", "ald_region", "ald_sector"), "left")
      .drop("parent_company_id", "linking_stake", "ownership_level")
    // reference :212-214 — closest-parent attach must not duplicate keys
    DataChecks.assertUniqueKeys(out, Seq("company_id", "ald_sector", "ald_region"))
    out
  }

  /** reference :303-339 — each row takes the first `rolled` tier it matches
    * (grouping id 0 sector x region, 1 sector, 3 global; a tier row with a
    * null key of its own is dropped, as the per-tier pre-filters did). A row
    * matching none drops, like bind_cols with an empty global frame.
    */
  private def attachAverages(df: DataFrame, rolled: DataFrame): DataFrame = {
    val tiers = Seq((0, "bics_subgroup_region", Seq("ald_sector", "ald_region")),
      (1, "bics_subgroup", Seq("ald_sector")), (3, "global", Nil))
    val joined = tiers.foldLeft(df) { case (d, (t, label, keys)) =>
      val side = broadcast(rolled
        .filter(keys.foldLeft(col("__tier") === t)((c, k) => c && col(k).isNotNull))
        .select(keys.map(col) ++ (lit(label).as(s"__type$t") +:
          indicators.map(i => col(s"avg_$i").as(s"__avg${t}_$i"))): _*))
      if (keys.isEmpty) d.join(side, lit(true), "left") else d.join(side, keys, "left")
    }
    def firstMatch(name: Int => String): Column = tiers.map(_._1).tail.foldLeft(
      when(col("__type0").isNotNull, col(name(0))))(
      (c, t) => c.when(col(s"__type$t").isNotNull, col(name(t))))
    val avgs = indicators.map(i => firstMatch(t => s"__avg${t}_$i").as(s"avg_$i"))
    val label = firstMatch(t => s"__type$t").as("average_type")
    joined.select(df.columns.map(col) ++ avgs :+ label: _*)
      .filter(col("average_type").isNotNull)
  }

  /** run_prepare_prewrangled_financial_data_stress_test.R:11-18 — attach
    * company ids to per-ISIN eikon rows (inner join: unmatched ISINs drop).
    */
  def attachCompanyIds(eikon: DataFrame, ids: DataFrame): DataFrame =
    eikon.join(ids.select("isin", "company_id").distinct(), Seq("isin"))

  /** run script :56-58 — keep only companies present in the abcd output
    * (J7 semi join).
    */
  def restrictToAbcdCompanies(financial: DataFrame, abcd: DataFrame): DataFrame =
    financial.join(abcd.select("company_id").distinct(), Seq("company_id"), "left_semi")

  def prepareFinancialData(
      spark: SparkSession,
      financialData: DataFrame,
      companiesData: DataFrame,
      ownershipTree: Option[DataFrame],
      minimumSampleSize: Double,
      minimumRatioSample: Double,
      allowedRangeNpm: (Double, Double)): DataFrame = {

    // reference :531 — attach sector (duplicates rows for multi-sector firms)
    var financial = financialData.join(
      companiesData.select("company_id", "ald_sector").distinct(), Seq("company_id"), "left")

    // reference :534-537 — region bridge, then aggregate isin -> company
    financial = matchLocationToRegion(spark, financial)
    financial = aggregateIndicators(financial, Seq("company_id", "ald_sector", "ald_region"))

    // reference :540 — null implausible npm (<= 0 or > 1)
    financial = financial.withColumn("net_profit_margin",
      when(col("net_profit_margin") <= 0 || col("net_profit_margin") > 1, lit(null))
        .otherwise(col("net_profit_margin")))
    // JUNCTION BARRIER (SURVEY §7.4 pt 7): `financial` is re-read by the
    // missing-company anti join, the parent tree and values, the averages
    // rollup and the final union — five consumers. localCheckpoint
    // truncates the lineage so the downstream Catalyst trees carry a leaf
    // instead of five copies of the median aggregation (and at scale, five
    // scans of the aggregated company table become one materialization).
    financial = financial.planBarrier()

    // reference :546-556 — companies in production but not in financials
    var missing = companiesData.select("company_id", "ald_sector", "ald_location").distinct()
      .join(financial.select("company_id").distinct(), Seq("company_id"), "left_anti")
    missing = matchLocationToRegion(spark, missing).distinct()
    missing = ownershipTree match {
      case Some(tree) =>
        val filteredTree = tree.join(
          financial.select(col("company_id").as("parent_company_id")).distinct(),
          Seq("parent_company_id"), "left_semi")
        closestParentFinancials(missing, financial, filteredTree)
      case None =>
        indicators.foldLeft(missing)((d, i) => d.withColumn(i, lit(null).cast("double")))
    }

    // reference :561-581 — averages from ORIGINAL values only, all three
    // tiers in one ROLLUP, then attach
    val rolled = averages(financial.rollup(col("ald_sector"), col("ald_region")),
      minimumSampleSize, minimumRatioSample, allowedRangeNpm, Seq(grouping_id().as("__tier")))

    val all = financial.unionByName(missing.select(financial.columns.map(col): _*),
        allowMissingColumns = true)
      .filter(col("company_id").isNotNull)
    // the not-null check rides the final assertAll below, which
    // materializes the cached output this frame feeds
    val withAvg = DataChecks.observeChecks(attachAverages(all, rolled),
      Seq(DataChecks.notNullCheck(indicators.map(i => s"avg_$i"))))

    // reference :348-441 select_final_financial_value_using_averages,
    // re-expressed as coalesce + provenance (no pivot round-trip)
    var fin = withAvg.df
    for (i <- indicators) {
      fin = fin.withColumn(s"final_$i", coalesce(col(i), col(s"avg_$i")))
      if (provenanceFeatures.contains(i))
        fin = fin.withColumn(s"indicator_type_$i",
          when(col(i).isNotNull, "Eikon")
            .otherwise(concat(col("average_type"), lit(" average"))))
    }
    fin = fin.select((Seq("company_id", "ald_region", "ald_sector").map(col) ++
      indicators.map(i => col(s"final_$i").as(i)) ++
      provenanceFeatures.map(i => col(s"indicator_type_$i"))): _*)
    // (r15: no junction barrier here any more — the merged aggregate below
    // is this frame's ONLY consumer, so a barrier would just add a job)

    // reference :586-596 — company-level medians AND provenance counts in
    // ONE keyed aggregate (r15, guide §2.3/§2.4): the former spelling ran
    // aggregateIndicators + one pivot-count PER provenance feature + a
    // distinct-join per feature — seven exchanges and three joins, every
    // one keyed on company_id. A pivot over an explicit value list is just
    // conditional counts, so all of it folds into the median aggregate:
    // one exchange, no joins, bit-identical output (count() is 0 when no
    // row matches, exactly like the pivoted coalesce(_, 0L)).
    val countAggs = for { ff <- provenanceFeatures; t <- averageTypes }
      yield count(when(col(s"indicator_type_$ff") === t, lit(1)))
        .as(s"indicator_type_${ff}_$t")
    val agged = fin.groupBy(col("company_id")).agg(
      count(lit(1)).cast("double").as("__size_sample"),
      (indicators.map(i => rMedian(col(i)).as(s"avg_$i")) ++ countAggs): _*)
    // same gate as aggregateIndicators (averages with 0/0/(-Inf,Inf)):
    // the size gate is vacuous, the finite-median filters are not
    val gatedCompany = agged
      .filter(indicators.map(i => col(s"avg_$i").isNotNull &&
        col(s"avg_$i") =!= Double.PositiveInfinity &&
        col(s"avg_$i") =!= Double.NegativeInfinity).reduce(_ && _))
      .filter(col("avg_net_profit_margin")
        .between(Double.NegativeInfinity, Double.PositiveInfinity))
      .drop("__size_sample")
    var out = indicators.foldLeft(gatedCompany)((d, i) => d.withColumnRenamed(s"avg_$i", i))

    // reference :484-500 identify_indicator_provenance: raw-data ratio per
    // feature — horizontal expression, never a rowwise UDF
    for (ff <- provenanceFeatures) {
      val cols = averageTypes.map(t => col(s"`indicator_type_${ff}_$t`"))
      out = out.withColumn(s"${ff}_rawdata_ratio",
        col(s"`indicator_type_${ff}_Eikon`") / cols.reduce(_ + _))
      out = out.drop(averageTypes.map(t => s"indicator_type_${ff}_$t"): _*)
    }

    // reference :600-603 — nothing may be null. The stage output is cached
    // (its caller reads it more than once), so the assertion action
    // materializes the frame the caller consumes
    out = graft.core.Barriers.stageCache(out, "financial")
    DataChecks.assertAll(out, Seq(DataChecks.notNullCheck(out.columns.toSeq)))
    withAvg.assertClean()
    out
  }
}
