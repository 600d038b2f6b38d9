package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.DataChecks
import graft.ops.{Aggregates, Reshape, TimeSeries}

/** ABCD stress-test input pipeline — the Spark re-expression of
  * `prepare_abcd_data` (reference R/prepare_abcd_stress_test_input.R:
  * 339-426). One lazy plan end-to-end: the sector filter sits at the wide
  * inputs and later steps are windows, not self-joins, so no frame has two
  * consumers and the cached output is the one pin. The group keys stay on
  * the (company_id, sector, business_unit, location, unit) prefix throughout,
  * so the complete -> interpolate -> fill chain and the aggregations reuse
  * a consistent partitioning.
  *
  * Inputs are the wide datalake tables with `Equity Ownership YYYY`
  * columns (FIXTURES.md §2):
  *  - activities: company_id, company_name, ald_sector, ald_business_unit,
  *    ald_location, activity_unit, Equity Ownership YYYY...
  *  - emissions: same shape, units tCO2/tCO2e.
  */
object Abcd {

  private val mergeKeys = Seq(
    "company_id", "company_name", "ald_sector", "ald_business_unit", "ald_location", "year")

  private def groupAllExcept(df: DataFrame, except: Seq[String])(aggs: Seq[Column]): DataFrame = {
    val keys = df.columns.filterNot(except.contains).toSeq
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** reference :22-46 — unpivot Equity Ownership years and aggregate
    * duplicate rows with sum-or-all-null (A6).
    */
  private def unpivotAndAggregate(wide: DataFrame): DataFrame = {
    val ids = wide.columns.filterNot(_.startsWith("Equity Ownership")).toSeq
    val long = Reshape.unpivotYears(wide, ids, valueName = "equity_ownership")
    // key this dedup-aggregate's ONE exchange on the downstream merge keys
    // (a strict subset of the grouping keys — clustering by fewer keys
    // still satisfies the aggregate's required distribution), so the
    // activities-emissions outer join on exactly these keys reuses the
    // partitioning instead of re-shuffling BOTH pre-aggregated sides
    // (guide §2.4 exchange sharing; r15 plan diff: 2 fewer Exchanges).
    // Trade-off: the explicit repartition lands above the partial
    // aggregate, so the shuffle moves un-combined rows — duplicates in
    // the raw feed are rare (the aggregate is a dedup gate, groups are
    // ~1 row), so map-side combine saved ~nothing here.
    groupAllExcept(long.repartition(mergeKeys.map(col): _*), Seq("equity_ownership"))(
      Seq(Aggregates.sumOrAllNull(col("equity_ownership")).as("equity_ownership")))
  }

  /** R `is.na` counts NaN as missing; Spark isNull does not. */
  private def isMissing(c: Column): Column = c.isNull || isnan(c)
  private def nanAsNull(c: Column): Column = when(!isnan(c), c)

  def prepareAbcdData(
      companyActivities: DataFrame,
      companyEmissions: DataFrame,
      startYear: Int,
      timeHorizon: Int,
      additionalYears: Seq[Int] = Nil,
      sectorList: Seq[String]): DataFrame = {

    // reference :303-307 sector filter, at the input: every key set below
    // holds ald_sector (merge, groupAllExcept, nesting, fill, MW/MWh,
    // (sector, bu) EF fill, empty-key), so no dropped row meets a kept one
    val inSectors = col("ald_sector").isin(sectorList: _*)

    // reference :348-357
    val activities = unpivotAndAggregate(companyActivities.filter(inSectors))
      .withColumnRenamed("activity_unit", "ald_production_unit")
      .withColumnRenamed("equity_ownership", "ald_production")
    val emissions = unpivotAndAggregate(companyEmissions.filter(inSectors))
      .withColumnRenamed("activity_unit", "emissions_factor_unit")
      .withColumnRenamed("equity_ownership", "emissions_factor")

    // reference :67-80 match_emissions_to_production: full outer on 6 keys
    var abcd = activities.join(emissions, mergeKeys, "outer")

    // reference :369-371: drop NA locations, aggregate duplicate keys
    abcd = abcd.filter(col("ald_location").isNotNull)
    abcd = groupAllExcept(abcd, Seq("ald_production", "emissions_factor"))(Seq(
      Aggregates.sumOrAllNull(col("ald_production")).as("ald_production"),
      Aggregates.sumOrAllNull(col("emissions_factor")).as("emissions_factor")))

    // reference :95-106 complete the year grid per nesting keys, then
    // :267-295 interior interpolation, forward fill and 0, all on the
    // nesting keys' one partitioning. R's is.na counts NaN as missing in
    // every step, so NaN enters the chain as null.
    val nesting = Seq("company_id", "company_name", "ald_sector", "ald_business_unit",
      "ald_location", "ald_production_unit", "emissions_factor_unit")
    val values = Seq("ald_production", "emissions_factor")
    abcd = TimeSeries.completeInterpolate(
      abcd.withColumns(values.map(c => c -> nanAsNull(col(c))).toMap),
      nesting, "year", values, TimeSeries.Axis.Fixed(startYear, startYear + timeHorizon))
    abcd = values.foldLeft(abcd)((d, c) => TimeSeries.fillDown(d, nesting, "year", c, c))
    abcd = abcd.withColumns(values.map(c => c -> coalesce(col(c), lit(0.0))).toMap)

    // reference :175-210 create_emissions_factor_ratio (EF := EF/production;
    // division is IEEE in both R and Spark doubles, 0/0 -> NaN, x/0 -> Inf,
    // cleaned below exactly like the reference)
    abcd = abcd
      .withColumn("emissions_factor", col("emissions_factor") / col("ald_production"))
      .withColumn("emissions_factor_unit",
        when(col("emissions_factor_unit").isNotNull,
          concat_ws("/", col("emissions_factor_unit"), col("ald_production_unit")))
          .otherwise("unknown"))
    val columns = abcd.columns.toSeq
    // the next two steps replace (unit, EF) with each pair a generator yields
    val efPair = struct(col("emissions_factor_unit"), col("emissions_factor"))
    def explodeEf(df: DataFrame, pairs: Column): DataFrame = df
      .withColumn("__ef", pairs)
      .select(columns.map {
        case c @ ("emissions_factor_unit" | "emissions_factor") => col(s"__ef.$c").as(c)
        case c => col(c)
      }: _*)

    // reference :193-207: each distinct MW row takes every distinct (unit,
    // EF) of the MWh rows with its merge keys; MWh rows go. As in the
    // inner join, a null merge key matches nothing; a null unit fails isin.
    val unit = col("ald_production_unit")
    val mwh = collect_set(when(unit === "MWh", efPair))
      .over(Window.partitionBy(mergeKeys.map(col): _*))
    val firstOfProduction = row_number().over(
      Window.partitionBy((mergeKeys :+ "ald_production_unit" :+ "ald_production").map(col): _*)
        .orderBy(col("emissions_factor_unit"))) === 1
    abcd = explodeEf(
      abcd.withColumn("__mwh", mwh).withColumn("__first", firstOfProduction)
        .filter(!unit.isin("MW", "MWh") ||
          (unit === "MW" && col("__first") && mergeKeys.map(col(_).isNotNull).reduce(_ && _))),
      explode(when(unit === "MW", col("__mwh")).otherwise(array(efPair))))

    // reference :130-168 fill_missing_emission_factor: a missing EF row
    // fans out to one copy per EF unit of its (sector, bu), each with that
    // unit's mean, as the left join did; a null sector or bu gets (null, 0).
    val bySectorBu = Window.partitionBy(col("ald_sector"), col("ald_business_unit"))
    val unitMean = avg(nanAsNull(col("emissions_factor"))).over(
      bySectorBu.orderBy(col("emissions_factor_unit"))
        .rangeBetween(Window.currentRow, Window.currentRow))
    val unitMeans = collect_set(
      struct(col("emissions_factor_unit"), col("__mean").as("emissions_factor"))).over(bySectorBu)
    abcd = explodeEf(
      abcd.withColumn("__mean", unitMean).withColumn("__means", unitMeans),
      explode_outer(when(!isMissing(col("emissions_factor")), array(efPair))
        .when(col("ald_sector").isNotNull && col("ald_business_unit").isNotNull, col("__means"))))
    abcd = abcd.withColumn("emissions_factor",
      when(col("ald_production") === 0, 0.0)
        .otherwise(coalesce(nanAsNull(col("emissions_factor")), lit(0.0))))

    // reference :216-237 drop keys whose production is all-null-or-zero; a
    // window partition groups null keys together, as dplyr's anti_join does
    val assetKeys = columns.filterNot(Seq("year", "ald_production", "emissions_factor").contains)
    abcd = abcd
      .withColumn("__empty", Aggregates.allNullOrZero(col("ald_production"),
        Window.partitionBy(assetKeys.map(col): _*)))
      .filter(!col("__empty")).drop("__empty")

    abcd = abcd
      .withColumnRenamed("ald_production", "plan_tech_prod")
      .withColumnRenamed("emissions_factor", "plan_emission_factor")

    // reference :117-124 year filter
    val years = (startYear to startYear + timeHorizon) ++ additionalYears
    abcd = abcd.filter(col("year").isin(years: _*))

    // reference :309-320 create_asset_id. The reference numbers assets by
    // arrival order (non-deterministic under parallelism, SURVEY §7.4 pt 4);
    // we pin (ald_location, ald_business_unit) — same ids on every run.
    val idKeys = Seq("company_id", "ald_location", "ald_business_unit")
    abcd = abcd
      .withColumn("asset_id",
        concat_ws("_", col("company_id").cast("string"),
          dense_rank().over(Window.partitionBy(col("company_id"))
            .orderBy(col("ald_location"), col("ald_business_unit"))).cast("string")))
    abcd = abcd.select((idKeys ++ abcd.columns.filterNot(idKeys.contains)).map(col): _*)

    abcd = abcd
      .withColumn("scenario_geography", lit("Global"))
      .withColumnRenamed("ald_location", "country_iso2")

    // reference :423 — result must have no duplicate rows; cached so the
    // uniqueness action materializes the frame the caller consumes
    abcd = abcd.cache()
    DataChecks.assertUniqueKeys(abcd, abcd.columns.toSeq)
    abcd
  }
}
