package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.DataChecks
import graft.ops.{Reshape, TimeSeries}

/** NGFS carbon-price pipeline — Spark re-expression of
  * `prepare_ngfs_carbon_price` (reference R/prepare_ngfs_carbon_price.R:
  * 12-177): inject literal default-tax scenarios, apply Indonesia point
  * edits on the wide frame, unpivot, complete 2015-2100, interpolate only
  * listed scenarios from 2025 on (everything else is 0).
  */
object CarbonPrice {

  /** Scenarios whose gaps are interpolated (reference :119-162); all other
    * (scenario, year) cells — and every year < 2025 — become 0.
    */
  val interpolatedScenarios: Seq[String] = Seq(
    "DN0", "NDC", "NZ2050", "B2DS", "DN0_Indonesia", "B2DS_Indonesia",
    "NZ2050_Indonesia", "NDC_Indonesia_moderate", "NDC_Indonesia_market_assumption",
    "NZ2050_Indonesia_market_assumption", "flat_carbon_tax_50",
    "independent_increasing_carbon_tax_50", "increasing_carbon_tax_50", "DT_Indonesia")

  private val fiveYearGrid = (2015 to 2100 by 5).map(_.toString)

  /** reference :48-76 — the injected literal scenarios (S7). */
  def injectedScenarios(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def flat(name: String, v: Double) =
      (name, name, "Global", "Price|Carbon", "US$2010/t CO2") -> fiveYearGrid.map(_ => v)
    val increasing = Seq(0, 0, 50, 60.83, 74.01, 90.05, 109.56, 133.29, 162.17, 197.30,
      240.05, 292.06, 355.33, 432.32, 525.98, 639.94, 778.58, 947.26).map(_.toDouble)
    val rows = Seq(
      flat("no_carbon_tax", 0.0),
      flat("flat_carbon_tax_50", 50.0),
      flat("increasing_carbon_tax_50", 50.0),
      ("independent_increasing_carbon_tax_50", "independent_increasing_carbon_tax_50",
        "Global", "Price|Carbon", "US$2010/t CO2") -> increasing)
    val df = rows.map { case ((m, s, g, v, u), vals) =>
      (m, s, g, v, u, vals)
    }.toDF("model", "scenario", "scenario_geography", "variable", "unit", "vals")
    fiveYearGrid.zipWithIndex.foldLeft(df) { case (d, (y, i)) =>
      d.withColumn(y, col("vals").getItem(i))
    }.drop("vals")
  }

  /** @param data wide NGFS frame: Model, Scenario, Region, Variable, Unit,
    *             year columns 2015..2100 in 5-year steps
    */
  def prepareNgfsCarbonPrice(spark: SparkSession, data: DataFrame, startYear: Int): DataFrame = {
    val endYear = 2100
    DataChecks.requireColumns(data,
      Seq("Model", "Scenario", "Region", "Variable", "Unit", endYear.toString))
    // reference :26-29 — a year column within 4 years before startYear must exist
    require((startYear - 4 to startYear).exists(y => data.columns.contains(y.toString)),
      s"no year column within [${startYear - 4}, $startYear]")

    var wide = data
      .withColumnRenamed("Model", "model")
      .withColumnRenamed("Scenario", "scenario")
      .withColumnRenamed("Region", "scenario_geography")
      .withColumnRenamed("Variable", "variable")
      .withColumnRenamed("Unit", "unit")
      .withColumn("scenario_geography",
        when(col("scenario_geography") === "World", "Global")
          .otherwise(col("scenario_geography")))

    wide = wide.unionByName(injectedScenarios(spark), allowMissingColumns = true)

    // reference :78-92 — Indonesia point edits on the wide columns
    def pointEdit(df: DataFrame, scenario: String, edits: Map[String, Option[Double]]) =
      edits.foldLeft(df) { case (d, (y, v)) =>
        if (!d.columns.contains(y)) d
        else d.withColumn(y, when(col("scenario") === scenario,
          v.map(lit).getOrElse(lit(null))).otherwise(col(y)))
      }
    wide = pointEdit(wide, "NDC_Indonesia_moderate",
      Map("2025" -> Some(2.0), "2030" -> None, "2035" -> Some(10.0), "2040" -> None, "2045" -> None))
    wide = pointEdit(wide, "NDC_Indonesia_market_assumption",
      Map("2025" -> Some(5.0), "2030" -> None, "2035" -> Some(35.0)))
    wide = pointEdit(wide, "NZ2050_Indonesia_market_assumption",
      Map("2025" -> Some(5.0), "2030" -> None, "2035" -> Some(35.0)))

    // reference :94-100 unpivot
    val keys = Seq("model", "scenario", "scenario_geography", "variable", "unit")
    val long = Reshape.unpivotYears(wide, keys, valueName = "carbon_tax")

    // reference :102-110 complete min(year)..2100 per nesting keys.
    // min(year) over the whole frame is a driver-side scalar: the grid is
    // static (2015 for the NGFS vintages), read it from the data lazily
    // via a 1-row aggregate join instead of a collect at scale; here the
    // wide column set already tells us the minimum.
    val minYear = wide.columns.flatMap(c => scala.util.Try(c.toInt).toOption).min

    // reference :115-165 — conditional interpolation
    TimeSeries.completeInterpolate(long, keys, "year", Seq("carbon_tax"),
        TimeSeries.Axis.Fixed(minYear, endYear))
      .withColumn("carbon_tax",
        when(col("scenario").isin(interpolatedScenarios: _*) && col("year") >= 2025,
          col("carbon_tax")).otherwise(lit(0.0)))
  }
}
