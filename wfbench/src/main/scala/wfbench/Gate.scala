package wfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Row count, order-independent digest and invariant violations of one
  * written output. `extra` is the abcd distinct-company count or the
  * number of dummy automotive price rows, for the cross-output checks.
  */
final case class OutputCheck(name: String, rows: Long, digest: Long, extra: Long,
    violations: Seq[String])

/** The correctness gate run on every workflow run, on the parquet it wrote:
  * the RunWorkflowSpec invariants, the TRISK-v2 column counts (15/14/5),
  * a non-empty table per output, and digests that must repeat run to run.
  *
  * The digest sums a 31-bit hash of every row, with doubles narrowed to
  * floats so that the last-bit noise of a reordered floating-point sum
  * does not change it.
  */
object Gate {

  private def rowDigest(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType == DoubleType) col(f.name).cast(FloatType) else col(f.name)
    }
    coalesce(sum(pmod(xxhash64(cols: _*), lit(2147483647L))), lit(0L))
  }

  private def countIf(c: Column): Column = sum(when(c, 1L).otherwise(0L))

  /** Per-output invariants: (description, count of rows breaking it). */
  private def invariants(name: String): Seq[(String, Column)] = name match {
    case "capacity_factors" => Seq("capacity_factor outside [0, 1]" -> countIf(
      col("capacity_factor").isNull || col("capacity_factor") < 0 || col("capacity_factor") > 1))
    case "prices" => Seq("null or negative price" -> countIf(
      col("price").isNull || col("price") < 0))
    case "financial" => Seq("null pd" -> countIf(col("pd").isNull))
    case "scenarios_analysis_input" => Seq("unclassified scenario_type" ->
      countIf(col("scenario_type").isNull))
    case "v2_assets" => Seq("capacity_factor outside [0, 1]" -> countIf(
      col("capacity_factor") < 0 || col("capacity_factor") > 1))
    case "v2_scenarios" => Seq("null scenario_capacity_factor" ->
      countIf(col("scenario_capacity_factor").isNull))
    case "v2_financial_features" => Seq("null feature" -> countIf(
      col("pd").isNull || col("net_profit_margin").isNull ||
        col("debt_equity_ratio").isNull || col("volatility").isNull))
    case _ => Nil
  }

  private val expectedColumns = Map(
    "v2_assets" -> 15, "v2_scenarios" -> 14, "v2_financial_features" -> 5)

  /** One aggregate job over the written output at `path`. */
  def check(spark: SparkSession, name: String, path: String): OutputCheck = {
    val df = spark.read.parquet(path)
    val inv = invariants(name)
    val extra = name match {
      case "abcd" => countDistinct(col("company_id")).cast("long")
      case "prices" => countIf(col("unit") === "dummy" && col("price") === 1.0)
      case _ => lit(0L)
    }
    val aggs = Seq(count(lit(1)), rowDigest(df), coalesce(extra, lit(0L))) ++
      inv.map(i => coalesce(i._2, lit(0L)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(0)
    var bad = inv.indices.flatMap { i =>
      val n = r.getLong(3 + i)
      if (n > 0) Some(s"$name: $n rows with ${inv(i)._1}") else None
    }
    if (rows == 0) bad :+= s"$name: no rows"
    for (n <- expectedColumns.get(name) if df.columns.length != n)
      bad :+= s"$name: ${df.columns.length} columns, expected $n"
    if (name == "scenarios_geographies" && !df.columns.contains("scenario_geography_newname"))
      bad :+= s"$name: no scenario_geography_newname column"
    if (name == "v2_financial_features" && df.columns.toSeq !=
        Seq("company_id", "pd", "net_profit_margin", "debt_equity_ratio", "volatility"))
      bad :+= s"$name: columns ${df.columns.mkString(",")}"
    OutputCheck(name, rows, r.getLong(1), r.getLong(2), bad)
  }

  /** Checks that span outputs: the financial table holds one row per abcd
    * company, and automotive scenarios surface as dummy unit prices.
    */
  def crossChecks(checks: Seq[OutputCheck], automotiveScenarios: Boolean): Seq[String] = {
    val by = checks.map(c => c.name -> c).toMap
    val companies = for (a <- by.get("abcd"); f <- by.get("financial")
        if a.extra != f.rows) yield
      s"financial: ${f.rows} rows for ${a.extra} abcd companies"
    val dummies = by.get("prices").filter(p => automotiveScenarios && p.extra == 0)
      .map(_ => "prices: no dummy automotive prices")
    companies.toSeq ++ dummies
  }
}
