package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reshaping operators (SURVEY §2.8) — pivot/unpivot are load-bearing in
  * every reference pipeline (wide `Equity Ownership YYYY` columns -> long
  * rows, R/prepare_abcd_stress_test_input.R:17-32).
  */
object Reshape {

  /** R1: unpivot wide year-named columns to (ids..., year:int, value),
    * extracting the year from the column name by regex like the reference's
    * names_pattern (R/prepare_abcd_stress_test_input.R:22-32 pulls "\\d+"
    * out of "Equity Ownership 2022"). Uses Dataset.unpivot (melt) — a single
    * narrow projection, no shuffle.
    */
  def unpivotYears(df: DataFrame, ids: Seq[String], valueName: String = "value"): DataFrame = {
    val yearCols = df.columns.filterNot(ids.contains).filter(_.exists(_.isDigit))
    df.unpivot(ids.map(col).toArray, yearCols.map(col).toArray, "__name", valueName)
      .withColumn("year", regexp_extract(col("__name"), "\\d+", 0).cast("int"))
      .drop("__name")
  }

  /** R2: pivot long -> wide, first value per cell (reference pivot_wider,
    * R/prepare_prewrangled_capacity_factors.R:450-464). Pass the expected
    * label values explicitly — at scale an unbounded pivot needs a collect
    * to discover labels; pinning them keeps the plan static.
    */
  def pivotWide(df: DataFrame, ids: Seq[String], nameCol: String, valueCol: Column,
                labels: Seq[String]): DataFrame =
    df.groupBy(ids.map(col): _*)
      .pivot(nameCol, labels)
      .agg(first(valueCol, ignoreNulls = true))

  /** U5: "duplicate slice under new label" as one generator (reference
    * R/prepare_prewrangled_capacity_factors.R:225-237 clones SDS rows as
    * NZE2050) — the 1→N sibling of [[recodeValues]]. A row whose `c` is a
    * key of `copies` is emitted once per listed label (list the key itself
    * to keep the original row; an empty list drops the row); an unmapped
    * value or a null passes through unchanged. One pass over `df`, so the
    * input has a single consumer — unlike a filter → relabel → union clone,
    * which reads it twice.
    */
  def fanOut(df: DataFrame, c: String, copies: Map[String, Seq[String]]): DataFrame =
    df.withColumn(c, explode(coalesce(element_at(typedLit(copies), col(c)), array(col(c)))))

  /** P14/P10: recode values through a small dict; unmapped values pass
    * through (reference R/helpers.R:156-168 rename_column_values). A map
    * literal + element_at keeps it codegen'd; a broadcast-join variant would
    * be used if the dict were large.
    */
  def recodeValues(df: DataFrame, c: String, mapping: Map[String, String]): DataFrame = {
    val m = typedLit(mapping)
    df.withColumn(c, coalesce(element_at(m, col(c)), col(c)))
  }

  /** R6: concat columns with separator, dropping sources (reference
    * tidyr::unite, R/prepare_prewrangled_capacity_factors.R:490-493).
    */
  def unite(df: DataFrame, out: String, cols: Seq[String], sep: String = "_"): DataFrame =
    df.withColumn(out, concat_ws(sep, cols.map(col): _*)).drop(cols.filterNot(_ == out): _*)

  /** R7: split a column on a separator into two (reference tidyr::separate,
    * R/prepare_scenario_data.R:842-843).
    */
  def separate(df: DataFrame, c: String, into: (String, String), sep: String = "_"): DataFrame = {
    val parts = split(col(c), sep)
    df.withColumn(into._1, parts.getItem(0))
      .withColumn(into._2, parts.getItem(1))
      .drop(c)
  }
}
