package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Runtime data-quality assertions — the port of the reference's inline
  * `assertr::verify` / `stopifnot` checks, which are its real test surface
  * (reference: R/prepare_prewrangled_financial_data_stress_test.R:211-214,
  * 330,333-336,600-603; R/prepare_prewrangled_capacity_factors.R:177-193
  * capacity_factor in [0,1]; R/prepare_price_data_long.R:224-231 price >= 0;
  * R/prepare_scenario_data.R:174-182 schema checks).
  *
  * Column-set checks are plan-only (free). Value checks are actions — each
  * one executes the plan, so pipelines should checkpoint/cache before a
  * cluster-scale check, fold several checks into one aggregate pass with
  * [[assertAll]], or ride the pipeline's own action at no extra job with
  * [[observeChecks]].
  */
object DataChecks {
  final case class CheckFailed(msg: String) extends RuntimeException(msg)

  /** reference R/prepare_scenario_data.R:89-99 check_crucial_names. */
  def requireColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty) throw CheckFailed(s"missing columns: ${missing.mkString(", ")}")
    df
  }

  /** Count of rows violating a predicate (single job, no collect of data). */
  def violations(df: DataFrame, pred: Column): Long =
    df.filter(!coalesce(pred, lit(false))).count()

  /** reference R/prepare_prewrangled_financial_data_stress_test.R:600-603. */
  def assertNoNull(df: DataFrame, cols: Seq[String]): DataFrame = {
    val bad = df.filter(cols.map(col(_).isNull).reduce(_ || _)).count()
    if (bad > 0) throw CheckFailed(s"$bad rows with nulls in ${cols.mkString(",")}")
    df
  }

  /** reference R/prepare_prewrangled_capacity_factors.R:177-193 bounds. */
  def assertBetween(df: DataFrame, c: String, lo: Double, hi: Double): DataFrame = {
    val bad = violations(df, col(c).isNotNull && col(c) >= lo && col(c) <= hi)
    if (bad > 0) throw CheckFailed(s"$bad rows with $c outside [$lo,$hi] or null")
    df
  }

  /** reference R/prepare_abcd_stress_test_input.R:423 unique-row check;
    * R/helpers.R:36-52 duplicate reporter.
    */
  def assertUniqueKeys(df: DataFrame, keys: Seq[String]): DataFrame = {
    val dups = df.groupBy(keys.map(col): _*).count().filter(col("count") > 1).count()
    if (dups > 0) throw CheckFailed(s"$dups duplicated key combos on ${keys.mkString(",")}")
    df
  }

  /** reference R/helpers.R:97-108 report_diff_rows: assert a stage kept
    * the row count it started with (merge/join fan-out guard).
    */
  def assertRowCountUnchanged(df: DataFrame, initialNRows: Long, cause: String = ""): DataFrame = {
    val n = df.count()
    if (n != initialNRows)
      throw CheckFailed(s"row count changed $initialNRows -> $n${if (cause.isEmpty) "" else s" ($cause)"}")
    df
  }

  /** Named row-level predicates for the batched checks below. */
  def notNullCheck(cols: Seq[String]): (String, Column) =
    s"no_null_${cols.mkString("_")}" -> cols.map(col(_).isNotNull).reduce(_ && _)

  def betweenCheck(c: String, lo: Double, hi: Double): (String, Column) =
    s"${c}_between" -> (col(c).isNotNull && col(c) >= lo && col(c) <= hi)

  /** Run N row-level checks in ONE aggregate pass (N separate assert*
    * calls would re-execute the upstream plan N times — at 100 TB a
    * pipeline with three checks runs ~4×). Throws listing every failing
    * check at once.
    */
  def assertAll(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "assertAll needs at least one check")
    val aggs = checks.map { case (name, pred) =>
      sum((!coalesce(pred, lit(false))).cast("long")).as(name)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val failed = checks.zipWithIndex.collect {
      case ((name, _), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$name (${row.getLong(i)} rows)"
    }
    if (failed.nonEmpty) throw CheckFailed(s"checks failed: ${failed.mkString("; ")}")
    df
  }

  /** Handle returned by [[observeChecks]]: call [[assertClean]] AFTER the
    * frame's terminal action to throw on violations.
    */
  final class ObservedChecks(val df: DataFrame,
      observation: org.apache.spark.sql.Observation,
      names: Seq[String]) {
    /** Blocks until the observed action completes (Observation.get), then
      * throws [[CheckFailed]] listing every violated check.
      */
    def assertClean(): Unit = {
      val metrics = observation.get
      val failed = names.flatMap { n =>
        metrics.get(n) match {
          case Some(v: Long) if v > 0 => Some(s"$n ($v rows)")
          case _ => None
        }
      }
      if (failed.nonEmpty) throw CheckFailed(s"checks failed: ${failed.mkString("; ")}")
    }
  }

  /** Zero-extra-pass checks: violation counters ride the frame's OWN
    * terminal action via Dataset.observe — no additional job at all
    * (assertAll still costs one extra aggregate job; this costs none).
    * Usage:
    * {{{
    * val oc = DataChecks.observeChecks(out, Seq(DataChecks.betweenCheck("cf", 0, 1)))
    * oc.df.write.parquet(path)   // the pipeline's real action
    * oc.assertClean()            // throws if any check saw violations
    * }}}
    */
  def observeChecks(df: DataFrame, checks: Seq[(String, Column)]): ObservedChecks = {
    require(checks.nonEmpty, "observeChecks needs at least one check")
    val obs = org.apache.spark.sql.Observation()
    val aggs = checks.map { case (name, pred) =>
      sum((!coalesce(pred, lit(false))).cast("long")).as(name)
    }
    new ObservedChecks(df.observe(obs, aggs.head, aggs.tail: _*), obs, checks.map(_._1))
  }
}
