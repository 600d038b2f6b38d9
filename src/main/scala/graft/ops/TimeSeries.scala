package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-group time-series operators (SURVEY §2.5 W3/W4/W8, §2.8 R4/R5).
  *
  * These are the load-bearing custom ops of the reference: every pipeline
  * runs a complete-grid -> interpolate -> fill chain on a year axis
  * (reference: R/prepare_scenario_data.R:11-20, R/prepare_prewrangled_
  * capacity_factors.R:113-135, R/prepare_price_data_long.R:199-222,
  * R/prepare_abcd_stress_test_input.R:267-295, R/prepare_ngfs_carbon_price.R:
  * 102-166).
  *
  * All are pure Catalyst expressions over window frames — zero UDFs, fully
  * codegen'd, and they shuffle exactly once per distinct partitioning: chains
  * of calls with the same `keys` reuse the exchange (Spark ReuseExchange),
  * which is the scale story at 100 TB — partition once on the group prefix,
  * run the whole W4/W3/W1 chain within that exchange.
  */
object TimeSeries {

  private def w(keys: Seq[String], x: String) =
    Window.partitionBy(Windows.keysOrConstant(keys.map(col)): _*).orderBy(col(x))

  /** R4: complete the integer grid [lo, hi] for every distinct key combo,
    * left-joining original values (missing rows get null value columns).
    * reference: tidyr::complete, R/prepare_abcd_stress_test_input.R:95-106.
    *
    * Scale note: the distinct-keys side is tiny relative to the fact table
    * and the join key includes the full group key, so this is a co-partitioned
    * shuffle join on the same keys later window ops use.
    */
  def completeGrid(df: DataFrame, keys: Seq[String], x: String, lo: Int, hi: Int): DataFrame = {
    val grid = df
      .select(keys.map(col): _*)
      .distinct()
      .withColumn(x, explode(sequence(lit(lo), lit(hi))))
    // full outer, like tidyr::complete: grid rows fill with nulls AND
    // original rows outside [lo, hi] survive
    joinGridNullSafe(grid, df, keys :+ x)
  }

  /** tidyr::complete matches NA grouping keys to each other (R NA == NA in
    * joins by default); Spark's equi-join drops null keys, which would
    * duplicate every null-keyed group (one grid row + one unmatched
    * original). Null-safe equality restores the reference semantics.
    */
  private def joinGridNullSafe(grid: DataFrame, df: DataFrame, keys: Seq[String]): DataFrame = {
    // rename the grid side: grid derives from df, so joining on df(k) vs
    // grid(k) directly would be an ambiguous self-join
    val g = keys.foldLeft(grid)((d, k) => d.withColumnRenamed(k, s"__g_$k"))
    val cond = keys.map(k => col(s"__g_$k") <=> col(k)).reduce(_ && _)
    val keyCols = keys.map(k => coalesce(col(s"__g_$k"), col(k)).as(k))
    val valueCols = df.columns.filterNot(keys.contains).map(col)
    g.join(df, cond, "outer").select(keyCols ++ valueCols: _*)
  }

  /** R4 variant: per-group full_seq(min(x)..max(x)) like tidyr::full_seq
    * (reference R/prepare_scenario_data.R:13-14).
    */
  def completeGridLocal(df: DataFrame, keys: Seq[String], x: String): DataFrame = {
    val grid = df
      .groupBy(keys.map(col): _*)
      .agg(min(col(x)).as("__lo"), max(col(x)).as("__hi"))
      .withColumn(x, explode(sequence(col("__lo"), col("__hi"))))
      .drop("__lo", "__hi")
    joinGridNullSafe(grid, df, keys :+ x)
  }

  /** R4 variant: complete every key combo over the GLOBAL [min(x), max(x)]
    * range (reference tidyr::complete(year = seq(min_year, max_year), ...),
    * R/prepare_price_data_long.R:197-210). The range is a lazy 1-row
    * aggregate broadcast onto the distinct keys — no driver collect.
    */
  def completeGridGlobalRange(df: DataFrame, keys: Seq[String], x: String): DataFrame = {
    val mm = df.agg(min(col(x)).as("__lo"), max(col(x)).as("__hi"))
    val grid = df.select(keys.map(col): _*).distinct()
      .crossJoin(broadcast(mm))
      .withColumn(x, explode(sequence(col("__lo"), col("__hi"))))
      .drop("__lo", "__hi")
    joinGridNullSafe(grid, df, keys :+ x)
  }

  /** R4 variant: tidyr::complete(a, b, x = lo:hi) — CROSS the per-key
    * distinct value sets (not the observed key combos, unlike completeGrid)
    * with the fixed [lo, hi] axis, keeping original rows outside the range
    * (reference R/prepare_scenario_data.R:949-955: steel scenarios ×
    * technologies × years). Each distinct set is a tiny aggregate; the
    * cross of K small sets stays lazy — no driver collect.
    */
  def completeCross(df: DataFrame, keys: Seq[String], x: String, lo: Int, hi: Int): DataFrame = {
    val grid = keys
      .map(k => df.select(col(k)).distinct())
      .reduce(_.crossJoin(_))
      .withColumn(x, explode(sequence(lit(lo), lit(hi))))
    joinGridNullSafe(grid, df, keys :+ x)
  }

  /** W4: zoo::na.approx with na.rm=FALSE semantics — linear interpolation of
    * interior nulls along `x` within each key group; leading/trailing nulls
    * stay null (reference R/prepare_scenario_data.R:11-20 uses na.rm=FALSE;
    * R/prepare_prewrangled_capacity_factors.R:125-135 runs it on a completed
    * dense grid).
    *
    * Implementation: previous/next non-null observation via ignore-null
    * last/first over running frames, then the two-point line. Pure window
    * exprs, single shuffle on `keys`.
    */
  def naApprox(df: DataFrame, keys: Seq[String], x: String, v: String, out: String): DataFrame = {
    val back = w(keys, x).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd  = w(keys, x).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val xObs = when(col(v).isNotNull, col(x).cast("double"))
    val px = last(xObs, ignoreNulls = true).over(back)
    val pv = last(col(v), ignoreNulls = true).over(back)
    val nx = first(xObs, ignoreNulls = true).over(fwd)
    val nv = first(col(v), ignoreNulls = true).over(fwd)
    df.withColumn(
      out,
      coalesce(
        col(v),
        when(px.isNotNull && nx.isNotNull && nx =!= px,
          pv + (nv - pv) * (col(x).cast("double") - px) / (nx - px))
      )
    )
  }

  /** Fused [[completeGridLocal]] + [[naApprox]] for a frame whose ONLY
    * non-key columns are (x, v): per-group full_seq completion and linear
    * interpolation computed group-locally over a collected (x, v) array —
    * ONE exchange (the groupBy) where the relational spelling pays four
    * (grid aggregate, both join sides, the interpolation window). The
    * per-group state is the group's own observation list (a bounded year
    * axis in every caller — tens of rows), so the collect_list is
    * scale-safe at any group count; pure built-in higher-order functions,
    * no UDFs.
    *
    * Semantics (pinned by ScenarioSpec's equivalence test against the
    * relational spelling, and by the pipe_* oracles end to end):
    *  - grid = [min(x), max(x)] over the group's non-null-x rows;
    *  - observed rows pass through (all duplicates), with a null v
    *    interpolated exactly like naApprox: pv + (nv−pv)·(x−px)/(nx−px)
    *    over the nearest non-null neighbors, same operand casts, same
    *    double arithmetic;
    *  - grid-only rows carry the interpolated (or null) value;
    *  - leading/trailing nulls stay null (na.rm=FALSE);
    *  - null-x rows pass through verbatim (they match no grid row).
    */
  def completeInterpolateLocal(
      df: DataFrame, keys: Seq[String], x: String, v: String): DataFrame = {
    val agged = groupObservations(df, keys, x, v)
    val lo = element_at(col("__obs"), 1).getField("x")
    val hi = element_at(col("__obs"), size(col("__obs"))).getField("x")
    completeFromObservations(df, agged, keys, x, v, lo, hi)
  }

  /** Fused [[completeGridGlobalRange]] + [[naApprox]] — the
    * [[completeInterpolateLocal]] machinery with the grid spanning the
    * GLOBAL [min(x), max(x)] (a 1-row aggregate broadcast onto every
    * group) instead of each group's own range: every key combo completes
    * over the same axis, edge years beyond a group's own observations
    * stay null (na.rm=FALSE). Two exchanges (group collect + the 1-row
    * range) where the relational spelling pays five.
    */
  def completeInterpolateGlobalRange(
      df: DataFrame, keys: Seq[String], x: String, v: String): DataFrame = {
    val mm = df.agg(min(col(x)).as("__lo"), max(col(x)).as("__hi"))
    val agged = groupObservations(df, keys, x, v).crossJoin(broadcast(mm))
    completeFromObservations(df, agged, keys, x, v, col("__lo"), col("__hi"))
  }

  /** One (x asc, v asc)-sorted observation array per key combo; keys whose
    * rows ALL have null x still surface (empty array) so the global-range
    * variant grids them like the relational spelling's distinct-keys grid.
    */
  private def groupObservations(
      df: DataFrame, keys: Seq[String], x: String, v: String): DataFrame = {
    require(df.columns.toSet == (keys :+ x :+ v).toSet,
      s"fused complete+interpolate needs exactly keys+($x,$v); got ${df.columns.mkString(",")}")
    df.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(  // collect_list skips null structs
        when(col(x).isNotNull, struct(col(x).as("x"), col(v).as("v"))))).as("__obs"))
  }

  /** Explode each group's [lo, hi] axis against its observation array:
    * observed rows pass through (all duplicates), null values interpolate
    * with naApprox's exact formula and casts, grid-only rows carry the
    * interpolated (or null) value; null-x input rows pass through
    * verbatim (they match no grid row in the relational spelling either).
    *
    * Tie rule (pinned by TimeSeriesSpec): when a null value shares its
    * (key, x) with a non-null sibling, the null takes the line through the
    * nearest non-null observations strictly before and strictly after x —
    * never the sibling. [[naApprox]]'s running windows may pick the same-x
    * sibling instead, depending on the order of the tied rows; R's
    * `approx(ties = mean)` would return the siblings' mean.
    */
  private def completeFromObservations(
      df: DataFrame, agged: DataFrame, keys: Seq[String], x: String, v: String,
      lo: Column, hi: Column): DataFrame = {
    // non-null observations in x order — the interpolation anchors
    val nn = filter(col("__obs"), o => o.getField("v").isNotNull)
    // naApprox's exact formula and casts: px/nx are double casts of x
    def interp(y: Column) = {
      val p = element_at(filter(nn, o => o.getField("x") < y), -1)
      val n = element_at(filter(nn, o => o.getField("x") > y), 1)
      val px = p.getField("x").cast("double")
      val nx = n.getField("x").cast("double")
      val pv = p.getField("v")
      val nv = n.getField("v")
      when(px.isNotNull && nx.isNotNull && nx =!= px,
        pv + (nv - pv) * (y.cast("double") - px) / (nx - px))
    }
    val rows = flatten(transform(sequence(lo, hi), y => {
      val matched = filter(col("__obs"), o => o.getField("x") === y)
      when(size(matched) > 0,
        transform(matched, o =>
          struct(y.as("x"), coalesce(o.getField("v"), interp(y)).as("v"))))
        .otherwise(array(struct(y.as("x"), interp(y).as("v"))))
    }))
    val exploded = agged
      .select((keys.map(col) :+ explode(rows).as("__r")): _*)
      .select((keys.map(col) :+ col("__r.x").as(x) :+ col("__r.v").as(v)): _*)
    val nullXRows = df.filter(col(x).isNull)
    exploded.unionByName(nullXRows.select(exploded.columns.map(col): _*))
      .select(df.columns.map(col): _*)
  }

  /** W3: fill-down / LOCF (reference tidyr::fill(.direction="down"),
    * R/prepare_price_data_long.R:159-169; R/prepare_abcd_stress_test_input.R:
    * 286-288).
    */
  def fillDown(df: DataFrame, keys: Seq[String], x: String, v: String, out: String): DataFrame =
    df.withColumn(
      out,
      coalesce(
        col(v),
        last(col(v), ignoreNulls = true)
          .over(w(keys, x).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    )

  /** Fill-up (NOCB), the .direction="up" counterpart. */
  def fillUp(df: DataFrame, keys: Seq[String], x: String, v: String, out: String): DataFrame =
    df.withColumn(
      out,
      coalesce(
        col(v),
        first(col(v), ignoreNulls = true)
          .over(w(keys, x).rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    )

  /** W8: nulls *after the last non-null observation* become 0; earlier nulls
    * untouched (reference R/prepare_scenario_data.R:977-995:
    * last_value_year = max(year[!is.na(value)]), 0 beyond it).
    */
  def zeroAfterLastObs(df: DataFrame, keys: Seq[String], x: String, v: String, out: String): DataFrame = {
    val lastObsX = max(when(col(v).isNotNull, col(x)))
      .over(Window.partitionBy(Windows.keysOrConstant(keys.map(col)): _*))
    df.withColumn(
      out,
      when(col(v).isNull && (lastObsX.isNull || col(x) > lastObsX), lit(0.0))
        .otherwise(col(v)))
  }
}
