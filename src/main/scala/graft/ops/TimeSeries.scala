package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

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

  /** The x axis [[completeInterpolate]] completes each key group over. */
  sealed trait Axis
  object Axis {
    /** Each group's own [min(x), max(x)], as [[completeGridLocal]]
      * (tidyr::full_seq, reference R/prepare_scenario_data.R:13-14).
      */
    case object PerGroup extends Axis
    /** The frame's [min(x), max(x)], shared by every group, as
      * [[completeGridGlobalRange]] (reference R/prepare_price_data_long.R:
      * 197-210).
      */
    case object Global extends Axis
    /** A fixed [lo, hi], as [[completeGrid]] (reference R/prepare_abcd_
      * stress_test_input.R:95-106).
      */
    final case class Fixed(lo: Int, hi: Int) extends Axis {
      require(lo <= hi, s"empty axis [$lo, $hi]")
    }
  }

  /** Fused complete → na.approx: the matching completeGrid* call followed by
    * one [[naApprox]] per value column, as a single generator over each
    * key group's collected rows. `df` must hold exactly keys, x and
    * `values`; the output columns come in completeGrid's order: keys, x,
    * then `values`.
    *
    * It reads `df` once: one groupBy collects every row of a group,
    * null-x rows included, so the plan holds the input leaf once and
    * costs one exchange on `keys`, which later windows on the same keys
    * reuse. The global axis is a frame-wide window over the grouped
    * frame, not a second scan of `df`; it gathers the groups (one row
    * each) into one partition. The per-group state is the group's own
    * rows, a bounded year axis in every caller.
    *
    * Semantics (pinned against the relational spelling by TimeSeriesSpec
    * and ScenarioSpec, and by the pipe_* oracles end to end):
    *  - every observed row passes through (all duplicates); each null
    *    value takes naApprox's line pv + (nv−pv)·(x−px)/(nx−px) through
    *    the nearest non-null observations of its own column, with the
    *    same operand casts and double arithmetic;
    *  - axis years with no observed row carry the interpolated (or null)
    *    values; leading and trailing nulls stay null (na.rm=FALSE);
    *  - observed rows outside a fixed axis stay, and anchor and take
    *    interpolation like any other row (completeGrid's full outer join
    *    keeps them, and naApprox then sees them);
    *  - null-x rows pass through verbatim (they match no grid row and are
    *    never anchors).
    *
    * Tie rule (pinned by TimeSeriesSpec): when a null value shares its
    * (key, x) with a non-null sibling, the null takes the line through the
    * nearest non-null observations strictly before and strictly after x,
    * never the sibling; among same-x anchors the one sorting last (by x,
    * then the value columns in order) is the previous one and the one
    * sorting first is the next one. [[naApprox]]'s running windows may
    * pick either, depending on the order of the tied rows; R's
    * `approx(ties = mean)` would return the siblings' mean.
    */
  def completeInterpolate(
      df: DataFrame, keys: Seq[String], x: String, values: Seq[String], axis: Axis): DataFrame = {
    require(df.columns.toSet == (keys ++ (x +: values)).toSet,
      s"completeInterpolate needs exactly keys + $x + values; got ${df.columns.mkString(",")}")
    val xType = df.schema(x).dataType
    val v = values.indices.map(i => s"v$i")
    val vType = v.zip(values.map(df.schema(_).dataType)).toMap
    val grouped = df.groupBy(keys.map(col): _*).agg(sort_array(collect_list(
      struct(col(x).as("x") +: values.zip(v).map { case (c, f) => col(c).as(f) }: _*))).as("__obs"))
    val xs = transform(col("__obs"), _.getField("x"))
    val (lo, hi) = axis match {
      case Axis.PerGroup => (array_min(xs), array_max(xs))
      case Axis.Global =>
        val frame = Window.partitionBy(lit(0))
        (min(array_min(xs)).over(frame), max(array_max(xs)).over(frame))
      case Axis.Fixed(l, h) => (lit(l), lit(h))
    }
    // per column, its non-null observations in x order: the anchors
    val bounded = v.foldLeft(grouped.withColumn("__lo", lo).withColumn("__hi", hi))((d, f) =>
      d.withColumn(s"__a_$f",
        filter(col("__obs"), o => o.getField("x").isNotNull && o.getField(f).isNotNull)))
    // naApprox's exact formula and casts: px/nx are double casts of x
    def interp(f: String, y: Column) = {
      val anchors = col(s"__a_$f")
      val p = element_at(filter(anchors, o => o.getField("x") < y), -1)
      val n = element_at(filter(anchors, o => o.getField("x") > y), 1)
      val px = p.getField("x").cast("double")
      val nx = n.getField("x").cast("double")
      val pv = p.getField(f)
      val nv = n.getField(f)
      when(px.isNotNull && nx.isNotNull && nx =!= px,
        pv + (nv - pv) * (y.cast("double") - px) / (nx - px))
    }
    def row(y: Column, value: String => Column) =
      struct(y.as("x") +: v.map(f => coalesce(value(f), interp(f, y)).as(f)): _*)
    val axisType = ArrayType(xType)
    val years = coalesce(sequence(col("__lo"), col("__hi")).cast(axisType), array().cast(axisType))
    val onAxis = flatten(transform(years, y => {
      val matched = filter(col("__obs"), o => o.getField("x") === y)
      when(size(matched) > 0, transform(matched, o => row(y, o.getField)))
        .otherwise(array(row(y, f => lit(null).cast(vType(f)))))
    }))
    val offAxis = transform(
      filter(col("__obs"), o => !coalesce(o.getField("x").between(col("__lo"), col("__hi")), lit(false))),
      o => row(o.getField("x"), o.getField))
    bounded
      .select(keys.map(col) :+ explode(concat(onAxis, offAxis)).as("__r"): _*)
      .select(keys.map(col) ++ (col("__r.x").as(x) +: values.zip(v).map { case (c, f) =>
        col(s"__r.$f").as(c) }): _*)
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
