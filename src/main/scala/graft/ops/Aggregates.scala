package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY §2.4). All compose built-in hash aggregates
  * — map-side partial aggregation is free, no UDAFs in the hot path.
  */
object Aggregates {

  /** A6: sum skipping nulls, but null (not 0) when *all* inputs are null —
    * R's sum(x, na.rm=TRUE) guarded by all(is.na(x)) (reference
    * R/prepare_abcd_stress_test_input.R:1-14,39-46,246-259).
    */
  def sumOrAllNull(c: Column): Column =
    when(count(c) === 0, lit(null)).otherwise(sum(c))

  /** A7: group is "empty" when production is all-null or sums to zero
    * (reference R/prepare_abcd_stress_test_input.R:216-237).
    */
  def allNullOrZero(c: Column): Column =
    (count(c) === 0) || (sum(c) === 0)

  /** [[allNullOrZero]] over a window: flags every row of an empty group. */
  def allNullOrZero(c: Column, w: WindowSpec): Column =
    (count(c).over(w) === 0) || (sum(c).over(w) === 0)

  /** Regional → Global mean as one generator: to every group of all columns
    * except `geography` and `value` that `where` selects, append one row
    * labelled `Global` holding the group's `avg(value)` (nulls skipped).
    * Every input row passes through unchanged — duplicates are not
    * collapsed, and an existing `Global` row is averaged in and kept — so
    * it equals `df ∪ (groupBy → avg → Global)` while reading `df` once,
    * through one window partitioning. `where` must read group columns only.
    */
  def appendGlobalMean(df: DataFrame, geography: String, value: String,
      where: Column = lit(true)): DataFrame = {
    val group = Window.partitionBy(df.columns.filterNot(Set(geography, value)).map(col).toSeq: _*)
      .orderBy(col(geography))
    val mean = graft.core.Cols.fresh(df, "__mean")
    val firstRow = graft.core.Cols.fresh(df.columns.toSeq :+ mean, "__first")
    val isGlobal = graft.core.Cols.fresh(df.columns.toSeq ++ Seq(mean, firstRow), "__global")
    df.select(col("*"),
        avg(col(value)).over(group.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as(mean),
        (where && row_number().over(group) === 1).as(firstRow))
      .withColumn(isGlobal,
        explode(when(col(firstRow), array(lit(false), lit(true))).otherwise(array(lit(false)))))
      .withColumn(geography, when(col(isGlobal), lit("Global")).otherwise(col(geography)))
      .withColumn(value, when(col(isGlobal), col(mean)).otherwise(col(value)))
      .drop(mean, firstRow, isGlobal)
  }

  /** A3: exact linear-interpolated median, matching R's stats::median default
    * (reference R/prepare_prewrangled_financial_data_stress_test.R:61-108
    * aggregates financial indicators by median for outlier robustness).
    * `percentile` is Spark's exact implementation — same interpolation as
    * DuckDB quantile_cont. For 100 TB one would swap in approx_percentile
    * with a tight accuracy knob; the reference semantics require exact.
    */
  def median(c: Column): Column = percentile(c, lit(0.5))

  /** Incremental aggregate maintenance (A16, beyond-reference): merge
    * previously materialized aggregate partials with a delta batch's
    * partials by re-aggregating their union on the same keys. Sound for
    * any commutative monoid — counts and decimal-exact sums here (counts
    * merge by summing); averages derive at read time as sum/count. At
    * 100 TB this is the difference between touching a day's delta and
    * rescanning the history: the merged result is bit-identical to a full
    * recompute (the a16 oracle asserts exactly that equivalence).
    */
  def mergePartialAggs(parts: Seq[DataFrame], keys: Seq[String], mergeCols: Seq[String]): DataFrame = {
    require(parts.nonEmpty && mergeCols.nonEmpty, "need at least one partial and one column")
    parts.reduce(_.unionByName(_))
      .groupBy(keys.map(col): _*)
      .agg(sum(col(mergeCols.head)).as(mergeCols.head),
        mergeCols.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** Per-group min-max scaling to [0, 1] (qt_minmax) — the bounded-range
    * companion of zscore/winsorize in the feature-scaling family. Exact
    * group extremes broadcast back; a single IEEE division per row, so
    * bit-stable cross-engine; constant groups yield null (no 0/0).
    */
  def minmaxScale(df: DataFrame, keys: Seq[String], v: String): DataFrame = {
    val mn = s"${v}_min"
    val mx = s"${v}_max"
    val stats = df.groupBy(keys.map(col): _*)
      .agg(min(col(v)).as(mn), max(col(v)).as(mx))
    df.join(broadcast(stats), keys)
      .withColumn(s"${v}_scaled",
        when(col(mx) > col(mn), (col(v) - col(mn)) / (col(mx) - col(mn))))
  }

  /** Per-group MAD robust scaling (qt_mad): med = exact group median,
    * mad = exact median of |x − med|, robust = (x − med) / mad (null when
    * mad = 0 — a constant-majority group has no robust scale). The
    * outlier-resistant sibling of zscore: one wild value moves a mean/std
    * arbitrarily but moves a median by at most one rank.
    *
    * Both medians use the mean-of-middle-two spelling over a pinned total
    * order (cf. a3: fp addition of ≤2 values is commutative, so the value
    * is engine-order-proof where percentile interpolation differs in the
    * last ulp) — which is what lets the qt_mad oracle replay the whole
    * thing bit-exactly. The middle ranks come from [[Stats.groupedRank]]'s
    * two-level (group, range-bucket) machinery, not a per-group rank
    * window — a low-cardinality group key must never serialize a group's
    * whole value stream onto one reducer (VERDICT r9 #1).
    *
    * `tiebreak` must complete a total order within each group (include a
    * unique id) — same contract as every pinned-survivor operator here.
    */
  def madScale(
      df: DataFrame,
      keys: Seq[String],
      v: String,
      tiebreak: Seq[Column],
      knownGroups: Option[Long] = None): DataFrame = {
    // medians are over NON-NULL values (R median(na.rm=TRUE)); without the
    // filter, nulls sort first, inflate __n and can land on the middle
    // ranks — silently skewing or nulling the group median
    def exactMedian(in0: DataFrame, value: Column, out: String): DataFrame = {
      val in = in0.filter(value.isNotNull)
      val rn = graft.core.Cols.fresh(in, "__rn")
      val n = graft.core.Cols.fresh(in.columns.toSeq :+ rn, "__n")
      Stats.groupedRank(in, keys, value, tiebreak, rn, Some(n),
          knownGroups = knownGroups)
        .filter(col(rn) === expr(s"($n + 1) div 2") ||
          col(rn) === expr(s"($n + 2) div 2"))
        .groupBy(keys.map(col): _*)
        .agg((sum(value) / count(lit(1))).as(out))
    }
    val x = col(v).cast("double")
    val med = s"${v}_med"
    val mad = s"${v}_mad"
    // left joins: a group whose value column is entirely null has no median
    // row, but its rows must survive with null med/mad/robust (the doc
    // promises robust = null, not row loss)
    val withMed = df.join(broadcast(exactMedian(df, x, med)), keys, "left")
    val withMad = withMed.join(
      broadcast(exactMedian(withMed, abs(x - col(med)), mad)), keys, "left")
    withMad.withColumn(s"${v}_robust",
      when(col(mad) > 0, (x - col(med)) / col(mad)))
  }

  /** A10: per-column null counts — the reference's NA profiler
    * (R/helpers.R:11-25) as one aggregate pass.
    */
  def nullProfile(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      df.columns.toSeq.map(c => sum(col(c).isNull.cast("long")).as(s"na_$c")): _*
    )

  /** A11: duplicate key combos (reference R/helpers.R:36-52,
    * data-raw/prep_datalake.R:45-50).
    */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count")) // distinct name: keys may contain "n"
      .filter(col("dup_count") > 1)

  /** A12: missing combinations — cross product of per-column distinct values,
    * minus observed (reference R/helpers.R:68-84 tidyr::expand + anti_join).
    * Scale note: the cross product is of *distinct dimension values* (small);
    * the anti-join against the fact table is the only shuffle.
    */
  def missingCombos(df: DataFrame, cols: Seq[String]): DataFrame = {
    val expanded = cols
      .map(c => df.select(col(c)).distinct())
      .reduce((a, b) => a.crossJoin(b))
    expanded.join(df.select(cols.map(col): _*).distinct(), cols, "left_anti")
  }

  /** Per-group z-score normalization (§2.11 feature scaling): attach the
    * group mean, sample standard deviation and `(v - mean) / std` to every
    * row. Moments are computed with decimal-exact sums (graft.core.Num
    * rationale) and the variance is spelled as the textbook
    * `(Σv² − n·mean²) / (n−1)` in BOTH engines — sqrt is IEEE
    * correctly-rounded, so the whole thing is bit-stable cross-engine
    * (unlike ln/exp). Groups of one row or zero variance get a null z.
    * One aggregate + a broadcastable join back on the group keys.
    */
  def zscore(df: DataFrame, keys: Seq[String], v: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 6)
    val stats = df.groupBy(keys.map(col): _*).agg(
      count(col(v)).as("__n"),
      sum(col(v).cast(dec)).cast("double").as("__s"),
      sum((col(v) * col(v)).cast(dec)).cast("double").as("__ss"))
    val mean = col("__s") / col("__n")
    val variance = (col("__ss") - col("__n") * mean * mean) / (col("__n") - 1)
    val bounds = stats.select(
      keys.map(col) :+
        mean.as(s"${v}_mean") :+
        when(col("__n") > 1, sqrt(variance)).as(s"${v}_std"): _*)
    df.join(bounds, keys)
      .withColumn(s"${v}_z",
        when(col(s"${v}_std") > 0, (col(v) - col(s"${v}_mean")) / col(s"${v}_std")))
  }

  /** Per-group winsorization (outlier clamping, §2.11 data-cleaning): clamp
    * `v` to the group's [pLo, pHi] order-statistic bounds. The bound is the
    * value at rank max(ceil(p·n), 1) in ascending `v` order — a pure order
    * statistic (discrete, no interpolation), so it is engine-exact and
    * oracle-checkable where interpolated quantiles drift by formula.
    *
    * Shape: [[Stats.groupedRank]]'s two-level (group, range-bucket) rank —
    * never a per-group rank window, which would sort each group's whole
    * value stream on one reducer at a low-cardinality key (VERDICT r9
    * #1) — then a tiny per-group bounds aggregate and a co-partitioned
    * join back (the bounds side is group-cardinality — broadcastable).
    * Ties in `v` do not affect the bound value, so no tiebreak column is
    * needed for determinism of the OUTPUT (the ranked row picked among
    * tied values differs, its value does not).
    *
    * Nulls: bounds are order statistics of the NON-NULL values (R
    * quantile(na.rm=TRUE), the madScale convention — groupedRank's
    * non-null contract also requires it: unfiltered nulls would land in
    * the last range bucket yet sort first, silently shifting which row
    * each rank selects). Null-valued rows pass through with their
    * group's bounds and a null clamp; an all-null group keeps its rows
    * with null bounds.
    *
    * Output: input columns + `<v>_lo`, `<v>_hi`, `<v>_clamped`.
    */
  def winsorize(
      df: DataFrame,
      keys: Seq[String],
      v: String,
      pLo: Double,
      pHi: Double,
      knownGroups: Option[Long] = None): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, s"need 0 <= pLo <= pHi <= 1, got [$pLo, $pHi]")
    val nonNull = df.filter(col(v).isNotNull)
    val rn = graft.core.Cols.fresh(df, "__rn")
    val n = graft.core.Cols.fresh(df.columns.toSeq :+ rn, "__n")
    val ranked = Stats.groupedRank(nonNull, keys, col(v), Seq.empty, rn, Some(n),
      knownGroups = knownGroups)
    def bound(p: Double): Column = greatest(ceil(lit(p) * col(n)).cast("long"), lit(1L))
    val bounds = ranked
      .filter(col(rn) === bound(pLo) || col(rn) === bound(pHi))
      .groupBy(keys.map(col): _*)
      .agg(min(col(v)).as(s"${v}_lo"), max(col(v)).as(s"${v}_hi"))
    // NULL-SAFE key equality: groupedRank groups null keys together (the
    // GROUP BY convention), so the join back must too — a plain equi-join
    // would never match the null-key group's bounds row and return its
    // rows silently unclamped
    val bk = keys.zipWithIndex.map { case (k, i) =>
      graft.core.Cols.fresh(df.columns.toSeq ++ keys, s"__wb$i$k")
    }
    val b = bounds.select(
      keys.zip(bk).map { case (k, a) => col(k).as(a) } ++
        Seq(col(s"${v}_lo"), col(s"${v}_hi")): _*)
    val cond = keys.zip(bk).map { case (k, a) => df(k) <=> b(a) }.reduce(_ && _)
    df.join(b, cond, "left")
      .drop(bk: _*)
      .withColumn(s"${v}_clamped",
        // Spark's greatest/least SKIP nulls, so a null v would otherwise
        // "clamp" to the hi bound instead of staying null
        when(col(v).isNotNull,
          greatest(col(s"${v}_lo"), least(col(s"${v}_hi"), col(v)))))
  }

}
