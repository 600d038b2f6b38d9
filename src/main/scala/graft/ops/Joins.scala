package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Barriers.BarrierOps

/** Join-shaped operators (SURVEY §2.3). Plain equi-joins use the DataFrame
  * API directly; this module holds the composite ones.
  */
object Joins {

  /** J5: dplyr full_join with no `by` — acts as union+dedup of conformable
    * frames (reference data-raw/run_prepare_Scenarios_AnalysisInput.R:351-357).
    */
  def unionDedup(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true)).distinct()

  /** J12: bind a single-row frame onto every row (reference bind_cols of
    * global averages, R/prepare_prewrangled_financial_data_stress_test.R:
    * 319-322). Broadcast, so no shuffle of the big side.
    */
  def bindOneRow(df: DataFrame, oneRow: DataFrame): DataFrame =
    df.crossJoin(broadcast(oneRow))

  /** Dimension upsert — MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
    * MATCHED THEN INSERT *: a source row replaces the target row sharing
    * its key; unmatched target rows survive; unmatched source rows insert.
    * (The reference's vintage-refresh twin: data-raw/prep_datalake.R
    * merge of new-eikon over old-eikon rows by isin, :168-179.)
    *
    * Scale shape: ONE anti-join shuffle on the keys (the source side is
    * projected to its key columns before the join, so the shuffled build
    * side is narrow) + a union — no full-outer wide rows, no window.
    * Source must be unique on the keys (else the "update" inserts both
    * rows); callers with multi-version batches dedup first (P12).
    */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(target.columns.sorted.sameElements(source.columns.sorted),
      s"upsert requires conformable schemas: target ${target.columns.mkString(",")} " +
        s"vs source ${source.columns.mkString(",")}")
    source.unionByName(
      target.join(source.select(keys.map(col): _*), keys, "left_anti"))
  }

  /** Skew-resistant equi-join (scale extension beyond the reference, which
    * never meets skew at tibble sizes — SURVEY §4.2 flags `Global` geography
    * rows as the skewed key at scale). AQE's skew-join split is the first
    * line of defence; this operator is the explicit fallback for joins where
    * one key dominates so heavily that even split shuffle blocks spill: the
    * fact side gets a deterministic salt in [0, buckets), the dim side is
    * replicated once per salt value, and the join key becomes (keys..., salt)
    * so the hot key spreads over `buckets` reducers.
    *
    * Result is row-identical to `facts.join(dim, keys, "inner"|"left")`.
    * Only fact-preserving join types are allowed: with right/full the
    * replicated dim side would emit each unmatched dim row `buckets` times.
    * The salt derives from a hash of the whole fact row (not rand()), so
    * retries/recomputations of a lost partition produce identical output.
    * Known limit: fully-duplicate fact rows share a hash and therefore a
    * bucket — if the hot key's rows are byte-identical the salt cannot
    * spread them (they are indistinguishable; any deterministic function
    * of row content collides). Dedup-with-count first in that case.
    */
  def saltedJoin(
      facts: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      buckets: Int,
      joinType: String = "inner"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(
      Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
        "left_anti", "leftanti").contains(joinType.toLowerCase),
      s"saltedJoin supports fact-preserving join types only (inner/left/semi/anti), got $joinType: " +
        "right/full would replicate unmatched dim rows once per bucket")
    val salt = "__salt"
    val salted = facts.withColumn(
      salt, pmod(xxhash64(facts.columns.map(col).toIndexedSeq: _*), lit(buckets)).cast("int"))
    val replicated = dim.withColumn(salt, explode(sequence(lit(0), lit(buckets - 1))))
    salted.join(replicated, keys :+ salt, joinType).drop(salt)
  }

  /** The measurement half of [[skewAwareJoin]]: exact (or deterministically
    * row-sampled) per-key counts over the fact side, reduced to the hot
    * key's row count and share. One keyed aggregate + one scalar reduce —
    * map-side partial aggregation keeps the shuffle at |distinct keys|,
    * and `sampleMod` > 1 trades exactness for a 1/sampleMod scan when even
    * that is too much (the sample is a hash of the WHOLE row, never
    * rand(), so retries and re-runs decide identically; fully-duplicate
    * rows land in the same slice — dedup first if that distorts the
    * estimate, the same caveat saltedJoin documents for the salt itself).
    */
  final case class SkewDecision(
      totalRows: Long,
      topRows: Long,
      topShare: Double,
      salted: Boolean,
      buckets: Int)

  def skewDecision(
      facts: DataFrame,
      keys: Seq[String],
      hotShareThreshold: Double = 0.2,
      hotRowThreshold: Long = 2L * 1000 * 1000,
      targetRowsPerBucket: Long = 1L * 1000 * 1000,
      maxBuckets: Int = 64,
      sampleMod: Int = 1): SkewDecision = {
    require(keys.nonEmpty, "skewDecision needs at least one key")
    require(sampleMod >= 1, "sampleMod must be >= 1")
    require(hotShareThreshold > 0 && targetRowsPerBucket > 0 && maxBuckets >= 2,
      "thresholds must be positive (maxBuckets >= 2)")
    val sampled =
      if (sampleMod == 1) facts.select(keys.map(col): _*)
      else facts
        .filter(pmod(xxhash64(facts.columns.map(col).toIndexedSeq: _*), lit(sampleMod)) === 0)
        .select(keys.map(col): _*)
    val row = sampled
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
      .agg(sum(col("__c")).as("__t"), max(col("__c")).as("__m"))
      .head()
    val total = (if (row.isNullAt(0)) 0L else row.getLong(0)) * sampleMod
    val top = (if (row.isNullAt(1)) 0L else row.getLong(1)) * sampleMod
    val share = if (total == 0) 0.0 else top.toDouble / total
    val salted = share >= hotShareThreshold && top >= hotRowThreshold
    val buckets =
      if (!salted) 1
      else math.max(2, math.min(maxBuckets.toLong,
        (top + targetRowsPerBucket - 1) / targetRowsPerBucket)).toInt
    SkewDecision(total, top, share, salted, buckets)
  }

  /** Auto skew routing — connects the diagnosis (`Profile.keySkew` /
    * pf_key_skew) to the cure ([[saltedJoin]]): measure the fact side's
    * hot key with ONE cheap aggregate ([[skewDecision]]), then join plain
    * (AQE's skew split is the first line of defence and broadcast still
    * wins for small dims) unless the hot key crosses BOTH thresholds —
    * a share big enough that one reducer owns `topShare` of the shuffle,
    * and an absolute row count big enough that the reducer actually
    * hurts. Bucket count scales with the measured hot-key size
    * (`ceil(topRows / targetRowsPerBucket)`, capped), so mild skew gets
    * mild replication. The decision is deterministic and logged; output
    * is row-identical to `facts.join(dim, keys, joinType)` either way
    * (fact-preserving join types only — saltedJoin's contract).
    */
  def skewAwareJoin(
      facts: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      joinType: String = "inner",
      hotShareThreshold: Double = 0.2,
      hotRowThreshold: Long = 2L * 1000 * 1000,
      targetRowsPerBucket: Long = 1L * 1000 * 1000,
      maxBuckets: Int = 64,
      sampleMod: Int = 1): DataFrame = {
    val d = skewDecision(facts, keys, hotShareThreshold, hotRowThreshold,
      targetRowsPerBucket, maxBuckets, sampleMod)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"skewAwareJoin on (${keys.mkString(", ")}): total=${d.totalRows} " +
        f"top=${d.topRows} share=${d.topShare}%.4f -> " +
        (if (d.salted) s"salted(buckets=${d.buckets})" else "plain (AQE-owned)"))
    if (d.salted) saltedJoin(facts, dim, keys, d.buckets, joinType)
    else facts.join(dim, keys, joinType)
  }

  /** J10: closest-parent lookup over a pre-flattened hierarchy edge list
    * (reference R/prepare_prewrangled_financial_data_stress_test.R:172-217:
    * left-join subsidiaries to parents, keep min ownership_level per child —
    * ties kept, like slice_min — then attach parent attributes).
    *
    * `edges` = (childKey, parentKey, levelCol ...). Uses rank() so ties at
    * the minimum level are kept, matching slice_min. One shuffle on childKey.
    *
    * @param child      fact table with `childKey`
    * @param edges      edge list (childKey, parentKey, levelCol)
    * @param parentAttrs attributes keyed by parentKey to attach
    */
  def closestParentJoin(
      child: DataFrame,
      edges: DataFrame,
      childKey: String,
      parentKey: String,
      levelCol: String,
      parentAttrs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(childKey)).orderBy(col(levelCol))
    val closest = edges
      .withColumn("__rk", rank().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
    child
      .join(closest, Seq(childKey), "left")
      .join(parentAttrs, Seq(parentKey), "left")
  }

  /** J9: set-overlap "similarity join" between groups of items (reference
    * R/rename_geographies.R:51-107: geographies with near-identical country
    * sets are grouped; overlap = |x∩y| / |x|, keep >= tol, drop unordered
    * duplicate pairs via least/greatest).
    *
    * collect_set per group first (shrinks N rows to G groups), then the
    * G×G comparison — at scale G (number of *groups*) is small even when N
    * is huge, so the crossJoin is driver-safe; if G were large this becomes
    * an LSH problem (see graft.operators.Dedup).
    */
  def setOverlapPairs(df: DataFrame, groupCol: String, itemCol: String, tol: Double): DataFrame = {
    val sets = df
      .groupBy(col(groupCol))
      .agg(collect_set(col(itemCol)).as("__items"))
      // junction: the per-group sets feed BOTH sides of the pair cross
      // join — one row per group, so the eager barrier is tiny at any
      // scale while the upstream aggregate would otherwise run twice
      .planBarrier()
    val a = sets.select(col(groupCol).as("g_x"), col("__items").as("items_x"))
    val b = sets.select(col(groupCol).as("g_y"), col("__items").as("items_y"))
    a.crossJoin(b)
      .filter(col("g_x") =!= col("g_y"))
      .withColumn(
        "overlap",
        size(array_intersect(col("items_x"), col("items_y"))).cast("double") /
          size(col("items_x")))
      .filter(col("overlap") >= tol)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(least(col("g_x"), col("g_y")), greatest(col("g_x"), col("g_y")))
          .orderBy(col("g_x"), col("g_y"))))
      .filter(col("__rn") === 1)
      .select("g_x", "g_y", "overlap")
  }

  /** P12 deterministic: dropDuplicates picks an arbitrary row; at scale (and
    * for oracle parity) pin the survivor with an explicit order.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(Windows.keysOrConstant(keys.map(col)): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** J14: as-of join (time-series lookup join) — for each left row, attach
    * `rightVals` from the right row with the same `keys` whose `rightTime`
    * is the latest <= `leftTime` (direction "backward", the default) or the
    * earliest >= `leftTime` ("forward"). Equal times match. Left rows with
    * no qualifying right row keep null values (left-join semantics); left
    * rows with a null time never match.
    *
    * Spark has no ASOF JOIN operator; the naive spellings do not survive
    * scale (a range join devolves to a broadcast-nested-loop or an
    * O(|L|·|R|) per-key explosion). This is the scalable formulation: tag
    * and UNION both sides, then one window per key ordered by (time, side)
    * carries the last non-null right value onto each left row — exactly one
    * shuffle + one sort over |L|+|R| rows, the plan a native as-of
    * physical operator would produce.
    *
    * Right rows should be unique per (keys, rightTime); with duplicates the
    * union-side tiebreak is the right frame's row order, which is not
    * deterministic under retries — pre-aggregate the right side first
    * (e.g. `dedupKeepFirst`).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[String],
      direction: String = "backward"): DataFrame = {
    require(Set("backward", "forward")(direction), s"direction backward|forward, got $direction")
    // an empty key list would silently plan a single-partition global
    // window — the one shape that cannot scale. A global as-of is still
    // expressible (add a constant key to both sides), but must be explicit.
    require(keys.nonEmpty,
      "asofJoin needs at least one key; for a global as-of add a constant key to both sides")
    val clash = rightVals.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty, s"rightVals collide with left columns: ${clash.mkString(", ")}")
    // at equal times the right row must be visible from the left row's
    // frame: backward ([preceding, current]) wants right BEFORE left in the
    // sort; forward ([current, following]) wants right AFTER left
    val (sideRight, sideLeft) = if (direction == "backward") (0, 1) else (1, 0)
    val t = graft.core.Cols.fresh(left, "__asof_t")
    val side = graft.core.Cols.fresh(left, "__asof_side")
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn(t, col(leftTime))
      .withColumn(side, lit(sideLeft))
      .select((leftCols.map(col) ++ rightVals.map(v => lit(null).as(v)) :+ col(t) :+ col(side)): _*)
    val rTagged = right
      .filter(col(rightTime).isNotNull)
      .withColumn(t, col(rightTime))
      .withColumn(side, lit(sideRight))
      .select((leftCols.map(c => (if (keys.contains(c)) col(c) else lit(null).as(c)): Column)
        ++ rightVals.map(col) :+ col(t) :+ col(side)): _*)
    val w0 = Window.partitionBy(Windows.keysOrConstant(keys.map(col)): _*).orderBy(col(t), col(side))
    val filled = rightVals.map { v =>
      val c =
        if (direction == "backward")
          last(col(v), ignoreNulls = true)
            .over(w0.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        else
          first(col(v), ignoreNulls = true)
            .over(w0.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      when(col(t).isNotNull, c).as(v)
    }
    lTagged.unionByName(rTagged)
      .select((leftCols.map(col) ++ filled :+ col(side)): _*)
      .filter(col(side) === sideLeft)
      .drop(side)
  }

  /** J20: [[asofJoin]] with a MATCH TOLERANCE — the financial-join guard
    * that a bare as-of lacks: a "most recent quote" from last week is
    * usually worse than no quote. The as-of match is computed as usual
    * (same one-shuffle union+window plan), then every matched value —
    * including the matched time itself — is nulled when the time gap
    * exceeds `toleranceMicros` (backward: left − right; forward: right −
    * left). Left rows always survive (left-join semantics); a
    * too-stale match degrades to the no-match nulls, it never drops the
    * row. `rightTime`'s values must be carried (it is added to the
    * output) — the gap cannot be checked otherwise.
    */
  def asofJoinWithin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[String],
      toleranceMicros: Long,
      direction: String = "backward"): DataFrame = {
    require(toleranceMicros >= 0, "tolerance must be >= 0")
    val vals = (rightTime +: rightVals).distinct
    val joined = asofJoin(left, right, keys, leftTime, rightTime, vals, direction)
    val gap =
      if (direction == "backward")
        unix_micros(col(leftTime)) - unix_micros(col(rightTime))
      else
        unix_micros(col(rightTime)) - unix_micros(col(leftTime))
    val ok = col(rightTime).isNotNull && gap <= toleranceMicros
    vals.foldLeft(joined)((acc, v) => acc.withColumn(v, when(ok, col(v))))
  }

  /** J15: interval-containment range join — pair every point with every
    * interval `[loCol, hiCol]` (inclusive) that contains it, optionally
    * under additional equi `keys`.
    *
    * Spark plans a bare `lo <= p AND p <= hi` predicate as a
    * broadcast-nested-loop (or a full cartesian when neither side fits) —
    * O(|P|·|I|) comparisons. Bucketing restores an equi-join: intervals
    * explode to the fixed-width buckets they overlap, points hash to their
    * single bucket, and the shuffle joins on (keys..., bucket) with the
    * exact predicate as a post-filter. Each (interval, bucket) pair is
    * unique and each point has one bucket, so no dedup is needed.
    *
    * `bucketSize` trades replication for selectivity: intervals are
    * replicated ceil(span/bucketSize)+1 times — pick it near the median
    * interval span so replication stays O(1) per interval. Intervals with
    * null or inverted bounds match nothing.
    */
  def rangeJoin(
      points: DataFrame,
      pointCol: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      bucketSize: Double,
      keys: Seq[String] = Nil): DataFrame = {
    require(bucketSize > 0, "bucketSize must be positive")
    val clash = intervals.columns.toSet.intersect(points.columns.toSet) -- keys
    require(clash.isEmpty, s"interval columns collide with point columns: ${clash.mkString(", ")}")
    val b = graft.core.Cols.fresh(points, "__bucket")
    def bucketOf(c: Column): Column = floor(c / bucketSize).cast("long")
    val p = points.filter(col(pointCol).isNotNull).withColumn(b, bucketOf(col(pointCol)))
    val i = intervals
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull && col(loCol) <= col(hiCol))
      .withColumn(b, explode(sequence(bucketOf(col(loCol)), bucketOf(col(hiCol)))))
    p.join(i, keys :+ b)
      .filter(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop(b)
  }

  /** J16: interval-overlap join — every (a, b) pair whose CLOSED intervals
    * intersect (a_lo <= b_hi && b_lo <= a_hi). The scalable spelling of
    * the temporal/genomic overlap join: both sides replicate to the
    * fixed-width axis buckets their interval spans, the join is an
    * equi-join on the bucket, and each pair is emitted EXACTLY ONCE — in
    * the canonical bucket containing the overlap's start
    * (floor(greatest(a_lo, b_lo) / width)), which both intervals
    * necessarily span — so no distinct/dedup shuffle is needed afterwards.
    * Inputs with null or inverted bounds drop (no silent matches).
    *
    * Width tunes replication vs selectivity: ~the median interval length
    * keeps replication ≤ 2x while the per-bucket cross product stays
    * local. Degenerates gracefully: width >> axis = one bucket (plain
    * cross filter); width << lengths = high replication.
    */
  def intervalOverlapJoin(
      a: DataFrame,
      b: DataFrame,
      aLo: String,
      aHi: String,
      bLo: String,
      bHi: String,
      bucketWidth: Long,
      keys: Seq[String] = Nil): DataFrame = {
    require(bucketWidth > 0, "bucketWidth must be positive")
    val clash = a.columns.toSet.intersect(b.columns.toSet) -- keys
    require(clash.isEmpty, s"side columns collide: ${clash.mkString(", ")}")
    // fresh against BOTH sides: a b-side __bucket would otherwise be
    // silently overwritten by spanned(b, ...) and dropped from the result
    val bk = graft.core.Cols.fresh(a.columns ++ b.columns, "__bucket")
    def bucketOf(c: Column): Column = floor(c / bucketWidth).cast("long")
    def spanned(df: DataFrame, lo: String, hi: String): DataFrame = df
      .filter(col(lo).isNotNull && col(hi).isNotNull && col(lo) <= col(hi))
      .withColumn(bk, explode(sequence(bucketOf(col(lo)), bucketOf(col(hi)))))
    spanned(a, aLo, aHi).join(spanned(b, bLo, bHi), keys :+ bk)
      .filter(col(aLo) <= col(bHi) && col(bLo) <= col(aHi))
      .filter(col(bk) === bucketOf(greatest(col(aLo), col(bLo))))
      .drop(bk)
  }

  /** J18: nearest-neighbor time join — each left row gets the right row
    * whose time is CLOSEST in either direction (as-of picks the most
    * recent at-or-before; nearest also looks forward and keeps whichever
    * side is nearer, ties to the earlier right row).
    *
    * Built as two [[asofJoin]] passes (backward then forward) over the
    * same keys — two keyed shuffles of |L|+|R|, no inequality nested-loop
    * — then a per-row pick on the two candidates. Time distance is
    * compared in exact integer micros (timestamps) or the raw integral
    * value, never floats: a float |Δ| could round two distinct distances
    * equal and flip the tie-break.
    *
    * Right rows must be unique per (keys, rightTime) — with duplicates
    * "the nearest row" is ill-defined; callers aggregate first (the
    * catalog entry keeps MAX(value) per instant). Checked lazily per row
    * (assert on conflicting fills would cost a second window), documented
    * instead: the backward pass takes the LAST duplicate in window order,
    * matching asofJoin's existing contract.
    */
  def nearestJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
    val rv = (rightVals :+ rightTime).distinct
    def micros(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case TimestampType | TimestampNTZType => unix_micros(c.cast(TimestampType))
      case _ => c.cast("long")
    }
    val lDt = left.schema(leftTime).dataType
    val rDt = right.schema(rightTime).dataType
    def tagged(suffix: String) = right.select(
      (keys.map(col) ++ rv.map(c => col(c).as(c + suffix))): _*)
    val bwd = asofJoin(left, tagged("__bwd"), keys,
      leftTime, rightTime + "__bwd", rv.map(_ + "__bwd"), "backward")
    val both = asofJoin(bwd, tagged("__fwd"), keys,
      leftTime, rightTime + "__fwd", rv.map(_ + "__fwd"), "forward")
    val lT = micros(col(leftTime), lDt)
    val dB = lT - micros(col(rightTime + "__bwd"), rDt)  // ≥ 0 when present
    val dF = micros(col(rightTime + "__fwd"), rDt) - lT  // ≥ 0 when present
    // pick backward iff forward is missing, or backward present and
    // no farther than forward (tie → backward = earlier right row)
    val pickBwd = col(rightTime + "__bwd").isNotNull &&
      (col(rightTime + "__fwd").isNull || dB <= dF)
    val picked = rightVals.map { v =>
      when(pickBwd, col(v + "__bwd")).otherwise(col(v + "__fwd")).as(v)
    }
    both.select((left.columns.map(col).toSeq ++ picked): _*)
  }
}
