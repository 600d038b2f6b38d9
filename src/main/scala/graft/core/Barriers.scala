package graft.core

import org.apache.spark.sql.{ColumnarPin, DataFrame}

/** Plan junction barriers for the composed pipelines.
  *
  * The reference's eager R scripts reuse intermediate frames freely; in
  * lazy Spark every reuse duplicates the upstream LOGICAL SUBTREE, and a
  * chain of stages that each read their input several times (a frame
  * feeding an anti join, a rollup and a union with both, as financial's
  * company table does) grows the tree EXPONENTIALLY —
  * the multi-vintage scenario merge alone reaches millions of Catalyst
  * nodes and analysis time dominates execution. A barrier materializes the
  * junction once and replaces the subtree with a leaf.
  *
  * The junction rule: a frame that several consumers read inside a stage
  * is a barrier leaf; a frame with one consumer is not barriered at all
  * (and a stage OUTPUT its caller reads more than once is cached by that
  * stage instead — see RunWorkflow's CACHE OWNERSHIP note). A fan-out —
  * rows duplicated under new labels — is one generator
  * ([[graft.ops.Reshape.fanOut]]) over its input, not a junction: spell it
  * as a filter → relabel → union clone and the input gains a consumer.
  *
  * A barrier is always eager. Eager was A/B-measured against a lazy
  * `localCheckpoint(false)` in r15 on the full pipe_* bench family (same
  * build, same subset): eager won 1.00x vs 1.08x. The reason is the
  * junctions' defining property — MULTIPLE consumers. A lazily-marked RDD
  * consumed twice inside one physical plan is scanned twice BEFORE its
  * blocks are cached, so both scans recompute the junction concurrently;
  * eager pays one extra job per junction but guarantees every consumer
  * reads cached blocks. (Single-consumer loop states — the BPE/graph
  * fixpoint rounds — are the opposite case and use localCheckpoint(false)
  * directly.)
  *
  * Storage format: the pinned blocks are Spark's compressed in-memory
  * columnar batches (the format `Dataset.cache` uses: one byte buffer per
  * column per batch of `spark.sql.inMemoryColumnarStorage.batchSize` rows,
  * encoded by `DefaultCachedBatchSerializer`), not the deserialized
  * `UnsafeRow` copies `localCheckpoint(true)` keeps. On the composed
  * workflow the row copies held ~194 bytes per row against ~21 for the
  * batches (an NGFS price leg of 10,902 rows: 2.1 MB as rows). The batches
  * are a local checkpoint themselves, counted in one job, so the leaf's
  * lineage stops at them — the upstream plan never travels in a task
  * binary again. Values round-trip exactly (doubles as their raw 8 bytes,
  * so NaN payloads and -0.0 survive); see BarriersSpec.
  *
  * What the leaf reports: it is a `LogicalRDD` (scanned by `RDDScanExec`),
  * with the input plan's output partitioning, ordering and statistics, as
  * `Dataset.localCheckpoint`'s leaf has; its RDD keeps the input's
  * partitions and their row order. The job runs inside a SQL execution
  * named "localCheckpoint", so listeners and the job ledger see it as
  * before, and the batch RDD is named "graft junction" in the storage
  * tab and in `getRDDStorageInfo`.
  *
  * Eager has real costs (ADVICE r14): it runs a job at plan CONSTRUCTION
  * time even if the result is never consumed, and the pinned blocks are
  * NOT fault-tolerant — an executor loss fails the job instead of
  * recomputing. They are released like any local checkpoint: by the
  * context cleaner once the leaf is unreachable, or by unpersisting the
  * persistent RDDs.
  */
object Barriers {

  /** A frame whose logical plan is already a bare checkpoint leaf
    * (LogicalRDD is what [[barrier]] and localCheckpoint return). Barriering it
    * again runs one more Spark job to copy already-pinned blocks into a
    * second set of pinned blocks — pure job-count overhead with no plan
    * truncation left to gain (the composed pipelines double-barriered the
    * deepest vintage leg this way: once at its own junction, once in the
    * merge's barrierAll). Every leaf this object makes is already
    * materialized, so passing one through never defers a job.
    */
  private def alreadyBarriered(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  /** Pin `df` once as compressed columnar batches and return a leaf over
    * them (see the object doc): one Spark job besides the plan's own
    * query stages.
    */
  def barrier(df: DataFrame): DataFrame =
    if (alreadyBarriered(df)) df else ColumnarPin.pin(df, "graft junction")

  /** Cache a stage OUTPUT that its caller reads more than once (the other
    * half of the junction rule) as `df.cache()` does, under the stage's
    * name: its blocks show as "In-memory table <stage>". Returns `df`.
    */
  def stageCache(df: DataFrame, stage: String): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val session = ds.sparkSession
    session.sharedState.cacheManager.cacheQuery(
      ds, Some(stage), session.sessionState.conf.defaultCacheStorageLevel)
    df
  }

  /** Barrier a set of INDEPENDENT frames, overlapping their eager
    * materialization jobs (guide §2.6: actions are only sequential because
    * the driver calls them sequentially — submitting the independent
    * checkpoint jobs from a small pool lets each job's task tail be
    * back-filled by the next job's tasks). 3 jobs in flight is the guide's
    * sweet spot: enough to fill tails, not enough to thrash the box.
    * Callers must pass frames with NO data dependency on each other (the
    * vintage legs of a merge).
    */
  def barrierAll(dfs: Seq[DataFrame]): Seq[DataFrame] = Pools.mapAll(dfs, 3)(barrier)

  /** `df.planBarrier()` chain syntax for the pipeline modules. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def planBarrier(): DataFrame = barrier(df)
  }
}
