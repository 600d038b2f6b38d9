package graft.core

import org.apache.spark.sql.DataFrame

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
  * A barrier is always eager (`localCheckpoint(true)`). Eager was
  * A/B-measured against a lazy `localCheckpoint(false)` in r15 on the full
  * pipe_* bench family (same build, same subset): eager won 1.00x vs
  * 1.08x. The reason is the junctions' defining property — MULTIPLE
  * consumers. A lazily-marked RDD consumed twice inside one physical plan
  * is scanned twice BEFORE its blocks are cached, so both scans recompute
  * the junction concurrently; eager pays one extra job per junction but
  * guarantees every consumer reads cached blocks. (Single-consumer loop
  * states — the BPE/graph fixpoint rounds — are the opposite case and use
  * localCheckpoint(false) directly.) Eager has real costs (ADVICE r14): it
  * runs a job at plan CONSTRUCTION time even if the result is never
  * consumed, and the checkpointed blocks are NOT fault-tolerant — an
  * executor loss fails the job instead of recomputing.
  */
object Barriers {

  /** A frame whose logical plan is already a bare checkpoint leaf
    * (LogicalRDD is exactly what localCheckpoint returns). Barriering it
    * again runs one more Spark job to copy already-pinned blocks into a
    * second set of pinned blocks — pure job-count overhead with no plan
    * truncation left to gain (the composed pipelines double-barriered the
    * deepest vintage leg this way: once at its own junction, once in the
    * merge's barrierAll). Every leaf this object makes is already
    * materialized, so passing one through never defers a job.
    */
  private def alreadyBarriered(df: DataFrame): Boolean =
    df.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  def barrier(df: DataFrame): DataFrame =
    if (alreadyBarriered(df)) df else df.localCheckpoint(true)

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
