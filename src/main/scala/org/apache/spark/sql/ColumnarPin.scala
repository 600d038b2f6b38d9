package org.apache.spark.sql

import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.columnar.DefaultCachedBatchSerializer
import org.apache.spark.storage.StorageLevel

/** The Spark-private half of [[graft.core.Barriers.barrier]]: pin a frame as
  * the compressed columnar batches of Spark's in-memory cache and return a
  * leaf over them. `Dataset.ofRows` and `LogicalRDD.fromDataset` are private
  * to `org.apache.spark.sql`, hence this package.
  */
object ColumnarPin {
  private val serializer = new DefaultCachedBatchSerializer

  /** Encodes the frame's rows as cached batches, local-checkpoints the batch
    * RDD (named `name`) and counts it — one job, after which the batches'
    * lineage is cut — and returns a `LogicalRDD` over the batches decoded
    * back to rows. The leaf reports the plan's partitioning, ordering and
    * statistics, as `Dataset.localCheckpoint`'s leaf does.
    *
    * Everything runs inside one SQL execution named "localCheckpoint", as
    * `Dataset.localCheckpoint` does, so the query-stage jobs adaptive
    * execution submits from its own threads carry the caller's execution,
    * and query-execution listeners see the pin. Spark's call-site capture
    * skips this package's frames, so every job names the caller's frame.
    */
  def pin(df: DataFrame, name: String): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val conf = ds.sparkSession.sessionState.conf
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val plan = qe.executedPlan
      val batches = serializer.convertInternalRowToCachedBatch(
          plan.execute(), plan.output, StorageLevel.MEMORY_AND_DISK, conf)
        .setName(name)
        .localCheckpoint()
      batches.count()
      val rows = serializer.convertCachedBatchToInternalRow(batches, plan.output, plan.output, conf)
      classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
    }
  }
}
