package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Barriers.BarrierOps

/** Streaming document ingestion — the continuous counterpart of the batch
  * incremental dedup (graft.operators.Dedup.exactIndex /
  * incrementalExactFlags): a corpus is deduplicated not once, but on every
  * arriving micro-batch.
  *
  * The join is STREAM-STATIC: the corpus index is a bounded (static) side
  * that Spark re-reads per micro-batch (or broadcasts when small), so no
  * streaming state accrues at all — in production the index lives in a
  * bucketed table keyed by the hash and is refreshed by the compaction job
  * that appends accepted batches. Intra-stream duplicates are handled by
  * the dropDuplicatesWithinWatermark stage (Events.dedupStream shape),
  * which bounds ITS state by the watermark horizon.
  */
object Ingest {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source document stream (each discovered file = arriving docs). */
  def readDocStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Keep only documents whose normalized text hash is NOT in the corpus
    * index (Dedup.exactIndex shape: `text_hash`, `corpus_id`) — a
    * stream-static left-anti join, stateless on the stream side.
    */
  def noveltyFilter(stream: DataFrame, index: DataFrame, text: String = "text"): DataFrame =
    stream
      .withColumn("text_hash", md5(lower(trim(col(text)))))
      .join(index.select("text_hash"), Seq("text_hash"), "left_anti")
      .drop("text_hash")

  /** The continuous-ingest half of the corpus-prep pass
    * ([[graft.operators.CorpusPrep]]): arriving documents pass the same
    * token-band quality gate, then the novelty filter against the static
    * corpus index — one narrow projection + one stream-static anti join,
    * stateless on the stream side, so the per-batch cost scales with the
    * batch, never the corpus. (The shuffle/shard stage stays batch: a
    * global permutation has no streaming meaning — re-shard the grown
    * corpus with `Sampling.globalShuffle` at manifest-build time.)
    * Output adds `n_tokens` for downstream packing.
    */
  def corpusGateStream(
      stream: DataFrame,
      index: DataFrame,
      minTokens: Int,
      maxTokens: Int,
      text: String = "text"): DataFrame =
    noveltyFilter(
      stream
        .withColumn("n_tokens", graft.functions.TextFns.tokenCount(col(text)))
        .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens),
      index, text)

  /** Continuous NEAR-dup screening — the streaming twin of the batch
    * `dd_incr_near` probe: every arriving micro-batch of documents is
    * MinHash-banded and probed against the static corpus index
    * (Dedup.minhashIndex shape, or the bucketed table the batch path
    * persists), emitting (batch_id, corpus_id, est_jaccard) candidate
    * pairs for downstream exact verification.
    *
    * Why foreachBatch and not a plain stream-static join: the probe ends
    * in a per-(batch doc, corpus doc) MAX over colliding bands, and an
    * aggregation after a stream-static join would force update mode with
    * unbounded pair state. Per-document probing is INDEPENDENT across
    * documents, so aggregating inside each micro-batch is exact — the
    * union of per-batch probe results equals the one-shot batch probe of
    * the same documents (equality pinned in StreamingSpec), with zero
    * streaming state.
    *
    * Write protocol: each micro-batch overwrites its own
    * `probe_batch=<id>` partition directory, so a crash-replayed batch
    * rewrites the identical rows instead of appending duplicates —
    * exactly-once per batch through the checkpoint, on a plain object
    * store, without a transactional table format.
    */
  def nearDupProbeSink(
      docs: DataFrame,
      index: DataFrame,
      outPath: String,
      checkpointDir: String,
      id: String = "doc_id",
      text: String = "text"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Dedup.incrementalNearDupPairs(batch, index, id, text)
          .write.mode("overwrite").parquet(s"$outPath/probe_batch=$batchId")
      }

  /** Streaming retrieval — the k-NN twin of [[nearDupProbeSink]] (VERDICT
    * r8 #6): every arriving micro-batch of query vectors runs the batched
    * [[graft.operators.Similarity.knnJoin]] against the STATIC
    * materialized IVF index. Per-query independence makes micro-batching
    * exact: a probe depends only on its own vector and the frozen index,
    * so the union over micro-batches equals the one-shot batch `knnJoin`
    * over the same query set (StreamingSpec pins the equality). Each
    * batch writes its own `probe_batch=N` dir — a checkpoint-replayed
    * batch overwrites idempotently. The index scan stays partition-pruned
    * per batch (distinct probed cells ≤ nCells, collected driver-side in
    * knnJoin); a growing corpus pairs this with
    * [[graft.operators.Similarity.appendToIvfIndex]] between batches.
    */
  def knnProbeSink(
      queries: DataFrame,
      indexPath: String,
      cents: Seq[(Int, Seq[Double])],
      outPath: String,
      checkpointDir: String,
      qId: String = "q_id",
      qVec: String = "q_emb",
      id: String = "vec_id",
      vec: String = "embedding",
      k: Int = 5,
      nProbe: Int = 4,
      excludeSelf: Boolean = true): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity.knnJoin(batch.sparkSession, indexPath,
            id, vec, batch, qId, qVec, k, cents, nProbe, excludeSelf)
          .write.mode("overwrite").parquet(s"$outPath/probe_batch=$batchId")
      }

  /** Streaming index maintenance — the ingest twin of [[knnProbeSink]]:
    * every arriving micro-batch of vectors is assigned to the FROZEN
    * codebook's cells and appended to the materialized inverted file
    * ([[graft.operators.Similarity.appendToIvfIndex]] — one pass over the
    * batch, only touched cell partitions gain files, no index read).
    * Together with [[knnProbeSink]] this closes the loop a growing
    * corpus needs: ingest appends, retrieval probes, and a periodic
    * full rebuild (corpus-doubling cadence) re-trains the codebook.
    *
    * foreachBatch only guarantees AT-LEAST-once delivery (a failure
    * between the sink's write and the checkpoint commit replays the
    * batch), and a raw parquet append is not idempotent — a replayed
    * batch would silently duplicate index rows. So this sink routes
    * through [[graft.operators.Similarity.appendToIvfIndexIdempotent]],
    * whose batch-keyed staged-rename protocol makes the append a no-op
    * on replay: exactly-once per batchId end-to-end, on a plain object
    * store. StreamingSpec pins both content equality with the one-shot
    * batch append AND replay safety (re-running a committed batch leaves
    * the index row-identical).
    */
  def indexAppendSink(
      vectors: DataFrame,
      indexPath: String,
      cents: Seq[(Int, Seq[Double])],
      checkpointDir: String,
      id: String = "vec_id",
      vec: String = "embedding"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.Similarity.appendToIvfIndexIdempotent(
          batch, id, vec, indexPath, cents, batchId)
      }

  /** Continuous frequency-sketch maintenance: every micro-batch writes
    * its OWN partial CMS counter table ([[graft.ops.Stats.cmsCounters]])
    * under `sketch_batch=<id>` — idempotent per batch (overwrite mode,
    * the [[nearDupProbeSink]] write protocol), so at-least-once replays
    * converge; readers fold partials by (j, bucket) SUM
    * ([[readCmsCounters]]), which by counter additivity is EXACTLY the
    * sketch of everything ingested (StreamingSpec pins bit-equality with
    * the one-shot batch sketch). This is the mergeable-summary pattern a
    * 100 TB stream needs: per-batch state is depth×width rows no matter
    * the batch size, no key-cardinality state accrues anywhere, and the
    * sketch answers point frequency queries ([[graft.ops.Stats
    * .cmsEstimate]]) without ever re-reading the data.
    */
  def cmsSketchSink(
      items: DataFrame,
      outPath: String,
      checkpointDir: String,
      key: String,
      depth: Int = 3,
      width: Int = 256): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    items.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Stats.cmsCounters(batch, key, depth, width)
          .write.mode("overwrite").parquet(s"$outPath/sketch_batch=$batchId")
      }

  /** Fold the per-batch partial sketches of [[cmsSketchSink]] into the
    * single counter table of everything ingested (exact by additivity).
    */
  def readCmsCounters(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Continuous EXACT eval-metric maintenance over a scored stream: each
    * micro-batch writes its own per-score (v, cp, cn) AUC partial
    * (`Stats.aucPartials` — additive, so idempotent batch-keyed
    * overwrite gives exactly-once content under replay, the
    * [[cmsSketchSink]] contract), and [[readAuc]] folds all partials
    * into the EXACT ROC AUC of everything ingested so far — bit-equal
    * to the one-shot `Stats.rocAuc` over the union (StreamingSpec).
    * State per batch is |distinct scores in the batch| rows; no history
    * is ever re-read. `pos`/`valueCents` are column names on the stream
    * (pre-quantize scores to integer cents upstream).
    */
  def aucSink(
      scored: DataFrame,
      outPath: String,
      checkpointDir: String,
      pos: String,
      valueCents: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    scored.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Stats.aucPartials(batch, col(pos), col(valueCents))
          .write.mode("overwrite").parquet(s"$outPath/auc_batch=$batchId")
      }

  /** The exact AUC of everything [[aucSink]] has ingested. */
  def readAuc(spark: SparkSession, path: String, buckets: Int = 256): DataFrame =
    graft.ops.Stats.rocAucFromPartials(spark.read.parquet(path), buckets)

  /** Self-maintaining ingest: [[indexAppendSink]] plus the compaction
    * trigger, in one sink — every micro-batch is appended exactly-once
    * (the batch-keyed staged-rename protocol), then every
    * `compactEveryNBatches` batches the threshold sweep
    * ([[graft.operators.Similarity.compactIvfIndex]]) rewrites only the
    * cells whose file count crossed `maxFilesPerCell`. This is the full
    * index lifecycle a growing corpus needs running unattended: ingest
    * appends, the sweep keeps per-cell file counts bounded (so probe
    * open/seek cost stays O(nProbe), not O(batches)), retrieval probes
    * concurrently ([[knnProbeSink]] — compaction is content-preserving
    * and partition-swapped, so probes see either the old or the new
    * files, never a partial cell), and only the periodic codebook
    * re-train stays a scheduled batch job.
    *
    * Compaction runs AFTER the batch's append committed, so the
    * no-inflight-append guard can never trip on our own batch; a crash
    * between append-commit and compaction just defers the sweep to the
    * next trigger — compaction is idempotent maintenance, not data.
    */
  /** `profileEveryNBatches` (0 = off) closes the unattended lifecycle's
    * last edge: every N batches the sink profiles the index
    * (Similarity.cellStats). The FIRST profile persists the drift
    * baseline; later ones run the needsRetrain trigger against it and
    * maintain a `_needs_retrain` marker — present (with the measured
    * ratios) while the trigger fires, absent otherwise — which the
    * maintenance scheduler polls ([[graft.operators.Similarity
    * .retrainRequested]]) to launch the BATCH rebuildIvfIndex. The
    * stream itself never rebuilds: a rebuild swaps the codebook, and
    * this sink assigns with the codebook it was started with — restart
    * the sink with the new codebook after a rebuild (the same contract
    * as any frozen-codebook consumer).
    */
  def indexMaintainSink(
      vectors: DataFrame,
      indexPath: String,
      cents: Seq[(Int, Seq[Double])],
      checkpointDir: String,
      id: String = "vec_id",
      vec: String = "embedding",
      maxFilesPerCell: Int = 8,
      compactEveryNBatches: Int = 4,
      profileEveryNBatches: Int = 0,
      driftThreshold: Double = 1.5,
      skewThreshold: Double = 4.0): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import graft.operators.Similarity
        val spark = batch.sparkSession
        Similarity.appendToIvfIndexIdempotent(
          batch, id, vec, indexPath, cents, batchId)
        if ((batchId + 1) % compactEveryNBatches == 0) {
          Similarity.compactIvfIndex(spark, indexPath, maxFilesPerCell)
          ()
        }
        if (profileEveryNBatches > 0 && (batchId + 1) % profileEveryNBatches == 0) {
          val fs = new org.apache.hadoop.fs.Path(indexPath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val baseline =
            new org.apache.hadoop.fs.Path(s"$indexPath/_codebook/stats_baseline")
          if (!fs.exists(baseline)) Similarity.baselineIvfIndex(spark, indexPath, vec)
          else {
            val (needed, ratio, skew) =
              Similarity.needsRetrain(spark, indexPath, vec, driftThreshold, skewThreshold)
            val marker = new org.apache.hadoop.fs.Path(s"$indexPath/_needs_retrain")
            if (needed) {
              val out = fs.create(marker, true)
              try out.write(
                s"inertia_ratio=$ratio\nmax_share_ratio=$skew\nbatch=$batchId\n"
                  .getBytes("UTF-8"))
              finally out.close()
            } else fs.delete(marker, false)
          }
        }
        ()
      }

  /** Apply one micro-batch of dimension updates to a parquet target with
    * MERGE semantics (ops.Joins.upsert). The batch is first collapsed to
    * one row per key — HIGHEST `versionCol` wins, deterministically
    * (Joins.dedupKeepFirst, not dropDuplicates) — so replayed or
    * out-of-order updates within a batch converge to the same target.
    *
    * Write protocol: merge into a staging dir, then swap (delete + rename).
    * The staging write fully materializes the merge BEFORE the old target
    * is touched, so a crash leaves either the old or the new target, never
    * a partial one. (A transactional table format does this with metadata
    * pointers instead of a rename; on a plain object store this is the
    * honest primitive, and the rename is per-batch — not per-row.)
    */
  def applyUpsertBatch(
      batch: DataFrame,
      targetPath: String,
      keys: Seq[String],
      versionCol: String): Unit = {
    val spark = batch.sparkSession
    import org.apache.hadoop.fs.Path
    val fs = new Path(targetPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tgt = new Path(targetPath)
    // repair any interrupted prior swap BEFORE the existence check below:
    // a target missing only because a swap crashed mid-rename must not be
    // mistaken for an empty table (that overwrite would lose the corpus)
    graft.core.StagedSwap.recover(spark, targetPath)
    // survivor order: highest version, then every payload column — total,
    // so two same-key same-version rows still dedup deterministically
    val payloadCols = batch.columns.filterNot(keys.contains).filterNot(_ == versionCol)
      .sorted.map(col(_).asc)
    val latest = graft.ops.Joins.dedupKeepFirst(batch, keys,
      Seq(col(versionCol).desc) ++ payloadCols)
    val merged =
      if (fs.exists(tgt))
        graft.ops.Joins.upsert(spark.read.parquet(targetPath), latest, keys)
      else latest
    graft.core.StagedSwap.replace(spark, targetPath) { stage =>
      merged.write.mode("overwrite").parquet(stage)
    }
  }

  /** One micro-batch of [[snapshotPublishSink]], exposed for replay
    * specs: merge the batch into its target partitions and publish the
    * result as ONE atomic manifest version. The merge drops any rows a
    * previous delivery of the SAME `batchId` left in those partitions
    * (the `ingest_batch_id` column is the dedup key), so an
    * at-least-once replay converges to identical content — the
    * staged-rename idea of the index append, lifted to arbitrary
    * partitioned tables. Only the batch's own partitions rewrite;
    * everything else carries over by manifest reference, and a reader
    * pinned to the previous version is untouched.
    */
  def applyPublishBatch(
      batch: DataFrame,
      targetPath: String,
      partitionCol: String,
      batchId: Long): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val stamped = batch.withColumn("ingest_batch_id", lit(batchId))
    val parts = batch.select(partitionCol).distinct().collect().map(_.get(0))
    val existing = graft.core.Snapshots.latestVersion(spark, targetPath).map { v =>
      graft.core.Snapshots.readSnapshot(spark, targetPath, Some(v))
        .filter(col(partitionCol).isin(parts: _*))
        // NULL-SAFE inequality: a row with a null ingest_batch_id (a
        // backfill that added the column) must SURVIVE the replay sweep
        // — plain =!= evaluates null and would silently drop it
        .filter(!(col("ingest_batch_id") <=> lit(batchId)))
    }
    val merged = existing.fold(stamped)(_.unionByName(stamped))
      // the publish stages from this plan while older generations stay
      // readable — materialize so the rewrite sees a fixed row set
      .planBarrier()
    graft.core.Snapshots.publishPartitions(spark, targetPath) { stage =>
      merged.write.partitionBy(partitionCol).parquet(stage)
    }
  }

  /** Continuous ATOMIC table maintenance over plain parquet — the
    * streaming twin of u12_snapshot_publish: every micro-batch merges
    * into its target partitions and commits through ONE manifest rename
    * (graft.core.Snapshots), so a concurrent reader either sees the
    * whole batch or none of it, never a half-written partition set —
    * the isolation property the plain upsert/append sinks cannot give
    * without a table format. Exactly-once CONTENT under foreachBatch's
    * at-least-once delivery via the per-row `ingest_batch_id` dedup
    * (see [[applyPublishBatch]]); superseded versions accumulate until
    * `Snapshots.vacuum` (the maintenance scheduler's call, after pinned
    * readers drain). Readers use `Snapshots.readSnapshot`.
    */
  def snapshotPublishSink(
      updates: DataFrame,
      targetPath: String,
      checkpointDir: String,
      partitionCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyPublishBatch(batch, targetPath, partitionCol, batchId)
      }

  /** Continuous dimension maintenance: every arriving micro-batch of
    * updates is MERGEd into the parquet target — the streaming twin of the
    * batch u6_upsert. foreachBatch gives exactly-once-per-batch semantics
    * through the checkpoint (a replayed batch re-merges idempotently:
    * upsert of the same rows is a no-op on the merged state).
    */
  def upsertSink(
      updates: DataFrame,
      targetPath: String,
      checkpointDir: String,
      keys: Seq[String],
      versionCol: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyUpsertBatch(batch, targetPath, keys, versionCol)
      }

  /** One micro-batch of [[mergeSink]], exposed for replay specs: collapse
    * the batch to one op per key (highest `seqCol` wins; ties break on op
    * then payload so the survivor is total-order deterministic), then
    * three-way MERGE it into the snapshot table as ONE atomic version
    * (graft.core.SnapshotOps.merge — deletes drop rows and possibly whole
    * partitions from the manifest, upserts replace-or-insert, untouched
    * partitions carry over unread).
    *
    * Replay safety under foreachBatch's at-least-once delivery: a
    * replayed upsert re-replaces the key with identical rows (no-op on
    * content), a replayed delete finds its key already gone and merges
    * nothing (`allowNoop` — no commit at all). The only replay residue is
    * at most one extra superseded version; content converges.
    */
  def applyMergeBatch(
      batch: DataFrame,
      targetPath: String,
      keys: Seq[String],
      partitionCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): Unit = {
    if (batch.isEmpty) return
    val payloadCols = batch.columns
      .filterNot(keys.contains).filterNot(c => c == seqCol)
      .sorted.map(col(_).asc)
    val latest = graft.ops.Joins.dedupKeepFirst(batch, keys,
        Seq(col(seqCol).desc) ++ payloadCols)
      .drop(seqCol)
    graft.core.SnapshotOps.merge(batch.sparkSession, targetPath, latest,
      keys, partitionCol, opCol, allowNoop = true)
    ()
  }

  /** UNATTENDED snapshot-table maintenance: every micro-batch publishes
    * atomically (the [[snapshotPublishSink]] replay-safe protocol), and
    * every `optimizeEveryNBatches`-th batch runs the bin-packed OPTIMIZE
    * plus a retention vacuum — the table twin of [[indexMaintainSink]]'s
    * append→compact loop, closing the operational story for streamed
    * tables: without the tick, small per-batch files accumulate until
    * reads die of listing and task overhead; with it, file counts stay
    * bounded and superseded versions reclaim, all from ONE sink. The
    * optimize commit carries expectedPrev (this sink is the table's
    * single writer by the streaming-query contract, so the check is a
    * tripwire for misconfigured concurrent writers, not a retry loop).
    */
  def snapshotMaintainSink(
      updates: DataFrame,
      targetPath: String,
      checkpointDir: String,
      partitionCol: String,
      targetFileBytes: Long = 128L << 20,
      optimizeEveryNBatches: Int = 4,
      keepVersions: Int = 4,
      vacuumGraceMs: Long = 15L * 60 * 1000): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(optimizeEveryNBatches >= 1, "optimizeEveryNBatches must be >= 1")
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyPublishBatch(batch, targetPath, partitionCol, batchId)
        // the tick is a no-op until something published: a stream of
        // empty micro-batches must not crash on "no version"
        if ((batchId + 1) % optimizeEveryNBatches == 0 &&
            graft.core.Snapshots.latestVersion(batch.sparkSession, targetPath).nonEmpty) {
          graft.core.SnapshotOps.optimize(
            batch.sparkSession, targetPath, targetFileBytes)
          graft.core.Snapshots.vacuum(
            batch.sparkSession, targetPath, keepVersions, vacuumGraceMs)
          ()
        }
        ()
      }
  }

  /** Continuous keyed CHANGE-STREAM maintenance: every micro-batch of
    * (key, op, payload, seq) rows MERGEs into the snapshot table through
    * one atomic manifest commit — the streaming twin of the batch
    * u16_merge, and the upgrade over [[upsertSink]] a CDC feed needs
    * (deletes are first-class; a reader pinned to version N never sees a
    * half-applied batch). Per batch: in-batch collapse to the final op
    * per key, then [[graft.core.SnapshotOps.merge]] — IO proportional to
    * the affected partitions, never the table.
    */
  def mergeSink(
      updates: DataFrame,
      targetPath: String,
      checkpointDir: String,
      keys: Seq[String],
      partitionCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyMergeBatch(batch, targetPath, keys, partitionCol, opCol, seqCol)
      }

  /** One micro-batch of [[mergeOnReadSink]], exposed for replay specs:
    * the same in-batch collapse as [[applyMergeBatch]], then
    * [[graft.core.SnapshotOps.mergeOnRead]] — matched rows die by
    * deletion vector, survivors append, NO existing data file rewrites.
    *
    * Replay safety: a replayed delete finds its positions already dead
    * (the probe subtracts existing DVs) and merges nothing — `allowNoop`,
    * no commit; a replayed upsert re-kills the row it just inserted and
    * re-inserts identical content, so the table converges with at most
    * one superseded version and one extra dead position per replay —
    * both reclaimed by the purge tick.
    */
  def applyMergeOnReadBatch(
      batch: DataFrame,
      targetPath: String,
      keys: Seq[String],
      partitionCol: String,
      opCol: String = "op",
      seqCol: String = "seq"): Unit = {
    if (batch.isEmpty) return
    val payloadCols = batch.columns
      .filterNot(keys.contains).filterNot(c => c == seqCol)
      .sorted.map(col(_).asc)
    val latest = graft.ops.Joins.dedupKeepFirst(batch, keys,
        Seq(col(seqCol).desc) ++ payloadCols)
      .drop(seqCol)
    graft.core.SnapshotOps.mergeOnRead(batch.sparkSession, targetPath, latest,
      keys, partitionCol, opCol, allowNoop = true)
    ()
  }

  /** Continuous CDC maintenance in MERGE-ON-READ shape: every micro-batch
    * commits its deletes as deletion vectors and its upserts as additive
    * files ([[graft.core.SnapshotOps.mergeOnRead]] — per-batch cost
    * ∝ batch, no data-file rewrites in the hot path: the 100 TB upgrade
    * over [[mergeSink]] for frequent small batches), and every
    * `purgeEveryNBatches`-th batch materializes the pending vectors
    * file-grain plus a retention vacuum — bounding the read-side DV tax
    * the way [[snapshotMaintainSink]] bounds small files. One sink closes
    * the loop: hot-path sidecar commits, scheduled rewrite, reclamation.
    */
  def mergeOnReadSink(
      updates: DataFrame,
      targetPath: String,
      checkpointDir: String,
      keys: Seq[String],
      partitionCol: String,
      opCol: String = "op",
      seqCol: String = "seq",
      purgeEveryNBatches: Int = 8,
      keepVersions: Int = 4,
      vacuumGraceMs: Long = 15L * 60 * 1000): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(purgeEveryNBatches >= 1, "purgeEveryNBatches must be >= 1")
    updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMergeOnReadBatch(batch, targetPath, keys, partitionCol, opCol, seqCol)
        if ((batchId + 1) % purgeEveryNBatches == 0 &&
            graft.core.Snapshots.latestVersion(batch.sparkSession, targetPath).nonEmpty) {
          graft.core.SnapshotOps.purgeDeletes(batch.sparkSession, targetPath)
          graft.core.Snapshots.vacuum(
            batch.sparkSession, targetPath, keepVersions, vacuumGraceMs)
          ()
        }
        ()
      }
  }
}
