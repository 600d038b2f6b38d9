package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.TimeSeries

/** Physical-plan audits: these encode the at-scale requirements (filter
  * pushdown reaching the parquet scan, column pruning, broadcast joins for
  * dims, exchange reuse across window chains) so a regression that would
  * only show up as a 100 TB slowdown fails a unit test instead.
  */
class PlanSpec extends SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("projection is pruned to the parquet ReadSchema (S1)") {
    val p = plan(SparkEntry.queries("s1_scan_prune")(spark, sfDir))
    assert(p.contains("ReadSchema"))
    assert(p.contains("o_orderkey") && p.contains("o_totalprice"))
    assert(!p.contains("o_orderdate"), "unused columns must not be read")
  }

  test("filters are pushed down to the scan (P5)") {
    val df = Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 45)
      .select("l_orderkey")
    val p = plan(df)
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(l_quantity"),
      s"expected pushed filter in:\n$p")
  }

  test("dimension joins broadcast (J2 / entry)") {
    assert(plan(SparkEntry.queries("j2_left_join")(spark, sfDir)).contains("BroadcastHashJoin"))
    assert(plan(SparkEntry.entry(spark)).contains("BroadcastHashJoin"))
  }

  test("ann_binary_quant: broadcast query, no shuffle before the candidate top-k") {
    val p = plan(SparkEntry.queries("ann_binary_quant")(spark, sfDir))
    // first stage: one corpus scan against a broadcast 1-row query — the
    // only exchanges allowed are the broadcast itself and the top-k merges
    // (TakeOrderedAndProject plans a partial per-partition top-k; a
    // ShuffleExchange before it would mean the packed-codes scan shuffled
    // corpus rows)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be partial:\n$p")
    assert(!p.contains("ShuffleExchange") || !p.split("TakeOrderedAndProject")(0)
      .contains("ShuffleExchange"),
      s"corpus rows shuffled before the hamming top-k:\n$p")
  }

  test("window chain over one partitioning shuffles once (W4)") {
    // naApprox uses two frames (backward + forward) over the same keys —
    // must not introduce a second exchange for the second frame.
    val base = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("g"), col("l_linenumber").as("x"), col("l_quantity").as("v"))
    val p = plan(TimeSeries.naApprox(base, Seq("g"), "x", "v", "vi"))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected a single shuffle, got $exchanges in:\n$p")
  }

  test("fillDown after naApprox reuses the same exchange (pipeline chain)") {
    val base = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("g"), col("l_linenumber").as("x"), col("l_quantity").as("v"))
    val chained = TimeSeries.fillDown(
      TimeSeries.naApprox(base, Seq("g"), "x", "v", "vi"), Seq("g"), "x", "vi", "vf")
    val exchanges = "Exchange".r.findAllIn(plan(chained)).size
    assert(exchanges == 1, s"W4 -> W3 chain must share one shuffle, got $exchanges")
  }

  test("completeGrid join is co-partitioned on the window keys (R4)") {
    val base = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("g"), col("l_linenumber").as("x"), col("l_quantity").as("v"))
    val completed = TimeSeries.completeGrid(base, Seq("g"), "x", 1, 7)
    // grid join output feeds naApprox without an extra shuffle on g
    val p = plan(TimeSeries.naApprox(completed, Seq("g"), "x", "v", "vi"))
    assert(p.contains("Window"), p)
  }

  test("anchor backfill broadcasts the 1-row-per-group anchor (W11)") {
    val p = plan(SparkEntry.queries("w11_anchor_backfill")(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"anchor lookup must broadcast, not shuffle the facts:\n$p")
  }

  test("cross-complete grid builds from broadcast distinct sets (R10)") {
    val p = plan(SparkEntry.queries("r10_cross_grid")(spark, sfDir))
    // the distinct-set cross product must be broadcast-shaped (tiny sides),
    // never a shuffled cartesian of the fact table
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"distinct-set cross must broadcast:\n$p")
  }

  test("stripBoilerplate: dictionary join is hint-free; AQE broadcasts a small dictionary") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val df = graft.operators.CorpusPrep.stripBoilerplate(docs, "doc_id", "text", 5)
    // the dictionary is only tiny for well-behaved corpora — at minDocs=2
    // over a web crawl it can reach 10⁸ rows, so a hard broadcast() hint
    // is a driver OOM at scale: the logical plan must carry NO join hint
    // and leave the strategy to AQE's runtime stats (VERDICT r7 §wrong-1)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    joins.foreach(j => assert(j.hint == JoinHint.NONE, s"unexpected forced hint: ${j.hint}"))
    // ...and on an actually-small dictionary AQE must still arrive at the
    // broadcast LeftAnti at runtime (the fixture-scale efficiency check)
    df.count()
    val p = plan(df)
    assert(p.contains("LeftAnti") && p.contains("BroadcastExchange"),
      s"AQE should broadcast the small dictionary anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cartesian shapes expected:\n$p")
  }

  test("bloomPrefilterFlags: broadcast hint present under the bitmap ceiling, absent above") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import graft.operators.Dedup
    val sqlCtx = spark
    import sqlCtx.implicits._
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma"), (11L, "fresh material")).toDF("doc_id", "text")
    def hints(mBits: Int) = {
      val out = Dedup.bloomPrefilterFlags(batch,
        Dedup.bloomIndex(corpus, "doc_id", "text", mBits = mBits),
        Dedup.exactIndex(corpus, "doc_id", "text"), "doc_id", "text", mBits = mBits)
      out.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
    }
    // small bitmap: the probe join must carry the broadcast hint (the
    // bitmap is provably mBits/32 rows — no reason to shuffle the batch)
    assert(hints(1 << 14).exists(_ != JoinHint.NONE),
      "expected a broadcast hint on the small-bitmap probe join")
    // above BloomBroadcastMaxBits the hint must disappear: the documented
    // production bitmap (2^30 bits ≈ 400 MB as rows) sits past the
    // broadcast ceiling, so the strategy is AQE's call, not a forced hint
    assert(hints(Dedup.BloomBroadcastMaxBits * 2).forall(_ == JoinHint.NONE),
      "big-bitmap probe join must be hint-free")
  }

  test("spanOverlapStats: only hash/doc keys shuffle, document text never does") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val p = plan(graft.operators.Dedup.spanOverlapStats(docs, "doc_id", "text", 16))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no cartesian shapes expected:\n$p")
    // every hash-partitioned exchange keys on the window hash and/or doc id
    // (8-byte columns) — the text column must stay out of all shuffles
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(e.contains("__h") || e.contains("doc_id"), s"unexpected shuffle key: $e")
      assert(!e.contains("text"), s"document text must not shuffle: $e")
    }
  }

  test("cdcChunks: cumsum and lead windows share one id exchange; no per-token shuffle") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val p = plan(graft.operators.Dedup.cdcChunks(docs, "doc_id", "text", 4, 8))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the boundary cumsum and the chunk-end lead are both windows over the
    // doc id — the filter between them must not break exchange reuse. Two
    // doc_id exchanges are inherent (the window chain's one + the token-
    // array side of the bounds⋈toks join); a third would mean the lead
    // window re-shuffled what the cumsum already partitioned
    val idOnly = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(doc_id"))
      .filterNot(_.contains("__")).toSeq
    assert(idOnly.size <= 2,
      s"cumsum->lead window chain must share one doc_id shuffle:\n${idOnly.mkString("\n")}")
    p.linesIterator.filter(_.contains("Exchange")).foreach { e =>
      assert(!e.contains("__tok,") && !e.contains("text"),
        s"per-token/text shuffle crept back in: $e")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the cluster-scale complement of Dedup.bloomPrefilterFlags: when a
    // dimension is filtered selectively but the join cannot broadcast,
    // Spark's runtime-filter rule builds a bloom filter from the filtered
    // dim keys and injects might_contain(...) on the FACT side, pruning
    // shuffle input at run time. Pin that the rule fires on our session
    // config (it is the 100-TB defense for selective non-broadcast joins),
    // and that the filter is semantically a no-op.
    // fixture scans are far below the 10 GB default application-side
    // threshold, so drop it — at the real scale this test stands in for,
    // the default would already pass
    withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      def q = {
        val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
        val ord = Tables.orders(spark, sfDir)
          .filter(col("o_totalprice") > 400000.0)
          .select("o_orderkey")
        li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      }
      val p = q.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter should be injected on the fact side:\n$p")
      val withFilter = q.count()
      val without = withConf("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        q.count()
      }
      assert(withFilter == without && withFilter > 0,
        s"bloom pruning must not change results: $withFilter vs $without")
    }
  }
}
