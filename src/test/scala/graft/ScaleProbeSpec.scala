package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CorpusPrep, Dedup, Similarity}

/** Empirical 10x scale probe for the production-shape pipelines.
  *
  * Every 100x-scale claim elsewhere is plan-shape-argued (pinned
  * exchanges, partition filters) but measured only at fixture size
  * (sf0.1 = 5k docs / 2k vectors). This spec generates synthetic corpora
  * IN-TEST (distributed `spark.range` + hash-derived text/vectors — no
  * fixtures, no driver-side generation) at a small and a 10x size well
  * above sf0.1, runs each pipeline at both, and asserts:
  *
  *   1. runtime grows ~linearly — t(10N) <= 25 x t(N) (linear = 10x,
  *      2.5x slack for sandbox contention; floors guard tiny
  *      denominators), after an untimed warm run amortizes codegen/JIT;
  *   2. the physical plan keeps its pinned shape at 10x — same Exchange
  *      count (a plan that re-shuffles more as data grows is the failure
  *      mode this guards), partition filters still present on the IVF
  *      probe, the bucketed dedup-index probe still shuffles ONLY the
  *      batch side;
  *   3. results stay correct at 10x — planted exact/near duplicates are
  *      recovered at the documented recall floors.
  *
  * Numbers printed by `info(...)` are recorded in BASELINE.md ("Scale
  * probe" section) per round.
  */
class ScaleProbeSpec extends SparkTestBase {
  import spark.implicits._

  // ---- synthetic corpora -------------------------------------------------

  /** ~40-token documents with hash-derived vocabulary (unique per doc, so
    * only PLANTED duplicates collide): 3% exact copies at id + 1<<40 and
    * 3% near-copies (one token appended, 3-shingle Jaccard ~ 38/41 = 0.93)
    * at id + 1<<41 — offsets far above any base id, per the planted-id
    * rule from round 5 (TextData's 1L<<40 precedent).
    */
  private def syntheticDocs(n: Long): DataFrame = {
    val base = spark.range(n).select(
      col("id").as("doc_id"),
      array_join(
        transform(sequence(lit(1), lit(40)),
          k => substring(md5(concat_ws("-", col("id"), k)), 1, 6)),
        " ").as("text"))
    val exact = base.filter(pmod(col("doc_id"), lit(100)) < 3)
      .select((col("doc_id") + lit(1L << 40)).as("doc_id"), col("text"))
    val near = base
      .filter(pmod(col("doc_id"), lit(100)).between(50, 52))
      .select((col("doc_id") + lit(1L << 41)).as("doc_id"),
        concat(col("text"), lit(" zzextra")).as("text"))
    base.unionByName(exact).unionByName(near)
  }

  /** Deterministic dim-32 vectors: sin(id * k) per dimension — spread over
    * [-1, 1], no driver-side generation, stable across partitionings.
    */
  private def syntheticVecs(n: Long, dim: Int = 32): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        k => sin(col("id") * k)).as("embedding"))

  // ---- harness -----------------------------------------------------------

  private def timed(f: => Long): (Long, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size

  /** Linear-growth gate: 10x data within 25x time (floors avoid flaky
    * tiny-denominator ratios on a contested sandbox).
    */
  private def assertLinear(name: String, tSmall: Double, tBig: Double): Unit = {
    val ratio = tBig / math.max(tSmall, 0.3)
    info(f"$name: small=$tSmall%.2fs big=$tBig%.2fs ratio=$ratio%.1fx")
    assert(ratio <= 25.0,
      f"$name grew $ratio%.1fx on 10x data (linear = 10x, gate = 25x)")
  }

  private val nDocs = 50000L   // 10x sf0.1's documents fixture
  private val nVecs = 20000L   // 10x sf0.1's embeddings fixture

  // ---- probes ------------------------------------------------------------

  test("sm_corpus_prep shape: 10x docs within linear time, same exchange count") {
    def prep(n: Long): DataFrame =
      CorpusPrep.prepare(syntheticDocs(n), "doc_id", "text",
        minTokens = 1, maxTokens = 1000, rowsPerShard = 4096)
    // time CONSTRUCTION + action together: globalShuffle's offsets pass is
    // an eager driver-side collect, and it scales with n like the rest
    def run(n: Long): (Long, Double) = timed(prep(n).count())
    run(nDocs)                                  // warm: codegen + JIT
    val (rowsSmall, tSmall) = run(nDocs)
    val (rowsBig, tBig) = run(nDocs * 10)
    val (planSmall, planBig) = (prep(nDocs), prep(nDocs * 10))
    // exact copies deduped, near-copies kept (content differs), all
    // positions assigned: survivors = base + near
    assert(rowsSmall == nDocs + (nDocs * 3) / 100,
      s"small survivors $rowsSmall")
    assert(rowsBig == nDocs * 10 + (nDocs * 10 * 3) / 100,
      s"big survivors $rowsBig")
    assert(exchanges(planSmall) == exchanges(planBig),
      "corpus-prep plan changed shape at 10x")
    assertLinear("sm_corpus_prep", tSmall, tBig)
  }

  test("dd_corpus_dedup: 10x docs within linear time, planted dups recovered") {
    // smaller base — the minhash stage is the most compute-dense probe
    val n = 20000L
    // construction is NOT lazy here — canonicalize's pointer-doubling
    // rounds run eagerly (localCheckpoint per round), so the whole
    // pipeline must sit inside the timed block
    def run(m: Long): (Long, Double) =
      timed(Dedup.dedupCorpus(syntheticDocs(m), "doc_id", "text").count())
    run(n)                                      // warm
    val (rowsSmall, tSmall) = run(n)
    val (rowsBig, tBig) = run(n * 10)
    // survivors = one per cluster: base docs, minus misses among planted
    // near-dups (64 hashes / 8 bands at j=0.93 miss ~0.14% of pairs).
    // Exact copies always collide (identical sigs) -> recall floor 99%.
    def checkRecall(m: Long, survivors: Long): Unit = {
      val planted = (m * 3) / 100 * 2           // exact + near
      val removed = (m + planted) - survivors
      val recall = removed.toDouble / planted
      info(f"dd_corpus_dedup n=$m: planted=$planted removed=$removed recall=$recall%.4f")
      assert(recall >= 0.99, f"planted-dup recall $recall%.4f < 0.99 at n=$m")
      assert(survivors >= m, "dedup must never remove non-duplicates")
    }
    checkRecall(n, rowsSmall)
    checkRecall(n * 10, rowsBig)
    assertLinear("dd_corpus_dedup", tSmall, tBig)
  }

  test("ann_ivf_indexed: probe stays partition-pruned and reads a fraction of the corpus at 10x") {
    val dir = java.nio.file.Files.createTempDirectory("scale_ivf").toString
    val vecs = syntheticVecs(nVecs * 10)
    val cents = Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      s"$dir/idx", nCells = 16, trainIters = 2)
    val qvec = (1 to 32).map(k => math.sin(7.0 * k))
    def probe() = Similarity.probeIvfIndex(spark, s"$dir/idx", "vec_id",
      "embedding", qvec, queryId = 7L, k = 10, cents, nProbe = 4)
    probe().collect()                           // warm
    val (_, tProbe) = timed(probe().count())
    val plan = probe().queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"probe lost partition pruning at 10x:\n$plan")
    // the claim that matters at 100 TB is BYTES READ, not local wall-clock
    // (at 200k rows a ~0.25 s per-query constant swamps the scan delta and
    // made a timing assertion contention-flaky): with the partition filter
    // proven above, the probe reads exactly the probed cells' rows —
    // assert the trained codebook keeps that a real fraction of the corpus
    val probedCells = Similarity.nearestCellsLocal(qvec, cents, 4)
    val idx = spark.read.parquet(s"$dir/idx")
    val probedRows = idx.filter(col("cell").isin(probedCells: _*)).count()
    val total = idx.count()
    info(f"ann_ivf probe=$tProbe%.2fs reads $probedRows/$total rows " +
      f"(${probedRows * 100.0 / total}%.0f%%) at n=${nVecs * 10}")
    assert(probedRows * 2 < total,
      s"4/16-cell probe reads $probedRows of $total rows — pruning buys nothing")
  }

  test("ann_ivf_sq8_indexed: codes-only probe never reads vectors at 10x and stays pruned") {
    val dir = java.nio.file.Files.createTempDirectory("scale_ivf_sq8").toString
    val vecs = syntheticVecs(nVecs * 10)
    val (cents, stats) = Similarity.buildIvfSq8Index(vecs, "vec_id", "embedding",
      s"$dir/idx", nCells = 16, trainIters = 2)
    val qvec = (1 to 32).map(k => math.sin(7.0 * k))
    def probe() = Similarity.probeIvfSq8Index(spark, s"$dir/idx", "vec_id",
      qvec, queryId = 7L, k = 10, cents, stats, nProbe = 4)
    probe().collect()                           // warm
    val (_, t) = timed(probe().count())
    info(f"ann_ivf_sq8 codes-only probe=$t%.2fs at n=${nVecs * 10}")
    val plan = probe().queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"codes-only probe lost partition pruning at 10x:\n$plan")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("codes") && !readSchema.contains("embedding"),
      s"codes-only probe must never scan a float vector at 10x:\n$readSchema")
  }

  test("ann_knn_join: batched candidate work is the IVF bound, not |queries| x |corpus|") {
    val dir = java.nio.file.Files.createTempDirectory("scale_knn").toString
    val vecs = syntheticVecs(nVecs * 10)
    val cents = Similarity.buildIvfIndex(vecs, "vec_id", "embedding",
      s"$dir/idx", nCells = 16, trainIters = 2)
    val nQ = 200L
    val queries = syntheticVecs(nQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def jn() = Similarity.knnJoin(spark, s"$dir/idx", "vec_id", "embedding",
      queries, "q_id", "q_emb", k = 10, cents, nProbe = 2)
    jn().count()                                // warm
    val (_, t) = timed(jn().count())
    // the claim that matters: candidate pairs = Σ over probed (query, cell)
    // of |cell| — the IVF bound (~nProbe/nCells of |q|×|corpus|), never the
    // brute-force product. Reconstruct the probe set driver-side (public
    // single-query surface) and count the joined candidates exactly.
    val qcells = queries.select("q_id", "q_emb").collect().flatMap { r =>
      val v = r.getSeq[Number](1).map(_.doubleValue()).toSeq
      Similarity.nearestCellsLocal(v, cents, 2).map(c => (r.getLong(0), c))
    }.toSeq.toDF("q_id", "cell")
    val idx = spark.read.parquet(s"$dir/idx")
    val candidates = idx.join(qcells, Seq("cell")).count()
    val total = idx.count()
    info(f"ann_knn_join t=$t%.2fs candidates=$candidates of ${nQ * total} " +
      f"(${candidates * 100.0 / (nQ * total)}%.1f%%) at |corpus|=$total |q|=$nQ")
    assert(candidates * 2 < nQ * total,
      s"batched probe candidate work $candidates is not meaningfully below |q|x|corpus| ${nQ * total}")
    // and the scan stays partition-pruned (the literal distinct-cell isin)
    val plan = jn().queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"batched probe lost partition pruning at scale:\n$plan")
  }

  test("dd_incr_near: bucketed-index probe keeps the batch-side-only shuffle at 10x") {
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val batchN = 2000L
      // batch: half exact copies of corpus docs (same generator), half
      // novel (disjoint "b-" hash namespace)
      val copies = spark.range(batchN / 2).select(
        (col("id") + lit(1L << 50)).as("doc_id"),
        array_join(
          transform(sequence(lit(1), lit(40)),
            k => substring(md5(concat_ws("-", col("id"), k)), 1, 6)),
          " ").as("text"))
      val novel = spark.range(batchN / 2).select(
        (col("id") + lit(1L << 51)).as("doc_id"),
        array_join(
          transform(sequence(lit(1), lit(40)),
            k => substring(md5(concat_ws("-", lit("b"), col("id"), k)), 1, 6)),
          " ").as("text"))
      val batch = copies.unionByName(novel)

      def run(n: Long, table: String): (DataFrame, Long, Double) = {
        Dedup.saveMinhashIndexBucketed(
          syntheticDocs(n).filter(col("doc_id") < n),  // base docs only
          "doc_id", "text", table)
        val probed = Dedup.probeMinhashIndexBucketed(batch, table, "doc_id", "text")
        probed.count()                           // warm
        val (pairs, t) = timed(probed.count())
        (probed, pairs, t)
      }
      val (probeSmall, _, tSmall) = run(20000L, "graft_scale_mh_small")
      val (probeBig, pairsBig, tBig) = run(200000L, "graft_scale_mh_big")
      // every exact batch copy collides with its corpus twin
      val hits = probeBig.filter(col("est_jaccard") === 1.0)
        .select("batch_id").distinct().count()
      assert(hits == batchN / 2, s"exact-copy hits $hits != ${batchN / 2}")
      assert(pairsBig >= hits)
      // the pinned shape: bucketed corpus side pre-shuffled at build time,
      // so the probe shuffles the BATCH only — and that may not change as
      // the corpus grows 10x
      assert(exchanges(probeSmall) == exchanges(probeBig),
        "bucketed probe plan changed shape at 10x corpus")
      // probe cost is scan(index) + shuffle(batch): index scan grows with
      // the corpus, the shuffle does not — gate at linear with slack
      assertLinear("dd_incr_near probe", tSmall, tBig)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_scale_mh_small")
      spark.sql("DROP TABLE IF EXISTS graft_scale_mh_big")
    }
  }

  test("dd_span_cut: 10x docs within linear time, same exchange count") {
    // the riskiest round-7 shape: span-cut composes the window fan-out
    // (~25 hashes/doc) with a coverage explode and the owner join — probe
    // that the whole composition stays linear and keeps its plan at 10x
    def cut(n: Long): DataFrame =
      Dedup.cutDuplicateSpans(syntheticDocs(n), "doc_id", "text", window = 16)
    def run(n: Long): (Long, Double) = timed(cut(n).count())
    run(nDocs)                                  // warm
    val (rowsSmall, tSmall) = run(nDocs)
    val (rowsBig, tBig) = run(nDocs * 10)
    // one output row per input doc (base + 3% exact + 3% near)
    assert(rowsSmall == nDocs * 106 / 100, s"small rows $rowsSmall")
    assert(rowsBig == nDocs * 10 * 106 / 100, s"big rows $rowsBig")
    assert(exchanges(cut(nDocs)) == exchanges(cut(nDocs * 10)),
      "span-cut plan changed shape at 10x")
    assertLinear("dd_span_cut", tSmall, tBig)
  }

  test("dd_cdc_chunk: 10x docs within linear time, same exchange count") {
    // the round-8 shape: window-hash fan-out + boundary cumsum window +
    // chunk rebuild groupBy + h60 ownership agg — probe the composition
    // stays linear and keeps its plan at 10x
    def chunks(n: Long): DataFrame =
      Dedup.cdcChunks(syntheticDocs(n), "doc_id", "text", window = 4, divisor = 8)
    def run(n: Long): (Long, Double) = timed(chunks(n).count())
    run(nDocs)                                  // warm
    val (rowsSmall, tSmall) = run(nDocs)
    val (rowsBig, tBig) = run(nDocs * 10)
    // chunk counts scale with the corpus (≈ tokens/divisor per doc);
    // exact equality is with the 10x row count's own run, not a formula
    assert(rowsBig > rowsSmall * 8 && rowsBig < rowsSmall * 12,
      s"chunk fan-out drifted: $rowsSmall -> $rowsBig at 10x docs")
    // plan-shape pin under a fixed join strategy: the ownership join
    // legitimately flips broadcast->shuffle as the chunk dictionary
    // grows (that is AQE doing its job), so compare exchange counts with
    // auto-broadcast off — the underlying shuffle skeleton must not
    // change with data size
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(exchanges(chunks(nDocs)) == exchanges(chunks(nDocs * 10)),
        "cdc-chunk plan changed shape at 10x")
    }
    assertLinear("dd_cdc_chunk", tSmall, tBig)
  }

  test("ann_ivf_pq probe: pruned codes-only scan holds at 10x") {
    val dir = java.nio.file.Files.createTempDirectory("scale_ivf_pq").toString
    val vecs = syntheticVecs(nVecs * 10)
    val (cents, cbs) = Similarity.buildIvfPqIndex(vecs, "vec_id", "embedding",
      s"$dir/idx", dim = 32, nCells = 16, trainIters = 2, m = 4, ksub = 8, pqIters = 1)
    val qvec = (1 to 32).map(k => math.sin(7.0 * k))
    def probe() = Similarity.probeIvfPqIndex(spark, s"$dir/idx", "vec_id",
      qvec, queryId = 7L, k = 10, cents, cbs, nProbe = 4)
    probe().collect()                           // warm
    val (_, t) = timed(probe().count())
    val plan = probe().queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"IVF-PQ probe lost partition pruning at 10x:\n$plan")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("__code") && !readSchema.contains("embedding"),
      s"IVF-PQ probe must scan codes only at 10x:\n$readSchema")
    val probedCells = Similarity.nearestCellsLocal(qvec, cents, 4)
    val idx = spark.read.parquet(s"$dir/idx")
    val probedRows = idx.filter(col("cell").isin(probedCells: _*)).count()
    val total = idx.count()
    info(f"ann_ivf_pq probe=$t%.2fs reads $probedRows/$total rows " +
      f"(${probedRows * 100.0 / total}%.0f%%) at n=${nVecs * 10}")
    assert(probedRows * 2 < total,
      s"4/16-cell PQ probe reads $probedRows of $total rows — pruning buys nothing")
  }

  test("dd_span_overlap: 10x docs within linear time, planted spans scored exactly") {
    // window fan-out is the scale risk here: ~25 window hashes per 40-token
    // doc, so the 10x run pushes ~13M hash rows through two aggregates and
    // the flag join
    def stats(n: Long): DataFrame =
      Dedup.spanOverlapStats(syntheticDocs(n), "doc_id", "text", window = 16)
    def run(n: Long): (Long, Double) = timed(stats(n).count())
    run(nDocs)                                  // warm
    val (rowsSmall, tSmall) = run(nDocs)
    val (rowsBig, tBig) = run(nDocs * 10)
    // every doc tokenizes -> one output row per doc (base + 3% + 3%)
    assert(rowsSmall == nDocs * 106 / 100, s"small rows $rowsSmall")
    assert(rowsBig == nDocs * 10 * 106 / 100, s"big rows $rowsBig")
    assert(exchanges(stats(nDocs)) == exchanges(stats(nDocs * 10)),
      "span-overlap plan changed shape at 10x")
    assertLinear("dd_span_overlap", tSmall, tBig)
    // correctness at 10x: exact copies (id + 2^40, 40 tokens = 25 windows)
    // are fully duplicated; near copies (id + 2^41, one appended token =
    // 26 windows) share exactly the 25 head windows
    val planted = stats(nDocs * 10).filter(col("doc_id") >= (1L << 40))
      .select(col("doc_id"), col("total_windows"), col("dup_windows")).cache()
    try {
      val exact = planted.filter(col("doc_id") < (1L << 41))
      assert(exact.filter(col("total_windows") =!= 25 || col("dup_windows") =!= 25)
        .count() == 0, "exact copies must be fully duplicated")
      val near = planted.filter(col("doc_id") >= (1L << 41))
      assert(near.filter(col("total_windows") =!= 26 || col("dup_windows") =!= 25)
        .count() == 0, "near copies must share exactly the 25 head windows")
      assert(exact.count() == nDocs * 10 * 3 / 100 && near.count() == nDocs * 10 * 3 / 100)
    } finally planted.unpersist()
  }

  test("groupedRank: a 3-group 10x table never serializes a group onto one reducer") {
    // the VERDICT r9 weak family's failure mode: row_number() OVER
    // (PARTITION BY g) on 3 groups sorts a third of the table per task at
    // any scale. groupedRank's sort partitions are (group, range-bucket):
    // pin (a) exact equality with the window form at 10x, (b) the largest
    // (group, bucket) cell — the true per-task bound — stays a small
    // fraction of the group, and (c) linear growth small -> 10x.
    import org.apache.spark.sql.expressions.Window
    def table(n: Long) = spark.range(n).select(
      col("id"),
      concat(lit("g"), pmod(col("id"), lit(3))).as("g"),
      (pmod(hash(col("id")), lit(100000)).cast("double") / 100).as("v"))
      .filter(col("v") >= 0) // hash can be negative; keep values non-null, non-NaN
    val small = table(10000L).cache()
    val big = table(100000L).cache()
    small.count(); big.count()
    def run(df: DataFrame): Long = {
      val out = graft.ops.Stats.groupedRank(df, Seq("g"), col("v"), Seq(col("id")), "rk")
      out.agg(sum(col("rk"))).head().getLong(0)
    }
    run(small) // warm
    val (_, tSmall) = timed(run(small))
    val (sumBig, tBig) = timed(run(big))
    assertLinear("groupedRank", tSmall, tBig)
    // (a) bit-equality with the per-group rank window at 10x
    val want = big.withColumn("rk",
        row_number().over(Window.partitionBy(col("g")).orderBy(col("v"), col("id"))))
      .agg(sum(col("rk").cast("long"))).head().getLong(0)
    assert(sumBig == want, s"rank sum $sumBig != window form $want")
    // (b) the per-task bound: replicate the operator's bucket assignment
    // and measure the largest (group, bucket) cell — with 256 buckets over
    // near-uniform values it must be a small fraction of the ~33k-row
    // group a plain window would put on ONE task
    val stats = big.groupBy("g").agg(
      min(col("v")).as("mn"), max(col("v")).as("mx"))
    val maxCell = big.join(broadcast(stats), Seq("g"))
      .withColumn("b", least(floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 256),
        lit(255)).cast("int"))
      .groupBy("g", "b").count().agg(max("count")).head().getLong(0)
    val groupSize = big.count() / 3
    info(s"largest (group, bucket) cell = $maxCell rows vs group = $groupSize")
    assert(maxCell <= groupSize / 8,
      s"largest sort cell $maxCell is not small vs the $groupSize-row group")
    small.unpersist(); big.unpersist()
  }

  test("snapshot merge: fixed CDC batch cost stays flat as the table grows 10x") {
    import graft.core.{SnapshotOps, Snapshots}
    // rows-per-partition FIXED, so partitions scale with the table — a
    // fixed 20-key batch must touch ONE partition's rewrite either way;
    // bloom-probed, so no data file opens to find it. The gate is far
    // below linear: 10x data in <= 4x time (the residual growth is the
    // sidecar listing, not data IO).
    def build(n: Long, tag: String): String = {
      val root = java.nio.file.Files.createTempDirectory(s"probe-mrg-$tag")
        .toString + "/tbl"
      val rows = spark.range(n).select(
        concat(lit("p"), (col("id") / 2000).cast("long")).as("part"),
        col("id"), (col("id") % 97).as("v"))
      Snapshots.publishPartitions(spark, root, bloomCols = Seq("id"))(stage =>
        rows.write.partitionBy("part").parquet(stage))
      root
    }
    def mergeOnce(root: String): Long = {
      import spark.implicits._
      SnapshotOps.merge(spark, root,
        (0L until 20L).map(i => ("p0", i, 1000L + i, "upsert"))
          .toDF("part", "id", "v", "op"),
        Seq("id"), "part")
    }
    val small = build(20000L, "small")
    val big = build(200000L, "big")
    mergeOnce(small) // warm the code paths once
    val (_, tS) = timed(mergeOnce(small))
    val (_, tB) = timed(mergeOnce(big))
    info(f"merge fixed batch: 20k-table=$tS%.2fs 200k-table=$tB%.2fs")
    assert(tB <= math.max(tS, 0.5) * 4 + 2.0,
      f"fixed-batch merge grew ${tB / math.max(tS, 0.3)}%.1fx on a 10x table " +
        "— the probe or rewrite is scanning the table")
    // and the merged content is right at both scales
    assert(Snapshots.readSnapshot(spark, big)
      .filter(col("id") < 20 && col("v") >= 1000L).count() == 20)
  }

  test("merge-on-read: fixed CDC batch cost stays flat as the table grows 10x, zero rewrites") {
    import graft.core.{SnapshotOps, Snapshots}
    // the DV twin of the merge probe: same fixed 20-key batch, same
    // bloom-probed candidate discovery, but the commit writes ONLY the
    // sidecar + the fresh upsert rows — at 10x data the position probe
    // reads one candidate file either way and no data file rewrites at
    // either scale (asserted structurally, not just by time)
    def build(n: Long, tag: String): String = {
      val root = java.nio.file.Files.createTempDirectory(s"probe-mor-$tag")
        .toString + "/tbl"
      val rows = spark.range(n).select(
        concat(lit("p"), (col("id") / 2000).cast("long")).as("part"),
        col("id"), (col("id") % 97).as("v"))
      Snapshots.publishPartitions(spark, root, bloomCols = Seq("id"))(stage =>
        rows.write.partitionBy("part").parquet(stage))
      root
    }
    def morOnce(root: String): Long = {
      import spark.implicits._
      SnapshotOps.mergeOnRead(spark, root,
        (0L until 20L).map(i => ("p0", i, 1000L + i, "upsert"))
          .toDF("part", "id", "v", "op"),
        Seq("id"), "part")
    }
    val small = build(20000L, "small")
    val big = build(200000L, "big")
    morOnce(small) // warm the code paths once
    val (_, tS) = timed(morOnce(small))
    val (vB, tB) = timed(morOnce(big))
    info(f"merge-on-read fixed batch: 20k-table=$tS%.2fs 200k-table=$tB%.2fs")
    assert(tB <= math.max(tS, 0.5) * 4 + 2.0,
      f"fixed-batch merge-on-read grew ${tB / math.max(tS, 0.3)}%.1fx on a 10x " +
        "table — the probe or sidecar write is scanning the table")
    // structural zero-churn at the big scale: every v1 file still pinned
    val v1Files = Snapshots.manifestFiles(spark, big, 1L).toSet
    assert(v1Files.subsetOf(Snapshots.manifestFiles(spark, big, vB).toSet),
      "a DV commit must carry every previous data file verbatim")
    assert(Snapshots.readSnapshot(spark, big)
      .filter(col("id") < 20 && col("v") >= 1000L).count() == 20)
  }

  test("kCorePeel: 10x edges within linear time") {
    // hash-derived sparse graph: ~4 edges per node, non-trivial peel
    def edges(n: Long): DataFrame =
      spark.range(n * 4).select(
        pmod(xxhash64(col("id")), lit(n)).as("src"),
        pmod(xxhash64(col("id") + lit(1L << 40)), lit(n)).as("dst"))
    def run(n: Long): (Long, Double) =
      timed(graft.operators.Graph.kCorePeel(edges(n), k = 5, rounds = 2).count())
    run(20000L) // warm
    val (rowsSmall, tSmall) = run(20000L)
    val (rowsBig, tBig) = run(200000L)
    assert(rowsSmall > 0 && rowsBig > 0, "fixture sanity: peel must leave survivors")
    // no exchange-count pin here: the survivor sets shrink per round, so
    // AQE legitimately broadcasts the semi-join side at small n and
    // shuffles it at 10x — the adaptive choice is the point, and the
    // linear gate below is what a real reshape would fail
    assertLinear("kCorePeel", tSmall, tBig)
  }

  test("dominantDirection: 10x vectors within linear time (one sufficient-stats pass)") {
    def run(n: Long): (Long, Double) = timed {
      val out = graft.ops.Linalg.dominantDirection(
        syntheticVecs(n, dim = 16).select(col("embedding").as("emb")), "emb", d = 16)
      out.count()
    }
    run(nVecs) // warm
    val (_, tSmall) = run(nVecs)
    val (_, tBig) = run(nVecs * 10)
    // the output is always d rows; the work is the single d(d+1)/2-column
    // aggregation pass over the corpus — nothing else touches n
    assertLinear("dominantDirection", tSmall, tBig)
  }

  test("pf_ks_test: 10x rows within linear time, same exchange count, bounded offsets") {
    import graft.ops.Stats
    // two planted distributions: side A ~ id%1000, side B ~ (id%1000)+50
    // (a visible location shift -> D well above 0)
    def rows(n: Long): DataFrame =
      spark.range(n).select(
        when(col("id") % 2 === 0, lit("A")).otherwise(lit("B")).as("s"),
        when(col("id") % 2 === 0, col("id") % 1000)
          .otherwise(col("id") % 1000 + 50).as("v"))
    def ks(n: Long): DataFrame = Stats.ksTest(rows(n), col("s"), "A", "B", col("v"))
    def run(n: Long): (Long, Double) =
      // time construction + action: the <=256-row bucket-offset collect is
      // part of the operator and must scale like the rest
      timed { ks(n).collect(); 1L }
    run(nDocs)
    val (_, tSmall) = run(nDocs)
    val (_, tBig) = run(nDocs * 10)
    assertLinear("pf_ks_test", tSmall, tBig)
    assert(exchanges(ks(nDocs)) == exchanges(ks(nDocs * 10)),
      "ks plan changed shape at 10x")
    val r = ks(nDocs * 10).collect().head
    assert(r.getAs[Double]("d") > 0.02, "planted shift must be detected")
  }

  test("ml_auc: 10x rows within linear time, same exchange count") {
    import graft.ops.Stats
    // scores spread over 10007 distinct values, ~1/3 positives whose
    // scores skew higher (id%3==0 adds 2000) -> AUC visibly above 0.5
    def rows(n: Long): DataFrame =
      spark.range(n).select(
        (col("id") % 3 === 0).as("p"),
        (col("id") % 10007 + when(col("id") % 3 === 0, 2000).otherwise(0)).as("v"))
    def auc(n: Long): DataFrame = Stats.rocAuc(rows(n), col("p"), col("v"))
    def run(n: Long): (Long, Double) = timed { auc(n).collect(); 1L }
    run(nDocs)
    val (_, tSmall) = run(nDocs)
    val (_, tBig) = run(nDocs * 10)
    assertLinear("ml_auc", tSmall, tBig)
    assert(exchanges(auc(nDocs)) == exchanges(auc(nDocs * 10)),
      "auc plan changed shape at 10x")
    val r = auc(nDocs * 10).collect().head
    assert(r.getAs[Double]("auc") > 0.55, "planted score shift must be detected")
  }

  test("snapshotChanges: IO and time track the CHURN, not the table (10x table, fixed churn)") {
    import graft.core.Snapshots
    // table = one FIXED-SIZE hot partition (the churn) + cold partitions
    // carrying the 10x growth; v2 rewrites only the hot partition
    def publishPair(root: String, coldRows: Long): (Long, Long) = {
      def tbl(hotMult: Int) =
        spark.range(1000).select(lit("hot").as("part"), col("id"),
            (col("id") * hotMult).as("v"))
          .unionByName(spark.range(coldRows).select(
            concat(lit("c"), pmod(col("id"), lit(8))).as("part"), col("id"),
            col("id").as("v")))
      val v1 = Snapshots.publishPartitions(spark, root) { stage =>
        tbl(1).write.partitionBy("part").parquet(stage)
      }
      val v2 = Snapshots.publishPartitions(spark, root) { stage =>
        tbl(2).filter(col("part") === "hot")
          .write.partitionBy("part").parquet(stage)
      }
      (v1, v2)
    }
    def changes(root: String, v1: Long, v2: Long): (Long, Double) =
      timed(Snapshots.snapshotChanges(spark, root, v1, v2).count())
    val rootS = java.nio.file.Files.createTempDirectory("cdc_s").toString + "/t"
    val rootB = java.nio.file.Files.createTempDirectory("cdc_b").toString + "/t"
    val (s1, s2) = publishPair(rootS, nDocs)
    val (b1, b2) = publishPair(rootB, nDocs * 10)
    changes(rootS, s1, s2) // warm
    val (rowsSmall, tSmall) = changes(rootS, s1, s2)
    val (rowsBig, tBig) = changes(rootB, b1, b2)
    // the net diff is the hot partition's non-fixpoint rows, both sides:
    // id*1 -> id*2 changes every row except id=0 -> 999 added + 999
    // removed + the id=0 fixpoint emits nothing
    assert(rowsSmall == 1998L && rowsBig == 1998L, s"$rowsSmall / $rowsBig")
    val ratio = tBig / math.max(tSmall, 0.2)
    info(f"snapshotChanges: small-table=$tSmall%.2fs 10x-table=$tBig%.2fs ratio=$ratio%.1fx")
    assert(ratio <= 3.0,
      f"snapshotChanges grew $ratio%.1fx on a 10x TABLE with identical churn — " +
        "IO must be manifest-diff-bounded, never table-bounded")
  }

  test("pipe_financial: the composed reference pipeline holds linear at 10x companies") {
    // VERDICT r13 #8: the pipe_* oracle fixtures are deliberately flat
    // (25-row nation lattice at every SF) — they gate chain MACHINERY,
    // not throughput. This probe pushes a data-scaled synthetic company
    // universe through the REAL prepareFinancialData DAG (per-company
    // medians, implausible-npm nulling, closest-parent ownership
    // resolution, three-tier average attach, provenance ratios) and
    // gates linear growth + plan-shape stability.
    import graft.pipelines.Financial
    val locs = typedLit(Seq("DE", "US")) // bridge-covered regions
    def companies(n: Long): DataFrame = spark.range(n).select(
      col("id").cast("int").as("company_id"),
      element_at(typedLit(Seq("Power", "Oil&Gas", "Coal", "Automotive")),
        pmod(col("id"), lit(4)).cast("int") + 1).as("ald_sector"),
      element_at(locs, pmod(col("id"), lit(2)).cast("int") + 1).as("ald_location"))
    def eikon(n: Long): DataFrame = spark.range(n)
      .filter(pmod(col("id"), lit(10)) < 8) // 80% carry raw indicator rows
      .select(col("id").cast("int").as("company_id"),
        element_at(locs, pmod(col("id"), lit(2)).cast("int") + 1).as("ald_location"))
      .withColumn("j", explode(typedLit(Seq(0, 1))))
      .withColumn("pd", (pmod(col("company_id") + col("j"), lit(97)) + 1) / 100.0)
      .withColumn("net_profit_margin",
        (pmod(col("company_id") * 7 + col("j"), lit(89)) + 1) / 100.0)
      .withColumn("debt_equity_ratio",
        (pmod(col("company_id") * 11 + col("j"), lit(83)) + 1) / 10.0)
      .withColumn("volatility",
        (pmod(col("company_id") * 13 + col("j"), lit(79)) + 1) / 100.0)
      .drop("j")
    def tree(n: Long): DataFrame = spark.range(n)
      .filter(pmod(col("id"), lit(10)) >= 8) // the raw-less 20% resolve via parents
      .select((col("id") / 2).cast("int").as("parent_company_id"),
        col("id").cast("int").as("subsidiary_company_id"),
        lit(0.5).as("linking_stake"), lit(1).as("ownership_level"))
    def run(n: Long): (DataFrame, Long, Double) = {
      val df = Financial.prepareFinancialData(spark, eikon(n), companies(n), Some(tree(n)),
        minimumSampleSize = 50, minimumRatioSample = 1.0 / 3,
        allowedRangeNpm = (0.0, 1.0))
      val (c, t) = timed(df.count())
      (df, c, t)
    }
    run(2000L) // untimed warm pass (codegen/JIT)
    val (dfS, cS, tS) = run(nVecs)
    val (dfB, cB, tB) = run(nVecs * 10)
    assert(cS == nVecs && cB == nVecs * 10,
      s"every company must emit exactly one financial row: $cS / $cB")
    assertLinear("pipe_financial", tS, tB)
    // the failure mode is a plan that shuffles MORE as data grows; fewer
    // exchanges at 10x (a broadcast threshold flipping a join) is fine
    assert(exchanges(dfB) <= exchanges(dfS),
      s"pipe_financial re-shuffles more at 10x: ${exchanges(dfS)} -> ${exchanges(dfB)}")
  }

  test("pipe_abcd: the composed abcd DAG holds linear at 10x companies") {
    // VERDICT r14 next-round #2: the heaviest reference DAG (wide-ownership
    // unpivot, completion grid, conditional interpolation, MWh->MW fold,
    // EF matching, zero-production drop) pushed through a data-scaled
    // synthetic company universe at N and 10N.
    import graft.pipelines.Abcd
    val sectors = typedLit(Seq("Power", "Oil&Gas", "Coal", "Automotive"))
    val bus = typedLit(Seq("CoalCap", "Oil", "Coal", "Electric"))
    val units = typedLit(Seq("MW", "GJ", "t", "#"))
    def dims(n: Long): DataFrame = spark.range(n).select(
      col("id").as("company_id"),
      concat(lit("c-"), col("id")).as("company_name"),
      element_at(sectors, pmod(col("id"), lit(4)).cast("int") + 1).as("ald_sector"),
      element_at(bus, pmod(col("id"), lit(4)).cast("int") + 1).as("ald_business_unit"),
      element_at(units, pmod(col("id"), lit(4)).cast("int") + 1).as("activity_unit"),
      element_at(typedLit(Seq("DE", "US")),
        pmod(col("id"), lit(2)).cast("int") + 1).as("ald_location"))
    def eo(df: DataFrame, scale: Double, gapped: Boolean): DataFrame =
      (0 until 5).foldLeft(df) { (acc, i) =>
        acc.withColumn(s"Equity Ownership ${2021 + i}",
          if (gapped && i >= 1 && i <= 3)
            when(pmod(col("company_id") + i, lit(5)) === 0, lit(null).cast("double"))
              .otherwise((pmod(col("company_id"), lit(7)) + 1) * (i + 1) * lit(scale))
          else (pmod(col("company_id"), lit(7)) + 1) * (i + 1) * lit(scale))
      }
    def activities(n: Long): DataFrame = {
      val base = eo(dims(n), 0.25, gapped = true)
      // Power producers also carry MWh rows (the MW/MWh fold invariant)
      val mwh = eo(dims(n).filter(col("ald_sector") === "Power")
        .withColumn("activity_unit", lit("MWh")), 0.5, gapped = false)
      base.unionByName(mwh)
    }
    def emissions(n: Long): DataFrame =
      eo(dims(n).withColumn("activity_unit", lit("tCO2")), 0.125, gapped = false)
    def run(n: Long): (DataFrame, Long, Double) = {
      val df = Abcd.prepareAbcdData(activities(n), emissions(n),
        startYear = 2021, timeHorizon = 4,
        sectorList = Seq("Automotive", "Power", "Oil&Gas", "Coal"))
      val (c, t) = timed(df.count())
      (df, c, t)
    }
    run(2000L) // warm: codegen + JIT
    val (dfS, cS, tS) = run(nVecs)
    val (dfB, cB, tB) = run(nVecs * 10)
    assert(cS > 0 && cB == 10 * cS,
      s"abcd output must scale with companies: $cS -> $cB")
    assertLinear("pipe_abcd", tS, tB)
    assert(exchanges(dfB) <= exchanges(dfS),
      s"pipe_abcd re-shuffles more at 10x: ${exchanges(dfS)} -> ${exchanges(dfB)}")
  }

  test("pipe_scenarios: the composed scenario DAG holds linear at 10x geographies") {
    // VERDICT r14 next-round #2, scenario half: the full
    // prepare_Scenarios_AnalysisInput stage (yearly interpolation over the
    // series grid, market-share columns, P4I format, completeness drop,
    // scenario-type classification with its eager orphan collect) over a
    // data-scaled geography axis.
    import graft.pipelines.ScenarioData
    val techRows = Seq(
      ("Power", "CoalCap", "GW", "Capacity"), ("Power", "GasCap", "GW", "Capacity"),
      ("Power", "HydroCap", "GW", "Capacity"), ("Power", "NuclearCap", "GW", "Capacity"),
      ("Power", "OilCap", "GW", "Capacity"), ("Power", "RenewablesCap", "GW", "Capacity"),
      ("Coal", "Coal", "t", "Production"), ("Oil&Gas", "Oil", "GJ", "Production"),
      ("Oil&Gas", "Gas", "GJ", "Production"))
    def weoGeco(nGeo: Long): DataFrame = spark.range(nGeo)
      .select(col("id"), concat(lit("G"), col("id")).as("scenario_geography"))
      .withColumn("scenario", explode(typedLit(Seq("STEPS", "SDS"))))
      .withColumn("t", explode(typedLit(techRows)))
      .withColumn("sector", col("t._1"))
      .withColumn("technology", col("t._2"))
      .withColumn("units", col("t._3"))
      .withColumn("indicator", col("t._4"))
      .withColumn("yi", explode(typedLit(Seq(0, 1, 2))))
      .withColumn("year", (lit(2020) + col("yi") * 4).cast("int"))
      .withColumn("value",
        when(col("yi") === 1 && pmod(col("id") + length(col("technology")), lit(3)) === 0,
          lit(null).cast("double"))
          .otherwise((pmod(col("id"), lit(9)) + 1) * (col("yi") + 2) * lit(0.25)))
      .withColumn("source", lit("WEO2021"))
      .drop("id", "t", "yi")
    def run(nGeo: Long): (DataFrame, Long, Double) = {
      val df = ScenarioData.prepareScenariosAnalysisInput(
        ScenarioData.ScenarioInputs(weoGeco = Some(weoGeco(nGeo))), 2020)
      val (c, t) = timed(df.count())
      (df, c, t)
    }
    try {
      run(500L) // warm
      val (dfS, cS, tS) = run(2000L)
      val (dfB, cB, tB) = run(20000L)
      // every (geo, scenario, sector) grid is complete by construction, so
      // nothing drops: rows = geos x 2 scenarios x 9 techs x 9 years
      assert(cS == 2000L * 2 * 9 * 9 && cB == 10 * cS,
        s"scenario output must scale with geographies: $cS -> $cB")
      assertLinear("pipe_scenarios", tS, tB)
      assert(exchanges(dfB) <= exchanges(dfS),
        s"pipe_scenarios re-shuffles more at 10x: ${exchanges(dfS)} -> ${exchanges(dfB)}")
    } finally spark.catalog.clearCache() // the prepare pins an internal cache per run
  }

  test("bfsDistances: 10x nodes within linear time, logarithmic diameter covered") {
    import graft.operators.Graph
    // ring + doubling chords: diameter O(log n), every node reachable
    def edges(n: Long): DataFrame =
      spark.range(n).select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
        .unionByName(spark.range(n).select(col("id").as("src"),
          ((col("id") * 2 + 1) % n).as("dst")))
    def run(n: Long): (Long, Double) =
      timed(Graph.bfsDistances(edges(n), Seq(0L).toDF("v")).count())
    run(nVecs)
    val (reachedSmall, tSmall) = run(nVecs)
    val (reachedBig, tBig) = run(nVecs * 10)
    assert(reachedSmall == nVecs && reachedBig == nVecs * 10,
      "every ring node must be reached from the seed")
    assertLinear("bfsDistances", tSmall, tBig)
  }
}
