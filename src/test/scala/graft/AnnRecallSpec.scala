package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity

/** ANN quality on the real embedding fixtures: LSH top-k must recover a
  * meaningful fraction of the exact brute-force neighbors (it is a
  * candidate filter, not an exact method — recall is the contract).
  */
class AnnRecallSpec extends SparkTestBase {
  import spark.implicits._

  test("jlProject: identical vectors stay identical, pairwise dots roughly survive") {
    import graft.functions.VectorFns
    val planes = Similarity.lcgPlanes(9, 16, 64)
    val e = Tables.embeddings(spark, sfDir).limit(50)
      .select(col("vec_id"), VectorFns.unit(col("embedding")).as("u"))
      .withColumn("p", VectorFns.jlProject(col("u"), planes))
    // NORM preservation is the non-vacuous check (an all-zeros projection
    // would pass any absolute-dot bound on near-orthogonal fixtures):
    // unit inputs must project to norm ≈ 1 under the sqrt(k/12) scaling
    val norms = e.select(sqrt(VectorFns.dot(col("p"), col("p"))).as("nn"))
      .as[Double].collect()
    val meanNorm = norms.sum / norms.length
    assert(meanNorm > 0.85 && meanNorm < 1.15, s"mean projected norm $meanNorm (want ~1)")
    assert(norms.forall(n => n > 0.3 && n < 2.5), s"per-vector norm out of JL range")
    val pairs = e.select(col("vec_id").as("ia"), col("u").as("ua"), col("p").as("pa"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("u").as("ub"), col("p").as("pb")))
      .filter(col("ia") < col("ib"))
      .select(VectorFns.dot(col("ua"), col("ub")).as("d"),
        VectorFns.dot(col("pa"), col("pb")).as("dp"))
      .as[(Double, Double)].collect()
    // JL at k=16: pairwise-dot error concentrates near 1/sqrt(k) = 0.25
    val meanErr = pairs.map { case (d, dp) => math.abs(d - dp) }.sum / pairs.length
    assert(meanErr < 0.3, s"mean JL distortion $meanErr")
    // a vector projected twice is bit-identical (pure deterministic plan)
    val p1 = e.select("p").collect().map(_.getSeq[Double](0))
    val p2 = e.select("p").collect().map(_.getSeq[Double](0))
    assert(p1.zip(p2).forall { case (a, b) => a == b })
  }

  test("lshTopK recall@10 vs brute force on fixture embeddings") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val queryIds = Seq(0L, 7L, 21L)
    val recalls = queryIds.map { qid =>
      val q = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      val approx = Similarity.lshTopK(e, "vec_id", "embedding", q, qid, 10,
          radius = 3)
        .select("vec_id").as[Long].collect().toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@10 $mean (per-query: $recalls)")
  }

  test("ivfTopK recall@10 >= 0.8 at nProbe=6 with trained codebook") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val queryIds = Seq(0L, 7L, 21L)
    val recalls = queryIds.map { qid =>
      val q = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      // the synthetic embeddings are near-orthogonal noise (no cluster
      // structure), so recall scales with the probed fraction; 6/8 cells
      // is the operating point that honors recall >= 0.8 on this corpus
      val approx = Similarity.ivfTopK(e, "vec_id", "embedding", q, qid, 10,
          nCells = 8, nProbe = 6)
        .select("vec_id").as[Long].collect().toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@10 $mean (per-query: $recalls)")
  }

  test("knnJoin: batched probe equals per-query single probes; pruned, codes-only for PQ") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val dir = java.nio.file.Files.createTempDirectory("knn_idx").toString
    val cents = Similarity.buildIvfIndex(e, "vec_id", "embedding", s"$dir/idx",
      nCells = 8, trainIters = 2)
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val out = Similarity.knnJoin(spark, s"$dir/idx", "vec_id", "embedding",
      queries, "q_id", "q_emb", k = 5, cents, nProbe = 2, excludeSelf = true)
    // ONE plan for the whole batch must return exactly what the
    // single-query probe surface returns per query — the batched join is
    // an execution strategy, not a semantics change
    val grouped = out.select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val qids = queries.select("q_id").as[Long].collect().sorted
    assert(grouped.keySet == qids.toSet, "every query must get results")
    qids.foreach { qid =>
      val qvec = e.filter(col("vec_id") === qid).select("embedding")
        .head().getSeq[Number](0).map(_.doubleValue()).toSeq
      val single = Similarity.probeIvfIndex(spark, s"$dir/idx", "vec_id", "embedding",
          qvec, qid, k = 5, cents, nProbe = 2)
        .select("vec_id").as[Long].collect().toSet
      assert(grouped(qid) == single, s"batched != single probe for qid=$qid")
    }
    // the literal distinct-cell isin must reach the scan as a partition
    // filter — batched probing keeps the single-probe pruning
    val plan = out.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"batched probe lost partition pruning:\n$plan")
    // PQ variant: same shape over the codes-only index — the scan must
    // read codes, never a float vector
    val (pqCents, cbs) = Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
      s"$dir/pq", dim = 64, nCells = 8, trainIters = 2, m = 4, ksub = 8, pqIters = 1)
    val outPq = Similarity.knnJoinPq(spark, s"$dir/pq", "vec_id",
      queries, "q_id", "q_emb", k = 5, cents = pqCents, codebooks = cbs,
      nProbe = 2, excludeSelf = true)
    assert(outPq.groupBy("qid").count().filter(col("count") =!= 5).count() == 0,
      "every query gets exactly k PQ candidates")
    val planPq = outPq.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(planPq).isDefined)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(planPq).getOrElse("")
    assert(readSchema.contains("__code") && !readSchema.contains("embedding"),
      s"PQ knn join must scan codes only:\n$readSchema")
  }

  test("ensureIvfIndex rebuilds when the corpus under cacheKey is rewritten in place") {
    // the staleness contract: the cache digest folds in a fingerprint of
    // the corpus directory listing, so an in-place rewrite (streaming
    // upsert, recompaction) gets a FRESH index instead of silently serving
    // neighbors from the dead corpus
    val dir = java.nio.file.Files.createTempDirectory("ivf_stale").toString + "/corpus"
    def writeCorpus(n: Int): Unit =
      spark.range(n).select(col("id").as("vec_id"),
          org.apache.spark.sql.functions.transform(
            sequence(lit(1), lit(8)), k => sin(col("id") * k)).as("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
    writeCorpus(50)
    val (path1, _) = Similarity.ensureIvfIndex(
      spark.read.parquet(dir), "vec_id", "embedding", cacheKey = dir, nCells = 4)
    assert(spark.read.parquet(path1).count() == 50)
    writeCorpus(80)
    val (path2, _) = Similarity.ensureIvfIndex(
      spark.read.parquet(dir), "vec_id", "embedding", cacheKey = dir, nCells = 4)
    assert(path1 != path2, "rewritten corpus must digest to a fresh index path")
    assert(spark.read.parquet(path2).count() == 80,
      "fresh index must hold the rewritten corpus")
  }

  test("ensureIvfIndex and ensureIvfAppendedIndex rebuild an index whose directory is gone") {
    val corpus = spark.range(60).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.transform(
        sequence(lit(1), lit(8)), k => cos(col("id") * k)).as("embedding"))
    val base = corpus.filter(col("vec_id") < 40)
    val batch = corpus.filter(col("vec_id") >= 40)
    val q = corpus.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val key = "ivf_gone"
    def builds(): Seq[(String, Seq[(Int, Seq[Double])])] = Seq(
      Similarity.ensureIvfIndex(corpus, "vec_id", "embedding", cacheKey = key, nCells = 4),
      Similarity.ensureIvfAppendedIndex(base, batch, "vec_id", "embedding",
        cacheKey = key, batchKey = "vec_id >= 40", nCells = 4))
    def delete(path: String): Unit =
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    builds().foreach { case (path, _) => delete(path) }
    for ((path, cents) <- builds()) {
      val hits = Similarity.knnJoin(spark, path, "vec_id", "embedding",
        q, "q_id", "q_emb", k = 3, cents, nProbe = 4, excludeSelf = true).count()
      delete(path)
      assert(hits == 18, s"probe of the rebuilt index at $path returned $hits rows")
    }
  }

  test("sampleMod training slices deterministically and still yields a usable codebook") {
    val e = Tables.embeddings(spark, sfDir).cache()
    // the 100-TB operating mode: train on the deterministic 1/4 md5-hash
    // slice of the corpus, assign everything
    val cents = Similarity.trainCodebook(e, "vec_id", "embedding",
      nCells = 8, iters = 2, sampleMod = 4)
    assert(cents.size == 8)
    assert(cents.forall(_._2.nonEmpty))
    // deterministic: same slice, same seed order, same codebook
    val again = Similarity.trainCodebook(e, "vec_id", "embedding",
      nCells = 8, iters = 2, sampleMod = 4)
    assert(cents == again, "sampled training must be retry-stable")
    // and it differs from full-corpus training (the slice is real)
    val full = Similarity.trainCodebook(e, "vec_id", "embedding",
      nCells = 8, iters = 2)
    assert(cents != full, "sampleMod=4 must actually train on a subset")
  }

  test("trained codebook yields balanced cell occupancy") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val n = e.count()
    val cents = Similarity.trainCodebook(e, "vec_id", "embedding", nCells = 16)
    assert(cents.size == 16)
    // occupancy under the trained codebook: no cell may swallow the corpus
    // (first-N-rows-as-codebook gave data-order-dependent occupancy)
    val counts = e
      .withColumn("cell", element_at(
        org.apache.spark.sql.functions.transform(
          slice(array_sort(array(cents.map { case (c, arr) =>
            val nn = math.sqrt(arr.map(x => x * x).sum)
            val unit = if (nn == 0) arr else arr.map(_ / nn)
            struct(graft.functions.VectorFns.dot(col("embedding"), typedLit(unit)).as("score"),
              lit(c).as("cell"))
          }: _*)), -1, 1), s => s.getField("cell")), 1))
      .groupBy("cell").count()
      .select("count").as[Long].collect()
    val maxShare = counts.max.toDouble / n
    assert(counts.length >= 8, s"only ${counts.length} of 16 cells occupied")
    assert(maxShare <= 0.5, s"largest cell holds ${maxShare * 100}%% of rows")
  }

  test("bucketed IVF index probe matches self-contained ivfTopK") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val qid = 7L
    val path = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/idx"
    val cents = Similarity.buildIvfIndex(e, "vec_id", "embedding", path, nCells = 16)
    val qvec = e.filter(col("vec_id") === qid)
      .select("embedding").collect()(0)
      .getSeq[Number](0).map(_.doubleValue()).toSeq
    val probed = Similarity.probeIvfIndex(spark, path, "vec_id", "embedding",
        qvec, qid, 10, cents, nProbe = 6)
      .select("vec_id").as[Long].collect().toSeq
    val q = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
    val inline = Similarity.ivfTopK(e, "vec_id", "embedding", q, qid, 10,
        nCells = 16, nProbe = 6)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed == inline, s"index probe $probed != inline $inline")
    // the probe's literal isin on the partition column must PRUNE the scan
    // — that is the read pattern that makes the index pay at 100 TB
    val probePlan = Similarity.probeIvfIndex(spark, path, "vec_id", "embedding",
        qvec, qid, 10, cents, nProbe = 6)
      .queryExecution.executedPlan.toString
    // the filter must be non-empty and name the partition column — a plan
    // with "PartitionFilters: []" reads every cell and must fail here
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(probePlan).isDefined,
      s"probe must partition-prune on cell:\n$probePlan")
  }

  test("codes-only IVF index probe matches self-contained ivfSq8TopK and never reads vectors") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val qid = 7L
    val path = java.nio.file.Files.createTempDirectory("ivf_sq8_idx").toString + "/idx"
    val (cents, stats) =
      Similarity.buildIvfSq8Index(e, "vec_id", "embedding", path, nCells = 16)
    val qvec = e.filter(col("vec_id") === qid)
      .select("embedding").collect()(0)
      .getSeq[Number](0).map(_.doubleValue()).toSeq
    val probed = Similarity.probeIvfSq8Index(spark, path, "vec_id",
        qvec, qid, 10, cents, stats, nProbe = 6)
      .select("vec_id").as[Long].collect().toSeq
    val q = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
    val inline = Similarity.ivfSq8TopK(e, "vec_id", "embedding", q, qid, 10,
        nCells = 16, nProbe = 6)
      .select("vec_id").as[Long].collect().toSeq
    assert(probed == inline, s"codes-only probe $probed != inline $inline")
    val probePlan = Similarity.probeIvfSq8Index(spark, path, "vec_id",
        qvec, qid, 10, cents, stats, nProbe = 6)
      .queryExecution.executedPlan.toString
    // pruned like the float index probe...
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(probePlan).isDefined,
      s"probe must partition-prune on cell:\n$probePlan")
    // ...and the scan schema must carry ONLY codes — no float32 vector
    // column exists in the index, so the probe's IO is the 4x-compressed
    // bytes (the whole point of the codes-only shape)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(probePlan).getOrElse("")
    assert(readSchema.contains("codes") && !readSchema.contains("embedding"),
      s"probe must read codes only:\n$readSchema")
  }

  test("NearestCells expression matches the composed-builtins form at nProbe 1 and 4") {
    // the O(1)-tree payload expression must reproduce the round-5 composed
    // dot+struct+array_sort column bit-for-bit: same scores (same fold
    // order), same (score asc, cell asc) output order, ties to the higher
    // cell — this is the differential anchor for the scale-safe path
    graft.plans.Sketches.ensureRegistered(spark)
    val e = Tables.embeddings(spark, sfDir).limit(200).cache()
    val cents = Similarity.trainCodebook(e, "vec_id", "embedding", nCells = 16)
    for (nProbe <- Seq(1, 4)) {
      val composed = org.apache.spark.sql.functions.transform(
        slice(array_sort(array(cents.map { case (c, arr) =>
          val nn = math.sqrt(arr.map(x => x * x).sum)
          val unit = if (nn == 0) arr else arr.map(_ / nn)
          struct(graft.functions.VectorFns.dot(col("embedding"), typedLit(unit)).as("score"),
            lit(c).as("cell"))
        }: _*)), -nProbe, nProbe), s => s.getField("cell"))
      val diff = e.select(
          Similarity.nearestCells(col("embedding"), cents, nProbe).as("nw"),
          composed.as("old"))
        .filter(col("nw") =!= col("old")).count()
      assert(diff == 0, s"NearestCells diverged from composed form at nProbe=$nProbe")
    }
  }

  test("nCells=256 codebook trains, indexes, and the probe still partition-prunes") {
    // the round-5 composed form was a codegen bomb past a few dozen cells;
    // the payload expression must handle a production-ish cell count with
    // the identical probe-side pruning
    val e = Tables.embeddings(spark, sfDir).cache()
    val qid = 7L
    val path = java.nio.file.Files.createTempDirectory("ivf_idx256").toString + "/idx"
    val cents = Similarity.buildIvfIndex(e, "vec_id", "embedding", path, nCells = 256)
    assert(cents.size == 256)
    val qvec = e.filter(col("vec_id") === qid)
      .select("embedding").collect()(0)
      .getSeq[Number](0).map(_.doubleValue()).toSeq
    val probe = Similarity.probeIvfIndex(spark, path, "vec_id", "embedding",
      qvec, qid, 10, cents, nProbe = 8)
    assert(probe.count() >= 0) // executes without blowing plan/codegen
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"256-cell probe must partition-prune on cell:\n$plan")
  }

  test("nearestCells refuses codebooks beyond the literal-payload ceiling") {
    val sharedUnit = Seq.fill(64)(0.5)
    val tooBig = Seq.tabulate(130000)(i => (i, sharedUnit)) // 130k x 64 > 8M doubles
    val err = intercept[IllegalArgumentException] {
      Similarity.nearestCells(col("embedding"), tooBig, 1)
    }
    assert(err.getMessage.contains("ceiling"))
  }

  test("nearestCellsLocal tie-break matches the expression side on duplicated centroids") {
    // two identical centroids (the empty-cell Lloyd fallback can produce
    // this): expression side resolves score ties to the HIGHER cell id, so
    // the local probe list must too, or a probe at small nProbe misses the
    // populated twin
    val cents = Seq(0 -> Seq(1.0, 0.0), 1 -> Seq(1.0, 0.0), 2 -> Seq(0.0, 1.0))
    val local = Similarity.nearestCellsLocal(Seq(1.0, 0.0), cents, 1)
    val exprSide = spark.range(1)
      .select(org.apache.spark.sql.functions.transform(
        slice(array_sort(array(cents.map { case (c, arr) =>
          struct(graft.functions.VectorFns.dot(typedLit(Seq(1.0, 0.0)), typedLit(arr)).as("score"),
            lit(c).as("cell"))
        }: _*)), -1, 1), s => s.getField("cell")))
      .as[Seq[Int]].collect()(0)
    assert(local == exprSide, s"local $local != expression $exprSide")
  }

  test("graft_dot nulls out on mismatched array lengths") {
    // zip_with parity: a dimension-mismatch upstream must surface as null,
    // not a plausible partial dot over min(len)
    val out = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)))
      .toDF("a", "b")
      .select(graft.functions.VectorFns.dot(col("a"), col("b")).as("d"))
      .collect()(0)
    assert(out.isNullAt(0), s"expected null, got ${out.get(0)}")
  }

  test("sq8: decode(encode(v)) is within half a quantization step per dimension") {
    val e = Tables.embeddings(spark, sfDir)
    val stats = Similarity.sq8Stats(e, "embedding")
    assert(stats.size == 64 && stats.forall { case (lo, hi) => hi >= lo })
    val maxErr = Similarity.sq8Encode(e, "embedding", stats)
      .select(explode(
        zip_with(col("embedding").cast("array<double>"),
          Similarity.sq8Decode(col("codes"), stats),
          (a, b) => abs(a - b))).as("err"))
      .agg(max("err")).as[Double].head()
    val halfStep = stats.map { case (lo, hi) => math.max(hi - lo, 1.0) / 255.0 / 2.0 }.max
    // half a step plus float32->double representation slack
    assert(maxErr <= halfStep * 1.001, s"max abs error $maxErr > half-step $halfStep")
  }

  test("sq8TopK recall@10 >= 0.8 vs brute force at 4x compression") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val stats = Similarity.sq8Stats(e, "embedding")
    val queryIds = Seq(0L, 7L, 21L)
    val recalls = queryIds.map { qid =>
      val q = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      val approx = Similarity.sq8TopK(e, "vec_id", "embedding", stats, q, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"mean recall@10 $mean (per-query: $recalls)")
  }

  test("ivfSq8TopK (codes-only probe) recall@10 >= 0.7 — compound cell+quantization error") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val queryIds = Seq(0L, 7L, 21L)
    val recalls = queryIds.map { qid =>
      val q = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      val approx = Similarity.ivfSq8TopK(e, "vec_id", "embedding", q, qid, 10,
          nCells = 8, nProbe = 6)
        .select("vec_id").as[Long].collect().toSet
      exact.intersect(approx).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@10 $mean (per-query: $recalls)")
  }

  test("bruteForceTopK is deterministic across runs") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val r1 = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 0L, 5)
      .collect().toSeq
    val r2 = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 0L, 5)
      .collect().toSeq
    assert(r1 == r2)
  }

  test("IVF-PQ index probe is partition-pruned, codes-only, and equals its inline twin") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val qid = 7L
    val path = java.nio.file.Files.createTempDirectory("ivf_pq_idx").toString + "/idx"
    val (cents, cbs) = Similarity.buildIvfPqIndex(
      e, "vec_id", "embedding", path, dim = 64, nCells = 8, m = 4, ksub = 8)
    val qvec = e.filter(col("vec_id") === qid)
      .select("embedding").collect()(0)
      .getSeq[Number](0).map(_.doubleValue()).toSeq
    def probe = Similarity.probeIvfPqIndex(spark, path, "vec_id",
      qvec, qid, 10, cents, cbs, nProbe = 6)
    // inline twin: same cell filter + decode composed without the index
    val cells = Similarity.nearestCellsLocal(qvec, cents, 6)
    val inline = {
      import org.apache.spark.sql.functions.{element_at, typedLit}
      val assigned = Similarity.pqEncode(
        e.withColumn("cell",
          element_at(Similarity.nearestCells(col("embedding"), cents, 1), 1))
          .select(col("vec_id"), col("cell"), col("embedding")),
        "embedding", cbs, 16)
      val decoded = org.apache.spark.sql.functions.concat(cbs.zipWithIndex.map {
        case (cb, s) => element_at(typedLit(cb.sortBy(_._1).map(_._2)), col(s"__code$s") + 1)
      }: _*)
      assigned.filter(col("cell").isin(cells: _*)).filter(col("vec_id") =!= qid)
        .withColumn("cosine", graft.functions.VectorFns.cosine(typedLit(qvec), decoded))
        .orderBy(col("cosine").desc, col("vec_id")).limit(10)
        .select("vec_id").as[Long].collect().toSeq
    }
    assert(probe.select("vec_id").as[Long].collect().toSeq == inline)
    val plan = probe.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"probe must partition-prune on cell:\n$plan")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("__code") && !readSchema.contains("embedding"),
      s"probe must read PQ codes only:\n$readSchema")
  }

  test("pqTopK: planted exact copy ranks first; 64x compression keeps signal") {
    val e = Tables.embeddings(spark, sfDir).cache()
    // an exact copy of the query vector gets identical codes, decodes to
    // the query's own reconstruction, and must rank first — the
    // deterministic contract that survives any compression level
    val copy = e.filter(col("vec_id") === 0L)
      .select(lit(900001L).as("vec_id"), col("embedding"))
    val e2 = e.select("vec_id", "embedding").unionByName(copy)
    val q = e2.filter(col("vec_id") === 0L).select(col("embedding").as("qvec"))
    val top = Similarity.pqTopK(e2, "vec_id", "embedding", q, 0L, 10, dim = 64)
      .select("vec_id").as[Long].collect().toSeq
    assert(top.head == 900001L, s"planted copy must rank first, got $top")
    // 4 codes x 8 centroids is a 64x-compression CANDIDATE stage, so the
    // recall contract is the PRODUCTION composition: ADC top-50 candidates
    // (10% of this corpus) re-ranked exactly, recall@10 against brute
    // force. Raw ADC-only top-10 on near-orthogonal noise would be mostly
    // quantization tie-noise and pins nothing.
    val recalls = Seq(0L, 7L, 21L).map { qid =>
      val qv = e.filter(col("vec_id") === qid).select(col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(e, "vec_id", "embedding", qv, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      val cand = Similarity.pqTopK(e, "vec_id", "embedding", qv, qid, 50, dim = 64)
        .select("vec_id").as[Long].collect().toSet
      val reranked = Similarity.bruteForceTopK(
          e.filter(col("vec_id").isin(cand.toSeq: _*)), "vec_id", "embedding", qv, qid, 10)
        .select("vec_id").as[Long].collect().toSet
      exact.intersect(reranked).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.3, s"mean PQ rerank recall@10 $mean (per-query: $recalls)")
  }

  test("rangeJoin: equals the probed-cell brute force; pruned; no rank window") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val dir = java.nio.file.Files.createTempDirectory("range_idx").toString
    val cents = Similarity.buildIvfIndex(e, "vec_id", "embedding", s"$dir/idx",
      nCells = 8, trainIters = 2)
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val out = Similarity.rangeJoin(spark, s"$dir/idx", "vec_id", "embedding",
      queries, "q_id", "q_emb", minCosine = 0.3, cents, nProbe = 2, excludeSelf = true)
    val got = out.select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "threshold 0.3 must be non-vacuous on the fixture")
    // differential: per query, knnJoin with a huge k filtered by the same
    // threshold must coincide (the range join IS the unranked tail)
    val viaKnn = Similarity.knnJoin(spark, s"$dir/idx", "vec_id", "embedding",
        queries, "q_id", "q_emb", k = 1000, cents, nProbe = 2, excludeSelf = true)
      .filter(col("cosine") >= 0.3)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    assert(got == viaKnn)
    val exec = out.queryExecution.executedPlan
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(exec.toString).isDefined,
      "range join must partition-prune the index scan")
    val windows = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "a range join has no rank window at all")
  }

  test("exactKnnJoin: per-query results equal bruteForceTopK single probes") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") % 16 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val batched = Similarity.exactKnnJoin(e, "vec_id", "embedding",
      q, "q_id", "q_emb", k = 5, excludeSelf = true)
    val qids = q.select("q_id").as[Long].collect().sorted
    assert(qids.nonEmpty)
    qids.foreach { qid =>
      val single = Similarity.bruteForceTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") === qid).select(col("embedding").as("qvec")),
        qid, k = 5).as[(Long, Double)].collect().toSeq
      val mine = batched.filter(col("qid") === qid)
        .orderBy(col("cosine").desc, col("vec_id"))
        .select("vec_id", "cosine").as[(Long, Double)].collect().toSeq
      assert(mine == single, s"query $qid: batched exact != single-probe exact")
    }
  }

  test("rankingMetrics: perfect approx scores 1.0; planted misses score exactly") {
    val exact = Seq(
      (1L, 11L, 0.9), (1L, 12L, 0.8), (1L, 13L, 0.7),
      (2L, 21L, 0.9), (2L, 22L, 0.8), (2L, 23L, 0.7)
    ).toDF("qid", "vec_id", "cosine")
    // approx == exact -> recall 1, rr 1 for every query
    val perfect = Similarity.rankingMetrics(exact, exact, "qid", "vec_id", "cosine", k = 3)
      .orderBy("qid").as[(Long, Long, Double, Double)].collect()
    assert(perfect.toSeq == Seq((1L, 3L, 1.0, 1.0), (2L, 3L, 1.0, 1.0)))
    // query 1: approx misses the true NN (11) but keeps 12, 13 plus a
    // stranger -> 2/3 recall, rr 0; query 2: true NN demoted to approx
    // rank 2 by a higher-scored stranger -> recall 2/3 (21 and 22 hit,
    // 99 is not in exact top-3), rr 1/2
    val approx = Seq(
      (1L, 12L, 0.8), (1L, 13L, 0.7), (1L, 99L, 0.1),
      (2L, 99L, 0.95), (2L, 21L, 0.9), (2L, 22L, 0.8)
    ).toDF("qid", "vec_id", "cosine")
    val got = Similarity.rankingMetrics(approx, exact, "qid", "vec_id", "cosine", k = 3)
      .orderBy("qid").as[(Long, Long, Double, Double)].collect()
    assert(got(0)._2 == 2 && got(0)._3 == 2.0 / 3.0 && got(0)._4 == 0.0)
    assert(got(1)._2 == 2 && got(1)._3 == 2.0 / 3.0 && got(1)._4 == 0.5)
    // a query the approximate side returned NOTHING for still reports
    val empty = Similarity.rankingMetrics(
      approx.filter(col("qid") === 2), exact, "qid", "vec_id", "cosine", k = 3)
      .orderBy("qid").as[(Long, Long, Double, Double)].collect()
    assert(empty(0) == ((1L, 0L, 0.0, 0.0)))
  }

  test("ndcgMetrics: perfect approx scores 1.0; planted swaps score the exact fraction") {
    // k=3 -> lcm(1..3)=6; grades from exact rank with maxGrade=2,
    // gradeBands=1: rank 1 -> 2, rank 2 -> 1, rank 3+ -> 0
    val exact = Seq(
      (1L, 11L, 0.9), (1L, 12L, 0.8), (1L, 13L, 0.7),
      (2L, 21L, 0.9), (2L, 22L, 0.8), (2L, 23L, 0.7)
    ).toDF("qid", "vec_id", "cosine")
    val perfect = Similarity.ndcgMetrics(exact, exact, "qid", "vec_id", "cosine",
        k = 3, maxGrade = 2, gradeBands = 1)
      .orderBy("qid").as[(Long, Long, Long, Double)].collect()
    // idcg = 2*(6/1) + 1*(6/2) + 0*(6/3) = 15, every query
    assert(perfect.toSeq == Seq((1L, 15L, 15L, 1.0), (2L, 15L, 15L, 1.0)))
    // query 1 swaps the top two: dcg = 1*6 + 2*3 + 0*2 = 12 -> 12/15;
    // query 2 returns strangers below the true NN: dcg = 2*6 = 12 -> 12/15
    val approx = Seq(
      (1L, 12L, 0.9), (1L, 11L, 0.8), (1L, 13L, 0.7),
      (2L, 21L, 0.9), (2L, 98L, 0.8), (2L, 99L, 0.7)
    ).toDF("qid", "vec_id", "cosine")
    val got = Similarity.ndcgMetrics(approx, exact, "qid", "vec_id", "cosine",
        k = 3, maxGrade = 2, gradeBands = 1)
      .orderBy("qid").as[(Long, Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 12L, 15L, 12.0 / 15.0), (2L, 12L, 15L, 12.0 / 15.0)))
    // a query with no approx rows still reports, at ndcg 0
    val empty = Similarity.ndcgMetrics(
      approx.filter(col("qid") === 2), exact, "qid", "vec_id", "cosine",
        k = 3, maxGrade = 2, gradeBands = 1)
      .orderBy("qid").as[(Long, Long, Long, Double)].collect()
    assert(empty(0) == ((1L, 0L, 15L, 0.0)))
  }

  test("recallCurve: monotone in nProbe; the all-cells point is exactly (1.0, 1.0)") {
    val e = Tables.embeddings(spark, sfDir)
    val (path, cents) = Similarity.ensureIvfIndex(
      e, "vec_id", "embedding", cacheKey = sfDir, nCells = 8)
    val q = e.filter(col("vec_id") % 16 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val curve = Similarity.recallCurve(spark, path, e, "vec_id", "embedding",
        q, "q_id", "q_emb", k = 10, cents, nProbes = Seq(1, 2, 4, 8), excludeSelf = true)
      .orderBy("nprobe").as[(Int, Long, Double, Double)].collect()
    assert(curve.map(_._1).toSeq == Seq(1, 2, 4, 8))
    assert(curve.map(_._2).distinct.length == 1) // same query set at every point
    // probing more cells can only add candidates -> recall is monotone
    curve.sliding(2).foreach {
      case Array((_, _, r1, _), (_, _, r2, _)) =>
        assert(r2 >= r1, s"recall not monotone: ${curve.toSeq}")
      case _ => ()
    }
    // nProbe = nCells scores every cell: the probe IS the exact search
    assert(curve.last._3 == 1.0 && curve.last._4 == 1.0,
      s"all-cells point must be exact: ${curve.last}")
  }

  test("ml_retrieval_eval shape: recall from the lossy nProbe=2 probe is sane and self-consistent") {
    val e = Tables.embeddings(spark, sfDir)
    val (path, cents) = Similarity.ensureIvfIndex(
      e, "vec_id", "embedding", cacheKey = sfDir, nCells = 8)
    val q = e.filter(col("vec_id") % 16 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val approx = Similarity.knnJoin(spark, path, "vec_id", "embedding",
      q, "q_id", "q_emb", k = 10, cents, nProbe = 2, excludeSelf = true)
    val exact = Similarity.exactKnnJoin(e, "vec_id", "embedding",
      q, "q_id", "q_emb", k = 10, excludeSelf = true)
    val m = Similarity.rankingMetrics(approx, exact, "qid", "vec_id", "cosine", k = 10)
      .as[(Long, Long, Double, Double)].collect()
    assert(m.length == q.count())
    // metrics are internally consistent and bounded
    m.foreach { case (qid, hits, recall, rr) =>
      assert(hits >= 0 && hits <= 10 && recall == hits / 10.0, s"q$qid recall/hits mismatch")
      assert(rr >= 0.0 && rr <= 1.0)
      // rr > 0 requires at least one hit
      if (rr > 0.0) assert(hits >= 1)
    }
    // the lossy probe still finds SOMETHING on average (mean recall > 0.2)
    val mean = m.map(_._3).sum / m.length
    info(s"mean recall@10 at nProbe=2/8 cells: $mean")
    assert(mean > 0.2, s"mean recall $mean suspiciously low")
  }

  test("knnJoinFiltered: recall parity with exact filtered truth; predicate pushed into the pruned scan") {
    val e = Tables.embeddings(spark, sfDir).cache()
    val path = java.nio.file.Files.createTempDirectory("ivf_filt").toString + "/idx"
    val cents = Similarity.buildIvfIndex(e, "vec_id", "embedding", path, nCells = 8)
    val q = e.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val pred = col("label") < 5 // planted selective attribute, sel ~0.5

    // forced full coverage (selectivity hint far below any real match
    // rate -> effProbe = nCells): the filtered probe must EQUAL exact
    // filtered ground truth row for row — recall 1.0, not a floor
    val full = Similarity.knnJoinFiltered(spark, path, "vec_id", "embedding",
      q, "q_id", "q_emb", k = 5, cents, predicate = pred,
      selectivity = Some(0.01), nProbe = 2, excludeSelf = true)
    val exactFiltered = Similarity.exactKnnJoin(e.filter(pred), "vec_id", "embedding",
      q, "q_id", "q_emb", k = 5, excludeSelf = true)
    val mFull = Similarity.rankingMetrics(full, exactFiltered, "qid", "vec_id", "cosine", 5)
      .agg(min(col("recall"))).head().getDouble(0)
    assert(mFull == 1.0,
      s"all-cells filtered probe must match exact filtered ground truth, min recall $mFull")

    // measured-selectivity path: the over-probe (2 -> ~4 of 8 cells)
    // must beat naive post-filtering of a fixed-k unfiltered result,
    // which loses slots to candidates the predicate deletes
    val measured = Similarity.knnJoinFiltered(spark, path, "vec_id", "embedding",
      q, "q_id", "q_emb", k = 5, cents, predicate = pred, nProbe = 2, excludeSelf = true)
    val naive = Similarity.knnJoin(spark, path, "vec_id", "embedding",
        q, "q_id", "q_emb", k = 5, cents, nProbe = 2, excludeSelf = true)
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
      .filter(pred)
      .select("qid", "vec_id", "cosine")
    val recallOf = (df: org.apache.spark.sql.DataFrame) =>
      Similarity.rankingMetrics(df, exactFiltered, "qid", "vec_id", "cosine", 5)
        .agg(avg(col("recall"))).head().getDouble(0)
    val rMeasured = recallOf(measured)
    val rNaive = recallOf(naive)
    info(s"filtered recall@5: over-probed $rMeasured vs post-filtered $rNaive")
    assert(rMeasured > rNaive,
      s"over-probed filtered search must beat post-filtering ($rMeasured vs $rNaive)")
    assert(rMeasured >= 0.5, s"filtered recall floor: $rMeasured")

    // plan pins: the predicate reaches the parquet scan (PushedFilters)
    // AND the scan still partition-prunes on the probed cells
    val plan = measured.queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(label,5)"),
      s"predicate must be pushed to the parquet scan:\n$plan")
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"cell partition pruning must survive the filter:\n$plan")
  }
}
