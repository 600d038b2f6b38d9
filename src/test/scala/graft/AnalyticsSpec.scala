package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Unit fixtures for the round-4 catalog extensions (queries/Analytics.scala):
  * URL canonicalization, gaps-and-islands sessionization, and the BM25
  * micro-unit scoring contract. The bit-exact oracle check runs driver-side;
  * these pin the operator SEMANTICS on planted inputs.
  */
class AnalyticsSpec extends SparkTestBase {
  import spark.implicits._

  test("triangleCounts: K4 plus a pendant — exact per-node counts, once per triangle") {
    // K4 on {0,1,2,3} has 4 triangles, every vertex in exactly 3; vertex 4
    // hangs off 0 (degree 1, no triangles); vertex 5 is isolated
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 0L), // pendant, also exercises the (degree,id) orientation flip
      (1L, 0L)) // duplicate in reverse direction — must not double count
      .toDF("src", "dst")
    val nodes = spark.range(0, 6).select(col("id").as("v"))
    val out = graft.operators.Graph.triangleCounts(nodes, edges)
      .orderBy("v").as[(Long, Long)].collect().toSeq
    assert(out == Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L), (4L, 0L), (5L, 0L)), s"got $out")
  }

  test("kCorePeel: hand-checkable cascade — a chain peels, the clique survives") {
    // K4 on {0,1,2,3} (every degree 3) with a tail 3—4—5: at k=2, round 1
    // drops only the leaf 5 (degree 1); in the induced graph node 4's
    // degree falls to 1, so round 2 drops 4 — the cascade a one-shot
    // degree filter misses. K4 survives both rounds at degree 3.
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L), (4L, 5L),
      (1L, 0L), // reverse duplicate — must not inflate degrees
      (5L, 5L)) // self-loop — must not rescue 5 from the first peel
      .toDF("src", "dst")
    val r1 = graft.operators.Graph.kCorePeel(edges, k = 2, rounds = 1)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(r1 == Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 2L)), s"round 1: $r1")
    val r2 = graft.operators.Graph.kCorePeel(edges, k = 2, rounds = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(r2 == Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 4L)), s"round 2: $r2")
    // round 3 reaches the true 2-core: degrees settle at the K4's 3s
    val r3 = graft.operators.Graph.kCorePeel(edges, k = 2, rounds = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(r3 == Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L)), s"round 3: $r3")
  }

  test("snapshotDiff: null-safe value compare, all four statuses") {
    import graft.operators.Maintenance
    val old = Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]),
      (4L, "d"), (5L, null.asInstanceOf[String])).toDF("k", "v")
    val cur = Seq((1L, "a"), (2L, "B"), (3L, null.asInstanceOf[String]),
      (5L, "now-set"), (6L, "new")).toDF("k", "v")
    val out = Maintenance.snapshotDiff(old, cur, Seq("k"))
      .select("k", "status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", // null <=> null is TRUE, not a spurious change
      4L -> "removed", 5L -> "changed", 6L -> "added"), s"got $out")
  }

  test("HLL sketch aggregation plans map-side partial aggregation") {
    // the sketch is a mergeable buffer, so Spark must combine per-partition
    // BEFORE the shuffle (ObjectHashAggregate partial) — shuffling raw rows
    // to a single final aggregate would defeat the whole point at scale
    val df = spark.range(0, 1000).select((col("id") % 7).as("g"), col("id").as("u"))
    val p = df.groupBy("g").agg(hll_sketch_agg(col("u")).as("sk"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate"), s"expected object hash aggregate:\n$p")
    assert(p.toLowerCase.contains("partial_hll_sketch_agg") ||
      p.toLowerCase.contains("partial"), s"expected a partial aggregation stage:\n$p")
  }

  test("HLL sketch: shard-merge and whole-input estimates both near exact") {
    // 8000 distinct users across 4 overlapping shards — deliberately ABOVE
    // the coupon->HLL mode transition (~1k at lgK=12), where a direct
    // sketch (HIP estimator) and a union result (composite estimator)
    // legitimately differ by a fraction of a percent; both must still land
    // within HLL error of the truth (the a18 contract)
    val rows = (0 until 4).flatMap(sh => (0 until 5000).map(u => (sh, (u * 13 + sh * 77) % 8000)))
    val df = rows.toDF("shard", "user_id")
    val merged = df.groupBy("shard").agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est")).as[Long].head()
    val whole = df.agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))))
      .as[Long].head()
    val exact = df.select("user_id").distinct().count()
    assert(math.abs(merged.toDouble / exact - 1.0) < 0.05,
      s"merged estimate $merged vs exact $exact out of bounds")
    assert(math.abs(whole.toDouble / exact - 1.0) < 0.05,
      s"whole estimate $whole vs exact $exact out of bounds")
  }

  // --- canonicalizeUrl ----------------------------------------------------

  private def canon(url: String): String =
    Seq(url).toDF("u").select(TextFns.canonicalizeUrl(col("u"))).as[String].head()

  test("canonicalizeUrl: scheme+host lowercased, path case preserved") {
    assert(canon("HTTP://Example.COM/Cat/A") == "http://example.com/Cat/A")
  }

  test("canonicalizeUrl: default :80 port stripped, other ports kept") {
    assert(canon("http://example.com:80/x") == "http://example.com/x")
    assert(canon("http://example.com:8080/x") == "http://example.com:8080/x")
  }

  test("canonicalizeUrl: trailing slashes stripped, root path collapses") {
    assert(canon("http://example.com/a/b///") == "http://example.com/a/b")
    assert(canon("http://example.com/") == "http://example.com")
  }

  test("canonicalizeUrl: query params sorted, fragment dropped, empty query dropped") {
    assert(canon("http://example.com/x?b=2&a=1#frag") == "http://example.com/x?a=1&b=2")
    assert(canon("http://example.com/x?#frag") == "http://example.com/x")
    assert(canon("http://example.com/x#frag") == "http://example.com/x")
  }

  test("canonicalizeUrl: cosmetic variants of one resource collapse to one key") {
    val variants = Seq(
      "HTTP://Shop.Example.COM:80/cat/O/?b=3&a=7#sec",
      "http://shop.example.com/cat/O?a=7&b=3",
      "http://Shop.example.com/cat/O/?a=7&b=3")
    val canons = variants.toDF("u").select(TextFns.canonicalizeUrl(col("u")))
      .as[String].collect().toSet
    assert(canons == Set("http://shop.example.com/cat/O?a=7&b=3"))
  }

  // --- sessionization (ev_sessions shape) ----------------------------------

  test("sessionization: 30-min gap splits sessions; boundary gap does not") {
    // user 1: events at 0s, 1000s (same session: gap <= 1800s), 3000s (new:
    // gap 2000s > 1800s), then exactly 1800s later (same: boundary is NOT
    // greater-than), user 2: one event.
    val events = Seq(
      (1L, 101L, 0L), (1L, 102L, 1000L * 1000000), (1L, 103L, 3000L * 1000000),
      (1L, 104L, 4800L * 1000000), (2L, 201L, 50L * 1000000))
      .toDF("user_id", "event_id", "us")
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val out = events
      .withColumn("is_new",
        when(lag(col("us"), 1).over(w).isNull ||
             col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n"), min("us").as("s"), max("us").as("e"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 1L, 2L, 0L, 1000000000L),                        // events 101+102
      (1L, 2L, 2L, 3000000000L, 4800000000L),               // 103 + boundary 104
      (2L, 1L, 1L, 50000000L, 50000000L)))
  }

  // --- BM25 micro-unit scoring ---------------------------------------------

  test("bm25 catalog entry: rarer query terms outrank common ones") {
    // 'spark' is the corpus-rarest of the four query terms in the driver
    // fixture at sf0.001; a doc with it should beat an equal-length doc
    // with only a ubiquitous term. Run the actual catalog entry end-to-end
    // on the smallest fixture (also pins schema + limit).
    val q = graft.queries.Analytics.queries.find(_.name == "tx_bm25").get
    val out = q.fn(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    assert(out.columns.toSeq == Seq("doc_id", "n_terms", "bm25_micro"))
    // scores are positive integers, sorted descending
    val scores = rows.map(_.getAs[Long]("bm25_micro"))
    assert(scores.forall(_ > 0) && scores.sameElements(scores.sortBy(-_)))
  }

  test("rollup vs cube: cube adds the linestatus-only slice, same leaf rows") {
    val roll = graft.queries.Analytics.queries.find(_.name == "a14_rollup").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    val cube = graft.queries.Analytics.queries.find(_.name == "a15_cube").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    val rollKeys = roll.map(r => (r.getString(0), r.getString(1))).toSet
    val cubeKeys = cube.map(r => (r.getString(0), r.getString(1))).toSet
    assert(rollKeys.subsetOf(cubeKeys))
    // the extra cube rows are exactly the ALL-by-linestatus slice
    assert((cubeKeys -- rollKeys).forall { case (rf, ls) => rf == "ALL" && ls != "ALL" })
    // grand total row agrees between the two
    val rollTotal = roll.find(r => r.getString(0) == "ALL" && r.getString(1) == "ALL").get
    val cubeTotal = cube.find(r => r.getString(0) == "ALL" && r.getString(1) == "ALL").get
    assert(rollTotal.getLong(2) == cubeTotal.getLong(2))
    assert(rollTotal.getDouble(3) == cubeTotal.getDouble(3))
  }

  // --- upsert (MERGE) -------------------------------------------------------

  test("upsert: source wins on key, unmatched target survives, new keys insert") {
    val target = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("k", "name", "v")
    val source = Seq((2, "b2", 99.0), (9, "new", 1.0)).toDF("k", "name", "v")
    val out = graft.ops.Joins.upsert(target, source, Seq("k"))
      .as[(Int, String, Double)].collect().toSet
    assert(out == Set((1, "a", 10.0), (2, "b2", 99.0), (3, "c", 30.0), (9, "new", 1.0)))
  }

  test("upsert refuses non-conformable schemas and empty keys") {
    val t = Seq((1, "a")).toDF("k", "x")
    assert(intercept[IllegalArgumentException] {
      graft.ops.Joins.upsert(t, Seq((1, "a", 2.0)).toDF("k", "x", "y"), Seq("k"))
    }.getMessage.contains("conformable"))
    assert(intercept[IllegalArgumentException] {
      graft.ops.Joins.upsert(t, t, Seq())
    }.getMessage.contains("key"))
  }

  // --- partitioned sink: pruning is planned, not filtered -------------------

  test("s10: filter on the partition column becomes PartitionFilters (zero scan of other partitions)") {
    val q = graft.queries.Analytics.queries.find(_.name == "s10_partitioned_scan").get
    val df = q.fn(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderstatus"),
      s"expected partition pruning in plan:\n$plan")
    // the pruned filter must NOT reappear as a post-scan data filter
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("(o_orderstatus"), scanLine)
  }

  test("u7 scd2: intervals chain per key — valid_to equals next valid_from, one open row") {
    val q = graft.queries.Analytics.queries.find(_.name == "u7_scd2_history").get
    val rows = q.fn(spark, "/root/testdata/sf0.001")
      .select("o_custkey", "valid_from", "valid_to", "is_current", "o_orderkey").collect()
    val byKey = rows.groupBy(_.getLong(0))
    byKey.foreach { case (_, rs) =>
      // exactly one open-ended current row per key
      assert(rs.count(_.getBoolean(3)) == 1)
      // closed intervals chain onto the next row's start, in window order
      // (valid_from, o_orderkey — the tie-break the query itself pins).
      // o_orderdate is TIMESTAMP_NTZ -> java.time.LocalDateTime in Rows.
      def t(r: org.apache.spark.sql.Row, i: Int) = r.getAs[java.time.LocalDateTime](i)
      val sorted = rs.sortBy(r => (t(r, 1), r.getLong(4)))(
        Ordering.Tuple2(Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _), Ordering.Long))
      sorted.sliding(2).foreach {
        case Array(a, b) if !a.getBoolean(3) =>
          assert(t(a, 2) == t(b, 1))
        case _ =>
      }
    }
  }

  // --- plan pins (at-scale requirements as unit tests) ----------------------

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("ev_sessions plans ONE exchange: lag window, running sum and groupBy share the user_id partitioning") {
    val q = graft.queries.Analytics.queries.find(_.name == "ev_sessions").get
    val p = plan(q.fn(spark, "/root/testdata/sf0.001"))
    // drop the final presentation orderBy's range exchange from the count
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected one hash exchange, got $shuffles in:\n$p")
  }

  test("ev_ohlc plans ONE hash exchange: both windows and the aggregate share (event_type, hour)") {
    val q = graft.queries.Analytics.queries.find(_.name == "ev_ohlc").get
    val p = plan(q.fn(spark, "/root/testdata/sf0.001"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1, s"expected one hash exchange, got $shuffles in:\n$p")
  }

  test("tx_bm25 broadcasts df and corpus stats; top-20 is TakeOrdered, not a global sort") {
    val q = graft.queries.Analytics.queries.find(_.name == "tx_bm25").get
    val p = plan(q.fn(spark, "/root/testdata/sf0.001"))
    assert(p.contains("BroadcastExchange"), s"df/stats sides must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must be TakeOrdered:\n$p")
  }

  test("pf_histogram / pf_drift broadcast the min-max row back (no fact-side shuffle for bounds)") {
    for (name <- Seq("pf_histogram", "pf_drift")) {
      val q = graft.queries.Analytics.queries.find(_.name == name).get
      assert(plan(q.fn(spark, "/root/testdata/sf0.001")).contains("BroadcastNestedLoopJoin"),
        s"$name must attach bounds via broadcast")
    }
  }

  test("AQE replans a sort-merge join to broadcast when the filtered side turns out tiny") {
    // runtime statistics, not estimates, drive the strategy: a selective
    // filter on one join side is only KNOWN to be broadcastable after the
    // exchange materializes — AQE's DynamicJoinSelection must flip SMJ to
    // BHJ. This is the at-scale behavior that saves the big-side shuffle
    // sort whenever a dimension filter is selective.
    val big = graft.core.Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val small = graft.core.Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 1000 === 0) // ~0.1% survives
      .select("o_orderkey", "o_orderstatus")
    val joined = big.join(small, big("l_orderkey") === small("o_orderkey"))
    joined.write.format("noop").mode("overwrite").save()
    val finalPlan = joined.queryExecution.executedPlan.toString
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"AQE should have replanned to broadcast:\n$finalPlan")
  }

  // --- ordered funnel -------------------------------------------------------

  test("funnel: strict ordering — a click before any view does not convert") {
    val ev = Seq(
      // u1 completes view(10) -> click(20) -> purchase(30)
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // u2 clicks BEFORE its first view: reaches stage 1 only
      (2L, "click", 5L), (2L, "view", 10L),
      // u3 views and clicks at the SAME time: strict > excludes the click
      (3L, "view", 10L), (3L, "click", 10L),
      // u4 views then clicks; purchase precedes the click -> stage 2
      (4L, "view", 1L), (4L, "purchase", 2L), (4L, "click", 3L))
      .toDF("user_id", "event_type", "us")
    val out = graft.ops.Funnel.counts(ev, "user_id", "us",
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
      .orderBy("stage")
      .as[(Int, String, Long)].collect().toSeq
    assert(out == Seq((1, "view", 4L), (2, "click", 2L), (3, "purchase", 1L)))
  }

  test("funnel stages anchor on the EARLIEST completion of the previous step") {
    // u1 has two views (5, 100); the click at 10 must anchor on view@5
    val ev = Seq((1L, "view", 5L), (1L, "view", 100L), (1L, "click", 10L))
      .toDF("user_id", "event_type", "us")
    val out = graft.ops.Funnel.counts(ev, "user_id", "us",
        Seq("view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click")))
      .orderBy("stage").as[(Int, String, Long)].collect().toSeq
    assert(out == Seq((1, "view", 1L), (2, "click", 1L)))
  }

  // --- Z-order layout key ---------------------------------------------------

  test("Layout.zValue matches a reference Morton interleave, truncating to 16 bits") {
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      var i = 0
      while (i < 16) {
        z |= ((x >> i) & 1L) << (2 * i)
        z |= ((y >> i) & 1L) << (2 * i + 1)
        i += 1
      }
      z
    }
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 70000L), (65536L, 1L))
    val out = pts.toDF("x", "y")
      .select(graft.functions.Layout.zValue(col("x"), col("y")))
      .as[Long].collect()
    pts.map { case (x, y) => ref(x & 0xFFFFL, y & 0xFFFFL) }
      .zip(out).foreach { case (e, a) => assert(e == a) }
    // the three smallest z-values are the unit steps of the curve
    assert(out.take(3).sameElements(Array(0L, 1L, 2L)))
  }

  // --- one-pass correlation matrix ------------------------------------------

  test("pearsonMatrix: perfect, anti and zero correlation; constant column nulls") {
    val data = (1 to 40).map { i =>
      (i.toDouble, 2.0 * i + 3, -0.5 * i + 10, 7.0)
    }.toDF("x", "lin", "anti", "const")
    val r = graft.operators.Profile.pearsonMatrix(
        data, Nil, Seq("x", "lin", "anti", "const"))
      .collect()(0)
    assert(r.getAs[Long]("n") == 40)
    assert(math.abs(r.getAs[Double]("corr_x_lin") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("corr_x_anti") + 1.0) < 1e-12)
    assert(r.isNullAt(r.fieldIndex("corr_x_const")), "zero variance must yield null")
  }

  test("pearsonMatrix: underscore-ambiguous column names and a key named n") {
    // ('a','b_c') and ('a_b','c') would both alias __sp_a_b_c under
    // name-derived moment aliases; positional aliases must keep them apart
    val data = (1 to 30).map { i =>
      ("g", i.toDouble, 2.0 * i, -1.0 * i, 3.0 * i + 1)
    }.toDF("n", "a", "b_c", "a_b", "c")
    val r = graft.operators.Profile.pearsonMatrix(
      data, Seq("n"), Seq("a", "b_c", "a_b", "c")).collect()(0)
    assert(r.getAs[String]("n") == "g", "key column must survive untouched")
    assert(r.getAs[Long]("n_0") == 30, "count alias must dodge the key named n")
    assert(math.abs(r.getAs[Double]("corr_a_b_c") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("corr_a_b_c_0") + 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("corr_b_c_a_b") + 1.0) < 1e-12)
  }

  // --- interval-overlap join ------------------------------------------------

  test("intervalOverlapJoin matches brute force; each pair exactly once; inverted/null drop") {
    val rnd = new scala.util.Random(321)
    val aRows = (0 until 25).map { i =>
      val lo = rnd.nextInt(50).toLong; (i.toLong, lo, lo + rnd.nextInt(12))
    } :+ ((99L, 10L, 5L)) // inverted — must drop
    val bRows = (0 until 18).map { i =>
      val lo = rnd.nextInt(50).toLong; (i.toLong, lo, lo + rnd.nextInt(9))
    }
    val got = graft.ops.Joins.intervalOverlapJoin(
        aRows.toDF("id_a", "a_lo", "a_hi"), bRows.toDF("id_b", "b_lo", "b_hi"),
        "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    val expected = for {
      (ia, alo, ahi) <- aRows if alo <= ahi
      (ib, blo, bhi) <- bRows if alo <= bhi && blo <= ahi
    } yield (ia, ib)
    assert(got.sorted == expected.sorted, "pair sets (with multiplicity) must match")
    assert(got.distinct.size == got.size, "no duplicate pair emissions")
  }

  test("intervalOverlapJoin keeps a b-side column named __bucket") {
    val a = Seq((1L, 0L, 10L)).toDF("id_a", "a_lo", "a_hi")
    val b = Seq((2L, 5L, 8L, "keep")).toDF("id_b", "b_lo", "b_hi", "__bucket")
    val out = graft.ops.Joins.intervalOverlapJoin(
      a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucketWidth = 4)
    assert(out.columns.count(_ == "__bucket") == 1)
    assert(out.select("__bucket").as[String].collect().toSeq == Seq("keep"),
      "the internal bucket temp must not overwrite b's data column")
  }

  // --- compaction -----------------------------------------------------------

  test("compactParquet shrinks file count, preserves content, reports sizes") {
    val path = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val data = spark.range(0, 10000).select(col("id"), (col("id") % 7).as("g"))
    data.repartition(40).write.mode("overwrite").parquet(path)
    val report = graft.operators.Maintenance.compactParquet(spark, path, 512L * 1024 * 1024)
    assert(report.filesBefore == 40 && report.filesAfter == 1, report.toString)
    assert(report.bytes > 0)
    val back = spark.read.parquet(path)
    assert(back.count() == 10000)
    assert(back.agg(sum("id")).as[Long].head() == (0L until 10000L).sum)
  }

  test("compactParquet preserves hive partitioning when told the partition columns") {
    val path = java.nio.file.Files.createTempDirectory("graft-compact-p").toString + "/t"
    spark.range(0, 2000).select(col("id"), (col("id") % 3).cast("string").as("part"))
      .repartition(20).write.mode("overwrite").partitionBy("part").parquet(path)
    graft.operators.Maintenance.compactParquet(spark, path, 512L * 1024 * 1024, Seq("part"))
    // layout survives: partition dirs still exist and pruning still plans
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("part=0", "part=1", "part=2"), dirs.mkString(","))
    val pruned = spark.read.parquet(path).filter(col("part") === "1")
    assert(pruned.count() == 2000 / 3 + (if (2000 % 3 >= 2) 1 else 0))
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  // --- fixed-point PageRank -------------------------------------------------

  test("pageRank star graph: closed-form center rank, leaves at teleport floor") {
    // 4 leaves all pointing at node 0; after one iteration:
    // center = teleport + 0.85 * 4 * (S/5)   (each leaf's whole rank)
    // leaves = teleport                      (no in-edges)
    val S = graft.operators.Graph.Scale
    val nodes = spark.range(0, 5).select(col("id").as("v"))
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("src", "dst")
    val r = graft.operators.Graph.pageRankFixedPoint(nodes, edges, iters = 1)
      .select("v", "rank_fp").as[(Long, Long)].collect().toMap
    val teleport = (S - 85 * S / 100) / 5
    assert(r(0L) == teleport + 85 * (4 * (S / 5)) / 100)
    Seq(1L, 2L, 3L, 4L).foreach(v => assert(r(v) == teleport))
  }

  test("pageRank is bit-identical under different partitionings and conserves mass") {
    val nodes = spark.range(0, 30).select(col("id").as("v"))
    val rnd = new scala.util.Random(99)
    val edges = (0 until 80).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    val a = graft.operators.Graph.pageRankFixedPoint(nodes, edges.repartition(1), 3)
      .select("v", "rank_fp").as[(Long, Long)].collect().toMap
    val b = graft.operators.Graph.pageRankFixedPoint(nodes, edges.repartition(17), 3)
      .select("v", "rank_fp").as[(Long, Long)].collect().toMap
    assert(a == b, "fixed-point ranks must not depend on partitioning")
    // truncating divisions only ever LOSE mass: sum <= Scale, but stays close
    val total = a.values.sum
    assert(total <= graft.operators.Graph.Scale)
    assert(total > graft.operators.Graph.Scale * 9 / 10)
  }

  // --- incremental aggregate maintenance ------------------------------------

  test("mergePartialAggs(partial(A), partial(B)) == aggregate(A union B), exactly") {
    val data = Seq(("a", 1.25), ("a", 2.5), ("b", 3.125), ("a", 4.0), ("b", 0.5))
      .toDF("k", "v")
    def partial(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("k").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(30,6)")).as("sv"))
    val merged = graft.ops.Aggregates.mergePartialAggs(
        Seq(partial(data.filter(col("v") < 3)), partial(data.filter(col("v") >= 3))),
        Seq("k"), Seq("n", "sv"))
      .select(col("k"), col("n"), col("sv").cast("double").as("sv"))
      .as[(String, Long, Double)].collect().toSet
    val full = partial(data)
      .select(col("k"), col("n"), col("sv").cast("double").as("sv"))
      .as[(String, Long, Double)].collect().toSet
    assert(merged == full)
    assert(merged == Set(("a", 3L, 7.75), ("b", 2L, 3.625)))
  }

  test("pf_histogram: buckets cover all rows, bounds nest inside bucket ranges") {
    val q = graft.queries.Analytics.queries.find(_.name == "pf_histogram").get
    val rows = q.fn(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[Int]("bucket")).forall(b => b >= 0 && b <= 15))
    val total = rows.map(_.getAs[Long]("n")).sum
    val nLineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").count()
    assert(total == nLineitem)
    rows.foreach { r =>
      assert(r.getAs[Long]("min_cents") <= r.getAs[Long]("max_cents"))
    }
  }

  test("ev_anomaly shape: a planted 10x burst hour is flagged, quiet hours are not") {
    import java.sql.Timestamp
    // 24 hours of steady traffic (10 events/h) with one 200-event burst —
    // the fixture's organic traffic is too uniform to trip |z| > 3, so the
    // flagging direction is proven here on a planted spike
    val rows = (0 until 24).flatMap { h =>
      val n = if (h == 5) 200 else 10
      (0 until n).map(i => ("click", new Timestamp(h * 3600000L + i)))
    }
    val hourly = rows.toDF("event_type", "ts")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("long").as("hour_epoch"))
      .agg(count(lit(1)).as("cnt"))
    val out = graft.ops.Aggregates.zscore(hourly, Seq("event_type"), "cnt")
      .withColumn("is_anomaly", coalesce(abs(col("cnt_z")) > 3.0, lit(false)))
    val flagged = out.filter(col("is_anomaly")).select("hour_epoch").as[Long].collect().toSeq
    assert(flagged == Seq(5 * 3600L))
    assert(out.count() == 24)
    // degenerate group: a single observation has no std -> never anomalous
    val single = Seq(("rare", new Timestamp(0L))).toDF("event_type", "ts")
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("long").as("hour_epoch"))
      .agg(count(lit(1)).as("cnt"))
    val so = graft.ops.Aggregates.zscore(single, Seq("event_type"), "cnt")
      .withColumn("is_anomaly", coalesce(abs(col("cnt_z")) > 3.0, lit(false)))
      .select("is_anomaly").as[Boolean].collect().toSeq
    assert(so == Seq(false))
  }

  test("j19: bucketed fact-fact join plans with zero shuffle exchanges") {
    // build the bucketed tables via the catalog entry itself, then pin the
    // co-located plan with broadcast disabled (a broadcast would also be
    // shuffle-free but wouldn't prove bucketing engaged)
    graft.SparkEntry.queries("j19_bucketed_cojoin")(spark, sfDir).collect()
    val suffix = graft.core.Tables.pathKey(sfDir)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.table(s"graft_j19_li_$suffix")
        .join(spark.table(s"graft_j19_ord_$suffix"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      // the ONLY exchange allowed is the final groupBy's — the join itself
      // must consume the on-disk bucketing on both sides
      val joinPart = p.split("SortMergeJoin").last
      assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not re-shuffle its inputs:\n$p")
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"scan must report bucketed read:\n$p")
    }
  }
}
