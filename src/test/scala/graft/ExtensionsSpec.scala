package graft

import org.apache.spark.sql.functions._
import graft.operators.{HashClassifier, Sampling}
import graft.ops.Stats

/** Round-8 tranche-2 operators: KS test, hashed classifier, temperature
  * mixture. (The image-phash and XML-source families have their own
  * specs next to their modules.)
  */
class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  // ---- KS test ---------------------------------------------------------

  test("ksTest: identical distributions give D = 0") {
    val rows = (1 to 200).flatMap(i => Seq((i.toLong, "A"), (i.toLong, "B")))
    val df = rows.toDF("v", "s")
    val r = Stats.ksTest(df, col("s"), "A", "B", col("v")).collect().head
    assert(r.getAs[Long]("d_num") == 0L)
    assert(r.getAs[Double]("d") == 0.0)
  }

  test("ksTest: disjoint supports give D = 1") {
    val rows = (1 to 100).map(i => (i.toLong, "A")) ++
      (201 to 300).map(i => (i.toLong, "B"))
    val r = Stats.ksTest(rows.toDF("v", "s"), col("s"), "A", "B", col("v"))
      .collect().head
    assert(r.getAs[Long]("n_a") == 100L && r.getAs[Long]("n_b") == 100L)
    assert(r.getAs[Double]("d") == 1.0)
  }

  test("ksTest: matches the brute-force sup over observed values") {
    // deterministic skewed fixture, unequal sizes, shared + unique values
    val a = (1 to 157).map(i => ((i * 7 % 50).toLong, "A"))
    val b = (1 to 211).map(i => ((i * 11 % 60).toLong, "B"))
    val df = (a ++ b).toDF("v", "s")
    val r = Stats.ksTest(df, col("s"), "A", "B", col("v"), buckets = 8)
      .collect().head
    val av = a.map(_._1).sorted
    val bv = b.map(_._1).sorted
    val obs = (av ++ bv).distinct.sorted
    val want = obs.map { x =>
      math.abs(av.count(_ <= x).toLong * bv.length - bv.count(_ <= x).toLong * av.length)
    }.max
    assert(r.getAs[Long]("d_num") == want)
    assert(r.getAs[Double]("d") == want.toDouble / (157.0 * 211.0))
  }

  test("ksTest: no unpartitioned window in the plan") {
    val df = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "A" else "B")).toDF("v", "s")
    val exec = Stats.ksTest(df, col("s"), "A", "B", col("v"))
      .queryExecution.executedPlan
    // the ECDF cumsum must window on the bucket — an empty partition spec
    // is the single-reducer WindowExec this operator exists to avoid (the
    // final 1-row global max over pre-aggregated partials is fine)
    val bad = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned window:\n$exec")
  }

  test("ev_user_growth: the global cumsum window consumes day-level rows, not events") {
    // the entry's unpartitioned window is legal ONLY because it runs over
    // one row per active day — this pin fails if a refactor silently moves
    // the cumsum onto raw events/users (AQE off so the executed plan stays
    // structurally traversable and metrics attach to the real nodes)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = SparkEntry.queries("ev_user_growth")(spark, sfDir)
      val out = df.collect()
      val exec = df.queryExecution.executedPlan
      val ws = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(ws.size == 1, s"expected exactly one window:\n$exec")
      assert(ws.head.partitionSpec.isEmpty) // documented bounded global cumsum
      val aggs = ws.head.collect {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
      }
      assert(aggs.nonEmpty, s"window must sit above the per-day aggregate:\n$exec")
      val nDays = out.length.toLong // one output row per first-seen day
      assert(aggs.head.metrics("numOutputRows").value == nDays,
        "the window's input must be the day-level aggregate (one row per day)")
      val nEvents = graft.core.Tables.events(spark, sfDir).count()
      assert(nDays < nEvents / 10, "fixture sanity: days must be far fewer than events")
    }
  }

  test("dropPartitionsBelow: drops only old partitions, survivors byte-stable") {
    import graft.operators.Maintenance
    val tmp = java.nio.file.Files.createTempDirectory("graft_retention").toString
    val path = s"$tmp/t"
    (1 to 100).map(i => (i.toLong % 10, i.toLong)).toDF("day", "v")
      .write.partitionBy("day").parquet(path)
    def files(day: Long) = {
      val d = new java.io.File(s"$path/day=$day")
      if (!d.exists()) Set.empty[(String, Long)]
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).toSet
    }
    val before = (0L to 9L).map(d => d -> files(d)).toMap
    val dropped = Maintenance.dropPartitionsBelow(spark, path, "day", cutoff = 4L)
    assert(dropped == Seq(0L, 1L, 2L, 3L))
    for (d <- 0L to 3L) assert(files(d).isEmpty, s"day=$d must be gone")
    for (d <- 4L to 9L) assert(files(d) == before(d), s"day=$d changed")
    val rows = spark.read.parquet(path).select("v").as[Long].collect().toSet
    assert(rows == (1 to 100).map(_.toLong).filter(_ % 10 >= 4).toSet)
    // missing root and no-op cutoff are both graceful
    assert(Maintenance.dropPartitionsBelow(spark, s"$tmp/nope", "day", 5L).isEmpty)
    assert(Maintenance.dropPartitionsBelow(spark, path, "day", 0L).isEmpty)
  }

  // ---- hashed classifier -----------------------------------------------

  test("hash classifier: score equals per-feature replay; keep threshold") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "Alpha  ALPHA alpha"), // case folds; repeats count per occurrence
      (3L, ""),
      (4L, "solo")).toDF("doc_id", "text")
    val got = HashClassifier.score(docs, "doc_id", "text", dims = 64, thresholdMilli = 10L)
      .orderBy("doc_id")
      .select("doc_id", "n_features", "score_milli", "keep")
      .as[(Long, Int, Long, Boolean)].collect()
    // replay: same md5 arithmetic computed via Spark expressions one-at-a-time
    def weightOf(feature: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      def h8(s: String): Long =
        java.lang.Long.parseLong(
          md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8), 16)
      val bucket = h8(feature) % 64
      h8(s"w:$bucket") % 2001 - 1000
    }
    def feats(text: String): Seq[String] = {
      val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
      toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    for ((id, n, s, keep) <- got) {
      val fs = feats(Seq("alpha beta gamma", "Alpha  ALPHA alpha", "", "solo")(id.toInt - 1))
      assert(n == fs.size, s"doc $id n_features")
      assert(s == fs.map(weightOf).sum, s"doc $id score")
      assert(keep == (s >= 10L), s"doc $id keep")
    }
  }

  test("hash classifier: zero shuffles, zero UDFs in the plan") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = HashClassifier.score(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"classifier must be narrow:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  // ---- temperature mixture ----------------------------------------------

  test("temperatureMixture: quotas follow sqrt(count), survivors pinned") {
    // sources with counts 400 / 100 / 25 → sqrt weights 20/10/5 (ratio
    // 4:2:1 flattens to 20:10:5 = 4:2:1 over sqrt... of 16:4:1)
    val rows = (1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 500).map(i => (i.toLong, "mid")) ++
      (501 to 525).map(i => (i.toLong, "small"))
    val df = rows.toDF("doc_id", "source")
    val kept = Sampling.temperatureMixture(df, col("source"), col("doc_id"), totalKeep = 70L)
    val bySource = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    // weights: floor(1e6*sqrt(400))=20e6, 10e6, 5e6; sum=35e6
    // quotas: 70*20/35=40, 70*10/35=20, 70*5/35=10
    assert(bySource == Map("big" -> 40L, "mid" -> 20L, "small" -> 10L), bySource.toString)
    // determinism: same input → identical survivor set
    val again = Sampling.temperatureMixture(df, col("source"), col("doc_id"), totalKeep = 70L)
      .select("doc_id").as[Long].collect().sorted
    assert(again.toSeq == kept.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  // ---- top paths ---------------------------------------------------------

  test("ev_top_paths shape: trigrams respect per-user time order") {
    import org.apache.spark.sql.expressions.Window
    val ev = Seq(
      (1L, "u1", 100L, "view"), (2L, "u1", 200L, "click"), (3L, "u1", 300L, "buy"),
      (4L, "u1", 400L, "view"),
      (5L, "u2", 100L, "view"), (6L, "u2", 200L, "click"), (7L, "u2", 300L, "buy"))
      .toDF("event_id", "user_id", "us", "event_type")
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val paths = ev
      .withColumn("n1", lead(col("event_type"), 1).over(w))
      .withColumn("n2", lead(col("event_type"), 2).over(w))
      .filter(col("n1").isNotNull && col("n2").isNotNull)
      .select(concat(col("event_type"), lit(">"), col("n1"), lit(">"), col("n2")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path"))
      .as[(String, Long)].collect().toSeq
    assert(paths == Seq(("view>click>buy", 2L), ("click>buy>view", 1L)))
  }

  // ---- incremental join-view maintenance ---------------------------------

  test("maintainJoinView: equals the full recompute, including no-dim-match deltas") {
    import graft.operators.Maintenance
    val dim = Seq((10L, "x"), (20L, "y")).toDF("k", "name")
    val fact = Seq((1L, 10L, 5.0), (2L, 20L, 6.0), (3L, 10L, 7.0)).toDF("id", "k", "v")
    // update id=2 (new value AND new key with no dim match -> row must
    // VANISH from the view), insert id=4, leave 1 and 3 untouched
    val delta = Seq((2L, 99L, 60.0), (4L, 20L, 8.0)).toDF("id", "k", "v")
    val view = fact.join(dim, "k").select("id", "k", "v", "name")
    val got = Maintenance.maintainJoinView(view, delta, dim,
        factKeys = Seq("id"), joinKeys = Seq("k"))
      .orderBy("id").as[(Long, Long, Double, String)].collect().toSeq
    // recompute with the upserted fact
    val factU = Seq((1L, 10L, 5.0), (3L, 10L, 7.0), (2L, 99L, 60.0), (4L, 20L, 8.0))
      .toDF("id", "k", "v")
    val want = factU.join(dim, "k").select("id", "k", "v", "name")
      .orderBy("id").as[(Long, Long, Double, String)].collect().toSeq
    assert(got == want)
    assert(!got.exists(_._1 == 2L), "id=2 lost its dim match and must drop out")
    assert(got.exists(_._1 == 4L), "id=4 is a fresh insert")
  }

  test("maintainJoinView: schema drift between view and delta⋈dim fails loudly") {
    import graft.operators.Maintenance
    val dim = Seq((10L, "x")).toDF("k", "name")
    val fact = Seq((1L, 10L, 5.0)).toDF("id", "k", "v")
    val view = fact.join(dim, "k").select("id", "k", "v", "name")
    val deltaWrong = Seq((2L, 10L)).toDF("id", "k") // missing v
    val e = intercept[IllegalArgumentException] {
      Maintenance.maintainJoinView(view, deltaWrong, dim, Seq("id"), Seq("k"))
    }
    assert(e.getMessage.contains("schemas differ"))
  }

  test("temperatureMixture: quota caps at the stratum count") {
    val rows = (1 to 96).map(i => (i.toLong, "big")) ++ Seq((97L, "tiny"))
    val kept = Sampling.temperatureMixture(
      rows.toDF("doc_id", "source"), col("source"), col("doc_id"), totalKeep = 1000L)
    val bySource = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySource("tiny") == 1L) // not 1000·w/Σw rows — there is only 1
    assert(bySource("big") == 96L)
  }

  test("ev_ab_test: z matches a scalar recomputation from the integer counts") {
    val out = graft.SparkEntry.queries("ev_ab_test")(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Double, Option[Double])].collect()
    assert(out.length == 1)
    val (na, xa, nb, xb, ra, rb, z) = out.head
    assert(xa <= na && xb <= nb && na > 0 && nb > 0)
    assert(ra == xa.toDouble / na && rb == xb.toDouble / nb)
    val pp = (xa + xb).toDouble / (na + nb)
    if (pp > 0 && pp < 1) {
      val want = (ra - rb) / math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
      assert(z.contains(want), s"z $z vs recomputed $want")
    } else assert(z.isEmpty, "degenerate pooled variance must yield null")
  }

  test("ev_markov: rows normalize to 1 per source state, counts match transitions") {
    val out = graft.SparkEntry.queries("ev_markov")(spark, sfDir)
      .as[(String, String, Long, Double)].collect()
    assert(out.nonEmpty)
    // per-src probabilities sum to exactly 1 (exact integer division terms
    // of one common denominator always re-add to the whole)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val total = rows.map(_._3).sum
      val probSum = rows.map(r => r._3.toDouble / total).sum
      assert(rows.forall(r => r._4 == r._3.toDouble / total), s"$src prob mismatch")
      assert(math.abs(probSum - 1.0) < 1e-12, s"$src probs sum to $probSum")
    }
    // transition count conservation: Σ cnt = Σ per-user (n_events - 1)
    val perUser = graft.core.Tables.events(spark, sfDir)
      .groupBy("user_id").count().as[(Long, Long)].collect()
    assert(out.map(_._3).sum == perUser.map(_._2 - 1).sum)
  }
}
