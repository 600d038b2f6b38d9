package graft

import org.apache.spark.sql.functions._
import graft.core.{DataChecks, Num}
import graft.ops._

class OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("skewAwareJoin: measures the hot key, salts only past both thresholds, rows identical") {
    // 5000 rows on key 1 (91% share) + 500 spread over keys 2..11
    val skewed = spark.range(5000).select(lit(1L).as("k"), col("id").as("v"))
      .unionByName(spark.range(500).select((col("id") % 10 + 2).as("k"), (col("id") + 10000).as("v")))
    val uniform = spark.range(5000).select((col("id") % 11 + 1).as("k"), col("id").as("v"))
    val dim = spark.range(12).select((col("id") + 1).as("k"), concat(lit("n"), col("id")).as("name"))
    def route(f: org.apache.spark.sql.DataFrame) =
      Joins.skewAwareJoin(f, dim, Seq("k"), hotShareThreshold = 0.5,
        hotRowThreshold = 1000, targetRowsPerBucket = 700, maxBuckets = 4)
    // measurement: exact hot-key count/share, bucket count scaled to the
    // hot key (ceil(5000/700) = 8, capped at 4)
    val dS = Joins.skewDecision(skewed, Seq("k"), hotShareThreshold = 0.5,
      hotRowThreshold = 1000, targetRowsPerBucket = 700, maxBuckets = 4)
    assert(dS.totalRows == 5500 && dS.topRows == 5000 && dS.salted && dS.buckets == 4, dS.toString)
    val dU = Joins.skewDecision(uniform, Seq("k"), hotShareThreshold = 0.5,
      hotRowThreshold = 1000, targetRowsPerBucket = 700, maxBuckets = 4)
    assert(!dU.salted && dU.buckets == 1, dU.toString)
    // the salted path ENGAGES on the skewed fixture (salt hash in the
    // plan) and stays out of the uniform one
    val pSkew = route(skewed).queryExecution.executedPlan.toString
    assert(pSkew.contains("xxhash64"), s"salt must engage on the skewed fixture:\n$pSkew")
    val pUni = route(uniform).queryExecution.executedPlan.toString
    assert(!pUni.contains("xxhash64"), s"uniform keys must route plain:\n$pUni")
    // either route is row-identical to the plain join
    Seq(skewed, uniform).foreach { f =>
      val got = route(f).select("k", "v", "name")
        .as[(Long, Long, String)].collect().sorted.toSeq
      val want = f.join(dim, Seq("k")).select("k", "v", "name")
        .as[(Long, Long, String)].collect().sorted.toSeq
      assert(got == want)
    }
  }

  test("asofJoin backward: latest right <= left time, inclusive; no match -> nulls (J14)") {
    val left = Seq(("u1", 10, "a"), ("u1", 20, "b"), ("u1", 5, "c"), ("u2", 10, "d"))
      .toDF("k", "t", "payload")
    val right = Seq(("u1", 7, 70.0), ("u1", 10, 100.0), ("u1", 15, 150.0), ("u3", 1, 1.0))
      .toDF("k", "qt", "qv")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "qt", Seq("qt", "qv"))
      .select("k", "t", "payload", "qt", "qv")
      .as[(String, Int, String, Option[Int], Option[Double])].collect().toSet
    assert(out == Set(
      ("u1", 10, "a", Some(10), Some(100.0)), // equal time matches
      ("u1", 20, "b", Some(15), Some(150.0)), // latest <= 20
      ("u1", 5, "c", None, None),             // nothing at or before 5
      ("u2", 10, "d", None, None)))           // key absent from right
  }

  test("asofJoin forward: earliest right >= left time, inclusive (J14)") {
    val left = Seq(("u1", 10), ("u1", 16), ("u1", 99)).toDF("k", "t")
    val right = Seq(("u1", 10, 100.0), ("u1", 15, 150.0), ("u1", 20, 200.0)).toDF("k", "qt", "qv")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "qt", Seq("qv"), direction = "forward")
      .select("t", "qv").as[(Int, Option[Double])].collect().toSet
    assert(out == Set((10, Some(100.0)), (16, Some(200.0)), (99, None)))
  }

  test("asofJoin: null left times never match; null right times ignored (J14)") {
    val left = Seq(("u1", Some(10)), ("u1", None)).toDF("k", "t")
    val right = Seq(("u1", Some(5), 50.0), ("u1", None, 999.0)).toDF("k", "qt", "qv")
    val out = Joins.asofJoin(left, right, Seq("k"), "t", "qt", Seq("qv"))
      .select("t", "qv").as[(Option[Int], Option[Double])].collect().toSet
    assert(out == Set((Some(10), Some(50.0)), (None, None)))
  }

  test("asofJoin refuses empty keys (silent global window) with a clear message") {
    val left = Seq(("u1", 10)).toDF("k", "t")
    val right = Seq(("u1", 5, 1.0)).toDF("k", "qt", "qv")
    val e = intercept[IllegalArgumentException] {
      Joins.asofJoin(left, right, Seq(), "t", "qt", Seq("qv"))
    }
    assert(e.getMessage.contains("constant key"))
  }

  test("asofJoin plans one shuffle: union sides co-partition on the key (J14)") {
    val left = Seq(("u1", 10)).toDF("k", "t")
    val right = Seq(("u1", 5, 1.0)).toDF("k", "qt", "qv")
    val plan = Joins.asofJoin(left, right, Seq("k"), "t", "qt", Seq("qv"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n$plan")
  }

  test("rangeJoin: containment matches, inclusive bounds, degenerate intervals drop (J15)") {
    val points = Seq((1, 5.0), (2, 10.0), (3, 27.5), (4, 100.0)).toDF("id", "v")
    val intervals = Seq(
      ("a", Some(0.0), Some(10.0)),  // matches 5.0 and 10.0 (inclusive hi)
      ("b", Some(10.0), Some(30.0)), // matches 10.0 (inclusive lo) and 27.5
      ("c", Some(50.0), Some(40.0)), // inverted -> matches nothing
      ("d", None, Some(99.0))        // null lo -> matches nothing
    ).toDF("name", "lo", "hi")
    val out = Joins.rangeJoin(points, "v", intervals, "lo", "hi", bucketSize = 7.0)
      .select("id", "name").as[(Int, String)].collect().toSet
    assert(out == Set((1, "a"), (2, "a"), (2, "b"), (3, "b")))
  }

  test("rangeJoin with equi keys restricts pairs to the key (J15)") {
    val points = Seq(("x", 5.0), ("y", 5.0)).toDF("g", "v")
    val intervals = Seq(("x", "only-x", 0.0, 10.0)).toDF("g", "name", "lo", "hi")
    val out = Joins.rangeJoin(points, "v", intervals, "lo", "hi", 5.0, keys = Seq("g"))
      .select("g", "name").as[(String, String)].collect().toSet
    assert(out == Set(("x", "only-x")))
  }

  test("rangeJoin plans an equi-join on the bucket, not a nested loop (J15)") {
    val points = Seq((1, 5.0)).toDF("id", "v")
    val intervals = Seq(("a", 0.0, 10.0)).toDF("name", "lo", "hi")
    val plan = Joins.rangeJoin(points, "v", intervals, "lo", "hi", 5.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join must not plan a nested loop:\n$plan")
  }

  test("madScale: robust scale is outlier-immune where zscore is not") {
    // 1..9 plus a 1e9 outlier (ids 1..10): median = 5.5, devs sorted are
    // 0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,huge -> mad = 2.5; the robust
    // score of 9 is (9-5.5)/2.5 = 1.4 — bounded despite the outlier that
    // would push a z-score of 9 toward 0
    val df = ((1 to 9).map(i => ("g", i, i.toDouble)) :+ (("g", 10, 1e9)))
      .toDF("g", "id", "v")
    val out = Aggregates.madScale(df, Seq("g"), "v", Seq(col("id"))).cache()
    assert(out.select("v_med").distinct().as[Double].head() == 5.5)
    assert(out.select("v_mad").distinct().as[Double].head() == 2.5)
    assert(out.filter(col("id") === 9).select("v_robust").as[Double].head() == 1.4)
    // constant group -> mad 0 -> robust null, no division blowup
    val const = Seq(("c", 1, 7.0), ("c", 2, 7.0)).toDF("g", "id", "v")
    val c = Aggregates.madScale(const, Seq("g"), "v", Seq(col("id")))
    assert(c.filter(col("v_robust").isNotNull).count() == 0)
    // nulls are excluded from the medians (R median(na.rm=TRUE)): with
    // [null, 1, 2, 3] the median is 2, not the null-skewed 1.5
    val withNull = Seq(("n", 0, null.asInstanceOf[java.lang.Double]),
      ("n", 1, 1.0: java.lang.Double), ("n", 2, 2.0: java.lang.Double),
      ("n", 3, 3.0: java.lang.Double)).toDF("g", "id", "v")
    val nOut = Aggregates.madScale(withNull, Seq("g"), "v", Seq(col("id")))
    assert(nOut.select("v_med").distinct().as[Double].head() == 2.0)
    assert(nOut.filter(col("id") === 0).select("v_robust").isEmpty ||
      nOut.filter(col("id") === 0).filter(col("v_robust").isNotNull).count() == 0)
    // an all-null group has no median row, but its rows must survive with
    // null med/mad/robust — robust = null, NOT row loss
    val allNull = Seq(("z", 1, null.asInstanceOf[java.lang.Double]),
      ("z", 2, null.asInstanceOf[java.lang.Double]),
      ("n", 3, 4.0: java.lang.Double)).toDF("g", "id", "v")
    val zOut = Aggregates.madScale(allNull, Seq("g"), "v", Seq(col("id")))
    assert(zOut.filter(col("g") === "z").count() == 2)
    assert(zOut.filter(col("g") === "z").filter(
      col("v_med").isNotNull || col("v_mad").isNotNull || col("v_robust").isNotNull).count() == 0)
  }

  test("winsorize clamps to per-group order-statistic bounds") {
    // group a: 20 values 1..20 -> p05 rank = ceil(1.0)=1 -> lo=1;
    // p95 rank = ceil(19.0)=19 -> hi=19; 20 clamps to 19
    // group b: 3 values -> lo rank max(ceil(.15),1)=1, hi rank ceil(2.85)=3
    val df = ((1 to 20).map(i => ("a", i.toDouble)) ++ Seq(("b", 5.0), ("b", 7.0), ("b", 100.0)))
      .toDF("g", "v")
    val out = Aggregates.winsorize(df, Seq("g"), "v", 0.05, 0.95)
    val a = out.filter(col("g") === "a")
    assert(a.select("v_lo").distinct().as[Double].head() == 1.0)
    assert(a.select("v_hi").distinct().as[Double].head() == 19.0)
    assert(a.filter(col("v") === 20.0).select("v_clamped").as[Double].head() == 19.0)
    assert(a.filter(col("v") === 10.0).select("v_clamped").as[Double].head() == 10.0)
    val b = out.filter(col("g") === "b")
    assert(b.select("v_lo", "v_hi").distinct().as[(Double, Double)].head() == ((5.0, 100.0)))
  }

  test("zscore: textbook moments per group; singleton and constant groups get null z") {
    val df = Seq(("a", 2.0), ("a", 4.0), ("a", 6.0), ("b", 5.0), ("c", 7.0), ("c", 7.0))
      .toDF("g", "v")
    val out = Aggregates.zscore(df, Seq("g"), "v")
      .select("g", "v", "v_mean", "v_std", "v_z")
      .as[(String, Double, Double, Option[Double], Option[Double])].collect()
      .sortBy(r => (r._1, r._2))
    // group a: mean 4, sample std 2 -> z = -1, 0, 1
    assert(out.filter(_._1 == "a").map(_._5.get).toSeq == Seq(-1.0, 0.0, 1.0))
    assert(out.filter(_._1 == "a").forall(r => r._3 == 4.0 && r._4.contains(2.0)))
    // singleton group: std undefined -> null z
    assert(out.filter(_._1 == "b").head._4.isEmpty)
    // constant group: std 0 -> null z (not Inf/NaN)
    assert(out.filter(_._1 == "c").forall(r => r._4.contains(0.0) && r._5.isEmpty))
  }

  test("sumOrAllNull: null only when every input is null (A6)") {
    val df = Seq(("a", Some(1.0)), ("a", Some(2.0)), ("b", None), ("b", None), ("c", None), ("c", Some(0.0)))
      .toDF("k", "v")
    val out = df.groupBy("k").agg(Aggregates.sumOrAllNull(col("v")).as("s"))
      .orderBy("k").select("s").as[Option[Double]].collect()
    assert(out.toSeq == Seq(Some(3.0), None, Some(0.0)))
  }

  test("allNullOrZero flags empty groups (A7)") {
    val df = Seq(("a", Some(1.0)), ("b", None), ("c", Some(0.0))).toDF("k", "v")
    val out = df.groupBy("k").agg(Aggregates.allNullOrZero(col("v")).as("e"))
      .orderBy("k").select("e").as[Boolean].collect()
    assert(out.toSeq == Seq(false, true, true))
  }

  test("median matches R stats::median (A3): odd and even group sizes") {
    val df = Seq(("odd", 1.0), ("odd", 9.0), ("odd", 2.0),
      ("even", 1.0), ("even", 2.0), ("even", 30.0), ("even", 4.0)).toDF("k", "v")
    val out = df.groupBy("k").agg(Aggregates.median(col("v")).as("m"))
      .orderBy("k").select("m").as[Double].collect()
    assert(out.toSeq == Seq(3.0, 2.0)) // even: (2+4)/2 ; odd: middle=2
  }

  test("missingCombos finds absent key combinations (A12)") {
    val df = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("k", "n")
    val out = Aggregates.missingCombos(df, Seq("k", "n")).as[(String, Int)].collect()
    assert(out.toSeq == Seq(("b", 2)))
  }

  test("duplicateKeys reports only duplicated combos (A11)") {
    val df = Seq(("a", 1), ("a", 1), ("b", 2)).toDF("k", "n")
    val out = Aggregates.duplicateKeys(df, Seq("k", "n")).select("k").as[String].collect()
    assert(out.toSeq == Seq("a"))
  }

  test("marketShares: tmsr/smsp against hand-computed values (W1+W2)") {
    // one scenario, one sector, two techs over two years
    val df = Seq(
      ("s", "sec", "t1", 2020, 10.0), ("s", "sec", "t1", 2021, 15.0),
      ("s", "sec", "t2", 2020, 30.0), ("s", "sec", "t2", 2021, 25.0)).toDF("sc", "sec", "tech", "year", "v")
    val out = Shares.addMarketShares(df, Seq("sc", "sec", "tech"), Seq("sc", "sec"), "year", "v")
      .orderBy("tech", "year")
      .select("tmsr", "smsp").as[(Double, Double)].collect()
    // t1: base 10, sector base total 40 -> 2021: tmsr 0.5, smsp 5/40
    assert(out(1) == ((0.5, 0.125)))
    // t2: base 30 -> 2021: tmsr -5/30, smsp -5/40
    assert(math.abs(out(3)._1 - (-5.0 / 30)) < 1e-12 && out(3)._2 == -0.125)
  }

  test("olsExtrapolate predicts missing years from the fit window (W9)") {
    val df = Seq(("g", 1, Some(2.0)), ("g", 2, Some(4.0)), ("g", 3, Some(6.0)),
      ("g", 4, None), ("g", 5, None)).toDF("k", "x", "y")
    val out = Regression.olsExtrapolate(df, Seq("k"), "x", "y", 1, 3, 4, 5)
      .orderBy("x").select("y").as[Double].collect()
    assert(out.toSeq == Seq(2.0, 4.0, 6.0, 8.0, 10.0))
  }

  test("recodeValues maps listed values, passes others through (P14)") {
    val df = Seq("AMERICA", "ASIA", "EUROPE").toDF("r")
    val out = Reshape.recodeValues(df, "r", Map("AMERICA" -> "AMERICAS"))
      .orderBy("r").as[String].collect()
    assert(out.toSeq == Seq("AMERICAS", "ASIA", "EUROPE"))
  }

  test("unionDedup == dplyr full_join with no by (J5)") {
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq((1, "x"), (2, "y")).toDF("k", "v")
    assert(Joins.unionDedup(Seq(a, b)).count() == 2)
  }

  test("setOverlapPairs keeps one orientation per unordered pair (J9)") {
    val df = Seq(("g1", "i1"), ("g1", "i2"), ("g2", "i1"), ("g2", "i2"), ("g3", "i9"))
      .toDF("g", "item")
    val out = Joins.setOverlapPairs(df, "g", "item", 0.5)
      .as[(String, String, Double)].collect()
    assert(out.toSeq == Seq(("g1", "g2", 1.0)))
  }

  test("closestParentJoin: min level wins, ties kept (J10)") {
    val child = Seq(("c1", "n1"), ("c2", "n2")).toDF("ck", "name")
    val edges = Seq(("c1", "p1", 1), ("c1", "p2", 2), ("c2", "p3", 1), ("c2", "p4", 1))
      .toDF("ck", "pk", "lvl")
    val attrs = Seq(("p1", 10.0), ("p2", 20.0), ("p3", 30.0), ("p4", 40.0)).toDF("pk", "bal")
    val out = Joins.closestParentJoin(child, edges, "ck", "pk", "lvl", attrs)
      .orderBy("ck", "pk").select("ck", "pk", "bal").as[(String, String, Double)].collect()
    assert(out.toSeq == Seq(("c1", "p1", 10.0), ("c2", "p3", 30.0), ("c2", "p4", 40.0)))
  }

  test("saltedJoin is row-identical to the plain join, inner and left") {
    // skewed facts: one hot key (90%), plus a key missing from the dim
    val facts = ((1 to 90).map(i => ("hot", i)) ++ Seq(("cold", 91), ("orphan", 92)))
      .toDF("k", "n")
    val dim = Seq(("hot", "H"), ("cold", "C"), ("unused", "U")).toDF("k", "label")
    for (jt <- Seq("inner", "left")) {
      val plain = facts.join(dim, Seq("k"), jt)
      val salted = Joins.saltedJoin(facts, dim, Seq("k"), buckets = 4, joinType = jt)
      assert(salted.columns.toSeq == plain.columns.toSeq)
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        s"$jt salted join must equal plain join")
    }
  }

  test("dedupKeepFirst pins the survivor deterministically (P12)") {
    val df = Seq(("k", 2, "late"), ("k", 1, "early")).toDF("k", "ord", "tag")
    val out = Joins.dedupKeepFirst(df, Seq("k"), Seq(col("ord"))).select("tag").as[String].collect()
    assert(out.toSeq == Seq("early"))
  }

  test("unpivotYears extracts year ints from wide column names (R1)") {
    val df = Seq(("c1", 1.0, 2.0)).toDF("id", "Equity Ownership 2022", "Equity Ownership 2023")
    val out = Reshape.unpivotYears(df, Seq("id"))
      .orderBy("year").select("year", "value").as[(Int, Double)].collect()
    assert(out.toSeq == Seq((2022, 1.0), (2023, 2.0)))
  }

  test("fanOut emits one row per listed label in one pass over its input (U5)") {
    val df = Seq[(String, Double)](("SDS", 1.0), ("SPS", 2.0), ("slow", 3.0), ("APS", 4.0),
      (null, 5.0)).toDF("scenario", "v")
    val out = Reshape.fanOut(df, "scenario", Map(
      "SDS" -> Seq("SDS", "NZE2050"),   // original kept + a copy
      "SPS" -> Seq("STEPS", "APS"),     // original dropped, two copies
      "slow" -> Nil))                   // empty list drops the row
    val got = out.as[(Option[String], Double)].collect().toSeq
      .sortBy { case (s, v) => (v, s.getOrElse("")) }
    assert(got == Seq(Some("NZE2050") -> 1.0, Some("SDS") -> 1.0, Some("APS") -> 2.0,
      Some("STEPS") -> 2.0, Some("APS") -> 4.0, None -> 5.0)) // unmapped + null pass through
    assert(out.columns.toSeq == df.columns.toSeq)
    val reads = out.queryExecution.analyzed.collectLeaves()
    assert(reads.size == 1, s"fanOut must read its input once:\n${out.queryExecution.analyzed}")
  }

  test("DataChecks: bounds + uniqueness + no-null fail fast") {
    val ok = Seq((1, 0.5), (2, 0.9)).toDF("id", "cf")
    DataChecks.assertBetween(ok, "cf", 0, 1)
    DataChecks.assertUniqueKeys(ok, Seq("id"))
    DataChecks.assertNoNull(ok, Seq("cf"))
    val bad = Seq((1, 1.5)).toDF("id", "cf")
    intercept[DataChecks.CheckFailed] { DataChecks.assertBetween(bad, "cf", 0, 1) }
    val dup = Seq((1, 0.1), (1, 0.2)).toDF("id", "cf")
    intercept[DataChecks.CheckFailed] { DataChecks.assertUniqueKeys(dup, Seq("id")) }
  }

  test("Num.dsum is exact for decimal-representable inputs") {
    val df = Seq(0.1, 0.2, 0.3).toDF("v")
    val out = df.agg(Num.dsum(col("v"))).as[Double].head()
    assert(out == 0.6) // plain double sum would give 0.6000000000000001
  }
}
