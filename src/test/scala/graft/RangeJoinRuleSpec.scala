package graft

import org.apache.spark.sql.functions._
import graft.plans.{GraftSparkExtensions, RangeJoinRewrite}

/** The opt-in optimizer rule that turns interval-containment nested-loop
  * joins into bucketed equi-joins: plan shape, row parity with the naive
  * join, and non-interference with joins it must not touch.
  */
class RangeJoinRuleSpec extends SparkTestBase {
  import spark.implicits._

  private def withRule[T](bucketSize: Double)(body: => T): T = {
    spark.experimental.extraOptimizations = Seq(RangeJoinRewrite)
    try withConf(RangeJoinRewrite.BucketSizeKey -> bucketSize.toString)(body)
    finally spark.experimental.extraOptimizations = Nil
  }

  private val points = Seq((1, 5.0), (2, 10.0), (3, 27.5), (4, 100.0)).toDF("id", "v")
  private val intervals = Seq(
    ("a", Some(0.0), Some(10.0)),
    ("b", Some(10.0), Some(30.0)),
    ("c", Some(50.0), Some(40.0)), // inverted
    ("d", None, Some(99.0))        // null lo
  ).toDF("name", "lo", "hi")

  test("BETWEEN join is rewritten to a bucketed equi-join, row-identical to the nested loop") {
    val expected = Set((1, "a"), (2, "a"), (2, "b"), (3, "b"))
    val got = withRule(10.0) {
      val joined = points.join(intervals, col("v") >= col("lo") && col("v") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"range join should have been rewritten:\n$plan")
      joined.select("id", "name").as[(Int, String)].collect().toSet
    }
    assert(got == expected)
    // identical rows with the rule off (nested loop)
    val naive = points.join(intervals, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("id", "name").as[(Int, String)].collect().toSet
    assert(naive == expected && got == naive)
  }

  test("strict bounds are exact: hull buckets, original predicate re-checked") {
    val got = withRule(10.0) {
      points.join(intervals, col("v") > col("lo") && col("v") < col("hi"))
        .select("id", "name").as[(Int, String)].collect().toSet
    }
    assert(got == Set((1, "a"), (3, "b"))) // 10.0 no longer matches a's hi or b's lo
  }

  test("mirror orientation (intervals on the left) also rewrites") {
    val got = withRule(10.0) {
      val joined = intervals.join(points, col("v") >= col("lo") && col("v") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
      joined.select("id", "name").as[(Int, String)].collect().toSet
    }
    assert(got == Set((1, "a"), (2, "a"), (2, "b"), (3, "b")))
  }

  test("extra non-equi conjuncts ride along; sandwich still found and rewritten") {
    val got = withRule(10.0) {
      val joined = points.join(intervals,
        col("v") >= col("lo") && col("name") =!= "a" && col("v") <= col("hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
      joined.select("id", "name").as[(Int, String)].collect().toSet
    }
    assert(got == Set((2, "b"), (3, "b")))
  }

  test("timestamp ranges rewrite with bucketSize in seconds") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val events = Seq((1L, ts("2024-01-01 10:30:00")), (2L, ts("2024-01-01 13:00:00")))
      .toDF("eid", "t")
    val windows = Seq(
      ("morning", ts("2024-01-01 09:00:00"), ts("2024-01-01 12:00:00")),
      ("evening", ts("2024-01-01 18:00:00"), ts("2024-01-01 22:00:00")))
      .toDF("w", "t_lo", "t_hi")
    val got = withRule(3600.0) {
      val joined = events.join(windows, col("t") >= col("t_lo") && col("t") <= col("t_hi"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
      joined.select("eid", "w").as[(Long, String)].collect().toSet
    }
    assert(got == Set((1L, "morning")))
  }

  test("equi-keyed joins and disabled conf are left untouched") {
    // equi key present -> hash join already; rule must not touch it
    withRule(10.0) {
      val a = Seq((1, "x"), (2, "y")).toDF("k", "va")
      val b = Seq((1, "z")).toDF("k", "vb")
      val plan = a.join(b, Seq("k")).queryExecution.optimizedPlan.toString
      assert(!plan.contains("__rj_bucket"), s"equi join must not be rewritten:\n$plan")
    }
    // conf unset (0) -> nested loop stays, results still correct
    spark.experimental.extraOptimizations = Seq(RangeJoinRewrite)
    try {
      val plan = points.join(intervals, col("v") >= col("lo") && col("v") <= col("hi"))
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("__rj_bucket"), s"rule must be opt-in:\n$plan")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("extensions class registers the rule without error") {
    new GraftSparkExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions())
  }
}
