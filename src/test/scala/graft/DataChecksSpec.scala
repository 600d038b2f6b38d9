package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.core.DataChecks

/** Batched / observed data checks: the assertion cost model is the point —
  * assertAll folds N checks into ONE aggregate job, observeChecks rides the
  * frame's own terminal action (ZERO extra jobs). The job-count assertions
  * are the PlanSpec-style guarantee that a checked pipeline executes its
  * plan once.
  */
class DataChecksSpec extends SparkTestBase {
  import spark.implicits._

  private def countJobs(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener delivery is async; the bus drains within a short bound
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("assertAll: N checks in one pass; lists every failing check") {
    val df = Seq((1.0, "a"), (2.0, null), (-3.0, "c")).toDF("v", "s")
    // the job count is an AQE constant (query stages), NOT a function of
    // the number of checks — that is the one-pass property
    val jobsOneCheck = countJobs {
      DataChecks.assertAll(df, Seq(DataChecks.betweenCheck("v", -10.0, 10.0)))
    }
    val jobsThreeChecks = countJobs {
      DataChecks.assertAll(df, Seq(
        DataChecks.betweenCheck("v", -10.0, 10.0),
        ("v_not_42", col("v") =!= 42.0),
        ("v_finite", !isnan(col("v")))))
    }
    assert(jobsThreeChecks == jobsOneCheck,
      s"3 checks cost $jobsThreeChecks jobs vs $jobsOneCheck for 1 — checks are not batched")
    val err = intercept[DataChecks.CheckFailed] {
      DataChecks.assertAll(df, Seq(
        DataChecks.notNullCheck(Seq("s")),
        DataChecks.betweenCheck("v", 0.0, 10.0)))
    }
    assert(err.getMessage.contains("no_null_s (1 rows)"))
    assert(err.getMessage.contains("v_between (1 rows)"))
    // clean frame passes
    DataChecks.assertAll(Seq((1.0, "a")).toDF("v", "s"), Seq(
      DataChecks.notNullCheck(Seq("s")),
      DataChecks.betweenCheck("v", 0.0, 10.0)))
  }

  test("observeChecks: checks ride the terminal action — zero extra jobs") {
    val df = Seq((0.5, 2020), (0.7, 2021), (0.9, 2022)).toDF("cf", "year")
    val oc = DataChecks.observeChecks(df, Seq(DataChecks.betweenCheck("cf", 0.0, 1.0)))
    val jobs = countJobs {
      oc.df.write.format("noop").mode("overwrite").save() // the pipeline's real action
      oc.assertClean() // no extra job: metrics were collected by the write
    }
    assert(jobs == 1, s"checked pipeline must execute its plan exactly once, saw $jobs jobs")
  }

  test("assertRowCountUnchanged guards stage fan-out") {
    val df = Seq(1, 2, 3).toDF("x")
    DataChecks.assertRowCountUnchanged(df, 3)
    val err = intercept[DataChecks.CheckFailed] {
      DataChecks.assertRowCountUnchanged(df, 2, "join fan-out")
    }
    assert(err.getMessage.contains("2 -> 3") && err.getMessage.contains("join fan-out"))
  }

  test("observeChecks: violations surface after the action") {
    val df = Seq(0.5, 1.7).toDF("cf")
    val oc = DataChecks.observeChecks(df, Seq(DataChecks.betweenCheck("cf", 0.0, 1.0)))
    oc.df.write.format("noop").mode("overwrite").save()
    val err = intercept[DataChecks.CheckFailed] { oc.assertClean() }
    assert(err.getMessage.contains("cf_between (1 rows)"))
  }

  test("observeChecks: a cached frame reports its checks to the aggregate that fills it") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    val df = Seq(0.5, 1.7).toDF("cf")
    val oc = DataChecks.observeChecks(df, Seq(DataChecks.betweenCheck("cf", 0.0, 1.0)))
    val cached = oc.df.withColumn("twice", col("cf") * 2).cache()
    try {
      DataChecks.assertAll(cached, Seq(DataChecks.notNullCheck(Seq("twice"))))
      // assertClean blocks until the metrics arrive: bound the wait
      val err = TimeLimits.failAfter(60.seconds) {
        intercept[DataChecks.CheckFailed] { oc.assertClean() }
      }
      assert(err.getMessage.contains("cf_between (1 rows)"))
    } finally cached.unpersist()
  }
}
