package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import scala.collection.mutable

/** Dev tool: run one catalog query N times and print a per-Spark-job time
  * breakdown (job id, wall ms, description/callsite) so the expensive jobs
  * inside multi-job operators (lakehouse verbs, fixpoint loops, pipeline
  * barriers) are attributable. Not part of the driver contract.
  *
  * Usage: runMain graft.BenchProfile <query> [reps=3]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchProfile <query> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

    val starts = mutable.Map[Int, (Long, String)]()
    val rows = mutable.ArrayBuffer[(Int, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // attribute the job by its result stage's callsite (the .name of
        // the last StageInfo is "<action> at <file>:<line>")
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.lastOption.map(si =>
            s"${si.name} [stages=${js.stageInfos.size}]"))
          .getOrElse("?")
        starts(js.jobId) = (System.nanoTime(), desc)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, desc) =>
          rows += ((je.jobId, (System.nanoTime() - t0) / 1000000L, desc))
        }
    }
    spark.sparkContext.addSparkListener(listener)

    (1 to reps).foreach { rep =>
      rows.clear()
      spark.catalog.clearCache() // match Bench's cache hygiene, outside the timing
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let the listener bus drain
      println(f"[profile] $name rep=$rep total=$total%.3f s jobs=${rows.size}")
      rows.sortBy(-_._2).take(40).foreach { case (id, ms, desc) =>
        println(f"[profile]   job=$id%-5d ${ms}%6d ms  $desc")
      }
      val acct = rows.map(_._2).sum / 1000.0
      println(f"[profile]   sum-of-jobs=$acct%.3f s (driver gap=${total - acct}%.3f s)")
    }
    spark.stop()
  }
}
