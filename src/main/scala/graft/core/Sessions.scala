package graft.core

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (Smoke, Verify, Bench,
  * BenchProfile, PlanDump) and the test suites build their session here.
  * local[cpus] with shuffle partitions matched to cores (not the 200
  * default — wrong for local mode and for small SFs; on a real cluster this
  * would be sized to 2-3x total executor cores). AQE is on so the runtime
  * can coalesce post-shuffle partitions and handle skew joins.
  */
object Sessions {
  def local(cpus: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // R-parity: IEEE division (0/0 -> NaN, x/0 -> Inf) like the reference,
      // not ANSI errors (Spark 4 defaults ANSI on)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietBoundedWindowWarn()
    graft.plans.Sketches.ensureRegistered(spark)
    spark
  }
}
