package graft

/** Dev tool: dump `.explain("formatted")` for named catalog queries to
  * files (plans/<dir>/<name>_<tag>.txt). Used to capture the before/after
  * physical-plan evidence for the optimization rounds; never part of the
  * driver contract.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <query1,query2,...|all>
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <names|all>")
    val outDir = args(0)
    val tag = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq.filter(SparkEntry.queries.contains)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val txt =
        try {
          val df = fn(spark, sfDir)
          // queryExecution.explainString gives the same text explain() prints
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        } catch { case e: Throwable => s"ERROR building plan: $e" }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
