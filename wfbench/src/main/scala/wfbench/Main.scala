package wfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.spark.WfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import graft.pipelines.RunWorkflow

/** The workflow benchmark: a closed loop with one client, one
  * `RunWorkflow.run` at a time in one JVM, each run writing every output
  * as parquet and passing the correctness gate.
  *
  * {{{
  * wfbench --workload wf_toy --seed 1 --seconds 10 --trace 0 --work DIR
  * }}}
  *
  * The last stdout line is the result object; README.md defines every
  * metric and the workloads.
  */
object Main {

  /** Why each workload exists, and how its size was chosen, is in README.md. */
  val workloads: Map[String, Shape] = Map(
    "wf_toy" -> Shape(companies = 1000, regions = 2, optional = InputGen.optionalNames.toSet),
    "wf_companies" -> Shape(companies = 2000, regions = 0, optional = Set.empty))

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        val shape = workloads.getOrElse(o.workload, throw new IllegalArgumentException(
          s"unknown workload ${o.workload}; known: ${workloads.keys.toSeq.sorted.mkString(", ")}"))
        new Bench(o, shape).run()
      } catch {
        case NonFatal(e) =>
          System.err.println(s"wfbench: $e")
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }
}

/** One run's measurements; `failure` is set when the run threw or failed
  * the gate, and such a run is never timed.
  */
final case class RunResult(wallS: Double, cpuS: Double, outRows: Long, pinnedPeakMb: Double,
    failure: Option[String], checks: Seq[OutputCheck] = Nil,
    pinnedByStage: Map[String, Long] = Map.empty)

final class Bench(o: Main.Opts, shape: Shape) {
  private val mb = 1024.0 * 1024.0
  private val work = s"${o.work}/${o.workload}"
  private val cores = Runtime.getRuntime.availableProcessors()
  private val cpuBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private var spark: SparkSession = _
  private val pinned = new PinnedBytes
  private var reference: Option[Map[String, (Long, Long)]] = None

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def run(): Int = {
    val t0 = System.nanoTime()
    spark = graft.core.Sessions.local(cores, "wfbench")
    val sessionS = seconds(t0)
    val sc = spark.sparkContext
    sc.addSparkListener(pinned)
    try measure(sessionS) finally spark.stop()
  }

  private def measure(sessionS: Double): Int = {
    val gen = new InputGen(spark, o.seed, shape)
    val inputDir = s"$work/inputs"
    // one set-up per invocation: repeating input generation would not fit
    // the benchmark's time budget (README.md, "Time budget")
    val t = System.nanoTime()
    InputGen.write(gen, inputDir)
    val genS = seconds(t)
    val setupS = sessionS + genS
    val inputs = InputGen.read(spark, inputDir, shape, gen)

    // the timed runs; the first is the first workflow run of this JVM. A
    // traced invocation makes one traced run in its place.
    val runs = ArrayBuffer[RunResult]()
    val layer = if (o.trace) {
      val (r, metrics) = tracedRun(inputs)
      runs += r
      Some(metrics)
    } else {
      val loop = System.nanoTime()
      while (runs.isEmpty || seconds(loop) < o.seconds) runs += runOnce(inputs, None)
      None
    }
    val ok = runs.filter(_.failure.isEmpty).toSeq
    val failed = runs.count(_.failure.isDefined)
    runs.flatMap(_.failure).distinct.foreach(f => System.err.println(s"wfbench: failed run: $f"))
    if (ok.isEmpty) {
      System.err.println("wfbench: no run passed the gate; no result")
      return 1
    }
    val wall = median(ok.map(_.wallS))
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("cpu_s", median(ok.map(_.cpuS)), "s"),
      ("rows_per_s", ok.head.outRows / wall, "1/s"),
      ("pinned_peak_mb", median(ok.map(_.pinnedPeakMb)), "MB"),
      ("ok_ratio", 1.0 - failed.toDouble / runs.size, "ratio"))

    val n = ok.size
    System.out.println(s"wfbench ${o.workload} seed=${o.seed} cores=$cores" +
      s" outputs=${ok.head.checks.size} rows=${ok.head.outRows}" +
      s" | cold (first workflow run of the JVM)" +
      (if (o.trace) ", traced: " else s", median of $n: ") +
      endToEnd.filterNot(m => m._1 == "setup_s" || m._1 == "ok_ratio")
        .map(m => f"${m._1}=${m._2}%.4f ${m._3}").mkString(" ") +
      f" | ok_ratio=${endToEnd.last._2}%.4f (fail_ratio=${failed.toDouble / runs.size}%.4f," +
      s" $failed of ${runs.size} failed)" +
      f" | set-up: setup_s=$setupS%.4f s (session $sessionS%.2f s," +
      f" input generation $genS%.2f s)")

    val record = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "shape" -> shape.toString, "seconds" -> o.seconds, "trace" -> o.trace,
      "spark_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap,
      "setup" -> Json.obj("session_s" -> sessionS, "input_gen_s" -> genS),
      "runs" -> runs.map(r => Json.obj("wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
        "out_rows" -> r.outRows, "pinned_peak_mb" -> r.pinnedPeakMb,
        "failure" -> r.failure.getOrElse(""))),
      "outputs" -> ok.head.checks.map(c => Json.obj("name" -> c.name, "rows" -> c.rows,
        "digest" -> c.digest)),
      "end_to_end" -> Json.obj(endToEnd.map(m => m._1 -> m._2): _*))
    Json.write(s"$work/run-seed${o.seed}-trace${if (o.trace) 1 else 0}.json", record)

    val metrics = layer.getOrElse(endToEnd).map { case (k, v, u) => k -> (v, u) }
    System.out.println(Json.render(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> runs.size,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    0
  }

  private def outputsOf(out: RunWorkflow.Outputs): Seq[(String, DataFrame)] =
    Seq("carbon_price" -> out.carbonPrice, "capacity_factors" -> out.capacityFactors,
      "prices" -> out.prices, "abcd" -> out.abcd, "financial" -> out.financial) ++
      out.scenariosAnalysisInput.map("scenarios_analysis_input" -> _) ++
      out.scenariosGeographies.map("scenarios_geographies" -> _) ++
      out.triskV2.toSeq.flatMap { v2 =>
        Seq("v2_assets" -> v2.assets, "v2_scenarios" -> v2.scenarios,
          "v2_financial_features" -> v2.financialFeatures) ++
          // the v2 carbon price is the stage-2 frame itself unless the
          // program starts deriving it; write it only then
          (if (v2.ngfsCarbonPrice eq out.carbonPrice) Nil
          else Seq("v2_ngfs_carbon_price" -> v2.ngfsCarbonPrice))
      }

  /** What the traced run adds: spans, the output plans, and the ledger. */
  private final class Trace(val ledger: Ledger) {
    val spans = ArrayBuffer[Span]()
    var planMs = 0L
    var exchanges = 0
    def span[T](name: String, parent: String)(body: => T): T = {
      val s = System.currentTimeMillis()
      try body finally spans += Span(name, parent, s, System.currentTimeMillis())
    }
  }

  private def exchangeCount(plan: SparkPlan): Int = {
    val p = plan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    p.collectWithSubqueries { case e: Exchange => e }.size
  }

  /** One workflow run, its writes, the gate and the clean-up after it.
    * Only the call to `RunWorkflow.run` and the writes are timed.
    */
  private def runOnce(inputs: RunWorkflow.Inputs, trace: Option[Trace]): RunResult = {
    val outDir = s"$work/out"
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(outDir), true)
    pinned.reset()
    def span[T](name: String, parent: String)(body: => T): T =
      trace.fold(body)(_.span(name, parent)(body))
    var out: Option[RunWorkflow.Outputs] = None
    try {
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val (wallS, cpuS, outputs) = span("run", "") {
        out = Some(span("construct", "run")(RunWorkflow.run(spark, inputs)))
        val outputs = outputsOf(out.get)
        for ((name, df) <- outputs) {
          for (t <- trace) {
            val plan = span(s"plan.$name", "run")(df.queryExecution.executedPlan)
            t.planMs += df.queryExecution.tracker.phases.values.map(_.durationMs).sum
            t.exchanges += exchangeCount(plan)
          }
          span(s"write.$name", "run")(df.write.mode("overwrite").parquet(s"$outDir/$name"))
        }
        (seconds(t0), (cpuBean.getProcessCpuTime - cpu0) / 1e9, outputs)
      }
      WfbenchBus.drain(spark.sparkContext)
      val peakMb = pinned.bytes / mb
      val checks = Par.map(outputs, 4) { case (name, _) => Gate.check(spark, name, s"$outDir/$name") }
      val found = checks.map(c => c.name -> (c.rows, c.digest)).toMap
      val expected = reference.orElse(storedDigests())
      val drift = expected.toSeq.flatMap { ref =>
        (ref.keySet ++ found.keySet).toSeq.sorted.filter(k => ref.get(k) != found.get(k))
          .map(k => s"$k: rows and digest ${found.get(k)} differ from the recorded ${ref.get(k)}")
      }
      val problems = checks.flatMap(_.violations) ++
        Gate.crossChecks(checks, InputGen.hasAutomotive(shape)) ++ drift
      if (problems.isEmpty && reference.isEmpty) {
        if (expected.isEmpty) storeDigests(found)
        reference = Some(found)
      }
      val byStage = trace.fold(Map.empty[String, Long]) { t =>
        Ledger.stages.map(st =>
          st -> pinned.bytesOf(id => t.ledger.stageOfRdd(id) == st)).toMap
      }
      RunResult(wallS, cpuS, checks.map(_.rows).sum, peakMb,
        if (problems.isEmpty) None else Some(problems.mkString("; ")), checks, byStage)
    } catch {
      case NonFatal(e) => RunResult(0, 0, 0, 0, Some(e.toString))
    } finally clean(out)
  }

  /** Row counts and digests per output that every run of this workload and
    * seed must reproduce: the first passing run in this checkout records
    * them, traced or not, and later runs and invocations compare with them.
    */
  private def digestFile = java.nio.file.Paths.get(s"$work/digests-seed${o.seed}.txt")

  private def storedDigests(): Option[Map[String, (Long, Long)]] =
    if (!java.nio.file.Files.exists(digestFile)) None
    else Some(java.nio.file.Files.readAllLines(digestFile).asScala.map(_.split(" ")).collect {
      case Array(name, rows, digest) => name -> (rows.toLong, digest.toLong)
    }.toMap)

  private def storeDigests(found: Map[String, (Long, Long)]): Unit = {
    java.nio.file.Files.createDirectories(digestFile.getParent)
    java.nio.file.Files.write(digestFile, found.toSeq.sorted
      .map { case (n, (rows, d)) => s"$n $rows $d" }.asJava)
  }

  /** Releases everything the run pinned and checks that nothing is left. */
  private def clean(out: Option[RunWorkflow.Outputs]): Unit = {
    val sc = spark.sparkContext
    out.foreach(_.unpersistAll())
    spark.catalog.clearCache()
    // local checkpoints stay pinned until their RDDs are garbage collected
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    WfbenchBus.drain(sc)
    val left = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (left != 0) throw new IllegalStateException(s"after clean-up $left bytes are still cached")
  }

  /** One traced run; returns it and its per-layer metrics. */
  private def tracedRun(inputs: RunWorkflow.Inputs): (RunResult, Seq[(String, Double, String)]) = {
    val sc = spark.sparkContext
    val t = new Trace(new Ledger)
    sc.addSparkListener(t.ledger)
    val r = try runOnce(inputs, Some(t)) finally {
      WfbenchBus.drain(sc)
      sc.removeSparkListener(t.ledger)
    }
    val l = t.ledger
    def one(name: String) = t.spans.find(_.name == name).get
    val runSpan = one("run")
    val construct = one("construct")
    val writes = t.spans.filter(_.name.startsWith("write.")).toSeq
    val cJobs = l.jobsIn(construct)
    def pinnedOf(stage: String): Long = r.pinnedByStage.getOrElse(stage, 0L)
    val perStage = Ledger.stages.flatMap { st =>
      val js = cJobs.filter(_.stage == st)
      Seq((s"construct_s.$st", Ledger.covered(js.map(_.interval), construct), "s"),
        (s"construct_jobs.$st", js.size.toDouble, "count"),
        (s"pinned_mb.$st", pinnedOf(st) / mb, "MB"))
    }
    val execS = writes.map(w => Ledger.covered(l.jobsIn(w).map(_.interval), w)).sum
    val tasks = l.tasksIn(runSpan)
    val taskS = tasks.map(x => x.finishMs - x.launchMs).sum / 1000.0
    val writeTasks = writes.flatMap(l.tasksIn)
    val layer = Seq(
      ("construct_s", construct.seconds, "s"),
      ("construct_jobs", cJobs.size.toDouble, "count")) ++ perStage ++ Seq(
      ("plan_s", t.planMs / 1000.0, "s"),
      ("exchanges", t.exchanges.toDouble, "count"),
      ("exec_s", execS, "s"),
      ("exec_jobs", writes.map(l.jobsIn(_).size).sum.toDouble, "count"),
      ("tasks", tasks.size.toDouble, "count"),
      ("task_s", taskS, "s"),
      ("gc_s", tasks.map(_.gcMs).sum / 1000.0, "s"),
      ("shuffle_write_mb", tasks.map(_.shuffleWrite).sum / mb, "MB"),
      ("shuffle_read_mb", tasks.map(_.shuffleRead).sum / mb, "MB"),
      ("spill_mb", tasks.map(_.spill).sum / mb, "MB"),
      ("exec_idle_s", runSpan.seconds - Ledger.covered(
        tasks.map(x => (x.launchMs, x.finishMs)), runSpan), "s"),
      ("core_util", taskS / (runSpan.seconds * cores), "ratio"),
      ("sink_s", writes.map(_.seconds).sum - execS, "s"),
      ("out_rows", writeTasks.map(_.outRows).sum.toDouble, "count"),
      ("out_mb", writeTasks.map(_.outBytes).sum / mb, "MB"),
      ("traced_wall_s", r.wallS, "s"),
      // the work only the traced run does: forcing each output's plan
      // ahead of its write, and the listener's own event handling
      ("trace_overhead_s",
        t.spans.filter(_.name.startsWith("plan.")).map(_.seconds).sum + l.busySeconds, "s"))

    Json.write(s"$work/ledger-seed${o.seed}.json", Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "traced_wall_s" -> r.wallS,
      "layers" -> Json.obj(layer.map(m => m._1 -> m._2): _*),
      "stages" -> Json.obj(Ledger.stages.map { st =>
        val js = cJobs.filter(_.stage == st)
        st -> Json.obj("construct_s" -> Ledger.covered(js.map(_.interval), construct),
          "construct_jobs" -> js.size, "pinned_mb" -> pinnedOf(st) / mb)
      }: _*),
      "writes" -> Json.obj(writes.map { w =>
        w.name.stripPrefix("write.") -> Json.obj("wall_s" -> w.seconds,
          "jobs" -> l.jobsIn(w).size,
          "exec_s" -> Ledger.covered(l.jobsIn(w).map(_.interval), w))
      }: _*)))
    Json.write(s"$work/spans-seed${o.seed}.json", Json.obj(
      "spans" -> t.spans.map(s => Json.obj("name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "jobs" -> l.jobs.map(j => Json.obj("id" -> j.id, "stage" -> j.stage, "site" -> j.site,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs))))
    (r, layer)
  }
}
