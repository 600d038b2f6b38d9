package wfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.RDDBlockId

/** Bytes that cache and checkpoint blocks of a run hold in the block
  * manager, from block updates: each block counts at its largest size from
  * when it is stored until [[reset]], which the benchmark calls after the
  * run's clean-up. The program releases nothing before its caller does;
  * the JVM's context cleaner may drop unreferenced checkpoints earlier, at
  * times set by garbage collection, so those releases are not subtracted.
  */
final class PinnedBytes extends SparkListener {
  private val blocks = mutable.HashMap[RDDBlockId, Long]()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case id: RDDBlockId if info.storageLevel.isValid => synchronized {
        blocks(id) = math.max(blocks.getOrElse(id, 0L), info.memSize + info.diskSize)
      }
      case _ =>
    }
  }

  def reset(): Unit = synchronized(blocks.clear())
  def bytes: Long = synchronized(blocks.values.sum)
  def bytesOf(rdds: Int => Boolean): Long =
    synchronized(blocks.collect { case (id, b) if rdds(id.rddId) => b }.sum)
}

/** A job of the traced run and the pipeline stage it was assigned to. */
final case class Job(id: Int, stage: String, site: String, startMs: Long,
    var endMs: Long = -1L) {
  def interval: (Long, Long) = (startMs, math.max(endMs, startMs))
}

/** One finished task of the traced run. */
final case class Task(launchMs: Long, finishMs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, outRows: Long, outBytes: Long)

/** A span recorded by the benchmark around one call into the program. */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** The traced run's listener: every job and task of the run, each job
  * assigned to the pipeline stage found in its call site, and each RDD to
  * the stage of the first job that computed it.
  *
  * A job's call site is the stack of the thread that submitted it. Jobs
  * that adaptive execution submits from its own threads carry no program
  * frames, so those fall back to the call site of their SQL execution.
  * Jobs submitted from the program's own thread pools (`Pools.mapAll`,
  * `Barriers.barrierAll`) name no stage on either stack; they are `pooled`.
  */
final class Ledger extends SparkListener {
  import Ledger._

  private val execDetails = mutable.HashMap[Long, String]()
  private var busyNs = 0L
  val jobs = mutable.ArrayBuffer[Job]()
  val tasks = mutable.ArrayBuffer[Task]()
  private val rddStage = mutable.HashMap[Int, String]()

  /** Runs a callback under the lock, adding its time to [[busySeconds]]. */
  private def handle(body: => Unit): Unit = synchronized {
    val t = System.nanoTime()
    body
    busyNs += System.nanoTime() - t
  }

  def busySeconds: Double = synchronized(busyNs / 1e9)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => handle(execDetails(s.executionId) = s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = handle {
    val own = e.stageInfos.headOption.map(_.details).getOrElse("")
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execDetails.get(id.toLong)).getOrElse("")
    val stack = own + "\n" + exec
    val stage = stageOf(own).orElse(stageOf(exec)).getOrElse(
      if (stack.contains("graft.core.Pools")) "pooled"
      else if (stack.contains("graft.")) "workflow" else "other")
    val site = stack.split("\n").find(_.contains("graft.")).getOrElse("").trim
    jobs += Job(e.jobId, stage, site, e.time)
    for (s <- e.stageInfos; r <- s.rddInfos if !rddStage.contains(r.id)) rddStage(r.id) = stage
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = handle {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = handle {
    val m = e.taskMetrics
    if (m != null) {
      tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
    }
  }

  def stageOfRdd(id: Int): String = synchronized(rddStage.getOrElse(id, "other"))
  def jobsIn(s: Span): Seq[Job] = synchronized(jobs.filter(j => inside(j.startMs, s)).toSeq)
  def tasksIn(s: Span): Seq[Task] = synchronized(tasks.filter(t => inside(t.launchMs, s)).toSeq)
}

object Ledger {

  /** The per-stage names the ledger reports, in report order. */
  val stages: Seq[String] = Seq("abcd", "financial", "scenarios", "capacity_factors", "prices",
    "carbon_price", "geographies", "align", "v2_assets", "v2_scenarios", "v2_financial",
    "workflow", "pooled", "other")

  private def inside(ms: Long, s: Span): Boolean = ms >= s.startMs && ms <= s.endMs

  private val Frame = """graft\.pipelines\.(\w+)\$\.([^(]+)\(""".r

  /** The pipeline stage of the innermost program frame that names one.
    * Frames of the orchestrator's own helpers (bindRows, the stage
    * lambdas of run) defer to the next frame out.
    */
  def stageOf(callSite: String): Option[String] =
    callSite.split("\n").iterator.flatMap { line =>
      Frame.findFirstMatchIn(line).flatMap(m => classify(m.group(1), m.group(2)))
    }.nextOption()

  private def classify(obj: String, method: String): Option[String] = obj match {
    case "Abcd" => Some("abcd")
    case "Financial" => Some("financial")
    case "ScenarioData" => Some("scenarios")
    case "CapacityFactors" => Some("capacity_factors")
    case "Prices" => Some("prices")
    case "CarbonPrice" => Some("carbon_price")
    case "Geographies" => Some("geographies")
    case "Workflow" if method.contains("triskV2Assets") => Some("v2_assets")
    case "Workflow" if method.contains("triskV2Scenarios") => Some("v2_scenarios")
    case "Workflow" if method.contains("triskV2FinancialFeatures") => Some("v2_financial")
    case "Workflow" => Some("align")
    case "RunWorkflow" if method.contains("CapacityFactor") => Some("capacity_factors")
    case "RunWorkflow" if method.contains("Price") || method.startsWith("ngfs") =>
      Some("prices")
    case _ => None
  }

  /** Total length of the union of `intervals`, clipped to `window`, in seconds. */
  def covered(intervals: Seq[(Long, Long)], window: Span): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, window.startMs), math.min(b, window.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curStart = -1L
    var curEnd = -1L
    for ((a, b) <- clipped) {
      if (a > curEnd) {
        total += curEnd - curStart
        curStart = a
        curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    total += curEnd - curStart
    total / 1000.0
  }
}
