package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, LocalTableScanExec, RDDScanExec}
import org.apache.spark.sql.functions._

/** Catalog-wide single-reducer-window police (VERDICT r12 wrong #3):
  * individual specs pin "no unpartitioned window" for their own
  * operators, but nothing swept all entries — a new entry could ship a
  * genuine global window over the raw table unnoticed. This walks EVERY
  * catalog entry's executed plan and asserts any partition-less
  * WindowExec consumes bounded input: a limit, an aggregate (day/bucket
  * grain), or a driver-local frame (the <=256-row offset machinery) —
  * the shapes the per-spec audits individually justified.
  */
class WindowSweepSpec extends SparkTestBase {

  /** A partition-less window is acceptable only when its input is
    * provably bounded: something below it caps cardinality.
    */
  private def boundedBelow(w: SparkPlan): Boolean =
    w.children.exists { c =>
      c.collectFirst {
        case _: GlobalLimitExec => ()
        case _: LocalLimitExec => ()
        // top-k legs (rank fusion, deterministic samples) plan as
        // TakeOrderedAndProject — a limit in all but name
        case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => ()
        case _: BaseAggregateExec => ()
        case _: LocalTableScanExec => ()
        // NOT RDDScanExec: localCheckpoint output scans as RDDScanExec, so
        // accepting it wholesale would let a global window over a barriered
        // 100 TB frame pass the police unflagged (VERDICT r13 wrong #3).
        // The driver-local <=256-row offset frames (ops/Stats.scala) are
        // built via createDataFrame on collected rows and plan as
        // LocalTableScanExec, which stays accepted above.
      }.isDefined
    }

  /** Global = empty partition spec OR all-foldable keys: the
    * `Windows.boundedGlobal` constant-key shape (log hygiene for the
    * documented bounded windows) routes every row to one partition exactly
    * like the empty spec, so the police must hold it to the same bounded
    * allowlist — `lit(0)` must not become a disguise.
    */
  private def offendingWindows(df: DataFrame): Seq[WindowExec] =
    df.queryExecution.executedPlan.collect {
      case w: WindowExec if (w.partitionSpec.isEmpty ||
          w.partitionSpec.forall(_.foldable)) && !boundedBelow(w) => w
    }

  test("no catalog entry runs an unbounded partition-less window") {
    // AQE off so the executed plan stays structurally traversable
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try {
          val bad = offendingWindows(fn(spark, sfDir))
          if (bad.isEmpty) None
          else Some(s"$name: ${bad.size} unbounded global window(s)")
        } catch {
          case e: Throwable => Some(s"$name: plan walk failed: ${e.getMessage.take(100)}")
        }
      }
      assert(offenders.isEmpty, offenders.mkString("\n"))
    }
  }

  test("the sweep DOES flag a global window over a raw table (checker self-test)") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      import org.apache.spark.sql.expressions.Window
      val bad = graft.core.Tables.lineitem(spark, sfDir)
        .withColumn("rn", row_number().over(Window.orderBy(col("l_orderkey"))))
      assert(offendingWindows(bad).nonEmpty,
        "checker failed to flag a single-reducer window over the raw table")
    }
  }

  test("the sweep DOES flag a constant-key (lit-disguised) global window") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val bad = graft.core.Tables.lineitem(spark, sfDir)
        .withColumn("rn", row_number().over(
          graft.ops.Windows.boundedGlobal(col("l_orderkey"))))
      assert(offendingWindows(bad).nonEmpty,
        "checker failed to flag a lit(0)-partitioned single-reducer window " +
          "over the raw table")
    }
  }

  test("the sweep DOES flag a global window over a barriered frame (r13 hole)") {
    // localCheckpoint output scans as RDDScanExec; the r13 allowlist
    // accepted any RDDScanExec as bounded, so a single-reducer window
    // placed OVER a lineage barrier slipped the police. The barrier does
    // not bound cardinality — at 100 TB the checkpointed frame is still
    // 100 TB.
    withConf("spark.sql.adaptive.enabled" -> "false") {
      import org.apache.spark.sql.expressions.Window
      val bad = graft.core.Tables.nation(spark, sfDir)
        .localCheckpoint(true)
        .withColumn("rn", row_number().over(Window.orderBy(col("n_nationkey"))))
      assert(offendingWindows(bad).nonEmpty,
        "checker failed to flag a single-reducer window over a localCheckpoint barrier")
    }
  }
}
