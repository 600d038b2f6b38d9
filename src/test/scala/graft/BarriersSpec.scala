package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.core.Barriers

/** Barrier idempotence: a frame that already IS a checkpoint leaf must
  * pass through barrier/barrierAll unchanged (reference-equal — proof no
  * re-checkpoint job ran). The composed pipelines double-barriered their
  * deepest vintage leg before this (once at its own junction, once in the
  * merge's barrierAll), paying one redundant block-copy job per call.
  *
  * The leaf itself must read back exactly what a row checkpoint of the
  * same frame reads (every value bit for bit, the partitions and their row
  * order) while its pinned columnar batches take fewer bytes.
  */
class BarriersSpec extends SparkTestBase {

  test("barrier materializes once and is idempotent on its own output") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    val b1 = Barriers.barrier(df)
    assert(b1.queryExecution.logical.isInstanceOf[LogicalRDD],
      "eager barrier output should be a checkpoint leaf")
    assert(Barriers.barrier(b1) eq b1, "re-barrier must be a no-op")
    assert(b1.collect().map(_.getInt(0)).sorted === Array(1, 2, 3))
  }

  test("barrierAll passes checkpoint leaves through and barriers the rest") {
    import spark.implicits._
    val leaf = Barriers.barrier(Seq(1, 2).toDF("x"))
    val fresh = Seq(3, 4).toDF("x")
    val out = Barriers.barrierAll(Seq(leaf, fresh))
    assert(out.head eq leaf, "already-barriered leg must pass through")
    assert(out(1).queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(out(1).collect().map(_.getInt(0)).sorted === Array(3, 4))
  }

  /** Each partition's rows, every value rendered exactly: doubles as their
    * raw bits, so NaN payloads and -0.0 compare, not just their values.
    */
  private def exactPartitions(df: DataFrame): Seq[Seq[String]] = {
    def exact(v: Any): String = v match {
      case null => "null"
      case d: Double => f"d${java.lang.Double.doubleToRawLongBits(d)}%016x"
      case r: Row => r.toSeq.map(exact).mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(exact).mkString("[", ",", "]")
      case t: java.sql.Timestamp => s"t${t.getTime}.${t.getNanos}"
      case o => s"${o.getClass.getSimpleName}:$o"
    }
    df.rdd.mapPartitions(rows => Iterator(rows.map(exact).toSeq)).collect().toSeq
  }

  test("the leaf reads back a row checkpoint's partitions, order and bits") {
    import spark.implicits._
    val nanPayload = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val doubles = Seq(1.5, Double.NaN, nanPayload, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, 1e300)
    val rows = doubles.zipWithIndex.flatMap { case (d, i) =>
      Seq.tabulate(3)(j => (s"k${i % 4}", i * 3 + j, i.toLong << 40, i % 2 == 0, d))
    }
    val base = rows.toDF("s", "i", "l", "b", "d")
      .withColumn("date", date_add(lit("2021-01-01").cast("date"), col("i")))
      .withColumn("ts", (lit(1600000000L) + col("i")).cast("timestamp"))
    // arrays of structs as the collect_list generators make them, joined
    // back per key; a struct column of its own; one row null in every column
    val lists = base.groupBy("s").agg(collect_list(struct(col("i"), col("d"))).as("arr"))
    val joined = base.join(lists, "s").withColumn("st", struct(col("s"), col("d")))
    val allNull = spark.range(1).select(
      joined.schema.fields.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    // the input is pinned as rows first, so both pins below read the same
    // partitions in the same order; a projection keeps it from being a leaf
    val pinnedInput = joined.unionByName(allNull).repartition(5).localCheckpoint(true)
    val frame = pinnedInput.select(pinnedInput.columns.map(col): _*)
    assert(!frame.queryExecution.logical.isInstanceOf[LogicalRDD])

    val leaf = Barriers.barrier(frame)
    val rowCheckpoint = frame.localCheckpoint(true)
    assert(leaf.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(leaf.schema == rowCheckpoint.schema)
    assert(leaf.rdd.getNumPartitions == rowCheckpoint.rdd.getNumPartitions)
    val (got, want) = (exactPartitions(leaf), exactPartitions(rowCheckpoint))
    assert(want.map(_.size).sum == rows.size + 1)
    assert(want.count(_.isEmpty) < want.size - 1, "the input should span partitions")
    val bits = want.flatten.mkString
    for (d <- Seq(-0.0, nanPayload, Double.NegativeInfinity))
      assert(bits.contains(f"d${java.lang.Double.doubleToRawLongBits(d)}%016x"))
    assert(got == want)
    // the leaf reports what the row checkpoint's leaf reports
    val (l, r) = (leaf.queryExecution.logical.asInstanceOf[LogicalRDD],
      rowCheckpoint.queryExecution.logical.asInstanceOf[LogicalRDD])
    assert(l.outputPartitioning == r.outputPartitioning)
    assert(l.outputOrdering == r.outputOrdering)
    assert(l.computeStats() == r.computeStats())
  }

  test("the leaf pins fewer bytes than a row checkpoint of the same frame") {
    val frame = spark.range(0, 20000, 1, 4).select(
      concat(lit("scenario_"), (col("id") % 7).cast("string")).as("scenario"),
      (col("id") % 31 + 2020).cast("int").as("year"),
      (col("id") % 97 / 8.0).as("price"))
    val sc = spark.sparkContext
    def pinnedBytes(id: Int): Long =
      sc.getRDDStorageInfo.filter(_.id == id).map(i => i.memSize + i.diskSize).sum
    val leafRdd = Barriers.barrier(frame).queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    // the leaf's rows decode its one parent, the pinned batch RDD
    val batches = leafRdd.dependencies.map(_.rdd)
    assert(batches.map(_.name) == Seq("graft junction"))
    val rowRdd = frame.localCheckpoint(true).queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    val (columnar, row) = (pinnedBytes(batches.head.id), pinnedBytes(rowRdd.id))
    assert(columnar > 0 && row > 0)
    assert(columnar < row, s"columnar batches $columnar B vs row copies $row B")
  }
}
