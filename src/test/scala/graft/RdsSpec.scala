package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.{Rds, TypedCsv}

/** In-engine RDS scan/sink (S6): typed roundtrip through our own writer,
  * and a read of the reference repo's real R-produced bench_regions.rds
  * validated cell-for-cell against its CSV twin.
  */
class RdsSpec extends SparkTestBase {

  private val benchSchema = StructType(Seq(
    StructField("scenario_geography", StringType),
    StructField("country_iso", StringType),
    StructField("reg_count", IntegerType),
    StructField("scenario_geography_newname", StringType),
    StructField("country", StringType)))

  test("reads the reference's R-produced bench_regions.rds, equal to its CSV twin") {
    val rds = Rds.read(spark, ReferenceData.path("data-raw/bench_regions.rds"), benchSchema)
    val csv = TypedCsv.read(spark, ReferenceData.path("data-raw/bench_regions.csv"), benchSchema)
    assert(rds.count() == 2518)
    // the reference's own twins drifted on ONE cell (rds says ZAF, csv says
    // SAF for South Africa) — the scan must reproduce the rds faithfully,
    // so pin the symmetric difference to exactly that known row
    val onlyRds = rds.exceptAll(csv).collect().toSeq
    val onlyCsv = csv.exceptAll(rds).collect().toSeq
    assert(onlyRds.map(_.getString(0)) == Seq("ZAF"), s"unexpected rds-only rows: $onlyRds")
    assert(onlyCsv.map(_.getString(0)) == Seq("SAF"), s"unexpected csv-only rows: $onlyCsv")
  }

  test("roundtrip: every supported type incl. NULLs, gzip and plain") {
    val schema = StructType(Seq(
      StructField("i", IntegerType),
      StructField("l", LongType),
      StructField("d", DoubleType),
      StructField("s", StringType),
      StructField("b", BooleanType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1, 10L, 1.5, "plain", true),
        Row(2, null, -0.125, "ünïcødé ±", false),
        Row(null, 30L, null, null, null),
        Row(4, 40L, Double.NaN, "x", true)),
      schema)
    // longs come back as doubles (R has no base int64) — compare via cast
    val expect = df.selectExpr("i", "cast(l as double) as l", "d", "s", "b")
    for (gz <- Seq(true, false)) {
      val path = java.nio.file.Files.createTempDirectory("rds").toString + s"/t_$gz.rds"
      Rds.write(df, path, Seq("i"), gzip = gz)
      val back = Rds.read(spark, path,
        StructType(expect.schema.fields.map(f => StructField(f.name, f.dataType))))
      assert(back.orderBy("i").collect().toSeq == expect.orderBy("i").collect().toSeq,
        s"gzip=$gz roundtrip mismatch")
    }
  }

  test("NA_real_ payload maps to null, ordinary NaN survives") {
    val schema = StructType(Seq(StructField("d", DoubleType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(Double.NaN), Row(null), Row(2.0)), schema)
    val path = java.nio.file.Files.createTempDirectory("rds").toString + "/t.rds"
    Rds.write(df, path, Seq("d"))
    val vals = Rds.read(spark, path, schema).collect().map(r =>
      if (r.isNullAt(0)) "null" else r.getDouble(0).toString).sorted.toSeq
    assert(vals == Seq("2.0", "NaN", "null"))
  }

  test("factor columns decode to level strings") {
    // hand-build a factor column: INTSXP codes + levels attr + class factor
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write('X'); out.write('\n')
    out.writeInt(2); out.writeInt(0x040300); out.writeInt(0x020300)
    def char(s: String): Unit = {
      val b = s.getBytes("UTF-8"); out.writeInt(9 | (8 << 12)); out.writeInt(b.length); out.write(b)
    }
    def strs(vs: Seq[String]): Unit = { out.writeInt(16); out.writeInt(vs.length); vs.foreach(char) }
    def attr(n: String)(v: => Unit): Unit = {
      out.writeInt(2 | (1 << 10)); out.writeInt(1); char(n); v
    }
    out.writeInt(19 | (1 << 8) | (1 << 9)); out.writeInt(1) // VECSXP, 1 col
    out.writeInt(13 | (1 << 9)); out.writeInt(3)            // INTSXP with attrs
    out.writeInt(2); out.writeInt(1); out.writeInt(Int.MinValue) // codes b,a,NA
    attr("levels")(strs(Seq("a", "b")))
    attr("class")(strs(Seq("factor")))
    out.writeInt(254)
    attr("names")(strs(Seq("f")))
    attr("row.names") { out.writeInt(13); out.writeInt(2); out.writeInt(Int.MinValue); out.writeInt(-3) }
    attr("class")(strs(Seq("data.frame")))
    out.writeInt(254)
    out.close()
    val (names, cols) = Rds.parseDataFrame(bos.toByteArray)
    assert(names == Seq("f"))
    assert(cols.head == IndexedSeq("b", "a", null))
  }

  test("ALTREP compact_intseq column (R >= 3.5 serialized 1:n) expands") {
    // hand-build df with one ALTREP column: serialize what R writes for
    // data.frame(x = 1:4) — ALTREP_SXP(info=(sym,sym,int), state=c(n,start,step))
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write('X'); out.write('\n')
    out.writeInt(2); out.writeInt(0x040300); out.writeInt(0x020300)
    def char(s: String): Unit = {
      val b = s.getBytes("UTF-8"); out.writeInt(9 | (8 << 12)); out.writeInt(b.length); out.write(b)
    }
    def sym(s: String): Unit = { out.writeInt(1); char(s) }
    def strs(vs: Seq[String]): Unit = { out.writeInt(16); out.writeInt(vs.length); vs.foreach(char) }
    def attr(n: String)(v: => Unit): Unit = {
      out.writeInt(2 | (1 << 10)); sym(n); v
    }
    out.writeInt(19 | (1 << 8) | (1 << 9)); out.writeInt(1) // VECSXP, 1 col
    out.writeInt(238)                                       // ALTREP_SXP
    out.writeInt(2); sym("compact_intseq")                  // info pairlist
    out.writeInt(2); sym("base")
    out.writeInt(2); out.writeInt(13); out.writeInt(1); out.writeInt(13) // INTSXP scalar 13
    out.writeInt(254)                                       // end info
    out.writeInt(14); out.writeInt(3)                       // state: REALSXP c(4, 1, 1)
    Seq(4.0, 1.0, 1.0).foreach(d => out.writeLong(java.lang.Double.doubleToRawLongBits(d)))
    out.writeInt(254)                                       // no attributes on the column
    attr("names")(strs(Seq("x")))
    attr("row.names") { out.writeInt(13); out.writeInt(2); out.writeInt(Int.MinValue); out.writeInt(-4) }
    attr("class")(strs(Seq("data.frame")))
    out.writeInt(254)
    out.close()
    val (names, cols) = Rds.parseDataFrame(bos.toByteArray)
    assert(names == Seq("x"))
    assert(cols.head == IndexedSeq("1", "2", "3", "4"))
  }

  test("unknown ALTREP class fails naming the class") {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write('X'); out.write('\n')
    out.writeInt(2); out.writeInt(0x040300); out.writeInt(0x020300)
    def char(s: String): Unit = {
      val b = s.getBytes("UTF-8"); out.writeInt(9 | (8 << 12)); out.writeInt(b.length); out.write(b)
    }
    def sym(s: String): Unit = { out.writeInt(1); char(s) }
    out.writeInt(238)
    out.writeInt(2); sym("deferred_string")
    out.writeInt(2); sym("base")
    out.writeInt(2); out.writeInt(13); out.writeInt(1); out.writeInt(16)
    out.writeInt(254)
    out.writeInt(254) // state (shape irrelevant — class is rejected first)
    out.writeInt(254)
    out.close()
    val e = intercept[IllegalArgumentException](Rds.parseDataFrame(bos.toByteArray))
    assert(e.getMessage.contains("deferred_string"))
  }

  test("unsupported compression fails with a clear message") {
    val e = intercept[Exception] {
      Rds.parseDataFrame("A\nnot rds".getBytes)
    }
    assert(e.getMessage.contains("XDR"))
  }
}
