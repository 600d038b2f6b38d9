package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.Xlsx

/** In-engine xlsx scan/sink (S5): typed roundtrip through a workbook the
  * sink wrote, and a read of the reference repo's real Excel-produced
  * fixture (shared-strings path) as an independent format check.
  */
class XlsxSpec extends SparkTestBase {
  import spark.implicits._

  test("roundtrip: strings, numerics, booleans, nulls, XML specials") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("flag", BooleanType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, "plain", 1.5, true),
        Row(2L, "<tag> & \"quote\"", -0.125, false),
        Row(3L, null, null, null),
        Row(4L, "trailing space ", 1.0e-300, true)),
      schema)
    val path = java.nio.file.Files.createTempDirectory("xlsx").toString + "/t.xlsx"
    Xlsx.write(df, path, "data", Seq("id"))
    val back = Xlsx.read(spark, path, "data", schema).orderBy("id").collect().toSeq
    assert(back == df.orderBy("id").collect().toSeq)
  }

  test("reads a real Excel-produced workbook (shared strings)") {
    val schema = StructType(Seq(
      StructField("scenario_geography", StringType),
      StructField("country", StringType)))
    val df = Xlsx.read(spark, ReferenceData.path("data-raw/matchingregions.xlsx"),
      "Tabelle1", schema)
    val rows = df.collect()
    assert(rows.length == 275, s"expected 275 data rows, got ${rows.length}")
    assert(rows.exists(r => r.getString(0) == "Southeast Asia" && r.getString(1) == "Brunei"))
    assert(rows.forall(r => r.getString(0) != null))
  }

  test("schema fields absent from the header come back null; extra headers ignored") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "a"), Row(2L, "b")), schema)
    val path = java.nio.file.Files.createTempDirectory("xlsx").toString + "/t.xlsx"
    Xlsx.write(df, path, "s", Seq("id"))
    val wider = schema.add(StructField("missing", DoubleType))
    val back = Xlsx.read(spark, path, "s", wider).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back.forall(_.isNullAt(2)))
    val narrower = StructType(Seq(StructField("name", StringType)))
    assert(Xlsx.read(spark, path, "s", narrower).collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "b"))
  }

  test("NaN/Infinity numerics write as absent cells (valid SpreadsheetML), null on read") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, Double.NaN),
        Row(2L, Double.PositiveInfinity),
        Row(3L, Double.NegativeInfinity),
        Row(4L, 2.5)),
      schema)
    val path = java.nio.file.Files.createTempDirectory("xlsx").toString + "/t.xlsx"
    Xlsx.write(df, path, "s", Seq("id"))
    // the sheet XML must not contain literal NaN/Infinity number cells
    val sheetXml = {
      val zin = new java.util.zip.ZipInputStream(new java.io.FileInputStream(path))
      var xml = ""
      var e = zin.getNextEntry
      while (e != null) {
        if (e.getName == "xl/worksheets/sheet1.xml") xml = new String(zin.readAllBytes(), "UTF-8")
        e = zin.getNextEntry
      }
      zin.close()
      xml
    }
    assert(!sheetXml.contains("NaN") && !sheetXml.contains("Infinity"))
    val back = Xlsx.read(spark, path, "s", schema).orderBy("id").collect()
    assert(back.map(r => if (r.isNullAt(1)) null else r.getDouble(1)).toSeq
      == Seq(null, null, null, 2.5))
  }

  test("styled-empty shared-string cell (<c t=\"s\"/> with no <v>) reads as null") {
    // forge a minimal workbook around the writer's output by injecting the
    // degenerate cell, then parse it
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(1L, "a")), schema)
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toString
    Xlsx.write(df, dir + "/t.xlsx", "s", Seq("id"))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir + "/t.xlsx"))
    val grid = Xlsx.parseSheet(patchCell(bytes), "s")
    assert(grid.length == 2)
    assert(grid(1).toSeq == Seq("1", null))
  }

  /** Replace row 2's name cell with a valueless shared-string cell. */
  private def patchCell(xlsx: Array[Byte]): Array[Byte] = {
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(xlsx))
    val bos = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(bos)
    var e = zin.getNextEntry
    while (e != null) {
      val content = zin.readAllBytes()
      zout.putNextEntry(new java.util.zip.ZipEntry(e.getName))
      if (e.getName == "xl/worksheets/sheet1.xml") {
        val xml = new String(content, "UTF-8")
          .replaceAll("""<c r="B2"[^/]*?>.*?</c>""", """<c r="B2" t="s"/>""")
        zout.write(xml.getBytes("UTF-8"))
      } else zout.write(content)
      zout.closeEntry()
      e = zin.getNextEntry
    }
    zin.close(); zout.close()
    bos.toByteArray
  }

  test("non-xlsx files alongside workbooks are ignored by the glob filter") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(1L), Row(2L)), schema)
    val dir = java.nio.file.Files.createTempDirectory("xlsx").toString
    Xlsx.write(df, dir + "/t.xlsx", "s", Seq("id"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir + "/README.txt"),
      "not a workbook".getBytes)
    assert(Xlsx.read(spark, dir, "s", schema).count() == 2)
  }

  test("colRef / colIndex roundtrip") {
    for (i <- 0 until 1000) assert(Xlsx.colIndex(Xlsx.colRef(i) + "1") == i)
    assert(Xlsx.colRef(0) == "A" && Xlsx.colRef(25) == "Z" && Xlsx.colRef(26) == "AA")
  }

  test("unknown sheet name fails with the available names") {
    val schema = StructType(Seq(StructField("id", LongType)))
    val df = spark.createDataFrame(java.util.Arrays.asList(Row(1L)), schema)
    val path = java.nio.file.Files.createTempDirectory("xlsx").toString + "/t.xlsx"
    Xlsx.write(df, path, "actual")
    val e = intercept[org.apache.spark.SparkException] {
      Xlsx.read(spark, path, "wrong", schema).collect()
    }
    assert(e.getMessage.contains("wrong") || e.getCause != null)
  }
}
