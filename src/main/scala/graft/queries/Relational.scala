package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Num.{davg, dsum, dsumOver}
import graft.core.Tables._
import graft.ops._

/** SURVEY §2 relational operator inventory as verifiable queries over the
  * TPC-H-ish fixtures. Each query exercises one inventory row (S/P/J/A/W/O/
  * U/R/F) re-expressed Spark-first; the oracle is independent DuckDB SQL.
  */
object Relational {

  private val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Derived frame with injected nulls — the fixtures are null-free, but the
    * reference's semantics are dominated by NA handling (SURVEY §1.2), so
    * null-sensitive operators run on this deterministic projection.
    * (l_orderkey, l_linenumber) is NOT unique in the fixture, so the base
    * aggregates to one row per (g, x) first — window-frame ties would
    * otherwise make ordered-frame results engine-dependent.
    */
  private def nulled(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_orderkey").as("g"), col("l_linenumber").as("x"))
      .agg(max(col("l_quantity")).as("__q"), max(col("l_partkey")).as("__pk"))
      .select(col("g"), col("x"),
        when(col("__pk") % 3 === 0, lit(null)).otherwise(col("__q")).as("v"))

  private val nulledSql =
    """SELECT g, x, CASE WHEN pk % 3 = 0 THEN NULL ELSE q END AS v
      |FROM (SELECT l_orderkey AS g, l_linenumber AS x,
      |             MAX(l_quantity) AS q, MAX(l_partkey) AS pk
      |      FROM lineitem GROUP BY l_orderkey, l_linenumber)""".stripMargin

  val queries: Seq[Q] = Seq(
    // ---- S: scans / sources (SURVEY §2.1) ------------------------------
    Q("s1_scan_prune",
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey") { (s, d) =>
      // S1: schema-on-read + projection pruning; explain shows ReadSchema
      // with only these two columns (reference cols_only,
      // run_prepare_Scenarios_AnalysisInput.R:36-49).
      orders(s, d).select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },
    Q("s2_delim_scan",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, d) =>
      // S2: `;`-delimited scan (reference readr::read_delim(delim=";"),
      // data-raw/run_prepare_price_data_long.R:310-322). The fixture is
      // parquet, so the query round-trips through a `;` CSV export first;
      // the operator under test is the delimited schema-on-read.
      val base = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val path = s"${sys.props("java.io.tmpdir")}/graft_s2_${graft.core.Tables.pathKey(d)}"
      base.coalesce(1).sortWithinPartitions("n_nationkey")
        .write.mode("overwrite").option("header", "true").option("delimiter", ";").csv(path)
      graft.sources.TypedCsv.read(s, path, base.schema, delimiter = ";")
        .orderBy("n_nationkey")
    },
    Q("s3_parquet_scan",
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey") { (s, d) =>
      region(s, d).select("r_regionkey", "r_name").orderBy("r_regionkey")
    },
    Q("s4_csv_sink",
      """SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // S4: deterministic single-file CSV sink (reference readr::write_csv
      // of sorted goldens, run_workflow.R:264-272) — count-valued so the
      // text round-trip is exact; read back through the declared schema.
      val agg = lineitem(s, d).groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      val path = s"${sys.props("java.io.tmpdir")}/graft_s4_${graft.core.Tables.pathKey(d)}"
      graft.sources.TypedCsv.writeGolden(agg, Seq("l_returnflag"), path)
      graft.sources.TypedCsv.read(s, path, agg.schema).orderBy("l_returnflag")
    },
    Q("s5_xlsx_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, d) =>
      // S5: in-engine Excel scan (reference readxl::read_xlsx of the AR
      // workbook, R/prepare_asset_impact_data.R:7-41) — export nation to a
      // workbook, then scan it back through the binaryFile-distributed
      // SpreadsheetML parser (sources/Xlsx.scala); the operator under test
      // is the xlsx scan, the oracle is the parquet original.
      val base = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val path = s"${sys.props("java.io.tmpdir")}/graft_s5_${graft.core.Tables.pathKey(d)}/nation.xlsx"
      graft.sources.Xlsx.write(base, path, "nation", Seq("n_nationkey"))
      graft.sources.Xlsx.read(s, path, "nation", base.schema).orderBy("n_nationkey")
    },
    Q("s6_rds_roundtrip",
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey") { (s, d) =>
      // S6: in-engine RDS scan (reference readr::read_rds(bench_regions),
      // data-raw/run_workflow.R:107) — serialize nation as an R data.frame
      // and scan it back through the XDR parser (sources/Rds.scala); the
      // operator under test is the rds scan, the oracle the parquet
      // original.
      val base = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      val path = s"${sys.props("java.io.tmpdir")}/graft_s6_${graft.core.Tables.pathKey(d)}/nation.rds"
      graft.sources.Rds.write(base, path, Seq("n_nationkey"))
      graft.sources.Rds.read(s, path, base.schema).orderBy("n_nationkey")
    },
    Q("s12_avro_roundtrip",
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id") { (s, d) =>
      // S12 (beyond-reference): in-engine Avro container scan/sink on the
      // avro-core jar Spark ships (no spark-avro datasource here) — the
      // row-oriented lake interchange format parquet-first shops still
      // ingest from Kafka pipelines. Write documents to one deflate
      // container, scan it back through binaryFile + DataFileStream; the
      // oracle is the parquet original, so text/unicode must round-trip
      // losslessly.
      val base = documents(s, d).select("doc_id", "text", "lang", "source", "n_chars")
      val path = s"${sys.props("java.io.tmpdir")}/graft_s12_${graft.core.Tables.pathKey(d)}/documents.avro"
      graft.sources.Avro.write(base, path, Seq("doc_id"))
      graft.sources.Avro.read(s, path, base.schema).orderBy("doc_id")
    },
    Q("s13_tar_shards",
      "SELECT doc_id, text FROM documents ORDER BY doc_id") { (s, d) =>
      // S13 (beyond-reference): WebDataset-style tar shard sink + scan —
      // the directory-of-tars layout training loaders stream. The sink is
      // DISTRIBUTED (one shuffle on the shard id, each shard one
      // sequential ustar stream, byte-deterministic so retries rewrite
      // identical files); the scan parses each shard executor-side via
      // binaryFile. The oracle is the parquet original: names and UTF-8
      // payloads must round-trip losslessly. Interop with real tar
      // tooling is pinned separately in TarSpec via commons-compress.
      val base = documents(s, d).select("doc_id", "text")
      val path = s"${sys.props("java.io.tmpdir")}/graft_s13_${graft.core.Tables.pathKey(d)}"
      graft.sources.Tar.writeShards(
        base.select((col("doc_id") % 8).as("shard"),
          col("doc_id").cast("string").as("name"),
          col("text").cast("binary").as("payload")),
        path)
      graft.sources.Tar.read(s, path)
        .select(col("name").cast("long").as("doc_id"),
          col("content").cast("string").as("text"))
        .orderBy("doc_id")
    },
    Q("s17_zip_shards",
      "SELECT doc_id, text FROM documents ORDER BY doc_id") { (s, d) =>
      // S17 (beyond-reference): zip shard sink + scan — the OTHER archive
      // layout image/document datasets ship in, with the s13 tar
      // contract: distributed write (one shuffle on the shard id, one
      // sequential STORED-entry stream per shard, temp+rename commit),
      // entry-streaming scan (one payload in memory at a time). The
      // oracle is the parquet original: names and UTF-8 payloads must
      // round-trip losslessly through the container.
      val base = documents(s, d).select("doc_id", "text")
      val path = s"${sys.props("java.io.tmpdir")}/graft_s17_${graft.core.Tables.pathKey(d)}"
      graft.sources.Zip.writeShards(
        base.select((col("doc_id") % 8).as("shard"),
          col("doc_id").cast("string").as("name"),
          col("text").cast("binary").as("payload")),
        path)
      graft.sources.Zip.read(s, path)
        .select(col("name").cast("long").as("doc_id"),
          col("content").cast("string").as("text"))
        .orderBy("doc_id")
    },
    Q("s8_jsonl_roundtrip",
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id") { (s, d) =>
      // S8 (beyond-reference): gzip JSONL sink + scan — the de-facto LLM
      // corpus interchange format. Read back with the explicit schema (no
      // inference: a sampling inference pass doubles the read at 100 TB);
      // the oracle is the parquet original, so the text/unicode round-trip
      // must be lossless.
      val base = documents(s, d)
      val path = s"${sys.props("java.io.tmpdir")}/graft_s8_${graft.core.Tables.pathKey(d)}"
      base.write.mode("overwrite").option("compression", "gzip").json(path)
      s.read.schema(base.schema).json(path).orderBy("doc_id")
    },
    Q("s19_corrupt_quarantine",
      """WITH g AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS one
        |  FROM documents GROUP BY doc_id, lang),
        |good AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_good,
        |    CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM g GROUP BY lang),
        |bad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corrupt
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT good.lang, good.n_good, good.id_sum, bad.n_corrupt
        |FROM good, bad ORDER BY good.lang""".stripMargin) { (s, d) =>
      // S19 (beyond-reference): ERROR-TOLERANT ingestion with a corrupt-
      // record quarantine — what 100 TB of real-world JSONL demands (a
      // crawler's output always carries truncated/garbled lines, and a
      // FAILFAST read of a petabyte that dies at row 10¹² wastes the
      // cluster-day). PERMISSIVE mode parses what it can; unparseable
      // lines land whole in the _corrupt_record side-channel column, so
      // good rows flow on while the quarantine is counted (and could be
      // routed to a dead-letter sink). The fixture plants one garbage
      // line per 13th doc (truncated JSON — no closing brace, the
      // classic cut-mid-write shape); the oracle states the expected
      // survivor aggregate and quarantine count from the parquet
      // original: a dropped good row, a swallowed corrupt line, or a
      // corrupt line parsed as data all break the hash.
      import org.apache.spark.sql.types.{StringType, StructField, StructType, LongType}
      val base = documents(s, d).select("doc_id", "lang")
      val path = s"${sys.props("java.io.tmpdir")}/graft_s19_${graft.core.Tables.pathKey(d)}"
      val lines = base.select(to_json(struct(col("doc_id"), col("lang"))).as("value"))
        .unionAll(base.filter(col("doc_id") % 13 === 0)
          .select(concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
            lit(",\"lang\":\"truncat")).as("value")))
      lines.write.mode("overwrite").text(path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("_corrupt_record", StringType)))
      val read = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .localCheckpoint(true) // one pass; quarantine + survivors split from it
      val good = read.filter(col("_corrupt_record").isNull)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_good"), sum(col("doc_id")).as("id_sum"))
      val bad = read.filter(col("_corrupt_record").isNotNull)
        .agg(count(lit(1)).as("n_corrupt"))
      good.crossJoin(broadcast(bad)).orderBy("lang")
    },
    Q("s7_literal_table",
      """SELECT t.code, t.label, r.r_name
        |FROM (VALUES (0,'zero'),(1,'one'),(2,'two')) t(code, label)
        |LEFT JOIN region r ON r.r_regionkey = t.code
        |ORDER BY t.code""".stripMargin) { (s, d) =>
      // S7: in-code literal table (reference tibble::tribble, R/lookup.R:4-33)
      // joined broadcast-style against a real table.
      import s.implicits._
      val lit0 = Seq((0, "zero"), (1, "one"), (2, "two")).toDF("code", "label")
      lit0.join(broadcast(region(s, d)), lit0("code") === col("r_regionkey"), "left")
        .select("code", "label", "r_name").orderBy("code")
    },

    // ---- P: projections / filters / row transforms (SURVEY §2.2) -------
    Q("p1_select",
      "SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey") { (s, d) =>
      part(s, d).select("p_partkey", "p_name", "p_retailprice").orderBy("p_partkey")
    },
    Q("p2_rename",
      "SELECT r_regionkey AS region_id, r_name AS region_name FROM region ORDER BY region_id") { (s, d) =>
      region(s, d).withColumnRenamed("r_regionkey", "region_id")
        .withColumnRenamed("r_name", "region_name").orderBy("region_id")
    },
    Q("p3_filter_in",
      """SELECT n_nationkey, n_name FROM nation
        |WHERE n_name IN ('CHINA','FRANCE','KENYA') ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      nation(s, d).filter(col("n_name").isin("CHINA", "FRANCE", "KENYA"))
        .select("n_nationkey", "n_name").orderBy("n_nationkey")
    },
    Q("p4_filter_regex",
      """SELECT p_partkey, p_name FROM part
        |WHERE regexp_matches(p_name, '^(red|blue) ') ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d).filter(col("p_name").rlike("^(red|blue) "))
        .select("p_partkey", "p_name").orderBy("p_partkey")
    },
    Q("p5_filter_bool",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
        |WHERE (l_quantity > 45 AND l_discount < 0.05) OR NOT (l_returnflag <> 'R')
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .filter((col("l_quantity") > 45 && col("l_discount") < 0.05) || !(col("l_returnflag") =!= "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    },
    Q("p6_filter_any_null",
      s"""WITH b AS ($nulledSql)
         |SELECT g, x, v FROM b WHERE g IS NULL OR x IS NULL OR v IS NULL
         |ORDER BY g, x""".stripMargin) { (s, d) =>
      // P6: filter_all(any_vars(is.na(.))) (R/prepare_scenario_data.R:238)
      val b = nulled(s, d)
      b.filter(b.columns.map(col(_).isNull).reduce(_ || _)).orderBy("g", "x")
    },
    Q("p7_filter_notnull",
      s"""WITH b AS ($nulledSql)
         |SELECT g, x, v FROM b WHERE v IS NOT NULL ORDER BY g, x""".stripMargin) { (s, d) =>
      nulled(s, d).filter(col("v").isNotNull).orderBy("g", "x")
    },
    Q("p8_derive",
      """SELECT l_orderkey, l_linenumber,
        |       l_extendedprice * (1.0 - l_discount) AS revenue,
        |       l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charged
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, revenue""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .withColumn("charged", col("revenue") * (lit(1.0) + col("l_tax")))
        .select("l_orderkey", "l_linenumber", "revenue", "charged")
        .orderBy("l_orderkey", "l_linenumber", "revenue")
    },
    Q("p9_conditional",
      """SELECT o_orderkey,
        |       CASE WHEN o_orderstatus = 'F' THEN 'done' ELSE 'open' END AS status_label
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      orders(s, d)
        .withColumn("status_label", when(col("o_orderstatus") === "F", "done").otherwise("open"))
        .select("o_orderkey", "status_label").orderBy("o_orderkey")
    },
    Q("p10_case_when",
      """SELECT c_custkey,
        |       CASE WHEN c_acctbal < 0 THEN 'debt'
        |            WHEN c_acctbal < 1000 THEN 'low'
        |            WHEN c_acctbal < 5000 THEN 'mid'
        |            ELSE 'high' END AS tier
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      // P10: case_when ladder (R/prepare_scenario_data.R:440-485)
      customer(s, d).withColumn("tier",
          when(col("c_acctbal") < 0, "debt")
            .when(col("c_acctbal") < 1000, "low")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high"))
        .select("c_custkey", "tier").orderBy("c_custkey")
    },
    Q("p11_distinct_all",
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin) { (s, d) =>
      orders(s, d).select("o_orderstatus", "o_orderpriority").distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    },
    Q("p12_dedup_keys",
      """WITH r AS (SELECT l_orderkey, l_partkey, l_linenumber, l_quantity,
        |    row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |                       ORDER BY l_linenumber, l_quantity) AS rn
        |  FROM lineitem)
        |SELECT l_orderkey, l_partkey, l_linenumber, l_quantity FROM r WHERE rn = 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin) { (s, d) =>
      // P12: dropDuplicates keeps an *arbitrary* row — at scale and for
      // reproducibility the survivor must be pinned (SURVEY §7.4 pt 4).
      // (l_orderkey, l_partkey, l_linenumber) still has dup rows in the
      // fixture, hence the l_quantity tiebreak for a total order.
      Joins.dedupKeepFirst(
          lineitem(s, d).select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"),
          Seq("l_orderkey", "l_partkey"), Seq(col("l_linenumber"), col("l_quantity")))
        .orderBy("l_orderkey", "l_partkey")
    },
    Q("p13_rowwise_sum",
      """SELECT l_orderkey, l_linenumber,
        |       l_quantity + l_discount + l_tax AS row_total
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, row_total""".stripMargin) { (s, d) =>
      // P13: horizontal sum across a column set (reference rowwise+c_across,
      // R/prepare_prewrangled_financial_data_stress_test.R:484-500) — a pure
      // expression reduce, never a UDF.
      val cols = Seq("l_quantity", "l_discount", "l_tax")
      lineitem(s, d).withColumn("row_total", cols.map(col).reduce(_ + _))
        .select("l_orderkey", "l_linenumber", "row_total")
        .orderBy("l_orderkey", "l_linenumber", "row_total")
    },
    Q("p14_recode_dict",
      """SELECT r_regionkey,
        |       CASE WHEN r_name = 'AMERICA' THEN 'AMERICAS'
        |            WHEN r_name = 'ASIA' THEN 'APAC'
        |            ELSE r_name END AS r_name
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, d) =>
      Reshape.recodeValues(region(s, d), "r_name", Map("AMERICA" -> "AMERICAS", "ASIA" -> "APAC"))
        .select("r_regionkey", "r_name").orderBy("r_regionkey")
    },
    Q("p15_count_action",
      "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem") { (s, d) =>
      lineitem(s, d).agg(count(lit(1)).as("n"))
    },
    Q("p16_cast",
      """SELECT l_orderkey, CAST(l_quantity AS INTEGER) AS qty_int,
        |       CAST(l_orderkey AS VARCHAR) AS key_str
        |FROM lineitem ORDER BY l_orderkey, qty_int""".stripMargin) { (s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity").cast("int").as("qty_int"),
          col("l_orderkey").cast("string").as("key_str"))
        .orderBy("l_orderkey", "qty_int")
    },

    // ---- J: joins (SURVEY §2.3) ----------------------------------------
    Q("j1_inner_join",
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      // J1: the one genuinely large shuffle join — sort-merge under AQE.
      lineitem(s, d).join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("o_orderstatus")
    },
    Q("j2_left_join",
      """SELECT n_nationkey, n_name, r_name
        |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      nation(s, d).join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"), "left")
        .select("n_nationkey", "n_name", "r_name").orderBy("n_nationkey")
    },
    Q("j3_right_join",
      """SELECT n_nationkey, n_name, s_suppkey, s_name
        |FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY n_nationkey, s_suppkey NULLS FIRST""".stripMargin) { (s, d) =>
      supplier(s, d).join(nation(s, d), col("s_nationkey") === col("n_nationkey"), "right")
        .select("n_nationkey", "n_name", "s_suppkey", "s_name")
        .orderBy(col("n_nationkey"), col("s_suppkey"))
    },
    Q("j4_full_outer",
      """WITH r AS (SELECT l_partkey, SUM(l_quantity) AS qty_r FROM lineitem
        |           WHERE l_returnflag = 'R' GROUP BY l_partkey),
        |     a AS (SELECT l_partkey, SUM(l_quantity) AS qty_a FROM lineitem
        |           WHERE l_returnflag = 'A' GROUP BY l_partkey)
        |SELECT COALESCE(r.l_partkey, a.l_partkey) AS l_partkey, r.qty_r, a.qty_a
        |FROM r FULL OUTER JOIN a ON r.l_partkey = a.l_partkey
        |ORDER BY l_partkey""".stripMargin) { (s, d) =>
      // J4: activities ⟗ emissions analog (R/prepare_abcd_stress_test_input.
      // R:67-80). l_quantity is integral-valued -> plain double sum is exact.
      val li = lineitem(s, d)
      val r = li.filter(col("l_returnflag") === "R").groupBy("l_partkey")
        .agg(sum("l_quantity").as("qty_r"))
      val a = li.filter(col("l_returnflag") === "A").groupBy("l_partkey")
        .agg(sum("l_quantity").as("qty_a"))
      r.join(a, Seq("l_partkey"), "outer").select("l_partkey", "qty_r", "qty_a")
        .orderBy("l_partkey")
    },
    Q("j5_union_dedup",
      """SELECT nk, seg FROM (
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg FROM customer WHERE c_acctbal > 0
        |  UNION
        |  SELECT c_nationkey AS nk, c_mktsegment AS seg FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY nk, seg""".stripMargin) { (s, d) =>
      // J5: dplyr full_join with no `by` == union+dedup (SURVEY J5).
      val c = customer(s, d)
      Joins.unionDedup(Seq(
          c.filter(col("c_acctbal") > 0).select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg")),
          c.filter(col("c_mktsegment") === "BUILDING").select(col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"))))
        .orderBy("nk", "seg")
    },
    Q("j6_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      customer(s, d).join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
    Q("j7_semi_join",
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d).join(lineitem(s, d), col("p_partkey") === col("l_partkey"), "left_semi")
        .select("p_partkey", "p_name").orderBy("p_partkey")
    },
    Q("j8_cross_join",
      """SELECT r_name, st FROM region
        |CROSS JOIN (SELECT DISTINCT o_orderstatus AS st FROM orders)
        |ORDER BY r_name, st""".stripMargin) { (s, d) =>
      region(s, d).crossJoin(orders(s, d).select(col("o_orderstatus").as("st")).distinct())
        .select("r_name", "st").orderBy("r_name", "st")
    },
    Q("j9_set_overlap",
      """WITH s AS (SELECT DISTINCT s_nationkey AS g, s_suppkey % 7 AS item FROM supplier),
        |cnt AS (SELECT g, COUNT(*) AS n FROM s GROUP BY g),
        |inter AS (SELECT a.g AS g_x, b.g AS g_y, COUNT(*) AS c
        |          FROM s a JOIN s b ON a.item = b.item AND a.g <> b.g
        |          GROUP BY a.g, b.g),
        |pairs AS (SELECT i.g_x, i.g_y, CAST(i.c AS DOUBLE) / cx.n AS overlap
        |          FROM inter i JOIN cnt cx ON i.g_x = cx.g
        |          WHERE CAST(i.c AS DOUBLE) / cx.n >= 0.5),
        |dedup AS (SELECT *, row_number() OVER (
        |            PARTITION BY LEAST(g_x,g_y), GREATEST(g_x,g_y)
        |            ORDER BY g_x, g_y) AS rn FROM pairs)
        |SELECT g_x, g_y, overlap FROM dedup WHERE rn = 1
        |ORDER BY g_x, g_y""".stripMargin) { (s, d) =>
      // J9: geography set-overlap grouping (R/rename_geographies.R:51-107):
      // items here are supplier-key buckets per nation so overlaps are
      // nontrivial. Spark path goes through collect_set + array_intersect.
      Joins.setOverlapPairs(
          supplier(s, d).select(col("s_nationkey").as("g"), (col("s_suppkey") % 7).as("item")),
          "g", "item", 0.5)
        .orderBy("g_x", "g_y")
    },
    Q("j10_closest_parent",
      """WITH e AS (SELECT DISTINCT l_partkey AS p_partkey, l_suppkey AS parent_suppkey,
        |                           l_linenumber AS lvl FROM lineitem),
        |r AS (SELECT *, rank() OVER (PARTITION BY p_partkey ORDER BY lvl) AS rk FROM e),
        |c AS (SELECT p_partkey, parent_suppkey, lvl FROM r WHERE rk = 1)
        |SELECT p.p_partkey, p.p_name, c.parent_suppkey, c.lvl, s.s_acctbal
        |FROM part p LEFT JOIN c ON p.p_partkey = c.p_partkey
        |LEFT JOIN supplier s ON c.parent_suppkey = s.s_suppkey
        |ORDER BY p.p_partkey, c.parent_suppkey NULLS FIRST""".stripMargin) { (s, d) =>
      // J10: closest-parent hierarchy join (R/prepare_prewrangled_financial_
      // data_stress_test.R:172-217) — min level per child, ties kept (rank).
      val edges = lineitem(s, d)
        .select(col("l_partkey").as("p_partkey"), col("l_suppkey").as("parent_suppkey"),
          col("l_linenumber").as("lvl")).distinct()
      val attrs = supplier(s, d).select(col("s_suppkey").as("parent_suppkey"), col("s_acctbal"))
      Joins.closestParentJoin(part(s, d).select("p_partkey", "p_name"), edges,
          "p_partkey", "parent_suppkey", "lvl", attrs)
        .select("p_partkey", "p_name", "parent_suppkey", "lvl", "s_acctbal")
        .orderBy(col("p_partkey"), col("parent_suppkey"))
    },
    Q("j11_key_rename_join",
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      // J11: join with key renaming, by = c("k1"="k2") (SURVEY J11).
      val o = orders(s, d); val c = customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_name").orderBy("o_orderkey")
    },
    Q("j12_bind_one_row",
      """SELECT n_nationkey, n_name, g.global_avg_acctbal
        |FROM nation CROSS JOIN (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(c_acctbal)
        |         AS global_avg_acctbal FROM customer) g
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      // J12: bind_cols of a 1-row global-averages frame (R/prepare_
      // prewrangled_financial_data_stress_test.R:319-322) — broadcast.
      val one = customer(s, d).agg(davg(col("c_acctbal")).as("global_avg_acctbal"))
      Joins.bindOneRow(nation(s, d), one)
        .select("n_nationkey", "n_name", "global_avg_acctbal").orderBy("n_nationkey")
    },

    Q("j13_salted_skew_join",
      """SELECT l.l_orderkey, l.l_quantity, n.n_name
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY l.l_orderkey, l.l_quantity, n.n_name""".stripMargin) { (s, d) =>
      // Scale extension: explicit salt-spread join for pathological key skew
      // (SURVEY §4.2 — the reference's `Global` geography key). The oracle
      // is the PLAIN join: salting must be row-identical to it.
      val facts = lineitem(s, d)
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("c_nationkey").as("n_nationkey"))
      Joins.saltedJoin(facts, nation(s, d).select("n_nationkey", "n_name"),
          Seq("n_nationkey"), buckets = 8)
        .select("l_orderkey", "l_quantity", "n_name")
        .orderBy("l_orderkey", "l_quantity", "n_name")
    },
    Q("j17_skew_aware_join",
      """SELECT l.l_orderkey, l.l_quantity, n.n_name
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY l.l_orderkey, l.l_quantity, n.n_name""".stripMargin) { (s, d) =>
      // Auto skew ROUTING (VERDICT r7 item 7): pf_key_skew's measurement
      // (one cheap keyed aggregate over the fact side) decides plain vs
      // salted deterministically, with bucket count scaled to the measured
      // hot key. The oracle is the PLAIN join — routing must be
      // row-identical to it on EVERY fixture; this (uniform) nation-key
      // distribution routes plain, and OpsSpec pins that the salted path
      // engages on a skewed fixture under the same equality contract.
      val facts = lineitem(s, d)
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(customer(s, d).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("c_nationkey").as("n_nationkey"))
      Joins.skewAwareJoin(facts, nation(s, d).select("n_nationkey", "n_name"),
          Seq("n_nationkey"))
        .select("l_orderkey", "l_quantity", "n_name")
        .orderBy("l_orderkey", "l_quantity", "n_name")
    },
    Q("j14_asof_join",
      """SELECT l.event_id, l.user_id, l.ts, r.ts AS click_ts, r.value AS click_value
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN
        |     (SELECT user_id, ts, value FROM events WHERE event_type = 'click') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin) { (s, d) =>
      // Scale extension: backward as-of join — each purchase gets the
      // user's most recent click at-or-before it. The Spark side is the
      // union+window formulation (one shuffle over |L|+|R|); the oracle is
      // DuckDB's native ASOF JOIN, so the semantics (inclusive bound,
      // left-join nulls) are checked against an independent implementation.
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      Joins.asofJoin(purchases, clicks, Seq("user_id"),
          leftTime = "ts", rightTime = "click_ts",
          rightVals = Seq("click_ts", "click_value"))
        .orderBy("event_id")
    },
    Q("j20_asof_tolerance",
      """WITH a AS (
        |  SELECT l.event_id, l.user_id, l.ts, r.ts AS click_ts, r.value AS click_value
        |  FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') l
        |  ASOF LEFT JOIN
        |       (SELECT user_id, ts, value FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN click_ts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
        |    THEN click_ts END AS click_ts,
        |  CASE WHEN click_ts IS NOT NULL
        |        AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
        |    THEN click_value END AS click_value
        |FROM a ORDER BY event_id""".stripMargin) { (s, d) =>
      // J20 (beyond-reference): as-of join with a MATCH TOLERANCE — each
      // purchase takes the user's most recent click ONLY if it is at most
      // one hour old; a staler match degrades to the no-match nulls
      // without dropping the row (the financial-join guard: last week's
      // quote is worse than no quote). Same one-shuffle union+window plan
      // as J14 plus one post-filter expression; the oracle is DuckDB's
      // native ASOF JOIN with the same integer-microsecond gap guard.
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
      Joins.asofJoinWithin(purchases, clicks, Seq("user_id"),
          leftTime = "ts", rightTime = "click_ts",
          rightVals = Seq("click_value"), toleranceMicros = 3600L * 1000000L)
        .orderBy("event_id")
    },
    Q("j21_nullsafe_join",
      """WITH a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS qty_sum
        |  FROM (SELECT CASE WHEN l_partkey % 7 = 0 THEN NULL
        |                    ELSE l_partkey % 50 END AS k, l_quantity
        |        FROM lineitem) GROUP BY k),
        |b AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM (SELECT CASE WHEN o_custkey % 11 = 0 THEN NULL
        |                    ELSE o_custkey % 50 END AS k FROM orders) GROUP BY k)
        |SELECT a.k, a.n_items, a.qty_sum, b.n_orders
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY a.k NULLS FIRST""".stripMargin) { (s, d) =>
      // J21: NULL-SAFE equi-join — R-parity the standard SQL join gets
      // WRONG: dplyr's joins match NA keys to NA keys by default
      // (na_matches = "na"), so a reference pipeline joining on a
      // column with missing codes keeps the missing-key group; plain
      // `=` silently drops it. Spark's `<=>` (IS NOT DISTINCT FROM)
      // states the same semantics declaratively and stays a hash
      // equi-join — no plan penalty, same shuffle-on-key shape as J1
      // (the null key hashes like any value). The fixture plants a
      // null key on BOTH sides (every 7th part / 11th customer), so
      // the null-matches-null row exists non-vacuously.
      val a = lineitem(s, d)
        .select(when(col("l_partkey") % 7 === 0, lit(null))
          .otherwise(col("l_partkey") % 50).as("k"), col("l_quantity"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("qty_sum"))
      val b = orders(s, d)
        .select(when(col("o_custkey") % 11 === 0, lit(null))
          .otherwise(col("o_custkey") % 50).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n_orders"))
      a.as("a").join(b.as("b"), col("a.k") <=> col("b.k"))
        .select(col("a.k").as("k"), col("n_items"), col("qty_sum"), col("n_orders"))
        .orderBy(col("k").asc_nulls_first)
    },
    Q("j15_range_join",
      """SELECT p.p_partkey, p.p_retailprice, b.band_brand, b.lo, b.hi
        |FROM part p
        |JOIN (SELECT p_brand AS band_brand,
        |             MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi
        |      FROM part GROUP BY p_brand) b
        |  ON p.p_retailprice BETWEEN b.lo AND b.hi
        |ORDER BY p.p_partkey, b.band_brand""".stripMargin) { (s, d) =>
      // Scale extension: unkeyed interval-containment join. Spark would
      // plan the bare BETWEEN predicate as a nested-loop; rangeJoin's
      // bucket explosion turns it into an equi-join (J15). The oracle is
      // DuckDB's inequality join over the same bands.
      val bands = part(s, d).groupBy(col("p_brand").as("band_brand"))
        .agg(min(col("p_retailprice")).as("lo"), max(col("p_retailprice")).as("hi"))
      Joins.rangeJoin(part(s, d).select("p_partkey", "p_retailprice"), "p_retailprice",
          bands, "lo", "hi", bucketSize = 10.0)
        .select("p_partkey", "p_retailprice", "band_brand", "lo", "hi")
        .orderBy("p_partkey", "band_brand")
    },
    Q("pf_profile",
      s"""WITH base AS ($nulledSql),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(g) AS BIGINT) AS nn_g, CAST(COUNT(DISTINCT g) AS BIGINT) AS nd_g,
        |    CAST(MIN(g) AS DOUBLE) AS min_g, CAST(MAX(g) AS DOUBLE) AS max_g,
        |    CAST(SUM(CAST(g AS DECIMAL(30,6))) AS DOUBLE) AS sum_g,
        |  CAST(COUNT(v) AS BIGINT) AS nn_v, CAST(COUNT(DISTINCT v) AS BIGINT) AS nd_v,
        |    CAST(MIN(v) AS DOUBLE) AS min_v, CAST(MAX(v) AS DOUBLE) AS max_v,
        |    CAST(SUM(CAST(v AS DECIMAL(30,6))) AS DOUBLE) AS sum_v
        |  FROM base)
        |SELECT 'g' AS "column", n AS n_rows, n - nn_g AS n_nulls, nd_g AS n_distinct,
        |       min_g AS min_v, max_g AS max_v, sum_g AS sum_v, sum_g / nn_g AS mean_v FROM m
        |UNION ALL
        |SELECT 'v', n, n - nn_v, nd_v, min_v, max_v, sum_v, sum_v / nn_v FROM m
        |ORDER BY "column"""".stripMargin) { (s, d) =>
      // §2.11 profiling: exact one-pass numeric column profile (the corpus
      // QA op). The approx/sketch tier is pinned against this in
      // ProfileSpec — sketches have no cross-engine oracle.
      graft.operators.Profile.numericProfile(nulled(s, d), Seq("g", "v"))
    },
    Q("pf_profile_str",
      """WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(o_orderstatus) AS BIGINT) AS nn_s,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd_s,
        |    CAST(COALESCE(SUM(CASE WHEN o_orderstatus = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS ne_s,
        |    CAST(MIN(LENGTH(o_orderstatus)) AS INTEGER) AS minl_s,
        |    CAST(MAX(LENGTH(o_orderstatus)) AS INTEGER) AS maxl_s,
        |    CAST(SUM(LENGTH(o_orderstatus)) AS BIGINT) AS suml_s,
        |  CAST(COUNT(o_orderpriority) AS BIGINT) AS nn_p,
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd_p,
        |    CAST(COALESCE(SUM(CASE WHEN o_orderpriority = '' THEN 1 ELSE 0 END), 0) AS BIGINT) AS ne_p,
        |    CAST(MIN(LENGTH(o_orderpriority)) AS INTEGER) AS minl_p,
        |    CAST(MAX(LENGTH(o_orderpriority)) AS INTEGER) AS maxl_p,
        |    CAST(SUM(LENGTH(o_orderpriority)) AS BIGINT) AS suml_p
        |  FROM orders)
        |SELECT 'o_orderpriority' AS "column", n AS n_rows, n - nn_p AS n_nulls,
        |       nd_p AS n_distinct, ne_p AS n_empty, minl_p AS min_len, maxl_p AS max_len,
        |       CAST(suml_p AS DOUBLE) / nn_p AS avg_len FROM m
        |UNION ALL
        |SELECT 'o_orderstatus', n, n - nn_s, nd_s, ne_s, minl_s, maxl_s,
        |       CAST(suml_s AS DOUBLE) / nn_s FROM m
        |ORDER BY "column"""".stripMargin) { (s, d) =>
      // §2.11 profiling, string tier: null/empty/distinct/length stats in
      // the same one-aggregate shape as pf_profile.
      graft.operators.Profile.stringProfile(
        orders(s, d).select("o_orderstatus", "o_orderpriority"),
        Seq("o_orderstatus", "o_orderpriority"))
    },
    Q("pf_key_skew",
      """WITH c AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total,
        |             CAST(COUNT(*) AS DOUBLE) AS n_keys FROM c)
        |SELECT c.l_suppkey, c.cnt, c.cnt / t.total AS share,
        |       c.cnt * t.n_keys / t.total AS x_mean
        |FROM c, t ORDER BY c.cnt DESC, c.l_suppkey LIMIT 20""".stripMargin) { (s, d) =>
      // §2.11 ops diagnostic: hottest join/agg keys with share and
      // multiple-of-mean load — the decision input for AQE skew handling
      // vs an explicit salted join (J13). TakeOrdered top-N: no global
      // sort, no window, bounded output at any key cardinality.
      graft.operators.Profile.keySkew(
        lineitem(s, d).select("l_suppkey"), Seq("l_suppkey"), topN = 20)
    },

    // ---- A: aggregations (SURVEY §2.4) ---------------------------------
    Q("a1_grouped_sum",
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      lineitem(s, d).groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Q("a2_grouped_mean",
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(c_acctbal) AS avg_acctbal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      // A2: regional->global mean (R/prepare_price_data_long.R:78-92).
      customer(s, d).groupBy("c_mktsegment").agg(davg(col("c_acctbal")).as("avg_acctbal"))
        .orderBy("c_mktsegment")
    },
    Q("a3_grouped_median",
      """WITH r AS (SELECT c_nationkey, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM customer)
        |SELECT c_nationkey,
        |       SUM(CASE WHEN rn = (n+1)//2 OR rn = (n+2)//2 THEN c_acctbal END) /
        |       COUNT(CASE WHEN rn = (n+1)//2 OR rn = (n+2)//2 THEN 1 END) AS median_acctbal
        |FROM r GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      // A3: exact median, R stats::median semantics (R/prepare_prewrangled_
      // financial_data_stress_test.R:61-108). Spelled as mean-of-middle-two
      // on both sides: fp addition of <=2 values is commutative, so this is
      // engine-order-proof where percentile interpolation formulas may
      // differ in the last ulp. Library API: graft.ops.Aggregates.median.
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal"), col("c_custkey"))
      val wn = Window.partitionBy(col("c_nationkey"))
      customer(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("mid", when(col("rn") === floor((col("n") + 1) / 2) ||
          col("rn") === floor((col("n") + 2) / 2), col("c_acctbal")))
        .groupBy("c_nationkey")
        .agg((sum(col("mid")) / count(col("mid"))).as("median_acctbal"))
        .orderBy("c_nationkey")
    },
    Q("a4_group_size_ratio",
      """WITH g AS (SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM customer GROUP BY c_mktsegment, c_nationkey)
        |SELECT c_mktsegment, c_nationkey, n,
        |       CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY c_mktsegment) AS ratio
        |FROM g ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
      // A4: subgroup/sample-size ratio gating (R/prepare_prewrangled_
      // financial_data_stress_test.R:66-91). Integer window sum is exact.
      val g = customer(s, d).groupBy("c_mktsegment", "c_nationkey").agg(count(lit(1)).as("n"))
      g.withColumn("ratio",
          col("n").cast("double") / sum(col("n")).over(Window.partitionBy(col("c_mktsegment"))))
        .orderBy("c_mktsegment", "c_nationkey")
    },
    Q("a5_multi_col_agg",
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS l_quantity,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS l_extendedprice,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) AS l_discount,
        |  CAST(SUM(CAST(l_tax AS DECIMAL(30,6))) AS DOUBLE) AS l_tax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      // A5: summarise(across(dynamic column set)) (R/prepare_prewrangled_
      // capacity_factors.R:56-66) — the measure list is data-driven.
      val li = lineitem(s, d)
      val measures = li.schema.fields
        .filter(f => f.dataType.typeName == "double").map(_.name).toSeq
      li.groupBy("l_returnflag")
        .agg(dsum(col(measures.head)).as(measures.head),
          measures.tail.map(c => dsum(col(c)).as(c)): _*)
        .orderBy("l_returnflag")
    },
    Q("a6_sum_or_all_null",
      s"""WITH b AS ($nulledSql)
         |SELECT g, CASE WHEN COUNT(v) = 0 THEN NULL ELSE SUM(v) END AS v_sum
         |FROM b GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
      // A6: sum-or-all-NA (R/prepare_abcd_stress_test_input.R:1-14).
      nulled(s, d).groupBy("g").agg(Aggregates.sumOrAllNull(col("v")).as("v_sum")).orderBy("g")
    },
    Q("a7_all_null_or_zero",
      s"""WITH b AS ($nulledSql)
         |SELECT g, (COUNT(v) = 0 OR SUM(v) = 0) AS is_empty
         |FROM b GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
      nulled(s, d).groupBy("g").agg(Aggregates.allNullOrZero(col("v")).as("is_empty")).orderBy("g")
    },
    Q("a8_first_non_null",
      s"""WITH b AS ($nulledSql),
         |a AS (SELECT g, MIN(CASE WHEN v IS NOT NULL THEN x END) AS first_obs_x,
         |             MAX(CASE WHEN v IS NOT NULL THEN x END) AS last_obs_x
         |      FROM b GROUP BY g)
         |SELECT a.g, a.first_obs_x, a.last_obs_x, b.v AS first_val
         |FROM a LEFT JOIN b ON a.g = b.g AND a.first_obs_x = b.x
         |ORDER BY a.g""".stripMargin) { (s, d) =>
      // A8: first(value[!is.na(value)]) / max(year[!is.na(value)])
      // (R/prepare_prewrangled_capacity_factors.R:869-873) — done via
      // min/max-of-observed-x + join-back, which is deterministic where
      // agg first() is not.
      val b = nulled(s, d)
      val a = b.groupBy("g").agg(
        min(when(col("v").isNotNull, col("x"))).as("first_obs_x"),
        max(when(col("v").isNotNull, col("x"))).as("last_obs_x"))
      val bb = b.select(col("g").as("g2"), col("x").as("x2"), col("v").as("first_val"))
      a.join(bb, a("g") === bb("g2") && a("first_obs_x") === bb("x2"), "left")
        .select(a("g"), col("first_obs_x"), col("last_obs_x"), col("first_val"))
        .orderBy("g")
    },
    Q("a9_pivot_count",
      s"""SELECT c_nationkey,
         |  CAST(COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS BIGINT) AS "AUTOMOBILE",
         |  CAST(COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS BIGINT) AS "BUILDING",
         |  CAST(COUNT(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS BIGINT) AS "FURNITURE",
         |  CAST(COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS BIGINT) AS "HOUSEHOLD",
         |  CAST(COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS BIGINT) AS "MACHINERY"
         |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      // A9: dummy-encode + grouped count == pivot-count (R/prepare_
      // prewrangled_financial_data_stress_test.R:144-161). Labels pinned so
      // the plan is static (no label-discovery job at scale).
      val p = customer(s, d).groupBy("c_nationkey").pivot("c_mktsegment", segs).count()
      p.select(col("c_nationkey") +: segs.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy("c_nationkey")
    },
    Q("a10_null_profile",
      s"""WITH b AS ($nulledSql)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |       CAST(SUM(CASE WHEN g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS na_g,
         |       CAST(SUM(CASE WHEN x IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS na_x,
         |       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS na_v
         |FROM b""".stripMargin) { (s, d) =>
      Aggregates.nullProfile(nulled(s, d))
    },
    Q("a11_duplicate_keys",
      """SELECT l_orderkey, l_partkey, CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM lineitem GROUP BY l_orderkey, l_partkey HAVING COUNT(*) > 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin) { (s, d) =>
      Aggregates.duplicateKeys(lineitem(s, d), Seq("l_orderkey", "l_partkey"))
        .orderBy("l_orderkey", "l_partkey")
    },
    Q("a12_missing_combos",
      """SELECT nk.c_nationkey, sg.c_mktsegment
        |FROM (SELECT DISTINCT c_nationkey FROM customer) nk
        |CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer) sg
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_nationkey = nk.c_nationkey AND c.c_mktsegment = sg.c_mktsegment)
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, d) =>
      // A12: tidyr::expand + anti_join missing-combination probe
      // (R/helpers.R:68-84).
      Aggregates.missingCombos(customer(s, d), Seq("c_nationkey", "c_mktsegment"))
        .orderBy("c_nationkey", "c_mktsegment")
    },

    // ---- W: window / ordered-group (SURVEY §2.5) -----------------------
    Q("w1_first_in_group",
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  first_value(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS base_price,
        |  (o_totalprice - first_value(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) /
        |   NULLIF(first_value(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS tmsr
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      // W1: TMSR base-year ratio (R/prepare_scenario_data.R:22-29).
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val base = first(col("o_totalprice")).over(w)
      orders(s, d)
        .withColumn("base_price", base)
        .withColumn("tmsr",
          when(base =!= 0, (col("o_totalprice") - base) / base))
        .select("o_custkey", "o_orderkey", "o_totalprice", "base_price", "tmsr")
        .orderBy("o_custkey", "o_orderkey")
    },
    Q("w2_group_share",
      """WITH nt AS (SELECT c_nationkey,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS nation_total
        |  FROM customer GROUP BY c_nationkey),
        |j AS (SELECT n.n_nationkey, n.n_regionkey, nt.nation_total
        |      FROM nation n JOIN nt ON n.n_nationkey = nt.c_nationkey)
        |SELECT n_nationkey, nation_total,
        |  nation_total / NULLIF(CAST(SUM(CAST(nation_total AS DECIMAL(30,6)))
        |    OVER (PARTITION BY n_regionkey) AS DOUBLE), 0) AS region_share
        |FROM j ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      // W2: group total as analytic column, SMSP-style share
      // (R/prepare_scenario_data.R:31-44).
      val nt = customer(s, d).groupBy("c_nationkey").agg(dsum(col("c_acctbal")).as("nation_total"))
      val j = nation(s, d).join(nt, col("n_nationkey") === col("c_nationkey"))
      val regionTotal = dsumOver(col("nation_total"), Window.partitionBy(col("n_regionkey")))
      j.withColumn("region_share",
          when(regionTotal =!= 0, col("nation_total") / regionTotal))
        .select("n_nationkey", "nation_total", "region_share").orderBy("n_nationkey")
    },
    Q("w3_fill_down",
      s"""WITH b AS ($nulledSql)
         |SELECT g, x, v,
         |  COALESCE(v, last_value(v IGNORE NULLS) OVER (PARTITION BY g ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS v_filled
         |FROM b ORDER BY g, x""".stripMargin) { (s, d) =>
      TimeSeries.fillDown(nulled(s, d), Seq("g"), "x", "v", "v_filled").orderBy("g", "x")
    },
    Q("w4_na_approx",
      s"""WITH b AS ($nulledSql),
         |w AS (SELECT g, x, v,
         |  last_value(CASE WHEN v IS NOT NULL THEN CAST(x AS DOUBLE) END IGNORE NULLS)
         |    OVER (PARTITION BY g ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
         |  last_value(v IGNORE NULLS)
         |    OVER (PARTITION BY g ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         |  first_value(CASE WHEN v IS NOT NULL THEN CAST(x AS DOUBLE) END IGNORE NULLS)
         |    OVER (PARTITION BY g ORDER BY x ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx,
         |  first_value(v IGNORE NULLS)
         |    OVER (PARTITION BY g ORDER BY x ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
         |  FROM b)
         |SELECT g, x, v,
         |  COALESCE(v, CASE WHEN px IS NOT NULL AND nx IS NOT NULL AND nx <> px
         |    THEN pv + (nv - pv) * (CAST(x AS DOUBLE) - px) / (nx - px) END) AS v_interp
         |FROM w ORDER BY g, x""".stripMargin) { (s, d) =>
      // W4: zoo::na.approx — THE load-bearing custom operator (SURVEY §7.4).
      TimeSeries.naApprox(nulled(s, d), Seq("g"), "x", "v", "v_interp").orderBy("g", "x")
    },
    Q("w5_row_number_id",
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_custkey AS VARCHAR) || '_' || CAST(row_number() OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS VARCHAR) AS asset_id
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      // W5: synthesized asset_id (R/prepare_abcd_stress_test_input.R:309-320)
      // with a pinned deterministic order (SURVEY §7.4 pt 4).
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .withColumn("asset_id",
          concat_ws("_", col("o_custkey").cast("string"), row_number().over(w).cast("string")))
        .select("o_custkey", "o_orderkey", "asset_id").orderBy("o_custkey", "o_orderkey")
    },
    Q("w6_slice_min_ties",
      """WITH r AS (SELECT p_brand, p_partkey, p_retailprice,
        |    rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS rk FROM part)
        |SELECT p_brand, p_partkey, p_retailprice FROM r WHERE rk = 1
        |ORDER BY p_brand, p_partkey""".stripMargin) { (s, d) =>
      // W6: slice_min keeps ties -> rank, not row_number (SURVEY W6).
      val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
      part(s, d).withColumn("rk", rank().over(w)).filter(col("rk") === 1)
        .select("p_brand", "p_partkey", "p_retailprice").orderBy("p_brand", "p_partkey")
    },
    Q("w7_group_max_ratio",
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  l_quantity / MAX(l_quantity) OVER (PARTITION BY l_orderkey) AS qty_ratio
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin) { (s, d) =>
      // W7: capacity = max production per asset (run_workflow.R:149-158).
      lineitem(s, d)
        .withColumn("qty_ratio",
          col("l_quantity") / max(col("l_quantity")).over(Window.partitionBy(col("l_orderkey"))))
        .select("l_orderkey", "l_linenumber", "l_quantity", "qty_ratio")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    },
    Q("w8_zero_after_last",
      s"""WITH b AS ($nulledSql),
         |m AS (SELECT g, x, v, MAX(CASE WHEN v IS NOT NULL THEN x END)
         |        OVER (PARTITION BY g) AS lx FROM b)
         |SELECT g, x, v,
         |  CASE WHEN v IS NULL AND (lx IS NULL OR x > lx) THEN 0.0 ELSE v END AS v_zeroed
         |FROM m ORDER BY g, x""".stripMargin) { (s, d) =>
      // W8: trailing NA -> 0 after last observation
      // (R/prepare_scenario_data.R:977-995).
      TimeSeries.zeroAfterLastObs(nulled(s, d), Seq("g"), "x", "v", "v_zeroed").orderBy("g", "x")
    },
    Q("w9_ols_extrapolate",
      """WITH b AS (SELECT event_type, CAST(day(ts) AS INTEGER) AS x, value FROM events),
        |f AS (SELECT event_type,
        |  CAST(COUNT(value) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sy,
        |  CAST(SUM(CAST(CAST(x AS DOUBLE) * value AS DECIMAL(30,6))) AS DOUBLE) AS sxy,
        |  CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(30,6))) AS DOUBLE) AS sxx
        |  FROM b WHERE x BETWEEN 1 AND 31 AND value IS NOT NULL GROUP BY event_type)
        |SELECT event_type,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
        |FROM f ORDER BY event_type""".stripMargin) { (s, d) =>
      // W9: per-group lm(y ~ x) closed form (R/prepare_price_data_long.R:
      // 725-734) — decimal-exact sums make the fit order-independent.
      Regression.olsFit(
          events(s, d).withColumn("x", dayofmonth(col("ts"))),
          Seq("event_type"), "x", "value", 1, 31)
        .orderBy("event_type")
    },
    Q("w10_lag_lead",
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |  lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      orders(s, d)
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .select("o_custkey", "o_orderkey", "o_totalprice", "prev_price", "next_price")
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- O: sorts / limits / top-k (SURVEY §2.6) -----------------------
    Q("o1_multi_sort",
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_returnflag, l_orderkey, l_linenumber, l_quantity""".stripMargin) { (s, d) =>
      lineitem(s, d).select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
    },
    Q("o2_grouped_sort",
      s"""WITH b AS ($nulledSql)
         |SELECT g, x, v,
         |  CAST(SUM(CAST(v AS DECIMAL(30,6))) OVER (PARTITION BY g ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_v
         |FROM b ORDER BY g, x""".stripMargin) { (s, d) =>
      // O2: grouped sort (reference arrange(year, .by_group=TRUE),
      // R/prepare_scenario_data.R:26) — order is semantic only inside the
      // group frame, so it compiles to a window sort, not a global sort;
      // shown here driving a running total.
      val w = Window.partitionBy("g").orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nulled(s, d).withColumn("running_v", dsumOver(col("v"), w)).orderBy("g", "x")
    },
    Q("o3_top_k_ties",
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rk
        |  FROM orders)
        |SELECT o_orderpriority, o_orderkey, o_totalprice FROM r WHERE rk <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice").desc)
      orders(s, d).withColumn("rk", rank().over(w)).filter(col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
    },
    Q("o4_limit",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      // O4: limit over a total order (ties broken by key -> deterministic).
      orders(s, d).select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    },

    // ---- U: set operations (SURVEY §2.7) -------------------------------
    Q("u1_union_by_name",
      """SELECT id, price, bal FROM (
        |  SELECT o_orderkey AS id, o_totalprice AS price, NULL::DOUBLE AS bal FROM orders
        |  UNION ALL
        |  SELECT c_custkey AS id, NULL::DOUBLE AS price, c_acctbal AS bal FROM customer)
        |ORDER BY id, price NULLS FIRST, bal NULLS FIRST""".stripMargin) { (s, d) =>
      // U1: bind_rows fills unmatched columns with NA (SURVEY U1).
      orders(s, d).select(col("o_orderkey").as("id"), col("o_totalprice").as("price"))
        .unionByName(
          customer(s, d).select(col("c_custkey").as("id"), col("c_acctbal").as("bal")),
          allowMissingColumns = true)
        .orderBy("id", "price", "bal")
    },
    Q("u3_except",
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
        |ORDER BY custkey""".stripMargin) { (s, d) =>
      orders(s, d).select(col("o_custkey").as("custkey"))
        .except(customer(s, d).filter(col("c_acctbal") > 0).select(col("c_custkey").as("custkey")))
        .orderBy("custkey")
    },
    Q("u4_intersect",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    },
    Q("u5_relabel_slice",
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT o_orderstatus FROM orders
        |  UNION ALL
        |  SELECT 'PENDING_COPY' AS o_orderstatus FROM orders WHERE o_orderstatus = 'P')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      // U5: duplicate-slice-under-new-label (R/prepare_prewrangled_
      // capacity_factors.R:225-237, SDS cloned as NZE2050).
      Reshape.fanOut(orders(s, d).select("o_orderstatus"),
          "o_orderstatus", Map("P" -> Seq("P", "PENDING_COPY")))
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n")).orderBy("o_orderstatus")
    },

    // ---- R: reshaping (SURVEY §2.8) ------------------------------------
    Q("r1_unpivot",
      """WITH wide AS (SELECT c_nationkey,
        |    CAST(COUNT(CASE WHEN c_mktsegment='AUTOMOBILE' THEN 1 END) AS BIGINT) AS "AUTOMOBILE",
        |    CAST(COUNT(CASE WHEN c_mktsegment='BUILDING' THEN 1 END) AS BIGINT) AS "BUILDING",
        |    CAST(COUNT(CASE WHEN c_mktsegment='FURNITURE' THEN 1 END) AS BIGINT) AS "FURNITURE",
        |    CAST(COUNT(CASE WHEN c_mktsegment='HOUSEHOLD' THEN 1 END) AS BIGINT) AS "HOUSEHOLD",
        |    CAST(COUNT(CASE WHEN c_mktsegment='MACHINERY' THEN 1 END) AS BIGINT) AS "MACHINERY"
        |  FROM customer GROUP BY c_nationkey)
        |SELECT c_nationkey, segment, n FROM wide
        |UNPIVOT (n FOR segment IN ("AUTOMOBILE","BUILDING","FURNITURE","HOUSEHOLD","MACHINERY"))
        |ORDER BY c_nationkey, segment""".stripMargin) { (s, d) =>
      // R1: unpivot wide -> long (R/prepare_abcd_stress_test_input.R:17-32).
      val wide = customer(s, d).groupBy("c_nationkey").pivot("c_mktsegment", segs).count()
      val filled = wide.select(col("c_nationkey") +: segs.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      filled.unpivot(Array(col("c_nationkey")), segs.map(col).toArray, "segment", "n")
        .orderBy("c_nationkey", "segment")
    },
    Q("r2_pivot_wide",
      """WITH l AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(c_acctbal) AS v
        |  FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT c_nationkey,
        |  MAX(CASE WHEN c_mktsegment='AUTOMOBILE' THEN v END) AS "AUTOMOBILE",
        |  MAX(CASE WHEN c_mktsegment='BUILDING' THEN v END) AS "BUILDING",
        |  MAX(CASE WHEN c_mktsegment='FURNITURE' THEN v END) AS "FURNITURE",
        |  MAX(CASE WHEN c_mktsegment='HOUSEHOLD' THEN v END) AS "HOUSEHOLD",
        |  MAX(CASE WHEN c_mktsegment='MACHINERY' THEN v END) AS "MACHINERY"
        |FROM l GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      // R2: pivot_wider with first-per-cell (R/prepare_prewrangled_capacity_
      // factors.R:450-464): aggregate long first, then a static-label pivot.
      val l = customer(s, d).groupBy("c_nationkey", "c_mktsegment")
        .agg(davg(col("c_acctbal")).as("v"))
      Reshape.pivotWide(l, Seq("c_nationkey"), "c_mktsegment", col("v"), segs)
        .orderBy("c_nationkey")
    },
    Q("r3_choose_best_value",
      """WITH sa AS (SELECT c_mktsegment,
        |    CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
        |  FROM customer GROUP BY c_mktsegment)
        |SELECT c_custkey,
        |  COALESCE(CASE WHEN c_acctbal > 0 THEN c_acctbal END, sa.avg_bal) AS final_bal,
        |  CASE WHEN c_acctbal > 0 THEN 'eikon' ELSE 'segment_avg' END AS provenance
        |FROM customer JOIN sa ON customer.c_mktsegment = sa.c_mktsegment
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      // R3: the reference pivots eikon/avg columns long, picks the best,
      // and pivots back (R/prepare_prewrangled_financial_data_stress_test.
      // R:348-441, 94 LoC); in Spark the same result is one coalesce plus
      // a provenance label — no reshape, no shuffle beyond the tiny
      // broadcast of the averages.
      val c = customer(s, d)
      val segAvg = c.groupBy("c_mktsegment").agg(davg(col("c_acctbal")).as("avg_bal"))
      val eikon = when(col("c_acctbal") > 0, col("c_acctbal"))
      c.join(broadcast(segAvg), "c_mktsegment")
        .withColumn("final_bal", coalesce(eikon, col("avg_bal")))
        .withColumn("provenance", when(eikon.isNotNull, "eikon").otherwise("segment_avg"))
        .select("c_custkey", "final_bal", "provenance")
        .orderBy("c_custkey")
    },
    Q("r4_complete_grid",
      """SELECT k.g AS g, CAST(gs.x AS INTEGER) AS x, b.v AS v
        |FROM (SELECT DISTINCT g FROM (SELECT g, x,
        |        CASE WHEN pk % 3 = 0 THEN NULL ELSE q END AS v
        |      FROM (SELECT l_orderkey AS g, l_linenumber AS x,
        |            MAX(l_quantity) AS q, MAX(l_partkey) AS pk
        |            FROM lineitem GROUP BY l_orderkey, l_linenumber))) k
        |CROSS JOIN generate_series(1, 7) gs(x)
        |LEFT JOIN (SELECT g, x, CASE WHEN pk % 3 = 0 THEN NULL ELSE q END AS v
        |      FROM (SELECT l_orderkey AS g, l_linenumber AS x,
        |            MAX(l_quantity) AS q, MAX(l_partkey) AS pk
        |            FROM lineitem GROUP BY l_orderkey, l_linenumber)) b
        |  ON b.g = k.g AND b.x = CAST(gs.x AS INTEGER)
        |ORDER BY k.g, CAST(gs.x AS INTEGER)""".stripMargin) { (s, d) =>
      // R4: tidyr::complete year grid (R/prepare_abcd_stress_test_input.R:
      // 95-106) — distinct keys x sequence, left join back. Runs on the
      // unique-keyed nulled base so completed rows are well-defined.
      TimeSeries.completeGrid(nulled(s, d), Seq("g"), "x", 1, 7)
        .orderBy("g", "x")
    },
    Q("r5_year_expand",
      s"""WITH b AS ($nulledSql),
         |mm AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM b),
         |k AS (SELECT DISTINCT g FROM b),
         |grid AS (SELECT k.g AS g,
         |         CAST(unnest(generate_series(mm.lo, mm.hi)) AS INTEGER) AS x
         |         FROM k, mm)
         |SELECT grid.g AS g, grid.x AS x, b.v AS v
         |FROM grid LEFT JOIN b ON b.g = grid.g AND b.x = grid.x
         |ORDER BY g, x""".stripMargin) { (s, d) =>
      // R5: hand-rolled year-appending loops (reference add_years,
      // R/prepare_prewrangled_capacity_factors.R:779-808) — the quadratic
      // rbind becomes distinct keys x global [min,max] sequence + one grid
      // join; the range is a lazy 1-row broadcast, no driver collect.
      TimeSeries.completeGridGlobalRange(nulled(s, d), Seq("g"), "x").orderBy("g", "x")
    },
    Q("r10_cross_grid",
      """WITH b AS (SELECT l_returnflag AS f, l_linestatus AS st,
        |  CAST(l_linenumber AS INTEGER) AS x,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS v
        |  FROM lineitem GROUP BY 1, 2, 3),
        |g AS (SELECT ff.f, ss.st, CAST(gs.x AS INTEGER) AS x
        |      FROM (SELECT DISTINCT f FROM b) ff
        |      CROSS JOIN (SELECT DISTINCT st FROM b) ss
        |      CROSS JOIN generate_series(1, 7) gs(x))
        |SELECT g.f AS l_returnflag, g.st AS l_linestatus, g.x AS l_linenumber, b.v AS v
        |FROM g LEFT JOIN b ON b.f = g.f AND b.st = g.st AND b.x = g.x
        |ORDER BY 1, 2, 3""".stripMargin) { (s, d) =>
      // R10 (scale extension): tidyr::complete(a, b, x = lo:hi) — CROSS of
      // the per-key distinct sets × the axis, not just observed combos
      // (reference steel grid, R/prepare_scenario_data.R:949-955). Combos
      // never observed together materialize with null values.
      val base = lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          col("l_linenumber").cast("int").as("l_linenumber"))
        .agg(dsum(col("l_quantity")).as("v"))
      TimeSeries.completeCross(base, Seq("l_returnflag", "l_linestatus"), "l_linenumber", 1, 7)
        .orderBy("l_returnflag", "l_linestatus", "l_linenumber")
    },
    Q("w11_anchor_backfill",
      s"""WITH b AS ($nulledSql),
         |a AS (SELECT g, v AS av FROM b WHERE x = 4)
         |SELECT b.g AS g, b.x AS x, b.v AS v,
         |  CASE WHEN b.v IS NULL AND a.av IS NOT NULL THEN a.av ELSE b.v END AS v_filled
         |FROM b LEFT JOIN a ON a.g = b.g
         |ORDER BY g, x""".stripMargin) { (s, d) =>
      // W11 (scale extension): anchor-year backfill — nulls take the
      // group's value at a pinned axis point (reference steel DRI-BOF 2026
      // anchor, R/prepare_scenario_data.R:1010-1022). The anchor is a
      // 1-row-per-group lookup, broadcast onto the facts.
      val base = nulled(s, d)
      val anchor = base.filter(col("x") === 4).select(col("g"), col("v").as("__av"))
      base.join(broadcast(anchor), Seq("g"), "left")
        .withColumn("v_filled",
          when(col("v").isNull && col("__av").isNotNull, col("__av")).otherwise(col("v")))
        .drop("__av")
        .orderBy("g", "x")
    },
    Q("r6_concat_cols",
      """SELECT p_partkey, p_brand || '_' || p_type AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      // R6: tidyr::unite (R/prepare_prewrangled_capacity_factors.R:490-493).
      part(s, d).withColumn("brand_type", concat_ws("_", col("p_brand"), col("p_type")))
        .select("p_partkey", "brand_type").orderBy("p_partkey")
    },
    Q("r7_split_col",
      """SELECT p_partkey, split_part(p_name, ' ', 1) AS adjective,
        |       split_part(p_name, ' ', 2) AS noun
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      // R7: tidyr::separate (R/prepare_scenario_data.R:842-843).
      val parts = split(col("p_name"), " ")
      part(s, d)
        .withColumn("adjective", parts.getItem(0)).withColumn("noun", parts.getItem(1))
        .select("p_partkey", "adjective", "noun").orderBy("p_partkey")
    },
    Q("r8_explode",
      """SELECT DISTINCT c_nationkey, c_mktsegment AS segment FROM customer
        |ORDER BY c_nationkey, segment""".stripMargin) { (s, d) =>
      // R8: collect to list-column then unnest/explode round-trip
      // (R/rename_geographies.R:54-57 + unnest_longer in fixtures).
      customer(s, d).groupBy("c_nationkey").agg(collect_set(col("c_mktsegment")).as("segs"))
        .select(col("c_nationkey"), explode(col("segs")).as("segment"))
        .distinct().orderBy("c_nationkey", "segment")
    },
    Q("r11_nest_ordered",
      """SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
        |  array_to_string(list(CAST(l_linenumber AS VARCHAR)
        |    ORDER BY l_linenumber, l_quantity), '|') AS linenumbers,
        |  array_to_string(list(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
        |    ORDER BY l_linenumber, l_quantity), '|') AS quantities
        |FROM lineitem WHERE l_orderkey % 50 = 0
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      // R11: ordered ARRAY assembly per key — the nesting/denormalization
      // primitive that builds sequences from rows (training-sample
      // assembly, document reconstruction, order line rollup). Order is
      // pinned INSIDE the aggregate via sort_array over (key, value)
      // structs, never by assuming input order survives the shuffle —
      // collect_list order is partition-dependent, sort_array makes it a
      // function of the data. The sort key is the full (line number,
      // quantity) struct: line numbers repeat in this fixture, so a
      // bare-linenumber order would leave tie order partition-dependent.
      // Catalog outputs must be scalar-typed (the harness cannot hash
      // array cells), so the ordered arrays are emitted as '|'-joined
      // strings; quantities are whole doubles in this table, so the
      // bigint cast makes the string form engine-agnostic.
      lineitem(s, d).filter(col("l_orderkey") % 50 === 0)
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("n_items"),
          sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity"))))
            .as("__sorted"))
        .select(col("l_orderkey"), col("n_items"),
          array_join(transform(col("__sorted"),
            s2 => s2.getField("l_linenumber").cast("string")), "|").as("linenumbers"),
          array_join(transform(col("__sorted"),
            s2 => s2.getField("l_quantity").cast("bigint").cast("string")), "|")
            .as("quantities"))
        .orderBy("l_orderkey")
    },
    Q("r9_label_fanout",
      """SELECT r_name, model FROM region
        |CROSS JOIN (VALUES ('GCAM'),('REMIND'),('MESSAGE')) m(model)
        |ORDER BY r_name, model""".stripMargin) { (s, d) =>
      // R9: scenario fan-out by label cross join
      // (R/prepare_LCOE_adjusted_price_data.R:225-246).
      import s.implicits._
      region(s, d).crossJoin(Seq("GCAM", "REMIND", "MESSAGE").toDF("model"))
        .select("r_name", "model").orderBy("r_name", "model")
    },

    // ---- F: scalar function surface (SURVEY §2.9) ----------------------
    Q("f1_string_funcs",
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^[a-z]+') AS first_word,
        |  upper(p_brand) AS brand_uc,
        |  substring(p_type, 1, 3) AS type3,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  regexp_replace(p_name, ' ', '_', 'g') AS snake
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      part(s, d).select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "^[a-z]+", 0).as("first_word"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_type"), 1, 3).as("type3"),
          length(col("p_name")).as("name_len"),
          regexp_replace(col("p_name"), " ", "_").as("snake"))
        .orderBy("p_partkey")
    },
    Q("f2_null_funcs",
      s"""WITH b AS ($nulledSql)
         |SELECT g, x, COALESCE(v, -1.0) AS v_or_default,
         |       (v IS NULL) AS was_null
         |FROM b ORDER BY g, x""".stripMargin) { (s, d) =>
      nulled(s, d)
        .withColumn("v_or_default", coalesce(col("v"), lit(-1.0)))
        .withColumn("was_null", col("v").isNull)
        .select("g", "x", "v_or_default", "was_null").orderBy("g", "x")
    },
    Q("f3_math_funcs",
      """SELECT s_suppkey, abs(s_acctbal) AS abs_bal,
        |  least(s_acctbal, 0.0) AS neg_part, greatest(s_acctbal, 0.0) AS pos_part,
        |  CAST(floor(s_acctbal) AS BIGINT) AS bal_floor,
        |  CAST(ceil(s_acctbal) AS BIGINT) AS bal_ceil,
        |  (s_acctbal BETWEEN 0 AND 5000) AS mid_range
        |FROM supplier ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      supplier(s, d).select(
          col("s_suppkey"), abs(col("s_acctbal")).as("abs_bal"),
          least(col("s_acctbal"), lit(0.0)).as("neg_part"),
          greatest(col("s_acctbal"), lit(0.0)).as("pos_part"),
          floor(col("s_acctbal")).as("bal_floor"), ceil(col("s_acctbal")).as("bal_ceil"),
          col("s_acctbal").between(0, 5000).as("mid_range"))
        .orderBy("s_suppkey")
    },
    // The array itself is emitted serialized (array_to_string / array_join)
    // because the driver's pandas-based compare cannot lexsort a column of
    // numpy arrays; size/contains still exercise the array ops themselves.
    Q("f4_array_funcs",
      """SELECT p_partkey,
        |  array_to_string(string_split(p_name, ' '), '|') AS words_str,
        |  CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
        |  list_contains(string_split(p_name, ' '), 'red') AS has_red
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val words = split(col("p_name"), " ")
      part(s, d).select(
          col("p_partkey"), array_join(words, "|").as("words_str"),
          size(words).as("n_words"),
          array_contains(words, "red").as("has_red"))
        .orderBy("p_partkey")
    },

    // §2.9 date family — unused by the reference (its `year` axis is
    // integer), provided for surface completeness
    Q("f5_date_funcs",
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER)
        |    AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val od = col("o_orderdate").cast("date")
      orders(s, d).select(
          col("o_orderkey"), od.as("od"),
          year(od).as("y"), month(od).as("m"), dayofmonth(od).as("dom"),
          date_add(od, 30).as("plus30"),
          date_trunc("month", od).cast("date").as("month_start"),
          last_day(od).as("month_end"),
          datediff(od, lit("1995-01-01").cast("date")).as("days_since"))
        .orderBy("o_orderkey")
    },
    // §2.9 JSON family — events.props carries a JSON payload
    Q("f6_json_funcs",
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
        |  (CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50) AS k_high
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      val k = get_json_object(col("props"), "$.k")
      events(s, d).select(
          col("event_id"), k.as("k_str"), k.cast("int").as("k_int"),
          (k.cast("int") >= 50).as("k_high"))
        .orderBy("event_id")
    },

    // ---- events: batch twin of the streaming pipeline ------------------
    Q("ev_hourly_agg",
      """SELECT event_type,
        |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type, hour_epoch
        |ORDER BY event_type, hour_epoch""".stripMargin) { (s, d) =>
      // Batch twin of graft.streaming.Events.hourlyAgg — identical logical
      // transform applied to readStream in the streaming module.
      events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).cast("long").as("hour_epoch"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("event_type", "hour_epoch")
    },
    Q("ev_anomaly",
      """WITH h AS (SELECT event_type,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, hour_epoch),
        |s AS (SELECT event_type,
        |    CAST(COUNT(cnt) AS BIGINT) AS n,
        |    CAST(SUM(CAST(cnt AS DECIMAL(30,6))) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(cnt * cnt AS DECIMAL(30,6))) AS DOUBLE) AS ssv
        |  FROM h GROUP BY event_type),
        |b AS (SELECT event_type, sv / n AS cnt_mean,
        |    CASE WHEN n > 1 THEN sqrt((ssv - n * (sv/n) * (sv/n)) / (n - 1)) END AS cnt_std
        |  FROM s)
        |SELECT h.event_type, h.hour_epoch, h.cnt, b.cnt_mean, b.cnt_std,
        |  CASE WHEN b.cnt_std > 0 THEN (h.cnt - b.cnt_mean) / b.cnt_std END AS cnt_z,
        |  COALESCE(CASE WHEN b.cnt_std > 0
        |    THEN ABS((h.cnt - b.cnt_mean) / b.cnt_std) > 3.0 END, FALSE) AS is_anomaly
        |FROM h JOIN b USING (event_type)
        |ORDER BY event_type, hour_epoch""".stripMargin) { (s, d) =>
      // Volume-anomaly gate on the event firehose: hourly counts per type,
      // z-scored against the type's own hourly distribution (the same
      // decimal-exact moments + textbook variance spelling as qt_zscore,
      // so cnt_z is bit-stable), |z| > 3 flags the hour. The ingest
      // monitoring pass a pipeline owner runs before trusting a crawl
      // snapshot; a planted 10x burst is proven flagged in AnalyticsSpec.
      Aggregates.zscore(
          events(s, d)
            .groupBy(col("event_type"),
              date_trunc("hour", col("ts")).cast("long").as("hour_epoch"))
            .agg(count(lit(1)).as("cnt")),
          Seq("event_type"), "cnt")
        .withColumn("is_anomaly", coalesce(abs(col("cnt_z")) > 3.0, lit(false)))
        .select("event_type", "hour_epoch", "cnt", "cnt_mean", "cnt_std", "cnt_z",
          "is_anomaly")
        .orderBy("event_type", "hour_epoch")
    },
    Q("ev_sliding_agg",
      """WITH w AS (SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS s0,
        |                  event_type, value FROM events),
        |e AS (SELECT s0 AS win_start, event_type, value FROM w
        |      UNION ALL
        |      SELECT s0 - 3600, event_type, value FROM w)
        |SELECT event_type, win_start,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY event_type, win_start
        |ORDER BY event_type, win_start""".stripMargin) { (s, d) =>
      // Sliding event-time windows (2h length, 1h slide): each event lands
      // in two windows. Completes the window-type coverage — tumbling is
      // ev_hourly_agg, session windows are pinned by StreamingSpec's
      // sessionize. The oracle spells the window fan-out as the two
      // hour-aligned starts each event belongs to.
      events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("event_type"), col("window.start").cast("long").as("win_start"),
          col("n"), col("sum_value"))
        .orderBy("event_type", "win_start")
    },
    Q("ev_attribution",
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
        |       c.event_id AS click_id, c.ts AS c_ts, c.value AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      // Batch twin of graft.streaming.Events.attributionStream: every click
      // within the hour before a purchase by the same user. The equi key
      // (user_id) carries the join; the interval predicate is a post-filter
      // on the hash join, NOT a nested loop. The streaming version adds
      // watermarks for bounded state (StreamingSpec).
      val ev = events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("__cu"),
          col("ts").as("c_ts"), col("value").as("click_value"))
      p.join(c, col("user_id") === col("__cu") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
        .select("purchase_id", "user_id", "p_ts", "click_id", "c_ts", "click_value")
        .orderBy("purchase_id", "click_id")
    },
    Q("qt_mad",
      """WITH r AS (SELECT l_returnflag, l_orderkey, l_linenumber,
        |    CAST(l_quantity AS DOUBLE) AS x,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY CAST(l_quantity AS DOUBLE), l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |med AS (SELECT l_returnflag,
        |    SUM(CASE WHEN rn = (n+1)//2 OR rn = (n+2)//2 THEN x END) /
        |    COUNT(CASE WHEN rn = (n+1)//2 OR rn = (n+2)//2 THEN 1 END) AS l_quantity_med
        |  FROM r GROUP BY l_returnflag),
        |d AS (SELECT l.l_returnflag, l.l_orderkey, l.l_linenumber,
        |    CAST(l.l_quantity AS DOUBLE) AS x, m.l_quantity_med,
        |    abs(CAST(l.l_quantity AS DOUBLE) - m.l_quantity_med) AS dev
        |  FROM lineitem l LEFT JOIN med m USING (l_returnflag)),
        |dr AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY dev, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM d),
        |mad AS (SELECT l_returnflag,
        |    SUM(CASE WHEN rn = (n+1)//2 OR rn = (n+2)//2 THEN dev END) /
        |    COUNT(CASE WHEN rn = (n+1)//2 OR rn = (n+2)//2 THEN 1 END) AS l_quantity_mad
        |  FROM dr GROUP BY l_returnflag)
        |SELECT d.l_orderkey, d.l_linenumber, d.l_returnflag, d.x AS l_quantity,
        |  d.l_quantity_med, mad.l_quantity_mad,
        |  CASE WHEN mad.l_quantity_mad > 0
        |       THEN (d.x - d.l_quantity_med) / mad.l_quantity_mad END AS l_quantity_robust
        |FROM d LEFT JOIN mad USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin) { (s, d) =>
      // §2.11 feature scaling, robust flavor: MAD-based standardization —
      // a single wild value moves mean/std arbitrarily but a median by at
      // most one rank. Exact medians via the a3 mean-of-middle-two
      // spelling on both sides (engine-order-proof), broadcast back.
      // knownGroups: l_returnflag's domain is the 3 TPC-H flags — the
      // hint skips groupedRank's per-call distinct-count probe (one full
      // scan+shuffle per median, VERDICT r10 "What's wrong" #1)
      graft.ops.Aggregates.madScale(
          lineitem(s, d).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
          Seq("l_returnflag"), "l_quantity",
          Seq(col("l_orderkey"), col("l_linenumber")),
          knownGroups = Some(3L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_quantity_med"), col("l_quantity_mad"), col("l_quantity_robust"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },
    Q("qt_zscore",
      """WITH s AS (SELECT l_returnflag,
        |    CAST(COUNT(l_quantity) AS BIGINT) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS ssv
        |  FROM lineitem GROUP BY l_returnflag),
        |b AS (SELECT l_returnflag, sv / n AS l_quantity_mean,
        |    CASE WHEN n > 1 THEN sqrt((ssv - n * (sv/n) * (sv/n)) / (n - 1)) END AS l_quantity_std
        |  FROM s)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_quantity,
        |  b.l_quantity_mean, b.l_quantity_std,
        |  CASE WHEN b.l_quantity_std > 0
        |       THEN (l.l_quantity - b.l_quantity_mean) / b.l_quantity_std END AS l_quantity_z
        |FROM lineitem l JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin) { (s, d) =>
      // §2.11 feature scaling: per-group z-score with decimal-exact moments
      // and the identical textbook variance spelling on both sides — sqrt
      // is IEEE correctly-rounded, so the result is bit-stable (the reason
      // tx_tfidf avoids ln, and this op need not avoid sqrt).
      Aggregates.zscore(
          lineitem(s, d).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
          Seq("l_returnflag"), "l_quantity")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_quantity_mean", "l_quantity_std", "l_quantity_z")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    },
    Q("qt_winsorize",
      """WITH r AS (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |b AS (SELECT l_returnflag,
        |    MIN(CASE WHEN rn = GREATEST(CAST(CEIL(0.05 * n) AS BIGINT), 1)
        |             OR rn = GREATEST(CAST(CEIL(0.95 * n) AS BIGINT), 1)
        |        THEN l_extendedprice END) AS l_extendedprice_lo,
        |    MAX(CASE WHEN rn = GREATEST(CAST(CEIL(0.05 * n) AS BIGINT), 1)
        |             OR rn = GREATEST(CAST(CEIL(0.95 * n) AS BIGINT), 1)
        |        THEN l_extendedprice END) AS l_extendedprice_hi
        |  FROM r GROUP BY l_returnflag)
        |SELECT r.l_returnflag, r.l_orderkey, r.l_linenumber, r.l_extendedprice,
        |       b.l_extendedprice_lo, b.l_extendedprice_hi,
        |       GREATEST(b.l_extendedprice_lo,
        |                LEAST(b.l_extendedprice_hi, r.l_extendedprice)) AS l_extendedprice_clamped
        |FROM r JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_returnflag""".stripMargin) { (s, d) =>
      // §2.11 data cleaning: per-group winsorization at the [p05, p95]
      // order statistics — discrete rank bounds, so both engines agree
      // exactly (interpolated quantile formulas drift across engines).
      // knownGroups = 3 (the TPC-H return-flag domain) skips the
      // strategy-probe scan — see qt_mad
      Aggregates.winsorize(
          lineitem(s, d).select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
          Seq("l_returnflag"), "l_extendedprice", 0.05, 0.95,
          knownGroups = Some(3L))
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice",
          "l_extendedprice_lo", "l_extendedprice_hi", "l_extendedprice_clamped")
        .orderBy("l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag")
    }
  )
}
