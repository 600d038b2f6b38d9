package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Driver-contract smoke: entry returns rows; every catalog query runs at
  * sf0.001 and (cheap sanity) returns a schema with at least one column.
  */
class EntrySpec extends SparkTestBase {

  // every catalog entry built once per suite (a build runs the entry's
  // eager construction jobs) and counted right after its build, since an
  // entry may stage files that a later entry's build removes; the schema
  // test reads the schemas this one pass records
  private lazy val executed: Seq[(String, Either[Throwable, StructType])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try { val df = fn(spark, sfDir); df.count(); Right(df.schema) }
        catch { case e: Throwable => Left(e) })
    }

  test("entry returns rows with region shares summing to 1") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.nonEmpty)
    val shares = df.groupBy("r_name").agg(sum("region_share").as("s"))
      .select("s").collect().map(_.getDouble(0))
    assert(shares.forall(s => math.abs(s - 1.0) < 1e-9))
  }

  test("oracleSql keys are a subset of queries keys") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracle without query: $orphans")
  }

  test("catalog names are unique (the queries Map would silently shadow a duplicate)") {
    val names = SparkEntry.catalog.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate catalog ids: $dups")
  }

  test("every catalog query executes at sf0.001") {
    val failures = executed.flatMap { case (name, run) =>
      run.left.toOption.map(e => s"$name: ${String.valueOf(e.getMessage).take(120)}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("catalog outputs are scalar-typed (the oracle harness cannot hash array/map cells)") {
    // r11_nest_ordered shipped a raw ArrayType column in round 8 and the
    // driver's pandas compare crashed on it (sort_values: unhashable
    // ndarray) — the entry silently lost its verification. Pin the whole
    // catalog: every OUTPUT column of every entry must be an atomic type
    // (array-valued ops emit array_join'ed strings, the f4_array_funcs
    // pattern).
    val offenders = executed.flatMap { case (name, schema) =>
      val bad = schema.toTry.get.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[MapType]
          || f.dataType.isInstanceOf[StructType] => f.name
      }
      if (bad.isEmpty) None else Some(s"$name: ${bad.mkString(",")}")
    }
    assert(offenders.isEmpty,
      s"non-scalar catalog output columns:\n${offenders.mkString("\n")}")
  }

  test("representative oracled queries are run-to-run deterministic including row order") {
    // the driver's hash compare covers values; this net catches
    // nondeterminism regressions (arbitrary survivors, unstable sorts,
    // rand()) across the operator families without re-running DuckDB.
    val sample = Seq(
      "p12_dedup_keys", "a3_grouped_median", "w5_row_number_id", "o3_top_k_ties",
      "j13_salted_skew_join", "dd_exact_dedup", "sm_hash_split", "sm_weighted",
      "tx_bm25", "tx_lm_score", "ev_sessions", "ev_ohlc", "qt_ntile",
      "g1_pagerank", "o5_zorder_key", "a14_rollup")
    val failures = sample.filter(SparkEntry.queries.contains).flatMap { name =>
      val fn = SparkEntry.queries(name)
      val a = fn(spark, sfDir).collect().toSeq
      val b = fn(spark, sfDir).collect().toSeq
      if (a == b) None else Some(name)
    }
    assert(failures.isEmpty, s"row-order nondeterminism in: $failures")
  }
}
