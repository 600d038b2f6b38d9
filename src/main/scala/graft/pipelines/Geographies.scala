package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.DataChecks
import graft.ops.Joins
import graft.core.Barriers.BarrierOps

/** Geography grouping/renaming — Spark re-expression of
  * R/rename_geographies.R:46-176.
  */
object Geographies {

  /** reference :51-107 group_identical_geographies: geographies with
    * IDENTICAL country sets are grouped; each maps to the longest name of
    * its pair; chains are pruned (a name that is itself mapped away never
    * appears as a target).
    *
    * Fidelity note (found by the real-data run): the R metric
    * `length(x[x %in% y]) / length(x)` runs on LIST-columns, where `%in%`
    * compares the whole country VECTOR as one element — it evaluates to 1
    * exactly when the two geographies' country lists are identical, and 0
    * otherwise. It is NOT a containment ratio: a one-sided
    * |x∩y|/|x| >= tol reading groups every subset geography into its
    * superset and on the real bench maps `Global` away into a longer
    * name. Equality-grouping recomputes the shipped bench_regions.csv
    * newname column 106/106 geographies exactly.
    *
    * Spark shape: one aggregate to a sorted country-set per geography,
    * then an equi-join on the set (hash-partitioned — no cross join, no
    * all-pairs work at any geography count).
    *
    * Returns a mapping DataFrame (shortest_name, longest_name).
    * `matchingTol` gates like the reference's: any tol in (0, 1] keeps
    * the 0/1 equality matches; tol > 1 matches nothing.
    */
  def groupIdenticalGeographies(benchRegions: DataFrame, matchingTol: Double): DataFrame = {
    val sets = graft.core.Barriers.barrier(
      benchRegions
        .groupBy(col("scenario_geography"))
        .agg(sort_array(collect_set(col("country_iso"))).as("__items")))
    val pairs = sets.select(col("scenario_geography").as("g_x"), col("__items").as("items_x"))
      .join(sets.select(col("scenario_geography").as("g_y"), col("__items").as("items_y")),
        col("items_x") === col("items_y") && col("g_x") =!= col("g_y"))
      .filter(lit(1.0) >= matchingTol)
    val named = pairs
      .withColumn("longest_name",
        when(length(col("g_x")) >= length(col("g_y")), col("g_x")).otherwise(col("g_y")))
      .withColumn("shortest_name",
        when(length(col("g_x")) >= length(col("g_y")), col("g_y")).otherwise(col("g_x")))
      .select("shortest_name", "longest_name")
      .distinct()
    // reference :96-100 — prune transitive chains
    named.join(named.select(col("shortest_name").as("__mid")),
      col("longest_name") === col("__mid"), "left_anti")
  }

  /** reference :144-176 standardize_geoographies_name, as one column
    * expression chain: & -> " and ", title-case (only multi-word names),
    * strip whitespace, strip "(R5)".
    */
  def standardizeGeographyName(c: Column): Column = {
    val andified = regexp_replace(c, "&", " and ")
    val titled = when(andified.contains(" "), initcap(andified)).otherwise(andified)
    val noWs = regexp_replace(titled, " ", "")
    // case-insensitive: initcap lowercases the R in "(R5)" where R's ICU
    // title-case (str_to_title) keeps it — the marker is stripped either way
    regexp_replace(noWs, "(?i)\\(r5\\)", "")
  }

  /** Apply a (from, to) mapping DataFrame to a geography column —
    * broadcast-join recode; unmapped values pass through
    * (reference R/helpers.R:156-168 applied over the grouping mapper).
    */
  def applyGeographyMapping(df: DataFrame, geoCol: String, mapping: DataFrame): DataFrame =
    df.join(broadcast(mapping), df(geoCol) === mapping("shortest_name"), "left")
      .withColumn(geoCol, coalesce(col("longest_name"), col(geoCol)))
      .drop("shortest_name", "longest_name")

  /** reference R/rename_geographies.R:36-42 get_all_unique_geographies:
    * the distinct, sorted union of scenario_geography across input frames.
    */
  def getAllUniqueGeographies(dfs: Seq[DataFrame]): DataFrame =
    dfs.map(_.select(col("scenario_geography")))
      .reduce(_.unionByName(_))
      .distinct()
      .orderBy("scenario_geography")

  /** The country remaps for names countrycode cannot resolve (reference
    * data-raw/run_rename_geographies.R:34-104 `remap_countries` — the
    * curated wrangling rule list, reproduced as an in-code literal table).
    */
  def countryRemaps(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      "Myanmar" -> "MM", "Plurinational State of Bolivia" -> "BO",
      "Curaçao/Netherlands Antilles" -> "CW", "Trinidad and Tobago" -> "TT",
      "Bolivarian Republic of Venezuela" -> "VE", "Antigua And Barbuda" -> "AG",
      "Bosnia and Herzegovina" -> "BA", "Brunei Darussalam" -> "BN", "Curacao" -> "CW",
      "Democratic People's Republic of Korea" -> "KP",
      "Democratic Republic of the Congo" -> "CD", "GuineaBissau" -> "GW",
      "Hong Kong Special Administrative Region of China" -> "HK",
      "Iran (Islamic Republic of Iran)" -> "IR", "Islamic Republic of Mauritania" -> "MR",
      "Ivory Coast" -> "CI", "Lao People's Democratic Republic" -> "LA",
      "Libyan Arab Jamahiriya" -> "LY",
      "Macau Special Administrative Region of China" -> "MO", "Republic of Congo" -> "CG",
      "Republic of Korea" -> "KP", "Republic of Macedonia" -> "MK",
      "Republic of Moldova" -> "MD", "Reunion" -> "RE", "Russian Federation" -> "RU",
      "Syrian Arab Republic" -> "SY", "TimorLeste" -> "TL",
      "United Republic Of Tanzania" -> "TZ", "Congo Republic" -> "CG",
      "KuwaitSaudi Arabia Partitioned Neutral Zone" -> "KW", "Congo" -> "CG",
      "Iran,  Islamic Republic of" -> "IR", "Korea,  Democratic People's Republic of" -> "KP",
      "Macedonia, the Former Yugoslav Republic of" -> "MK", "Moldova, Republic of" -> "MD",
      "Palestine, State of" -> "PS", "Taiwan, Province of China" -> "TW",
      "Viet Nam" -> "VN", "Wallis and Futuna" -> "WF"
    ).toDF("country", "country_iso")
  }

  /** reference data-raw/run_rename_geographies.R:5-173
    * cleaning_bench_regions: drop the ambiguous EU pseudo-country, attach
    * new geographies resolving their countries to iso2 via the codelist
    * with the curated remap fallback, rewrite Namibia's "NA" iso, dedup
    * (geography, country) pairs, recount, and replace country spellings
    * with the canonical codelist names.
    *
    * @param benchRegions  (scenario_geography, country, country_iso)
    * @param newGeos       (scenario_geography, country) additions
    * @param countryToIso  (country, country_iso) canonical codelist slice —
    *                      the countrycode package's data, supplied as input
    */
  def cleanBenchRegions(
      benchRegions: DataFrame,
      newGeos: DataFrame,
      countryToIso: DataFrame): DataFrame = {
    val spark = benchRegions.sparkSession
    var bench = benchRegions.filter(col("country_iso") =!= "EU")
    // :28-110 — resolve new geographies: codelist first, curated remap next
    val inCodes = newGeos.join(broadcast(countryToIso), Seq("country"))
    val viaRemap = newGeos
      .join(broadcast(countryToIso.select("country")), Seq("country"), "left_anti")
      .join(broadcast(countryRemaps(spark)), Seq("country"))
    bench = bench.unionByName(inCodes.unionByName(viaRemap), allowMissingColumns = true)
    // :121-123 — Namibia's iso2 is the literal string "NA"
    bench = bench.withColumn("country_iso",
      when(col("country_iso").isNull, "NA").otherwise(col("country_iso")))
    // :125-147 — dedup (geography, country_iso); survivor pinned by country
    // name for determinism (the reference keeps file order; the kept name is
    // immediately replaced by the codelist spelling below, so any survivor
    // yields the same final frame)
    bench = Joins.dedupKeepFirst(bench, Seq("scenario_geography", "country_iso"),
      Seq(col("country")))
    // :149-152 — per-geography country count
    bench = bench.withColumn("reg_count",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("scenario_geography"))))
    // :155-171 — canonical country spelling from the codelist
    bench.drop("country")
      .join(broadcast(countryToIso), Seq("country_iso"), "left")
  }

  /** reference R/rename_geographies.R:186-207 rename_stress_test_inputs:
    * the distinct (old, new) geography mapping from bench_regions applied
    * to every input frame's scenario_geography.
    */
  def renameStressTestInputs(benchRegions: DataFrame, dfs: Seq[DataFrame]): Seq[DataFrame] = {
    val mapping = benchRegions
      .select(col("scenario_geography").as("shortest_name"),
        col("scenario_geography_newname").as("longest_name"))
      .distinct()
    dfs.map(applyGeographyMapping(_, "scenario_geography", mapping))
  }

  /** reference R/rename_geographies.R:216-268 regroup_and_rename_geographies
    * — the full stage: unique-pair precondition, identical-geography
    * grouping, name standardization, rename across every input frame, and
    * the closing containment check (every geography surfacing in the inputs
    * must exist in the renamed bench set).
    *
    * Returns (bench_regions with scenario_geography_newname, renamed inputs).
    */
  def regroupAndRenameGeographies(
      benchRegionsIn: DataFrame,
      triskInputs: Seq[DataFrame],
      matchingTol: Double = 1.0): (DataFrame, Seq[DataFrame]) = {
    // junction barrier (the Barriers junction rule): the bench frame
    // feeds the uniqueness assert, the overlap grouping AND the newname
    // copy — three consumers of the caller's (possibly deep) plan
    val benchRegions = benchRegionsIn.planBarrier()
    DataChecks.assertUniqueKeys(benchRegions, Seq("scenario_geography", "country_iso"))
    var bench = benchRegions
      .withColumn("scenario_geography_newname", col("scenario_geography"))
    val mapper = groupIdenticalGeographies(benchRegions, matchingTol)
    bench = applyGeographyMapping(bench, "scenario_geography_newname", mapper)
    bench = bench.withColumn("scenario_geography_newname",
      standardizeGeographyName(col("scenario_geography_newname")))
      // junction: the standardized frame feeds the per-input rename
      // mapping, the containment check AND the caller's return
      .planBarrier()
    val renamed = renameStressTestInputs(bench, triskInputs)
    // closing containment check (:264-265)
    val known = bench.select(col("scenario_geography_newname").as("scenario_geography"))
      .distinct()
    val unknown = getAllUniqueGeographies(renamed)
      .join(known, Seq("scenario_geography"), "left_anti")
      .limit(21).collect().map(_.getString(0))
    if (unknown.nonEmpty)
      throw DataChecks.CheckFailed(
        s"input geographies missing from renamed bench_regions: " +
          unknown.take(20).mkString(", ") +
          (if (unknown.length > 20) ", …" else ""))
    (bench, renamed)
  }
}
