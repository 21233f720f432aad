package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.io.Readers

/** End-to-end bronze→silver→gold pipeline parity on the FIXTURES.md A-family
  * fixtures, asserting the §7.3 semantic traps. */
class PipelineSpec extends SparkSpec {

  private lazy val base: String = newBase()

  private def newBase(): String = {
    val dir = Files.createTempDirectory("graft-pipe").toString
    // bronze CSVs come from test resources; the XLSX is generated
    val date = "2024-01-15"
    def copy(rel: String): Unit = {
      val src = Paths.get(resourcePath(rel))
      val dst = Paths.get(s"$dir/$rel")
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    copy(s"bronze/housing_affordability/ingest_date=$date/housing2019-23.csv")
    copy(s"bronze/special_education/ingest_date=$date/special_education2022-23.csv")
    TestXlsx.writeSchoolFixture(new java.io.File(
      s"$dir/bronze/school_performance/ingest_date=$date/school_performance.xlsx"))
    dir
  }

  private lazy val pipe = new Pipeline(spark, base, "2024-01-15")

  test("silver housing: label-row filter, coerce, fillna+rowsum, guarded division") {
    val (housing, _, _) = pipe.buildSilverFrames()
    val rows = housing.collect().map(r => r.getString(0) -> r).toMap
    assert(!rows.contains("Geography"), "ACS label row must be filtered (P1)")
    assert(rows.size == 7)
    // P4: "(X)" coerces to null
    val bad = rows("0500000US13998")
    assert(bad.isNullAt(bad.fieldIndex("occupied_housing_units")))
    assert(bad.isNullAt(bad.fieldIndex("total_cost_burden_30_plus_pct")))
    // P7: zero denominator → NULL pct
    val gwinnett = rows("0500000US13135")
    assert(gwinnett.isNullAt(gwinnett.fieldIndex("total_cost_burden_30_plus_pct")))
    // P5+P6: null tier treated as 0 in the row sum
    val empty = rows("0500000US13999")
    val pct = empty.getDouble(empty.fieldIndex("total_cost_burden_30_plus_pct"))
    assert(math.abs(pct - (4000 + 0 + 2500 + 1800 + 900).toDouble / 50000 * 100.0) < 1e-9)
    // plain case
    val fulton = rows("0500000US13121")
    val fpct = fulton.getDouble(fulton.fieldIndex("total_cost_burden_30_plus_pct"))
    assert(math.abs(fpct - 120180.0 / 433661.0 * 100.0) < 1e-9)
  }

  test("silver school + special: renames, coercion, guarded pct") {
    val (_, school, special) = pipe.buildSilverFrames()
    assert(school.columns.toSeq ==
      Seq("school_id", "school_name", "lea_id", "district_name", "ccrpi_score_2023"))
    assert(special.columns.toSeq ==
      Seq("lea_id", "district_name", "total_swd", "pct_inclusive_80_plus", "school_year"))
    val sp = special.collect().map(r => r.getString(0) -> r).toMap
    // zero total_swd → NULL pct (bronze_to_silver.py:157)
    val zero = sp("604")
    assert(zero.isNullAt(zero.fieldIndex("pct_inclusive_80_plus")))
    val fulton = sp("601")
    assert(math.abs(fulton.getDouble(fulton.fieldIndex("pct_inclusive_80_plus"))
      - 6800.0 / 9500.0 * 100.0) < 1e-9)
  }

  test("gold build: rollup, null-county drop, fan-out, keep-first, inner join") {
    val (housing, school, special) = pipe.buildSilverFrames()
    val gold = graft.gold.Gold.buildLeaJoinedGold(housing, school, special)
    val rows = gold.collect()
    // LEAs surviving: 601 fulton, 602 dekalb, 603 cobb, 605 dekalb ×2 (fan-out)
    val byLea = rows.groupBy(_.getString(rows.head.fieldIndex("lea_id")))
    assert(byLea.keySet == Set("601", "602", "603", "605"))
    assert(byLea("605").length == 2, "duplicate special-ed lea_id must fan out (J1)")
    // null-county district (", Georgia") and county-not-in-housing (604) dropped
    assert(!byLea.contains("606") && !byLea.contains("604"))
    val fulton = byLea("601").head
    def d(r: org.apache.spark.sql.Row, c: String): Double = r.getDouble(r.fieldIndex(c))
    // mean skips the null score; nunique dedupes school_id 1002
    assert(math.abs(d(fulton, "ccrpi_score_2023_mean") - 82.0) < 1e-9)
    assert(fulton.getLong(fulton.fieldIndex("school_count")) == 2L)
    // keep-FIRST housing row for the duplicated county (GEO_ID 13121, not 13997)
    assert(fulton.getString(fulton.fieldIndex("GEO_ID")) == "0500000US13121")
    // lea 603 came in with whitespace (" 603 ") — P9 trim made the join work
    assert(byLea("603").head.getString(rows.head.fieldIndex("county")) == "cobb")
    // golden schema (FIXTURES.md A4)
    assert(gold.columns.toSeq == Seq(
      "lea_id", "district_name", "county", "ccrpi_score_2023_mean", "school_count",
      "total_swd", "pct_inclusive_80_plus", "school_year", "GEO_ID", "county_name",
      "occupied_housing_units", "inc_lt_20k_cost_burden_30_plus",
      "inc_20k_34_999_cost_burden_30_plus", "inc_35k_49_999_cost_burden_30_plus",
      "inc_50k_74_999_cost_burden_30_plus", "inc_75k_plus_cost_burden_30_plus",
      "total_cost_burden_30_plus_pct"))
  }

  test("EP1 full run writes silver+gold parquet and returns the JSON summary shape") {
    val json = pipe.runBronzeToSilverAndGold()
    assert(json.contains("\"silver\"") && json.contains("\"gold\""))
    assert(json.contains("\"county_joined\""))
    val gold = Readers.parquet(spark, s"$base/gold/county_analysis/ingest_date=2024-01-15")
    assert(gold.count() == 5)
    // EP2: rebuild gold from the silver parquet contract — same result
    val json2 = pipe.runSilverToGold()
    assert(json2.contains("\"rows\": 5"))
  }

  test("EP1 releases its caches: persisted RDDs back to the pre-run count, rewritten bronze re-read") {
    val dir = newBase()
    val fresh = new Pipeline(spark, dir, "2024-01-15")
    val before = spark.sparkContext.getPersistentRDDs.size
    fresh.runBronzeToSilverAndGold()
    // the same bronze path, one cell rewritten: the second run must read it
    val csv = Paths.get(
      s"$dir/bronze/housing_affordability/ingest_date=2024-01-15/housing2019-23.csv")
    Files.writeString(csv, Files.readString(csv).replace("433661", "433662"))
    fresh.runBronzeToSilverAndGold()
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    val fulton = Readers.parquet(spark, s"$dir/gold/county_analysis/ingest_date=2024-01-15")
      .filter("lea_id = '601'").select("occupied_housing_units").head().getDouble(0)
    assert(fulton == 433662.0)
  }
}
