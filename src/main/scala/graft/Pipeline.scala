package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.clean.Silver
import graft.gold.Gold
import graft.io.{Lake, Readers}

/** Pipeline orchestration — reference EP1/EP2/X1/X4 parity
  * (`bronze_to_silver.py:225-285`, `silver_to_gold.py:87-115`,
  * `function_app.py:38-73`).
  *
  * Layout under `base`: `layer/dataset/ingest_date=DATE/…` exactly as the
  * reference; silver/gold are parquet directories (Spark-native) rather than
  * single named files — the silver contract is the schema, not the filename.
  * `ingestDate` is explicit (no today()-default: SURVEY.md §7.3.7).
  * Returns the reference's JSON summary shapes as strings.
  */
class Pipeline(spark: SparkSession, base: String, ingestDate: String) {

  private def p(layer: String, dataset: String): String =
    Lake.path(base, layer, dataset, ingestDate)

  // --- bronze reads (S1/S2/S3) ---------------------------------------------
  def readBronzeHousing(): DataFrame =
    Readers.csv(spark, s"${p("bronze", "housing_affordability")}/housing2019-23.csv")
  def readBronzeSchool(): DataFrame =
    Readers.xlsx(spark, s"${p("bronze", "school_performance")}/school_performance.xlsx")
  def readBronzeSpecial(): DataFrame =
    Readers.csvWithHeaderOffset(spark,
      s"${p("bronze", "special_education")}/special_education2022-23.csv", headerRow = 4)

  /** build_silver_frames parity: cleaned silver frames, in-memory. */
  def buildSilverFrames(): (DataFrame, DataFrame, DataFrame) = (
    Silver.Housing.clean(readBronzeHousing()),
    Silver.School.clean(readBronzeSchool()),
    Silver.SpecialEd.clean(readBronzeSpecial()))

  private def summary(df: DataFrame, out: String): String =
    s"""{"rows": ${df.count()}, "columns": ${df.columns.length}, "output_path": "$out"}"""

  /** EP1 first half — bronze → silver writes + JSON summary. */
  def runBronzeToSilver(): String = {
    val (housing, school, special) = buildSilverFrames()
    val outs = Seq(
      "housing" -> (housing, p("silver", "housing_affordability")),
      "school" -> (school, p("silver", "school_performance")),
      "special_education" -> (special, p("silver", "special_education")))
    outs.foreach { case (_, (df, out)) => Lake.writeSingleFile(df, out) }
    outs.map { case (name, (df, out)) => s""""$name": ${summary(df, out)}""" }
      .mkString("{", ", ", "}")
  }

  /** EP2 — silver parquet re-read → gold (the silver layer is a re-entrant
    * contract, not a byproduct: silver_to_gold.py:87-115). */
  def runSilverToGold(): String = {
    val gold = Gold.buildLeaJoinedGold(
      housing = Readers.parquet(spark, p("silver", "housing_affordability")),
      school = Readers.parquet(spark, p("silver", "school_performance")),
      special = Readers.parquet(spark, p("silver", "special_education")))
    val out = p("gold", "county_analysis")
    Lake.writeSingleFile(gold, out)
    summary(gold, out)
  }

  /** EP1 — full pipeline: bronze → silver writes → gold from the SAME
    * in-memory frames (no silver re-read; the frames are cached before the
    * write+gold fan-out, the Spark spelling of the reference's in-memory
    * reuse at bronze_to_silver.py:234-254). The caches live only for this
    * run: a long-lived `Serve` session refreshes many times, and a kept
    * cache both holds its blocks for the session's life and answers the
    * next refresh's identical bronze read, so a bronze file rewritten in
    * place would be served from the old cache. */
  def runBronzeToSilverAndGold(): String = {
    val (housing, school, special) = buildSilverFrames()
    val silver = Seq(housing, school, special)
    silver.foreach(_.cache())
    try {
      val silverOuts = Seq(
        "housing" -> (housing, p("silver", "housing_affordability")),
        "school" -> (school, p("silver", "school_performance")),
        "special_education" -> (special, p("silver", "special_education")))
      silverOuts.foreach { case (_, (df, out)) => Lake.writeSingleFile(df, out) }
      // cached as well: the write and the summary count would each re-run
      // the gold joins
      val gold = Gold.buildLeaJoinedGold(housing, school, special).cache()
      try {
        val goldOut = p("gold", "county_analysis")
        Lake.writeSingleFile(gold, goldOut)
        val silverJson = silverOuts
          .map { case (name, (df, out)) => s""""$name": ${summary(df, out)}""" }
          .mkString("{", ", ", "}")
        s"""{"silver": $silverJson, "gold": {"county_joined": ${summary(gold, goldOut)}}}"""
      } finally gold.unpersist()
    } finally silver.foreach(_.unpersist())
  }
}

/** CLI runners (X4 parity: the reference's `__main__` blocks). */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Pipeline <bronze-to-silver|silver-to-gold|full> <base> <ingestDate>"
    require(args.length == 3, usage)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val pipe = new Pipeline(spark, args(1), args(2))
    val json = args(0) match {
      case "bronze-to-silver" => pipe.runBronzeToSilver()
      case "silver-to-gold"   => pipe.runSilverToGold()
      case "full"             => pipe.runBronzeToSilverAndGold()
      case other              => throw new IllegalArgumentException(s"$other — $usage")
    }
    println(json)
    spark.stop()
  }
}
