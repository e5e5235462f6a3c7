package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators._

/** The reference pipeline (dw-etl `himalayan_etl/`) re-expressed as pure
  * `DataFrame => DataFrame` transforms over lazy lineage: Dagster's op graph
  * (`jobs.py:25-47`) collapses to function composition, materialization
  * points to `.cache()`/writes, and every pandas dataflow becomes the
  * idiomatic Spark plan documented in SURVEY §2.
  *
  * Column-for-column semantics follow the reference transforms
  * (`ops/transform.py`); the load path targets parquet by default with the
  * JDBC/DDL protocol available via [[graft.sources.JdbcSink]].
  */
object HimalayanPipeline {

  // -------------------------------------------------------------- DIM_Peak
  /** `transform_peaks_data` (`ops/transform.py:200-247`): project/rename,
    * strict casts, height binning [5000,5500)...[8500,9000).
    */
  def dimPeak(peaks: DataFrame): DataFrame = {
    val heightEdges = Seq(5000.0, 5500.0, 6000.0, 6500.0, 7000.0, 7500.0, 8000.0, 8500.0, 9000.0)
    val heightLabels = Seq("5000-5499", "5500-5999", "6000-6499", "6500-6999",
      "7000-7499", "7500-7999", "8000-8499", "8500-8999")
    peaks.select(
        col("PEAKID").cast("string").as("Id"),
        col("PKNAME").cast("string").as("Name"),
        col("HEIGHTM").cast("int").as("HeightMeters"))
      .withColumn("HeightCategory",
        Bin.cut(col("HeightMeters"), heightEdges, heightLabels))
  }

  // -------------------------------------------------------- DIM_Expedition
  /** `transform_expeditions_data` (`ops/transform.py:149-193`): project,
    * rename, keep-first dedup on the business key, casts (string key — the
    * runtime behavior, not the DDL's INT; see SURVEY §1.2).
    */
  def dimExpedition(expeditions: DataFrame): DataFrame =
    Dedup.keepFirst(
      expeditions.select(
        col("EXPID").cast("string").as("Id"),
        col("HOST").cast("int").as("Host"),
        col("ROUTE1").cast("string").as("Route"),
        col("SUCCESS1").cast("int").as("Success")),
      Seq("Id"), Seq(col("Host"), col("Route"), col("Success")))

  // -------------------------------------------------------------- DIM_Date
  /** `create_dim_date` (`ops/transform.py:359-394`): distinct (year, season),
    * surrogate key in (Year, Quarter) order, season-name dict map (unmapped →
    * null), floor-decade.
    */
  def dimDate(members: DataFrame): DataFrame = {
    val seasons = Map(1 -> "Winter", 2 -> "Spring", 3 -> "Summer", 4 -> "Autumn")
    val d = members.select(
        col("MYEAR").cast("int").as("Year"),
        col("MSEASON").cast("int").as("Quarter"))
      .dropDuplicates("Year", "Quarter")
    SurrogateKey.dense(d, Seq(col("Year"), col("Quarter")))
      .select(col("Id"), col("Year"), col("Quarter"),
        Bin.dictMap(col("Quarter"), seasons).as("QuarterName"),
        (floor(col("Year") / 10.0) * 10).cast("int").as("Decade"))
  }

  // -------------------------------------------- DIM_CountryIndicator
  val indicatorCodes = Seq(
    "NY.GDP.PCAP.CD", "HD.HCI.OVRL", "IT.NET.USER.ZS", "SH.MED.PHYS.ZS", "PV.EST")
  private val indicatorNames = Map(
    "NY.GDP.PCAP.CD" -> "GDPPerCapita",
    "HD.HCI.OVRL" -> "HumanCapitalIndex",
    "IT.NET.USER.ZS" -> "InternetUsersPercentage",
    "SH.MED.PHYS.ZS" -> "PhysiciansPer1000People",
    "PV.EST" -> "PoliticalStabilityIndex")

  /** `transform_world_bank_data` (`ops/transform.py:250-356`): pivot the long
    * indicator records wide (mean over duplicates — pandas `pivot_table`
    * default), zero-anchor each country's first null, per-country linear
    * interpolation by row position, per-year qcut(3, duplicates="drop")
    * bucket columns, surrogate key.
    *
    * Each step handles all five indicators in one projection, and the
    * buckets come from the multi-column [[QuantileBucket.qcut3]]: one
    * per-year aggregate and one join for all five, so the analyzed plan
    * reads `wbLong` twice. Do not fold the single-column qcut over the
    * indicators: each step would double the lineage (32 leaves, ~1.7 k
    * nodes), and every later call on the result (the cache lookup, the
    * fact's fuzzy join) would re-analyze that tree.
    */
  def dimCountryIndicator(wbLong: DataFrame): DataFrame = {
    val wide = PivotOps.meanPivot(wbLong,
        Seq("COUNTRYCODE", "COUNTRYNAME", "YEAR"), "INDICATORCODE",
        indicatorCodes, "VALUE")
    val renamed = wide.withColumnsRenamed(indicatorNames ++
      Map("COUNTRYCODE" -> "CountryCode", "COUNTRYNAME" -> "CountryName", "YEAR" -> "Year"))
    val valueCols = indicatorNames.values.toSeq
    val part = Seq("CountryCode")
    val ord = Seq("CountryName", "Year")
    val anchored = Interpolate.zeroAnchorFirstRow(renamed, part, ord, valueCols)
    val filled = Interpolate.linear(anchored, part, ord, valueCols)
    val bucketed = QuantileBucket.qcut3(filled, Seq("Year"),
      valueCols.map(c => c -> s"${c}Bucket"))
    SurrogateKey.dense(bucketed, Seq(col("CountryCode"), col("Year")))
      .select((Seq(col("Id"), col("CountryCode"), col("CountryName"), col("Year")) ++
        valueCols.map(col) ++ valueCols.map(c => col(s"${c}Bucket"))): _*)
  }

  // ---------------------------------------------- FACT_MemberExpedition
  private val ageEdges = Seq(0.0, 1.0, 18.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0, 100.0)
  private val ageLabels = Seq("0", "1-17", "18-29", "30-39", "40-49", "50-59",
    "60-69", "70-79", "80-89", "90+")

  /** `transform_members_data` (`ops/transform.py:7-146`): gender normalize,
    * age binning, strict flag casts, surrogate key, two broadcast left
    * equi-joins to the date and country-indicator dimensions, with the
    * citizenship resolved through the top-1 fuzzy similarity join
    * (distinct+broadcast rewrite of the reference's memoised scalar loop).
    */
  def factMemberExpedition(members: DataFrame, dimDate: DataFrame,
                           dimCountryIndicator: DataFrame): DataFrame = {
    val base = members.select(
      col("EXPID").cast("string").as("ExpeditionId"),
      col("PEAKID").cast("string").as("PeakId"),
      col("FNAME").cast("string").as("FirstName"),
      col("LNAME").cast("string").as("LastName"),
      col("YOB").cast("int").as("YearOfBirth"),
      when(col("SEX").isin("M", "F"), col("SEX")).otherwise(lit("UNKNOWN")).as("Gender"),
      col("CITIZEN").cast("string").as("CitizenshipCountry"),
      col("CALCAGE").cast("int").as("Age"),
      col("MSUCCESS").cast("int").as("Success"),
      col("MO2USED").cast("int").as("OxygenUsed"),
      col("HIRED").cast("int").as("Hired"),
      col("DEATH").cast("int").as("Death"),
      col("MYEAR").cast("int").as("MYEAR"),
      col("MSEASON").cast("int").as("MSEASON"))
      .withColumn("AgeGroup", Bin.cut(col("Age"), ageEdges, ageLabels))

    val withId = SurrogateKey.dense(base,
      Seq(col("ExpeditionId"), col("LastName"), col("FirstName")))

    // J1: members x DIM_Date on (MYEAR, MSEASON) = (Year, Quarter)
    val d = dimDate.select(col("Id").as("DateId"), col("Year"), col("Quarter"))
    val withDate = withId.join(broadcast(d),
      withId("MYEAR") === d("Year") && withId("MSEASON") === d("Quarter"), "left")
      .drop("Year", "Quarter")

    // J3: fuzzy top-1 citizenship -> CountryName
    val matched = FuzzyJoin.top1(withDate, "CitizenshipCountry",
      dimCountryIndicator, "CountryName", "__country")

    // J2: x DIM_CountryIndicator on (matched country, MYEAR) = (CountryName, Year)
    val ci = dimCountryIndicator.select(
      col("Id").as("CountryIndicatorId"), col("CountryName"), col("Year"))
    matched.join(broadcast(ci),
        matched("__country") === ci("CountryName") && matched("MYEAR") === ci("Year"), "left")
      .select("Id", "ExpeditionId", "PeakId", "FirstName", "LastName",
        "YearOfBirth", "Gender", "CitizenshipCountry", "Age", "AgeGroup",
        "Success", "OxygenUsed", "Hired", "Death", "DateId", "CountryIndicatorId")
  }

  /** Full star schema from the four inputs; `members` feeds two transforms
    * (the reference's Dagster materialized reuse → explicit cache).
    */
  def build(members: DataFrame, expeditions: DataFrame, peaks: DataFrame,
            wbLong: DataFrame): Map[String, DataFrame] = {
    val m = members.cache()
    val dDate = dimDate(m).cache()
    val dCI = dimCountryIndicator(wbLong).cache()
    Map(
      "DIM_Peak" -> dimPeak(peaks),
      "DIM_Expedition" -> dimExpedition(expeditions),
      "DIM_Date" -> dDate,
      "DIM_CountryIndicator" -> dCI,
      "FACT_MemberExpedition" -> factMemberExpedition(m, dDate, dCI))
  }

  /** Load: parquet star schema (the engine-native warehouse; the JDBC/DDL
    * path of the reference maps to [[graft.sources.JdbcSink]]).
    */
  def writeParquet(tables: Map[String, DataFrame], outDir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name")
    }
}
