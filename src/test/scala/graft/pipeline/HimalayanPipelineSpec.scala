package graft.pipeline

import graft.SparkSpec

/** End-to-end star-schema replication over hand-written fixtures whose
  * expected values were computed by hand following the reference transform
  * semantics (FIXTURES.md shapes; pandas interpolate/qcut rules).
  */
class HimalayanPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val peaks = Seq(
    ("AMAD", "Ama Dablam", 6814),
    ("EVER", "Everest", 8848),
    ("LOWP", "Low Peak", 4999)).toDF("PEAKID", "PKNAME", "HEIGHTM")

  private lazy val expeditions = Seq(
    ("EXP1", 1, "South Col", 1),
    ("EXP1", 2, "Dup route", 0), // duplicate business key -> keep-first by order
    ("EXP2", 1, "North Ridge", 0)).toDF("EXPID", "HOST", "ROUTE1", "SUCCESS1")

  private lazy val members = Seq(
    ("EXP1", "AMAD", "Ann", "Alpine", 1970, "F", "Alfa", 31, 1, 0, 0, 0, 2001, 1),
    ("EXP1", "AMAD", "Bob", "Basecamp", 1980, "X", "Beta", 21, 0, 1, 0, 0, 2001, 1),
    ("EXP2", "EVER", "Cal", "Climber", 1960, "M", "Alpha", 42, 1, 1, 1, 0, 2002, 3))
    .toDF("EXPID", "PEAKID", "FNAME", "LNAME", "YOB", "SEX", "CITIZEN",
      "CALCAGE", "MSUCCESS", "MO2USED", "HIRED", "DEATH", "MYEAR", "MSEASON")

  // long WB records; (AAA, 2001) has duplicate values 8 and 12 -> pivot mean 10
  private lazy val wbLong = Seq(
    ("AAA", "Alpha", 2000, "NY.GDP.PCAP.CD", None: Option[Double]),
    ("AAA", "Alpha", 2001, "NY.GDP.PCAP.CD", Some(8.0)),
    ("AAA", "Alpha", 2001, "NY.GDP.PCAP.CD", Some(12.0)),
    ("AAA", "Alpha", 2002, "NY.GDP.PCAP.CD", None),
    ("AAA", "Alpha", 2003, "NY.GDP.PCAP.CD", None),
    ("AAA", "Alpha", 2004, "NY.GDP.PCAP.CD", Some(40.0)),
    ("BBB", "Beta", 2000, "NY.GDP.PCAP.CD", Some(5.0)),
    ("BBB", "Beta", 2001, "NY.GDP.PCAP.CD", None),
    ("BBB", "Beta", 2002, "NY.GDP.PCAP.CD", None))
    .toDF("COUNTRYCODE", "COUNTRYNAME", "YEAR", "INDICATORCODE", "VALUE")

  test("DIM_Peak: rename + height binning, out-of-range -> null") {
    val got = HimalayanPipeline.dimPeak(peaks)
      .as[(String, String, Int, Option[String])].collect().toSet
    assert(got == Set(
      ("AMAD", "Ama Dablam", 6814, Some("6500-6999")),
      ("EVER", "Everest", 8848, Some("8500-8999")),
      ("LOWP", "Low Peak", 4999, None)))
  }

  test("DIM_Expedition: keep-first dedup on the business key") {
    val got = HimalayanPipeline.dimExpedition(expeditions)
      .as[(String, Int, String, Int)].collect().toSet
    assert(got == Set(("EXP1", 1, "South Col", 1), ("EXP2", 1, "North Ridge", 0)))
  }

  test("DIM_Date: distinct (year, season), season names, decades, dense ids") {
    val got = HimalayanPipeline.dimDate(members)
      .as[(Int, Int, Int, String, Int)].collect().toSet
    assert(got == Set(
      (1, 2001, 1, "Winter", 2000),
      (2, 2002, 3, "Summer", 2000)))
  }

  test("DIM_CountryIndicator: pivot-mean, zero-anchor, interpolate, qcut, ids") {
    val df = HimalayanPipeline.dimCountryIndicator(wbLong)
    val got = df.select("Id", "CountryCode", "Year", "GDPPerCapita", "GDPPerCapitaBucket")
      .as[(Int, String, Int, Option[Double], Option[String])].collect()
      .map(r => (r._2, r._3) -> (r._1, r._4, r._5)).toMap
    // AAA: first-row null anchored to 0; [0, 10(mean of 8,12), _, _, 40]
    // interpolates positionally to [0, 10, 20, 30, 40]
    assert(got(("AAA", 2000)) == ((1, Some(0.0), Some("Low"))))
    assert(got(("AAA", 2001))._2.contains(10.0))
    assert(got(("AAA", 2002))._2.contains(20.0))
    assert(got(("AAA", 2003))._2.contains(30.0))
    assert(got(("AAA", 2004))._2.contains(40.0))
    // BBB: [5, null, null] -> trailing ffill [5, 5, 5]
    assert(got(("BBB", 2001))._2.contains(5.0))
    assert(got(("BBB", 2002))._2.contains(5.0))
    // per-year qcut across countries: 2000 has {0, 5} -> Low/High
    assert(got(("AAA", 2000))._3.contains("Low"))
    assert(got(("BBB", 2000))._3.contains("High"))
    // surrogate ids ordered by (CountryCode, Year): AAA 2000-2004 -> 1..5, BBB -> 6..8
    assert(got(("BBB", 2000))._1 == 6)
  }

  test("DIM_CountryIndicator's plan reads wbLong twice, not 2^n times") {
    // one aggregate + one join for all five indicators; a per-column qcut
    // fold doubles the lineage per indicator (2^5 = 32 leaves)
    val leaves = HimalayanPipeline.dimCountryIndicator(wbLong)
      .queryExecution.analyzed.collectLeaves()
    assert(leaves.size <= 2, s"${leaves.size} leaves")
  }

  test("FACT_MemberExpedition: joins, fuzzy citizenship, bins, flags") {
    val tables = HimalayanPipeline.build(members, expeditions, peaks, wbLong)
    val fact = tables("FACT_MemberExpedition")
    val rows = fact.select("FirstName", "Gender", "AgeGroup", "DateId",
        "CountryIndicatorId", "Success", "OxygenUsed")
      .as[(String, String, Option[String], Option[Int], Option[Int], Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    // Ann: F stays, age 31 -> 30-39, (2001,1) -> DateId 1,
    // CITIZEN "Alfa" fuzzy-matches "Alpha" -> (Alpha, 2001) -> CI id 2
    assert(rows("Ann") == (("Ann", "F", Some("30-39"), Some(1), Some(2), 1, 0)))
    // Bob: SEX X -> UNKNOWN; "Beta" exact -> (Beta, 2001) -> CI id 7
    assert(rows("Bob") == (("Bob", "UNKNOWN", Some("18-29"), Some(1), Some(7), 0, 1)))
    // Cal: (2002,3) -> DateId 2; (Alpha, 2002) -> CI id 3
    assert(rows("Cal") == (("Cal", "M", Some("40-49"), Some(2), Some(3), 1, 1)))
    // fact column surface matches the reference's loaded shape
    assert(fact.columns.toSeq == Seq("Id", "ExpeditionId", "PeakId", "FirstName",
      "LastName", "YearOfBirth", "Gender", "CitizenshipCountry", "Age", "AgeGroup",
      "Success", "OxygenUsed", "Hired", "Death", "DateId", "CountryIndicatorId"))
  }

  test("CSV-driven pipeline with contract validation and FK integrity") {
    import graft.sources.CsvSource
    import graft.operators.Integrity
    val base = "/root/repo/target/qtmp/himalayan_csv"
    peaks.write.mode("overwrite").option("header", "true").csv(s"$base/peaks")
    members.write.mode("overwrite").option("header", "true").csv(s"$base/members")

    // schema-first contract-checked reads (reference extract ops S2-S4)
    val peaksIn = CsvSource.read(spark, s"$base/peaks", peaks.schema,
      required = Seq("PEAKID", "PKNAME", "HEIGHTM"), requireRows = true)
    val membersIn = CsvSource.read(spark, s"$base/members", members.schema,
      required = Seq("EXPID", "PEAKID", "MYEAR", "MSEASON", "SEX", "CITIZEN",
        "CALCAGE", "MSUCCESS", "MO2USED", "HIRED", "DEATH"), requireRows = true)

    val tables = HimalayanPipeline.build(membersIn, expeditions, peaksIn, wbLong)
    val fact = tables("FACT_MemberExpedition")
    // post-load referential integrity (reference ops/load.py:149-159):
    // every resolved FK must land in its dimension
    Integrity.requireFk(fact, "DateId", tables("DIM_Date"), "Id")
    Integrity.requireFk(fact, "CountryIndicatorId", tables("DIM_CountryIndicator"), "Id")
    Integrity.requireFk(fact, "PeakId", tables("DIM_Peak"), "Id")
    assert(fact.count() == 3)
    // and the violation detector actually detects: poison one key
    import org.apache.spark.sql.functions._
    val poisoned = fact.withColumn("DateId",
      when(col("FirstName") === "Ann", lit(999)).otherwise(col("DateId")))
    assert(Integrity.fkViolations(poisoned, "DateId", tables("DIM_Date"), "Id")
      .count() == 1)
  }

  test("writeParquet lands all five star-schema tables") {
    val out = "/root/repo/target/qtmp/star"
    val tables = HimalayanPipeline.build(members, expeditions, peaks, wbLong)
    HimalayanPipeline.writeParquet(tables, out)
    val back = spark.read.parquet(s"$out/FACT_MemberExpedition")
    assert(back.count() == 3)
    assert(spark.read.parquet(s"$out/DIM_CountryIndicator").count() == 8)
  }
}
