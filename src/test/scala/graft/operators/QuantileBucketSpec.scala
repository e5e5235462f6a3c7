package graft.operators

import graft.SparkSpec

/** pandas `qcut(3, duplicates="drop")` parity (reference dw-etl
  * `ops/transform.py:322-353`): tied values land in ONE bucket, duplicate
  * quantile edges collapse and relabel.
  */
class QuantileBucketSpec extends SparkSpec {
  import spark.implicits._

  private def buckets(vals: Seq[Option[Double]]): Map[Option[Double], Option[String]] = {
    val df = vals.map(("g", _)).toDF("g", "v")
    QuantileBucket.qcut3(df, Seq("g"), "v", "b")
      .select("v", "b").as[(Option[Double], Option[String])].collect().toMap
  }

  test("distinct values split into Low/Medium/High at tertiles") {
    val got = buckets(Seq(1, 2, 3, 4, 5, 6).map(d => Some(d.toDouble)))
    assert(got(Some(1.0)).contains("Low"))
    assert(got(Some(3.0)).contains("Medium"))
    assert(got(Some(6.0)).contains("High"))
  }

  test("massive ties collapse edges -> fewer buckets, ties stay together") {
    // 7x the value 5 plus one 9: tertiles of the 8 values are 5,5 -> edges
    // dedup to [5, 9], which is ONE interval (pandas qcut duplicates="drop"
    // yields a single (4.999, 9] bin here) -> everything labelled Low
    val got = buckets(Seq(5, 5, 5, 5, 5, 5, 5, 9).map(d => Some(d.toDouble)))
    assert(got(Some(5.0)).contains("Low"))
    assert(got(Some(9.0)).contains("Low"))
    // a clean tertile split still yields High for the top value
    val clean = buckets(Seq(1, 1, 1, 5, 5, 5, 9, 9, 9).map(d => Some(d.toDouble)))
    assert(clean(Some(1.0)).contains("Low"))
    assert(clean(Some(5.0)).contains("Medium"))
    assert(clean(Some(9.0)).contains("High"))
  }

  test("constant group -> single Low bucket") {
    val got = buckets(Seq.fill(5)(Some(7.0)))
    assert(got(Some(7.0)).contains("Low"))
  }

  test("nulls map to null") {
    val got = buckets(Seq(Some(1.0), Some(2.0), Some(3.0), None))
    assert(got(None).isEmpty)
  }

  test("multi-column form == folding the single-column form, column by column") {
    // per group: v1 distinct / constant / all-null, v2 ties that collapse
    // edges, v3 nulls inside a group; plus an all-null group and a null key
    val rows = Seq[(Option[String], Option[Double], Option[Double], Option[Double])](
      (Some("a"), Some(1.0), Some(5.0), Some(1.0)),
      (Some("a"), Some(2.0), Some(5.0), None),
      (Some("a"), Some(3.0), Some(5.0), Some(3.0)),
      (Some("a"), Some(4.0), Some(5.0), None),
      (Some("a"), Some(5.0), Some(5.0), Some(2.0)),
      (Some("a"), Some(6.0), Some(9.0), Some(8.0)),
      (Some("b"), Some(7.0), None, Some(1.0)),
      (Some("b"), Some(7.0), None, Some(1.0)),
      (Some("b"), Some(7.0), None, Some(5.0)),
      (Some("b"), Some(7.0), None, Some(9.0)),
      (Some("c"), None, None, None),
      (Some("c"), None, None, None),
      (None, Some(1.0), Some(2.0), None),
      (None, Some(2.0), Some(2.0), Some(4.0)))
    val df = rows.toDF("g", "v1", "v2", "v3")
    val cols = Seq("v1" -> "b1", "v2" -> "b2", "v3" -> "b3")

    val multi = QuantileBucket.qcut3(df, Seq("g"), cols)
    val folded = cols.foldLeft(df) { case (acc, (v, b)) =>
      QuantileBucket.qcut3(acc, Seq("g"), v, b)
    }
    assert(multi.schema == folded.schema)
    assert(multi.columns.toSeq == Seq("g", "v1", "v2", "v3", "b1", "b2", "b3"))
    assert(multi.exceptAll(folded).isEmpty)
    assert(folded.exceptAll(multi).isEmpty)
    assert(multi.count() == rows.size)
    // the cases above are all exercised, not vacuous
    val labels = multi.select("b1", "b2", "b3").as[(Option[String], Option[String],
      Option[String])].collect()
    assert(labels.flatMap(r => Seq(r._1, r._2, r._3)).flatten.toSet ==
      Set("Low", "Medium", "High"))
  }
}
