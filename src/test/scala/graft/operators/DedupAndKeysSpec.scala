package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupAndKeysSpec extends SparkSpec {
  import spark.implicits._

  test("keepFirst keeps exactly the first row per key under the given order") {
    val df = Seq(("k1", 2, "second"), ("k1", 1, "first"), ("k2", 5, "only"))
      .toDF("k", "ord", "tag")
    val got = Dedup.keepFirst(df, Seq("k"), Seq(col("ord")))
      .select("k", "tag").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "first", "k2" -> "only"))
  }

  test("SurrogateKey.dense assigns contiguous 1..n in order") {
    val df = Seq("c", "a", "b").toDF("name")
    val got = SurrogateKey.dense(df, Seq(col("name")))
      .select("Id", "name").as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("SurrogateKey.scalable matches dense on the same order") {
    val df = (1 to 100).map(i => (i % 7, i)).toDF("a", "b")
    val dense = SurrogateKey.dense(df, Seq(col("a"), col("b")))
      .select(col("Id").cast("long"), col("a"), col("b"))
      .as[(Long, Int, Int)].collect().toSet
    val scalable = SurrogateKey.scalable(df, Seq(col("a"), col("b")))
      .select(col("Id"), col("a"), col("b"))
      .as[(Long, Int, Int)].collect().toSet
    assert(scalable == dense)
  }

  test("SurrogateKey.scalable stays in Tungsten (no RDD round-trip) and is contiguous at size") {
    val df = spark.range(10000).select(
      (col("id") % 13).as("a"), col("id").as("b"))
    val keyed = SurrogateKey.scalable(df, Seq(col("a"), col("b")))
    // the old implementation exited codegen via rdd.zipWithIndex; the plan
    // must now be pure SQL operators (no ExistingRDD scan)
    assert(!keyed.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val ids = keyed.select("Id").as[Long].collect().sorted
    assert(ids.head == 1L && ids.last == 10000L && ids.length == 10000)
    assert(ids.zip(ids.tail).forall { case (x, y) => y == x + 1 })
    // order semantics: id rank equals the sort rank
    val firstRow = keyed.filter(col("Id") === 1).select("a", "b")
      .as[(Long, Long)].collect().head
    assert(firstRow == ((0L, 0L)))
  }

  test("SurrogateKey.withScalable releases the internal cache after use") {
    // suites share one SparkContext and run in parallel, so a global
    // "no persistent RDDs" assertion races every other suite's caches
    // (flaked twice in round 8's full runs) — track only the RDD ids that
    // appear DURING this bracket and assert those drain
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 500).map(i => (i % 7, i)).toDF("a", "b")
    var during = Set.empty[Int]
    val ids = Pins.scoped {
      val keyed = SurrogateKey.scalable(df, Seq(col("a"), col("b")))
      val r = keyed.select("Id").as[Long].collect().sorted
      // snapshot while the internal relation is still persisted
      during = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      r
    }
    assert(ids.head == 1L && ids.last == 500L)
    assert(during.nonEmpty, "the scope never persisted its internal relation")
    // unpersist(blocking = false) is async; poll briefly
    val deadline = System.nanoTime() + 5e9.toLong
    def ours = spark.sparkContext.getPersistentRDDs.keySet.toSet.intersect(during)
    while (ours.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(ours.isEmpty, "the scope must unpersist its internal relation")
  }

  test("Dedup.keepBest keeps the preferred cluster member; singletons survive") {
    val docs = Seq(
      (1L, "short", 5), (2L, "the longest one", 15), (3L, "medium!", 7), // cluster A
      (10L, "tie", 3), (11L, "eit", 3),                                  // cluster B, tie
      (99L, "singleton", 9))                                             // unlabeled
      .toDF("doc_id", "text", "len")
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "comp")
    val kept = Dedup.keepBest(docs, "doc_id", comps,
        Seq(col("len").desc, col("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    // longest wins in A; min id breaks B's tie; 99 has no cluster row
    assert(kept == Set(2L, 10L, 99L))
  }

  test("FuzzyJoin.top1 picks nearest candidate, ties lexicographically") {
    val left = Seq("GERMANY!", "FRANC", "xyz").toDF("name")
    val right = Seq("GERMANY", "FRANCE", "GREECE").toDF("country")
    val got = FuzzyJoin.top1(left, "name", right, "country", "best")
      .select("name", "best").as[(String, String)].collect().toMap
    assert(got("GERMANY!") == "GERMANY")
    assert(got("FRANC") == "FRANCE")
    // xyz: dist 6 to FRANCE/GREECE, 7 to GERMANY -> tie FRANCE vs GREECE -> FRANCE
    assert(got("xyz") == "FRANCE")
  }

  test("FuzzyJoin.tokenSortRatio ignores word order, penalizes real edits") {
    val df = Seq(
      ("new york mets", "mets new york"),
      ("new york mets", "new york jets"),
      ("a b", "a b")).toDF("x", "y")
    val got = df.select(FuzzyJoin.tokenSortRatio(col("x"), col("y")).as("r"))
      .as[Double].collect().toSeq
    assert(got(0) == 1.0)          // pure reorder -> identical
    assert(got(1) > 0.7 && got(1) < 1.0) // one-word edit
    assert(got(2) == 1.0)
  }

  test("AsOfJoin.backward: inclusive sees same-instant right row, strict does not") {
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2")).toDF("uid", "t", "eid")
    val right = Seq((1L, 10L, 100.0), (1L, 15L, 150.0)).toDF("uid", "rt", "pay")
    val incl = AsOfJoin.backward(left, right, Seq("uid"), "t", "rt", Seq("pay"))
      .select("eid", "pay").as[(String, Option[Double])].collect().toMap
    assert(incl == Map("e1" -> Some(100.0), "e2" -> Some(150.0)))
    val strict = AsOfJoin.backward(left, right, Seq("uid"), "t", "rt", Seq("pay"),
        strict = true)
      .select("eid", "pay").as[(String, Option[Double])].collect().toMap
    assert(strict == Map("e1" -> None, "e2" -> Some(150.0)))
  }

  test("AsOfJoin.backward: key with no right rows yields null payload") {
    val left = Seq((7L, 10L, "lone")).toDF("uid", "t", "eid")
    val right = Seq((1L, 5L, 1.0)).toDF("uid", "rt", "pay")
    val got = AsOfJoin.backward(left, right, Seq("uid"), "t", "rt", Seq("pay"))
      .select("eid", "pay").as[(String, Option[Double])].collect().toMap
    assert(got == Map("lone" -> None))
  }

  test("AsOfJoin.forward: least right ts at-or-after; strict skips same instant") {
    val left = Seq((1L, 10L, "e1"), (1L, 16L, "e2"), (1L, 30L, "e3"))
      .toDF("uid", "t", "eid")
    val right = Seq((1L, 10L, 100.0), (1L, 20L, 200.0)).toDF("uid", "rt", "pay")
    val incl = AsOfJoin.forward(left, right, Seq("uid"), "t", "rt", Seq("pay"))
      .select("eid", "pay").as[(String, Option[Double])].collect().toMap
    assert(incl == Map("e1" -> Some(100.0), "e2" -> Some(200.0), "e3" -> None))
    val strict = AsOfJoin.forward(left, right, Seq("uid"), "t", "rt", Seq("pay"),
        strict = true)
      .select("eid", "pay").as[(String, Option[Double])].collect().toMap
    assert(strict == Map("e1" -> Some(200.0), "e2" -> Some(200.0), "e3" -> None))
  }

  test("AsOfJoin.nearest: min |Δt| either side, tie to the earlier row") {
    val left = Seq(
      (1L, 12L, "nearer-left"),   // b at 10 (d=2), f at 20 (d=8) -> 10
      (1L, 18L, "nearer-right"),  // b at 10 (d=8), f at 20 (d=2) -> 20
      (1L, 15L, "exact-tie"),     // d=5 both sides -> earlier (10)
      (1L, 10L, "same-instant"),  // right row at own ts -> distance 0
      (2L, 99L, "no-rights")
    ).toDF("uid", "t", "eid")
    val right = Seq((1L, 10L, 100.0), (1L, 20L, 200.0)).toDF("uid", "rt", "pay")
    val got = AsOfJoin.nearest(left, right, Seq("uid"), "t", "rt", Seq("pay"))
      .select("eid", "pay").as[(String, Option[Double])].collect().toMap
    assert(got == Map(
      "nearer-left" -> Some(100.0), "nearer-right" -> Some(200.0),
      "exact-tie" -> Some(100.0), "same-instant" -> Some(100.0),
      "no-rights" -> None))
  }

  test("AsOfJoin.nearest: before-first and after-last fall to the only side") {
    val left = Seq((1L, 1L, "before"), (1L, 50L, "after")).toDF("uid", "t", "eid")
    val right = Seq((1L, 10L, 10.0), (1L, 20L, 20.0)).toDF("uid", "rt", "pay")
    val got = AsOfJoin.nearest(left, right, Seq("uid"), "t", "rt", Seq("pay"))
      .select("eid", "pay").as[(String, Option[Double])].collect().toMap
    assert(got == Map("before" -> Some(10.0), "after" -> Some(20.0)))
  }
}
