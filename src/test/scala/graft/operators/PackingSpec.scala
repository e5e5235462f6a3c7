package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: the distributed two-pass stream positions must equal
  * the single-partition window cumsum definition on any input partitioning,
  * and the chunk mapping must pin the straddle/empty-doc edge cases.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("streamPositions equals the global-window cumsum under adversarial partitioning") {
    val rows = (1L to 200L).map(i => (i, (i * 7) % 23)) // varied weights incl. 0
    val df = rows.toDF("id", "w").repartition(7) // scrambled input placement
    val got = Pins.scoped {
      Packing.streamPositions(df, Seq(col("id")), "w")
        .select("id", "stream_start").as[(Long, Long)].collect().toMap
    }
    val want = rows.toDF("id", "w")
      .withColumn("stream_start",
        coalesce(sum(col("w")).over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("id", "stream_start").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("chunk pins straddling docs, exact-boundary docs, and empty docs") {
    // seqLen 10; stream: a[0,7) b[7,13) straddles, c[13,13) empty,
    // d[13,20) ends exactly at the boundary, e[20,31) spans two boundaries
    val df = Seq((1L, 7L), (2L, 6L), (3L, 0L), (4L, 7L), (5L, 11L))
      .toDF("id", "w").repartition(3)
    val got = Packing.chunk(df, Seq(col("id")), "w", seqLen = 10L)
      .select("id", "stream_start", "seq_first", "seq_last", "n_seqs")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    spark.catalog.clearCache() // release chunk's internal persist
    assert(got == Seq(
      (1L, 0L, 0L, 0L, 1L),   // [0,7) inside seq 0
      (2L, 7L, 0L, 1L, 2L),   // [7,13) straddles 0->1
      (3L, 13L, 1L, 1L, 0L),  // empty: occupies nothing, would fall in 1
      (4L, 13L, 1L, 1L, 1L),  // [13,20) touches boundary, stays in 1
      (5L, 20L, 2L, 3L, 2L))) // [20,31) spans 2->3
    // total sequences = ceil(total tokens / seqLen)
    val total = 7L + 6L + 0L + 7L + 11L
    assert(got.map(_._4).max == (total - 1) / 10L)
  }

  test("withStreamPositions releases the internal cache after use") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 300).map(i => (i.toLong, (i % 5).toLong)).toDF("id", "w")
    var during = Set.empty[Int]
    Pins.scoped {
      Packing.streamPositions(df, Seq(col("id")), "w").collect()
      during = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    }
    assert(during.nonEmpty, "the scope never persisted its internal relation")
    val deadline = System.nanoTime() + 5e9.toLong
    def ours = spark.sparkContext.getPersistentRDDs.keySet.toSet.intersect(during)
    while (ours.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(ours.isEmpty, "the scope must unpersist its internal relation")
  }

  test("sequences: per-sequence slices are contiguous and sum to seqLen (except the tail)") {
    val rows = (1L to 400L).map(i => (i, (i * 13) % 37)) // varied weights incl. 0
    val df = rows.toDF("id", "w").repartition(5)
    val slices = Pins.scoped {
      Packing.sequences(df, Seq(col("id")), "w", seqLen = 64L)
        .select("seq_id", "offset_in_seq", "len_in_seq", "offset_in_doc", "id", "w")
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    }
    val total = rows.map(_._2).sum
    val lastSeq = (total - 1) / 64L
    assert(slices.map(_._1).max == lastSeq)
    assert(slices.forall(_._3 > 0), "every emitted slice must be non-empty")
    // law 1: per-sequence slice lengths sum to seqLen (tail may be short)
    val bySeq = slices.groupBy(_._1)
    for ((sid, ss) <- bySeq) {
      val sum = ss.map(_._3).sum
      if (sid < lastSeq) assert(sum == 64L, s"seq $sid sums to $sum")
      else assert(sum == total - lastSeq * 64L, s"tail seq $sid sums to $sum")
    }
    // law 2: within a sequence, slices ordered by offset are contiguous from 0
    for ((sid, ss) <- bySeq) {
      val sorted = ss.sortBy(_._2)
      assert(sorted.head._2 == 0L, s"seq $sid does not start at offset 0")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 + a._3 == b._2, s"gap in seq $sid")
        case _ =>
      }
    }
    // law 3: per document, slices cover exactly [0, w) contiguously
    val byDoc = slices.groupBy(_._5)
    for ((id, ss) <- byDoc) {
      val w = rows(id.toInt - 1)._2
      assert(ss.map(_._3).sum == w, s"doc $id slices don't sum to its weight")
      val sorted = ss.sortBy(_._4)
      assert(sorted.head._4 == 0L)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 + a._3 == b._4, s"doc $id slice gap")
        case _ =>
      }
    }
    // weight-0 docs emit no rows
    val zeroIds = rows.filter(_._2 == 0L).map(_._1).toSet
    assert(slices.forall(s => !zeroIds.contains(s._5)))
  }

  test("concurrent brackets own independent handles: no leak, no cross-unpersist") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df1 = (1 to 500).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "w")
    val df2 = (1 to 500).map(i => (i.toLong, (i % 11).toLong)).toDF("id", "w")
    val gate = new java.util.concurrent.CyclicBarrier(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def run(df: org.apache.spark.sql.DataFrame): Future[Map[Long, Long]] = Future {
      Pins.scoped {
        val out = Packing.streamPositions(df, Seq(col("id")), "w")
        gate.await() // both scopes hold their persists simultaneously
        val m = out.select("id", "stream_start").as[(Long, Long)].collect().toMap
        gate.await() // neither unpersists until both have collected
        m
      }
    }
    val (got1, got2) = (run(df1), run(df2))
    val want1 = Await.result(got1, 120.seconds)
    val want2 = Await.result(got2, 120.seconds)
    // results correct under interleaving (the old shared-slot bug could
    // unpersist the other call's pinned relation mid-collect)
    assert(want1(500L) == (1 to 499).map(i => (i % 7).toLong).sum)
    assert(want2(500L) == (1 to 499).map(i => (i % 11).toLong).sum)
    // and both pins were released — no leak survives the scopes
    val deadline = System.nanoTime() + 5e9.toLong
    def leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"leaked persists: $leaked")
  }

  test("no data-sized single-partition stage: only the #partitions-row offsets window is global") {
    val df = spark.range(10000).select(col("id"), (col("id") % 13).as("w"))
    val out = Packing.streamPositions(df, Seq(col("id")), "w")
    val p = out.queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    // exactly one SinglePartition exchange — the per-partition offsets
    // relation (one row per range partition), never the data itself: its
    // subtree must contain the partition-sums AGGREGATE, not a raw scan
    val lines = p.linesIterator.toVector
    val singles = lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
    assert(singles.size == 1, p)
    // the big window (running weight sum) is keyed by the partition id
    assert(lines.exists(l => l.contains("Window") && l.contains("hashpartitioning"))
      || p.contains("hashpartitioning"), p)
  }
}
