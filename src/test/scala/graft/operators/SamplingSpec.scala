package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def df = spark.range(1000)
    .select(col("id"), (col("id") % 7).as("g"))

  test("stratified draws exactly min(k, stratum size) per stratum") {
    val got = Sampling.stratified(df, Seq("g"), 10, Seq("id"))
      .groupBy("g").count().as[(Long, Long)].collect().toMap
    assert(got.values.forall(_ == 10) && got.size == 7)
    // k larger than the stratum: whole stratum, no padding
    val tiny = Seq((1L, 0L), (2L, 0L), (3L, 1L)).toDF("id", "g")
    val all = Sampling.stratified(tiny, Seq("g"), 10, Seq("id")).count()
    assert(all == 3)
  }

  test("the draw is a pure function of the data: stable across partitionings") {
    val a = Sampling.stratified(df.repartition(3), Seq("g"), 10, Seq("id"))
      .select("id").as[Long].collect().toSet
    val b = Sampling.stratified(df.repartition(17, col("id")), Seq("g"), 10, Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(a == b)
    // and it is not just "first k by key": the hash order scrambles
    assert(a != (0L until 70L).toSet)
  }

  test("draws are nested: the k=5 sample is a subset of the k=10 sample") {
    val k5 = Sampling.stratified(df, Seq("g"), 5, Seq("id"))
      .select("id").as[Long].collect().toSet
    val k10 = Sampling.stratified(df, Seq("g"), 10, Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(k5.subsetOf(k10) && k5.size == 35 && k10.size == 70)
  }

  test("temperatureResample: sqrt quotas flatten big strata, keep small ones whole") {
    // strata sizes 900 / 64 / 9: quotas (scale 2) = min(n, 2*floor(sqrt(n)))
    //   900 -> 60 (downsampled 15x), 64 -> 16, 9 -> 6
    val skewed = spark.range(900).select(col("id"), lit("big").as("g"))
      .unionByName(spark.range(1000, 1064).select(col("id"), lit("mid").as("g")))
      .unionByName(spark.range(2000, 2009).select(col("id"), lit("small").as("g")))
    val got = Sampling.temperatureResample(skewed, Seq("g"), Seq("id"), scale = 2)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(got == Map("big" -> 60L, "mid" -> 16L, "small" -> 6L), got.toString)
    // big stratum's share drops from 93% to 73% — the mixture flattened
    // while preserving the size ordering
    assert(got("big") < 900 && got("small") == 6)
    // determinism across partitionings, same as stratified
    val a = Sampling.temperatureResample(skewed.repartition(3), Seq("g"), Seq("id"))
      .select("id").as[Long].collect().toSet
    val b = Sampling.temperatureResample(skewed.repartition(17, col("id")), Seq("g"), Seq("id"))
      .select("id").as[Long].collect().toSet
    assert(a == b)
  }

  test("epochShuffle: a contiguous permutation, stable across partitionings, seed-independent") {
    val df = spark.range(1, 1001).toDF("id")
    def positions(d: org.apache.spark.sql.DataFrame, seed: Long) = {
      val m = Sampling.epochShuffle(d, Seq("id"), seed)
        .select("id", "shuffle_pos").as[(Long, Long)].collect().toMap
      spark.catalog.clearCache() // release scalable's internal persist
      m
    }
    val p1 = positions(df, 42L)
    // bijection onto 1..n — every position assigned exactly once
    assert(p1.values.toSeq.sorted == (1L to 1000L), "not a permutation")
    // actually shuffled: the identity order would be astronomically unlikely
    assert(p1.count { case (id, pos) => id == pos } < 50, "barely shuffled")
    // pure function of (seed, key): any input partitioning gives the
    // same permutation — the property rand() shuffles lack
    val p2 = positions(df.repartition(17, col("id")), 42L)
    assert(p1 == p2, "permutation moved with the partitioning")
    // a different seed draws an (essentially) independent permutation
    val p3 = positions(df, 43L)
    assert(p3.values.toSeq.sorted == (1L to 1000L))
    assert(p1.count { case (id, pos) => p3(id) == pos } < 50,
      "seeds 42 and 43 gave nearly the same order")
  }

  test("weightCappedPerStratum: greedy prefix of the draw within the budget") {
    // weights chosen so the budget cuts mid-stratum: stratum 0 rows weigh
    // 30 each (budget 100 -> exactly 3 kept), stratum 1 rows weigh 60
    // (budget -> 1 kept), stratum 2 total weight under budget -> all kept
    val rows = Seq.tabulate(10)(i => (i.toLong, 0L, 30L)) ++
      Seq.tabulate(10)(i => (100L + i, 1L, 60L)) ++
      Seq.tabulate(3)(i => (200L + i, 2L, 10L))
    val d = rows.toDF("id", "g", "w")
    val kept = Sampling.weightCappedPerStratum(d, Seq("g"), Seq("id"), "w",
      budget = 100L)
    val byG = kept.groupBy("g").count().as[(Long, Long)].collect().toMap
    assert(byG(0L) == 3 && byG(1L) == 1 && byG(2L) == 3)
    // prefix law: kept ids are exactly the first rows of the hash draw
    // whose running weight fits — recompute driver-side
    val order = d.select(col("id"), col("g"), col("w"),
        xxhash64(col("id")).as("h"))
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._2)
    val want = order.values.flatMap { rs =>
      var cum = 0L
      rs.sortBy(r => (r._4, r._1))
        .takeWhile { r => cum += r._3; cum <= 100L }.map(_._1).toSeq
    }.toSet
    assert(kept.select("id").as[Long].collect().toSet == want)
    // partitioning-invariant (the draw is a pure function of the data)
    val kept2 = Sampling.weightCappedPerStratum(d.repartition(13, col("id")),
      Seq("g"), Seq("id"), "w", budget = 100L)
    assert(kept2.select("id").as[Long].collect().toSet == want)
    spark.catalog.clearCache() // release the two-pass internal persists
  }

  test("t48 law: the quota binds in BPE tokens — kept set is the greedy prefix under bpe_encode lengths") {
    // the budget machinery is weight-generic; this pins that feeding it
    // size(bpe_encode(text)) budgets in the TRAINER's tokens, not the
    // regex proxy (t43): replay the greedy prefix driver-side with the
    // same merge table and exact encoded lengths
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.learn(Bpe.wordCounts(docs, "text"), 40)
    val weighted = docs.select(col("doc_id"), (col("doc_id") % 5).as("g"),
      size(Bpe.encode(col("text"), merges)).cast("long").as("n_bpe"))
    val kept = Sampling.weightCappedPerStratum(weighted, Seq("g"),
        Seq("doc_id"), "n_bpe", budget = 500L,
        hash = Some(md5(col("doc_id").cast("string").cast("binary"))))
      .select(col("doc_id"), col("g"), col("n_bpe"))
      .as[(Long, Long, Long)].collect()
    // replay: per stratum, md5-ordered prefix whose BPE-length sum fits
    val all = weighted.select(col("doc_id"), col("g"), col("n_bpe"),
        md5(col("doc_id").cast("string").cast("binary")).as("h"))
      .as[(Long, Long, Long, String)].collect()
    val want = all.groupBy(_._2).values.flatMap { rs =>
      var cum = 0L
      rs.sortBy(r => (r._4, r._1))
        .takeWhile { r => cum += r._3; cum <= 500L }.map(_._1).toSeq
    }.toSet
    assert(kept.map(_._1).toSet == want)
    // the weights really are BPE lengths (not the regex token proxy):
    // at least one document's counts differ between the two tokenizers,
    // and every kept weight equals the exact encode length
    val exact = docs.select(col("doc_id"),
        size(Bpe.encode(col("text"), merges)).cast("long"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      .as[(Long, Long, Long)].collect()
    assert(exact.exists(r => r._2 != r._3),
      "fixture degenerate: BPE and regex token counts identical everywhere")
    val exactMap = exact.map(r => r._1 -> r._2).toMap
    kept.foreach { case (id, _, w) => assert(w == exactMap(id)) }
    spark.catalog.clearCache()
  }

  test("budgetCappedPerStratum: per-stratum budgets bind; absent strata kept whole") {
    val rows = Seq.tabulate(10)(i => (i.toLong, "en", 30L)) ++    // 300 total
      Seq.tabulate(6)(i => (100L + i, "zh", 30L)) ++              // 180 total
      Seq.tabulate(4)(i => (200L + i, "es", 30L))                 // unbudgeted
    val d = rows.toDF("id", "lang", "w")
    val budgets = Seq(("en", 100L), ("zh", 1000L)).toDF("lang", "budget")
    val kept = Sampling.budgetCappedPerStratum(d, Seq("lang"), Seq("id"),
        "w", budgets)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(kept("en") == 3, "en: 100-token budget admits 3 x 30")
    assert(kept("zh") == 6, "zh: budget above total keeps the stratum whole")
    assert(kept("es") == 4, "es: absent from the budget relation -> unlimited")
    // agrees with the constant-budget form where the budgets coincide
    val viaConst = Sampling.weightCappedPerStratum(
        d.filter(col("lang") === "en"), Seq("lang"), Seq("id"), "w", 100L)
      .select("id").as[Long].collect().toSet
    val viaRel = Sampling.budgetCappedPerStratum(
        d.filter(col("lang") === "en"), Seq("lang"), Seq("id"), "w", budgets)
      .select("id").as[Long].collect().toSet
    assert(viaConst == viaRel)
    spark.catalog.clearCache() // release the two-pass internal persists
  }

  test("two-pass cap/budget admission == the one-window form (randomized skewed corpora)") {
    // the scale rewrite's law: the range-sort + per-partition-offset
    // two-pass admits EXACTLY the rows the single-window oracle form
    // admits — on a skewed corpus (one mega-stratum ~70% of rows, a long
    // tail, null strata included) and under any input partitioning. The
    // size gate is forced onto the two-pass (a tiny fixture would
    // otherwise take the window form and prove nothing).
    spark.conf.set(Sampling.TwoPassMinBytesKey, "0")
    try {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(20260815L)
    val rows = Seq.tabulate(4000) { i =>
      val g = rnd.nextDouble() match {
        case p if p < 0.70 => "mega"
        case p if p < 0.75 => null
        case _             => s"g${rnd.nextInt(37)}"
      }
      (i.toLong, g, 1L + rnd.nextInt(50).toLong)
    }
    val d = rows.toDF("id", "g", "w").repartition(11, col("id"))
    val h = xxhash64(col("id"))
    val wRank = Window.partitionBy(col("g")).orderBy(h, col("id"))
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val winCap = d.withColumn("__rn", row_number().over(wRank))
      .filter(col("__rn") <= 17).select("id").as[Long].collect().toSet
    val twoCap = Sampling.cappedPerStratum(d, Seq("g"), Seq("id"), 17)
      .select("id").as[Long].collect().toSet
    assert(twoCap == winCap, "cap form diverged from the window oracle")
    val winBud = d.withColumn("__c", sum(col("w")).over(wCum))
      .filter(col("__c") <= 400L).select("id").as[Long].collect().toSet
    val twoBud = Sampling.weightCappedPerStratum(d, Seq("g"), Seq("id"),
        "w", 400L)
      .select("id").as[Long].collect().toSet
    assert(twoBud == winBud, "budget form diverged from the window oracle")
    // budget-relation form against the same oracle where budgets coincide
    val budgets = Seq(("mega", 400L)).toDF("g", "budget")
    val twoRel = Sampling.budgetCappedPerStratum(d, Seq("g"), Seq("id"),
        "w", budgets)
      .select("id").as[Long].collect().toSet
    val winRel = d.withColumn("__c", sum(col("w")).over(wCum))
      .filter(col("g").isNull || col("g") =!= "mega" || col("__c") <= 400L)
      .select("id").as[Long].collect().toSet
    assert(twoRel == winRel, "budget-relation form diverged")
    // temperatureResample (column quota — the form WindowGroupLimit
    // cannot prune, migrated to the two-pass in round 15) against its
    // window oracle: rank <= min(n, 2*floor(sqrt(n))) per stratum
    val counts = d.groupBy("g").count()
      .select(col("g"), least(col("count"),
        lit(2L) * floor(sqrt(col("count")))).as("__q"))
    // plain (not null-safe) equality mirrors the operator's using-columns
    // inner quota join: null strata are excluded, as they always were
    val winTemp = d.withColumn("__rn", row_number().over(wRank))
      .join(counts, d("g") === counts("g"))
      .filter(col("__rn") <= col("__q"))
      .select("id").as[Long].collect().toSet
    val twoTemp = Sampling.temperatureResample(d, Seq("g"), Seq("id"), scale = 2)
      .select("id").as[Long].collect().toSet
    assert(twoTemp == winTemp, "temperatureResample diverged from the window oracle")
    spark.catalog.clearCache() // release the two-pass internal persists
    } finally spark.conf.unset(Sampling.TwoPassMinBytesKey)
  }

  test("two-pass admission survives degenerate shuffle-partition counts (1 and 97)") {
    // the empty-offsets cliff: at spark.sql.shuffle.partitions=1 the range
    // sort yields ONE partition, every offset is null (filtered), and the
    // whole prefix must come from the local window; at 97 partitions most
    // strata span many near-empty partitions and the seam logic dominates
    val rows = Seq.tabulate(500) { i =>
      (i.toLong, if (i % 3 == 0) "mega" else s"g${i % 5}", 1L + i % 7)
    }
    val d = rows.toDF("id", "g", "w")
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(col("g"))
      .orderBy(xxhash64(col("id")), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = d.withColumn("__c", sum(col("w")).over(wCum))
      .filter(col("__c") <= 50L).select("id").as[Long].collect().toSet
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(Sampling.TwoPassMinBytesKey, "0") // force the two-pass
    try {
      for (p <- Seq("1", "97")) {
        spark.conf.set("spark.sql.shuffle.partitions", p)
        val got = Sampling.weightCappedPerStratum(d, Seq("g"), Seq("id"),
            "w", 50L)
          .select("id").as[Long].collect().toSet
        assert(got == want, s"diverged at shuffle.partitions=$p")
        spark.catalog.clearCache()
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.unset(Sampling.TwoPassMinBytesKey)
    }
  }

  private def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("size gate: both sides admit identical rows; the small side plans the window, the big side the two-pass") {
    val rows = Seq.tabulate(900)(i =>
      (i.toLong, if (i % 4 == 0) null else s"g${i % 11}", 1L + i % 13))
    val d = rows.toDF("id", "g", "w").repartition(7, col("id"))
    def kept(): (Set[Long], String) = {
      val out = Sampling.weightCappedPerStratum(d, Seq("g"), Seq("id"), "w", 60L)
      (out.select("id").as[Long].collect().toSet,
        out.queryExecution.executedPlan.toString)
    }
    val (small, pSmall) = withConf(Sampling.TwoPassMinBytesKey,
      Long.MaxValue.toString)(kept())
    val (big, pBig) = withConf(Sampling.TwoPassMinBytesKey, "0") {
      val r = kept(); spark.catalog.clearCache(); r
    }
    assert(small == big, "the gate changed the admitted set")
    // physical shapes: window form = one stratum window, no range sort,
    // no cached relation; two-pass form = range sort + offsets broadcast
    assert(pSmall.contains("windowspecdefinition(g#"), pSmall)
    assert(!pSmall.contains("Exchange rangepartitioning"), pSmall)
    assert(!pSmall.contains("InMemoryTableScan"), pSmall)
    assert(pBig.contains("Exchange rangepartitioning"), pBig)
  }

  test("withWeightCappedPerStratum bracket releases the two-pass internal cache after use") {
    withConf(Sampling.TwoPassMinBytesKey, "0") { // force the persisting path
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val d = (1 to 400).map(i => (i.toLong, s"g${i % 5}", (i % 7 + 1).toLong))
        .toDF("id", "g", "w")
      var during = Set.empty[Int]
      val n = Pins.scoped {
        val c = Sampling.weightCappedPerStratum(d, Seq("g"), Seq("id"),
          "w", 50L).count()
        during = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
        c
      }
      assert(n > 0)
      assert(during.nonEmpty, "the scope never persisted its internal relation")
      val deadline = System.nanoTime() + 5e9.toLong
      def ours = spark.sparkContext.getPersistentRDDs.keySet.toSet.intersect(during)
      while (ours.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(ours.isEmpty, "the scope must unpersist its internal relation")
    }
  }

  test("concurrent quota brackets own independent handles: no leak, no cross-unpersist") {
    withConf(Sampling.TwoPassMinBytesKey, "0") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val d1 = (1 to 400).map(i => (i.toLong, s"g${i % 5}")).toDF("id", "g")
      val d2 = (1 to 400).map(i => (i.toLong, s"g${i % 9}")).toDF("id", "g")
      val gate = new java.util.concurrent.CyclicBarrier(2)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      def run(d: org.apache.spark.sql.DataFrame, cap: Int): Future[Set[Long]] =
        Future {
          Pins.scoped {
            val out = Sampling.cappedPerStratum(d, Seq("g"), Seq("id"), cap)
            gate.await() // both scopes hold their persists simultaneously
            val s = out.select("id").as[Long].collect().toSet
            gate.await() // neither unpersists until both have collected
            s
          }
        }
      val (f1, f2) = (run(d1, 10), run(d2, 7))
      val got1 = Await.result(f1, 120.seconds)
      val got2 = Await.result(f2, 120.seconds)
      // correct under interleaving (a shared slot could unpersist the
      // other call's pinned relation mid-collect)
      assert(got1.size == 50 && got2.size == 63,
        s"sizes ${got1.size}/${got2.size}")
      val deadline = System.nanoTime() + 5e9.toLong
      def leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(leaked.isEmpty, s"leaked persists: $leaked")
    }
  }

  test("deterministicSplit: exact floor proportions, disjoint+exhaustive, partitioning-invariant, seed-stable") {
    // strata sizes 143 x 6 + 142: floors never land on round numbers, so
    // the boundary arithmetic is genuinely exercised
    val d = spark.range(1000)
      .select(col("id"), (col("id") % 7).cast("string").as("g"))
    val fr = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    def assignments(df: org.apache.spark.sql.DataFrame, seed: Long) =
      Pins.scoped {
        Sampling.deterministicSplit(df, Seq("g"), Seq("id"), fr, seed)
          .select("id", "split").as[(Long, String)].collect().toMap
      }
    val got = Sampling.deterministicSplit(d, Seq("g"), Seq("id"), fr, 42L)
    val counts = got.groupBy("g", "split").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(r => r._2 -> r._3).toMap }
    for (g <- 0 until 7) {
      val n = if (g < 6) 143 else 142
      val b1 = math.floor(0.8 * n).toLong
      val b2 = math.floor(0.9 * n).toLong
      val by = counts(g.toString)
      assert(by("train") == b1 && by("val") == b2 - b1 &&
        by.getOrElse("test", 0L) == n - b2,
        s"stratum $g (n=$n): $by expected (${b1}, ${b2 - b1}, ${n - b2})")
    }
    // exhaustive + disjoint: every row assigned exactly one label
    assert(got.count() == 1000 && got.filter(col("split").isNull).count() == 0)
    // pure function of (seed, data): any partitioning, same assignment
    val a = assignments(d, 42L)
    val b = assignments(d.repartition(13, col("id")), 42L)
    assert(a == b, "assignment moved with the partitioning")
    // seed-stable: same seed reproduces; a different seed re-deals
    assert(assignments(d, 42L) == a)
    val c = assignments(d, 43L)
    assert(a.count { case (id, s) => c(id) != s } > 100,
      "seeds 42 and 43 gave nearly the same split")
  }

  test("deterministicSplit/groupSplit: NULL strata and NULL group keys lose no rows") {
    // a NULL stratum is a real stratum: rank, counts, and the count join
    // must all treat it null-safely — a plain equi-join would silently
    // drop every null-stratum row and break exhaustiveness
    val d = Seq.tabulate(300)(i =>
      (i.toLong, if (i % 3 == 0) null else s"g${i % 2}")).toDF("id", "g")
    val fr = Seq(("train", 0.8), ("test", 0.2))
    val got = Sampling.deterministicSplit(d, Seq("g"), Seq("id"), fr, 42L)
    assert(got.count() == 300, "null-stratum rows were dropped")
    val nullStratum = got.filter(col("g").isNull)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(nullStratum == Map("train" -> 80L, "test" -> 20L), nullStratum.toString)
    // groupSplit: a NULL group key is a real group — the join back must
    // be null-safe or its rows silently vanish
    val gd = Seq.tabulate(100)(i =>
      (i.toLong, if (i % 10 == 0) null else s"grp${i % 7}")).toDF("id", "grp")
    val gGot = Pins.scoped {
      val out = Sampling.groupSplit(gd, Nil, Seq("grp"), fr, 7L)
      (out.count(), out.filter(col("grp").isNull)
        .select("split").distinct().as[String].collect().toSeq)
    }
    assert(gGot._1 == 100, "null-group rows were dropped")
    assert(gGot._2.size == 1, "the null group straddled splits")
  }

  test("concurrent brackets over IDENTICAL inputs own private cache entries") {
    // the CacheManager dedups structurally-equal cached plans, so two
    // identical concurrent scopes would share one InMemoryRelation and
    // the first unpersist would unpin the other mid-use — the per-call
    // tag gives each pin a unique canonical plan
    withConf(Sampling.TwoPassMinBytesKey, "0") {
      val d = (1 to 600).map(i => (i.toLong, s"g${i % 5}", (i % 7 + 1).toLong))
        .toDF("id", "g", "w")
      val gate = new java.util.concurrent.CyclicBarrier(2)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      def run(): Future[Set[Long]] = Future {
        // SAME frame, SAME arguments on both threads
        Pins.scoped {
          val out = Sampling.weightCappedPerStratum(d, Seq("g"), Seq("id"), "w", 60L)
          gate.await()
          val s = out.select("id").as[Long].collect().toSet
          gate.await() // A finishing first must not unpin B's relation
          val s2 = out.select("id").as[Long].collect().toSet
          assert(s == s2, "re-collect under concurrent unpersist diverged")
          s
        }
      }
      val (a, b) = (run(), run())
      val ra = Await.result(a, 120.seconds)
      val rb = Await.result(b, 120.seconds)
      assert(ra == rb && ra.nonEmpty, "identical scopes disagreed")
    }
  }

  test("deterministicSplit: unstratified (global) split is exact and rides the two-pass") {
    val d = spark.range(1000).toDF("id")
    val fr = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val counts = Pins.scoped {
      Sampling.deterministicSplit(d, Nil, Seq("id"), fr, 7L)
        .groupBy("split").count().as[(String, Long)].collect().toMap
    }
    assert(counts == Map("train" -> 800L, "val" -> 100L, "test" -> 100L),
      counts.toString)
    // a global rank must never take the single-window form, whatever the
    // size gate says: the plan carries the two-pass range sort
    val p = Sampling.deterministicSplit(d, Nil, Seq("id"), fr, 7L)
      .queryExecution.executedPlan.toString
    spark.catalog.clearCache()
    assert(p.contains("Exchange rangepartitioning"), p)
    // degenerate: a single split takes everything
    val one = Pins.scoped {
      Sampling.deterministicSplit(d, Nil, Seq("id"), Seq(("all", 1.0)), 7L)
        .groupBy("split").count().as[(String, Long)].collect().toMap
    }
    assert(one == Map("all" -> 1000L))
  }

  test("groupSplit: groups are atomic, proportions group-exact, partitioning-invariant") {
    // 100 groups of varied sizes (1..13 rows): every row of a group must
    // share its split, and the GROUP counts per split are exact floors
    val rows = for (g <- 0 until 100; i <- 0 to g % 13) yield (g * 1000L + i, g.toLong)
    val d = rows.toDF("id", "grp").repartition(7, col("id"))
    val fr = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val got = Pins.scoped {
      Sampling.groupSplit(d, Nil, Seq("grp"), fr, seed = 7L)
        .select("id", "grp", "split").as[(Long, Long, String)].collect()
    }
    assert(got.length == rows.length, "groupSplit dropped or duplicated rows")
    // atomicity: one split per group
    val perGroup = got.groupBy(_._2).map { case (_, rs) => rs.map(_._3).distinct.size }
    assert(perGroup.forall(_ == 1), "a group straddled splits")
    // group-exact proportions: floor boundaries over the 100 groups
    val groupSplit = got.groupBy(_._2).map { case (g, rs) => g -> rs.head._3 }
    val counts = groupSplit.values.groupBy(identity).map { case (s, xs) => s -> xs.size }
    assert(counts == Map("train" -> 80, "val" -> 10, "test" -> 10), counts.toString)
    // partitioning-invariant (pure function of seed + group keys)
    val again = Pins.scoped {
      Sampling.groupSplit(d.repartition(13, col("grp")), Nil, Seq("grp"), fr,
          seed = 7L)
        .select("id", "split").as[(Long, String)].collect().toMap
    }
    assert(got.map(r => r._1 -> r._3).toMap == again,
      "assignment moved with the partitioning")
  }

  test("importanceSample: edge probabilities, partitioning-invariance, per-row monotone nesting") {
    val base = spark.range(2000).toDF("id")
    // p = 0 keeps nothing (u > 0 always); p = 1 keeps everything (u < 1)
    assert(Sampling.importanceSample(base, Seq("id"), lit(0.0)).count() == 0)
    assert(Sampling.importanceSample(base, Seq("id"), lit(1.0)).count() == 2000)
    // out-of-range probabilities clamp, nulls keep nothing
    assert(Sampling.importanceSample(base, Seq("id"), lit(7.5)).count() == 2000)
    assert(Sampling.importanceSample(base, Seq("id"), lit(-3.0)).count() == 0)
    assert(Sampling.importanceSample(base, Seq("id"),
      lit(null).cast("double")).count() == 0)
    // expected fraction: p = 0.3 keeps ~30% (u uniform; loose 5-sigma band)
    val k3 = Sampling.importanceSample(base, Seq("id"), lit(0.3))
      .select("id").as[Long].collect().toSet
    assert(k3.size > 480 && k3.size < 720, s"p=0.3 kept ${k3.size} of 2000")
    // pure function of the data: any partitioning, same kept set
    val k3b = Sampling.importanceSample(base.repartition(13, col("id")),
      Seq("id"), lit(0.3)).select("id").as[Long].collect().toSet
    assert(k3 == k3b, "kept set moved with the partitioning")
    // per-row monotone in p: the p=0.3 sample nests inside the p=0.6 one
    val k6 = Sampling.importanceSample(base, Seq("id"), lit(0.6))
      .select("id").as[Long].collect().toSet
    assert(k3.subsetOf(k6), "samples at nested probabilities must nest")
    // per-ROW probability: rows with p=1 always kept, p=0 rows never,
    // in one mixed frame
    val mixed = base.withColumn("p",
      when(col("id") % 2 === 0, 1.0).otherwise(0.0))
    val kept = Sampling.importanceSample(mixed, Seq("id"), col("p"))
      .select("id").as[Long].collect()
    assert(kept.length == 1000 && kept.forall(_ % 2 == 0))
  }

  test("weightedSample: exactly k rows, partitioning-invariant, weight-monotone") {
    val base = spark.range(500)
      .select(col("id"), (col("id") % 9 + 1).cast("double").as("w"))
    val pick = Sampling.weightedSample(base, Seq("id"), col("w"), 50)
      .select("id").as[Long].collect().toSet
    assert(pick.size == 50)
    val pick2 = Sampling.weightedSample(base.repartition(13, col("id")),
      Seq("id"), col("w"), 50).select("id").as[Long].collect().toSet
    assert(pick == pick2, "sample moved with the partitioning")
    // E-S monotonicity under FIXED draws: raising one row's weight can only
    // improve (never worsen) its score rank — the paper's key property
    val victim = (pick.min + 1) // arbitrary concrete id
    def rankOf(df: org.apache.spark.sql.DataFrame, id: Long): Int = {
      val ordered = Sampling.weightedSample(df, Seq("id"), col("w"), 500)
        .select("id").as[Long].collect()
      ordered.indexOf(id)
    }
    val before = rankOf(base, victim)
    val boosted = base.withColumn("w",
      when(col("id") === victim, col("w") * 1000).otherwise(col("w")))
    val after = rankOf(boosted, victim)
    assert(after <= before, s"boosting weight worsened rank: $before -> $after")
  }

  test("weightedSample: heavier rows are picked more often across disjoint key draws") {
    // two-point weights 1 vs 10 over many rows: the heavy class must take
    // a clear majority of a k=100 sample (deterministic given the data)
    val base = spark.range(2000)
      .select(col("id"), when(col("id") % 2 === 0, 10.0).otherwise(1.0).as("w"))
    val heavy = Sampling.weightedSample(base, Seq("id"), col("w"), 100)
      .filter(col("w") === 10.0).count()
    assert(heavy > 75, s"heavy class took only $heavy of 100")
  }

  test("weightedSample: non-positive weights are excluded") {
    val base = Seq((1L, 0.0), (2L, -3.0), (3L, 1.0), (4L, 2.0)).toDF("id", "w")
    val got = Sampling.weightedSample(base, Seq("id"), col("w"), 10)
      .select("id").as[Long].collect().toSet
    assert(got == Set(3L, 4L))
  }
}
