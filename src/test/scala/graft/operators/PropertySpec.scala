package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based laws (SURVEY §5): binning monotonicity/totality,
  * interpolation endpoint preservation, qcut bucket-count law. ScalaCheck
  * generators feed one BATCHED DataFrame per law (one Spark job each)
  * rather than one job per generated case.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("Bin.cut is total and monotone over in-range values") {
    val edges = Seq(0.0, 10.0, 20.0, 30.0)
    val labels = Seq("lo", "mid", "hi")
    val values = Gen.listOfN(200, Gen.chooseNum(-5.0, 35.0)).sample.get
    val got = values.toDF("v")
      .select(col("v"), Bin.cut(col("v"), edges, labels).as("b"))
      .as[(Double, Option[String])].collect()
    got.foreach { case (v, b) =>
      if (v >= 0 && v < 30) {
        val expected = labels((v / 10).toInt.min(2))
        assert(b.contains(expected), s"v=$v got $b")
      } else assert(b.isEmpty, s"out-of-range v=$v got $b")
    }
  }

  test("Interpolate preserves non-null values exactly and fills within bounds") {
    val series = Gen.listOfN(120,
      Gen.option(Gen.chooseNum(-100.0, 100.0))).sample.get
    val df = series.zipWithIndex.map { case (v, i) => ("g", i, v) }.toDF("g", "i", "v")
    val got = Interpolate.linear(df, Seq("g"), Seq("i"), Seq("v"))
      .orderBy("i").select("v").as[Option[Double]].collect().toSeq
    // non-null inputs pass through untouched
    series.zip(got).foreach {
      case (Some(in), out) => assert(out.contains(in))
      case _ =>
    }
    // filled values are bounded by the group's min/max of defined values
    val defined = series.flatten
    if (defined.nonEmpty) {
      val (lo, hi) = (defined.min, defined.max)
      got.flatten.foreach(v => assert(v >= lo - 1e-9 && v <= hi + 1e-9))
    }
  }

  test("qcut3 label set is always a prefix of [Low, Medium, High] per group") {
    val groups = (0 until 10).flatMap { g =>
      val n = 1 + g % 7
      Gen.listOfN(n, Gen.chooseNum(0.0, 5.0)).sample.get.map(v => (s"g$g", v))
    }
    val labelSets = QuantileBucket.qcut3(groups.toDF("g", "v"), Seq("g"), "v", "b")
      .groupBy("g").agg(collect_set(col("b")).as("ls"))
      .as[(String, Seq[String])].collect()
    labelSets.foreach { case (g, ls) =>
      val s = ls.toSet
      assert(Seq(Set("Low"), Set("Low", "High"), Set("Low", "Medium", "High"))
        .exists(_ == s) || s.subsetOf(Set("Low", "Medium", "High")), s"group $g: $s")
      assert(s.contains("Low"), s"group $g must bucket its minimum as Low: $s")
    }
  }

  test("Funnel.resolve matches a plain-Scala reference on random event sets (k=4)") {
    // independent reference implementation of the chained conditional
    // min — random fixtures catch chain-edge mistakes the hand cases
    // miss (duplicate timestamps, interleaved stages, absent stages)
    val stages = Seq("view", "click", "signup", "purchase")
    val types = stages ++ Seq("error") // noise stage
    val events = (for {
      u <- 1 to 25
      _ <- 1 to Gen.chooseNum(0, 14).sample.get
    } yield (u.toLong, new java.sql.Timestamp(Gen.chooseNum(0, 40).sample.get * 60000L),
      types(Gen.chooseNum(0, types.length - 1).sample.get))).toVector
    def ref(u: Long): Option[(Seq[Option[Long]], Int)] = {
      val mine = events.filter(_._1 == u)
      def times(st: String) = mine.filter(_._3 == st).map(_._2.getTime)
      val t1 = times(stages.head).minOption
      if (t1.isEmpty) return None
      val chain = stages.tail.scanLeft(t1) { (prev, st) =>
        prev.flatMap(p => times(st).filter(_ > p).minOption)
      }
      Some((chain, chain.count(_.isDefined)))
    }
    val got = Funnel.resolve(events.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", stages)
      .collect().map { r =>
        r.getLong(0) -> (((1 to 4).map(i =>
          Option(r.getTimestamp(i)).map(_.getTime)), r.getInt(5)))
      }.toMap
    (1 to 25).map(_.toLong).foreach { u =>
      (ref(u), got.get(u)) match {
        case (None, None) => ()
        case (Some((chain, reached)), Some((gChain, gReached))) =>
          assert(gChain == chain && gReached == reached, s"user $u")
        case (r, g) => fail(s"user $u: ref=$r got=$g")
      }
    }
    assert(got.nonEmpty)
  }

  test("SpanDedup laws: coverage bounds and removal/coverage consistency") {
    // Random docs over a 6-word vocabulary (tiny alphabet forces plenty
    // of genuine cross-document window duplication), one batched frame.
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val docs = (0 until 60).map { i =>
      val len = Gen.chooseNum(0, 25).sample.get
      (i, Seq.fill(len)(Gen.oneOf(vocab).sample.get).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    val n = 4
    val cov = SpanDedup.coverage(df, "id", "text", n, 2)
      .as[(Int, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val rem = SpanDedup.removeSpans(df, "id", "text", n, 2)
      .as[(Int, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(cov.keySet == docs.map(_._1).toSet, "every doc gets a coverage row")
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty)
      val (_, nTok, nWin, dupW, covered) = cov(id)
      assert(nTok == toks.length)
      assert(nWin == math.max(0, toks.length - (n - 1)).toLong)
      assert(dupW <= nWin && covered <= nTok, s"doc $id: $dupW/$nWin $covered/$nTok")
      // union of dupW length-n intervals with DISTINCT starts: tightest
      // packing (consecutive starts) covers dupW + n - 1 tokens, disjoint
      // spread covers dupW * n — and never more than the doc has
      if (dupW > 0)
        assert(covered >= dupW + n - 1 && covered <= math.min(dupW * n, nTok),
          s"doc $id: covered=$covered dupW=$dupW nTok=$nTok")
      else assert(covered == 0, s"doc $id")
      // removal is exactly the coverage cut: removed == covered and the
      // surviving token count is the complement
      val (_, cleaned, removed) = rem(id)
      assert(removed == covered, s"doc $id: removed=$removed covered=$covered")
      val keptToks = cleaned.split(" ").filter(_.nonEmpty)
      assert(keptToks.length == nTok - covered, s"doc $id")
      // survivors appear in order as a subsequence of the original tokens
      val it = toks.iterator
      assert(keptToks.forall(t => it.contains(t)), s"doc $id: not a subsequence")
    }
  }

  test("deterministicSplit matches a driver-side replay on random fractions/strata (nulls included)") {
    // the operator's whole contract re-derived independently: rank rows
    // per stratum by (md5(seed|id) hex, id), cut at cumulative binary64
    // floors, last split takes the remainder — for RANDOM fraction
    // vectors and a random strata assignment with a null stratum
    val rnd = new scala.util.Random(20260816L)
    val rows = Seq.tabulate(700) { i =>
      (i.toLong, if (rnd.nextInt(5) == 0) null else s"s${rnd.nextInt(4)}")
    }
    val d = rows.toDF("id", "g").repartition(9, col("id"))
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    for (trial <- 0 until 3) {
      // random positive weights normalized to exactly the same doubles
      // the operator's scanLeft sees
      val k = 2 + rnd.nextInt(3)
      val raw = Seq.fill(k)(0.05 + rnd.nextDouble())
      val fr = raw.zipWithIndex.map { case (w, i) => (s"p$i", w / raw.sum) }
      // renormalize drift so the operator's sum-to-1 require passes
      val fixed = fr.init :+ (fr.last._1 -> (1.0 - fr.init.map(_._2).sum))
      val seed = rnd.nextLong()
      val got = Pins.scoped {
        Sampling.deterministicSplit(d, Seq("g"), Seq("id"), fixed, seed)
          .select("id", "split").as[(Long, String)].collect().toMap
      }
      // driver replay
      val cum = fixed.map(_._2).scanLeft(0.0)(_ + _).tail
      val want = rows.groupBy(_._2).flatMap { case (_, rs) =>
        val n = rs.size
        val bounds = cum.init.map(c => math.floor(c * n).toLong)
        rs.sortBy(r => (md5hex(s"$seed|${r._1}"), r._1)).zipWithIndex.map {
          case ((id, _), idx) =>
            val rank = idx + 1L
            val si = bounds.indexWhere(rank <= _)
            id -> (if (si < 0) fixed.last._1 else fixed(si)._1)
        }
      }
      assert(got == want, s"trial $trial (k=$k, seed=$seed) diverged")
    }
  }
}
