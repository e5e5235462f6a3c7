package graft.queries

import graft.SparkSpec

/** Plan-quality regression guards: the properties that make these queries
  * scale (filters reaching the parquet scan, pruned read schemas, broadcast
  * dimension joins) are asserted against the physical plan so a refactor
  * that silently loses them fails CI, not the 100 TB run.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: GraftQuery): String =
    q.fn(spark, dir).queryExecution.executedPlan.toString

  test("q01: ship-date filter is pushed into the parquet scan") {
    val p = plan(CoreQueries.q01_pricing_summary)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
  }

  test("q01: scan reads only the referenced columns") {
    val p = plan(CoreQueries.q01_pricing_summary)
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"), read)
  }

  test("q02: both predicates pushed") {
    val p = plan(CoreQueries.q02_filter_project)
    // (toString truncates long PushedFilters lists, hence the loose match)
    assert(p.contains("EqualTo(o_orderstatus,O)"), p)
    assert(p.contains("GreaterThan(o_total"), p)
  }

  test("q04: snowflake dims join as broadcast hash joins, no sort-merge") {
    val p = plan(CoreQueries.q04_join_chain_agg)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("e01: query side is broadcast; candidate scan prunes to id+embedding") {
    val p = plan(EmbeddingQueries.e01_knn_bruteforce)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    val reads = "ReadSchema: [^\n]+".r.findAllIn(p).toList
    assert(reads.forall(r => !r.contains("label")), reads.mkString("\n"))
  }

  test("s01: events scan prunes to ts/event_type/value") {
    val p = plan(StreamQueries.s01_tumbling_agg)
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(!read.contains("props") && !read.contains("user_id"), read)
  }

  test("aggregates are partial (map-side combine) for q01") {
    val p = plan(CoreQueries.q01_pricing_summary)
    // two HashAggregate nodes (partial + final) around the exchange
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("t08 curation pipeline: exactly two exchanges, two-column scan") {
    val df = TextQueries.t08_curation_pipeline.fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange")) == 2, p)
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(read.contains("doc_id") && read.contains("text")
      && !read.contains("lang") && !read.contains("n_chars"), read)
  }

  test("d09: the bloom prune sits below the first exchange (map-side)") {
    val df = DedupQueries.d09_bloom_decontaminate.fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val lines = p.linesIterator.toList
    val bloomLine = lines.indexWhere(_.contains("bloom_might_contain"))
    assert(bloomLine >= 0, p)
    // the PROBE subtree under the bloom filter (the `:`-barred left branch
    // of the downstream join) must be exchange-free down to its FileScan —
    // the eval side's own tiny exchange lives in the other branch and is
    // expected. Branch-1 continuation lines all carry the `:` bar.
    val probeSubtree = lines.drop(bloomLine + 1)
      .takeWhile(l => l.contains(":  ") || l.trim.startsWith(":-"))
    assert(probeSubtree.exists(_.contains("FileScan")), probeSubtree.mkString("\n"))
    assert(!probeSubtree.exists(_.contains("Exchange")),
      "bloom filter must prune before any shuffle:\n" + probeSubtree.mkString("\n"))
  }

  test("q45: candidate set broadcasts; no sort-merge join anywhere") {
    val p = plan(CoreQueries.q45_fuzz_ratio_top1)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("d11: persisted-index dedup never rescans corpus text") {
    val df = DedupQueries.d11_indexed_neardup.fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the staged corpus-text table must not appear anywhere in the plan —
    // the old side is served entirely by the two index relations
    assert(!p.contains("neardup_corpus"), p)
    assert(p.contains("neardup_index/shingles"), p)
    assert(p.contains("neardup_index/buckets"), p)
    // and the index scans themselves carry no text column: their read
    // schemas are (id, shingle) / (bk, ids) only
    val indexScans = p.linesIterator.filter(_.contains("neardup_index")).toList
    assert(indexScans.nonEmpty, p)
    assert(indexScans.forall(!_.contains("text")), indexScans.mkString("\n"))
  }

  /** Parent chain of the first plan line matching `needle`, nearest
    * ancestor first — walks the tree-print connectors upward by indent.
    */
  private def ancestors(planStr: String, needle: String): Seq[String] = {
    val lines = planStr.linesIterator.toVector
    def depth(l: String): Int = { val i = l.indexOf("- "); if (i < 0) 0 else i }
    val start = lines.indexWhere(_.contains(needle))
    assert(start >= 0, s"no plan line matches '$needle':\n$planStr")
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var d = depth(lines(start))
    var i = start - 1
    while (i >= 0 && d > 0) {
      if (depth(lines(i)) < d) { out += lines(i); d = depth(lines(i)) }
      i -= 1
    }
    out.toSeq
  }

  test("d11: corpus bucket scan reaches the batch-key semi-join with no shuffle in between") {
    // the O(batch) contract: the stored bucket relation is pruned by a
    // BROADCAST semi-join on the batch's band keys BEFORE any exchange —
    // an Exchange below that join would mean the whole corpus bucket table
    // shuffles per batch (the round-5 scale finding)
    val df = DedupQueries.d11_indexed_neardup.fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val chain = ancestors(p, "neardup_index/buckets")
    val semiAt = chain.indexWhere(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semiAt >= 0,
      "bucket scan must feed a broadcast LeftSemi on the batch keys:\n" +
        chain.mkString("\n"))
    val below = chain.take(semiAt)
    assert(!below.exists(l => l.contains("Exchange") && !l.contains("BroadcastExchange")),
      "shuffle below the batch-key prune on the corpus-buckets path:\n" +
        chain.mkString("\n"))
  }

  test("d11: corpus shingle scan is pruned to candidate ids before any shuffle") {
    val df = DedupQueries.d11_indexed_neardup.fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val chain = ancestors(p, "neardup_index/shingles")
    val semiAt = chain.indexWhere(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semiAt >= 0,
      "shingle scan must feed a broadcast LeftSemi on candidate ids:\n" +
        chain.mkString("\n"))
    val below = chain.take(semiAt)
    assert(!below.exists(l => l.contains("Exchange") && !l.contains("BroadcastExchange")),
      "shuffle below the candidate-id prune on the corpus-shingles path:\n" +
        chain.mkString("\n"))
  }

  test("d11: index scans are partition-pruned to the batch's touched layout partitions") {
    // the stored layout hashes bucket keys / doc ids into `parts`
    // directories; the probe must turn its (bounded, collected) touched-
    // partition lists into PartitionFilters on BOTH corpus scans — without
    // them every probe lists and reads the full TB-scale relations
    val df = DedupQueries.d11_indexed_neardup.fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    val bucketScan = p.linesIterator.filter(l =>
      l.contains("neardup_index/buckets") && l.contains("FileScan")).toList
    val shingleScan = p.linesIterator.filter(l =>
      l.contains("neardup_index/shingles") && l.contains("FileScan")).toList
    assert(bucketScan.nonEmpty && shingleScan.nonEmpty, p)
    assert(bucketScan.forall(l => l.contains("PartitionFilters") && l.contains("bp#")),
      bucketScan.mkString("\n"))
    assert(shingleScan.forall(l => l.contains("PartitionFilters") && l.contains("ip#")),
      shingleScan.mkString("\n"))
  }

  test("t11: boilerplate mining is a TakeOrdered, never a global sort") {
    val df = TextQueries.t11_boilerplate_ngrams.fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // top-k must plan as TakeOrderedAndProject (per-partition heaps + one
    // driver merge of 20-row heads) — a global Sort here would shuffle the
    // whole gram-frequency relation to order all of it for 20 rows
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.linesIterator.exists(l => l.contains("Sort ") && !l.contains("TakeOrdered")), p)
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"), read)
  }

  /** Build a plan with the quota family's size gate forced onto the
    * two-pass path — the shape a 100 TB input takes; sf0.001's leaf
    * stats would otherwise (correctly) gate the one-window form, which
    * has its own pin below.
    */
  private def forcedTwoPass[T](f: => T): T = {
    val key = graft.operators.Sampling.TwoPassMinBytesKey
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("t10: mixture resample scans only (doc_id, lang); quotas broadcast back; " +
      "rank rides the two-pass at scale (column quotas get no WindowGroupLimit prune)") {
    val p = forcedTwoPass {
      TextQueries.t10_mixture_resample.fn(spark, dir)
        .queryExecution.executedPlan.toString
    }
    assert(p.contains("BroadcastHashJoin"), p) // tiny quota relation joins broadcast
    assert(!p.contains("SortMergeJoin"), p)
    auditTwoPassQuota(p, stratum = "lang")
    val reads = "ReadSchema: [^\n]+".r.findAllIn(p).toList
    assert(reads.nonEmpty && reads.forall(r => !r.contains("text") && !r.contains("n_chars")),
      reads.mkString("\n"))
  }

  test("t40: the Aho-Corasick blocklist probe is a zero-exchange scan-stage plan") {
    val p = plan(TextQueries.t40_phrase_blocklist)
    // automaton walk + explode + label lookup all ride the scan: no
    // shuffle of any kind (the 100 TB contract of a map-side blocklist)
    assert(!p.linesIterator.exists(_.contains("Exchange")), p)
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(read.contains("doc_id") && read.contains("text")
      && !read.contains("lang"), read)
  }

  test("d03: no exchange ever carries the shingle arrays — the collapse " +
    "shuffles (fp, id, sig) and banding shuffles representatives only") {
    // The exact-collapse scaladoc's shuffle-shape contract as a law: the
    // variable-length per-doc shingle array (`hs`, ~text-sized) must be
    // consumed map-side (fingerprint, signature, explode are all
    // row-local); only fixed-width derivatives may reach an exchange. A
    // naive collapse that groupBys the arrays themselves would ship the
    // corpus through the shuffle — this pin fails that refactor.
    // AQE-off child session so Exchange nodes are collectible pre-execution.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val df = DedupQueries.d03_minhash_lsh.fn(s2, dir)
    val exec = df.queryExecution.executedPlan
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e }
    assert(exchanges.nonEmpty, "expected a shuffling plan")
    val offenders = exchanges.filter(_.output.exists(_.name == "hs"))
    assert(offenders.isEmpty,
      offenders.map(_.output.map(_.name).mkString(",")).mkString("; "))
    // and the collapse shuffle itself is present, keyed by the fingerprint
    assert(exec.toString.contains("hashpartitioning(__fp"), exec.toString)
  }

  test("t18: linear-scorer serving is a zero-exchange row-local projection") {
    val p = plan(TextQueries.t18_quality_classifier)
    // round 14: the fused (bucket, count) vector replaced the per-token
    // explode + groupBy — serving must never shuffle again
    assert(!p.linesIterator.exists(_.contains("Exchange")), p)
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(read.contains("doc_id") && read.contains("text")
      && !read.contains("lang") && !read.contains("n_chars"), read)
  }

  test("t41: PSL rule probes join as a broadcast hash join, never sort-merge") {
    val p = plan(TextQueries.t41_psl_wildcard)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  /** The two-pass per-stratum cumsum's scale contract (round 15, the r14
    * brief's skewed-strata fix): the DATA window must be partitioned by
    * (range-partition id, stratum) — a window over the stratum ALONE
    * sorts a mega-stratum in one task, which is the shape the rewrite
    * removed. The only stratum-only window allowed is the prefix-offset
    * fold over the per-(partition, stratum) SUMS relation (≤ #partitions
    * rows per stratum), whose columns are the `__s_`-renamed twins.
    */
  private def auditTwoPassQuota(p: String, stratum: String = "domain"): Unit = {
    // pass 1: the range sort on (stratum, draw)
    assert(p.contains(s"Exchange rangepartitioning($stratum#"), p)
    // offsets rejoin as a broadcast (≤ N−1 rows by construction)
    assert(p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("__pid")), p)
    // the data window is pid-led; no stratum-only window over the data
    assert(p.contains("windowspecdefinition(_w0#"), p)
    assert(!p.contains(s"windowspecdefinition($stratum#"), p)
    // the tiny offsets fold runs over the renamed sums relation only
    assert(p.contains(s"windowspecdefinition(__s_$stratum#"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("t43: token quota rides the two-pass cumsum at scale (no stratum-only data window), pruned scan") {
    val p = forcedTwoPass(plan(TextQueries.t43_token_quota))
    auditTwoPassQuota(p)
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(!read.contains("lang") && !read.contains("n_chars"), read)
  }

  test("quota size gate: a leaf-small input takes the one-window form " +
      "(no range sort, no persist) — the round-16 constant reclaim") {
    // default gate at sf-test scale: the plan must be the single
    // stratum-partitioned window, with NO rangepartitioning exchange and
    // NO InMemory relation (nothing to unpersist — leak-free by absence)
    val p = plan(TextQueries.t43_token_quota)
    assert(p.contains("windowspecdefinition(domain#"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("InMemoryTableScan"), p)
    // and the gate's two forms admit the same rows (the SamplingSpec law
    // holds on the registered query too): row counts agree here
    val small = TextQueries.t43_token_quota.fn(spark, dir).count()
    val big = forcedTwoPass {
      val n = TextQueries.t43_token_quota.fn(spark, dir).count()
      spark.catalog.clearCache()
      n
    }
    assert(small == big, s"gate changed the admitted set: $small vs $big")
  }

  test("q46: sampling is one exchange with a map-side WindowGroupLimit prune, pruned scan") {
    val df = CoreQueries.q46_stratified_sample.fn(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange")) == 1, p)
    // the literal k lets InferWindowGroupLimit pre-prune each map
    // partition to its local top-k per stratum BELOW the exchange — the
    // boundedness argument for keeping stratified on the one-window form
    // (stratum task ≤ k·#partitions rows however skewed the corpus)
    val lines = p.linesIterator.toList
    val partial = lines.indexWhere(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    val exch = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    assert(partial >= 0, s"no Partial WindowGroupLimit:\n$p")
    assert(exch >= 0 && exch < partial,
      s"Partial WindowGroupLimit must sit BELOW the stratum exchange:\n$p")
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(!read.contains("o_orderdate") && !read.contains("o_orderpriority"), read)
  }

  test("d15: window text never rides a corpus-wide shuffle; scans prune to (doc_id, text)") {
    val p = plan(DedupQueries.d15_span_coverage)
    val lines = p.linesIterator.toList
    // 1. every scan (the operator re-derives windows per branch rather
    //    than materializing the tokens-x amplification) reads exactly the
    //    two referenced columns
    val reads = lines.filter(_.contains("ReadSchema"))
    assert(reads.nonEmpty &&
      reads.forall(_.contains("struct<doc_id:bigint,text:string>")), reads.mkString("\n"))
    // 2. the phase-1 heavy-hitter test shuffles only __h with map-side
    //    combine — since round 16 the minDocs=2 predicate is the
    //    single-pass min(id) != max(id) rewrite (one exchange, partial
    //    min/max), not the distinct expansion's two exchanges; any
    //    shuffle whose key list mentions the window TEXT column (__w)
    //    must sit on the candidate-pruned side, which is proven by (3)
    assert(lines.count(_.contains("partial_min")) >= 2, p)
    assert(!lines.exists(_.contains("partial_count(distinct")), p)
    // 3. every (h, w)-keyed aggregate consumes candidate-PRUNED windows:
    //    below the lowest (__h, __w, doc_id) partial aggregate there is a
    //    join against the phase-1 candidate hashes BEFORE the window
    //    Generate — i.e. full window text is aggregated/shuffled only for
    //    the heavy-hitter candidates, never for the whole corpus
    val lowestHW = lines.lastIndexWhere(l =>
      l.contains("HashAggregate(keys=[__h") && l.contains("__w"))
    assert(lowestHW >= 0, p)
    val below = lines.drop(lowestHW + 1)
    val joinIdx = below.indexWhere(l => l.contains("Join [__h"))
    val genIdx = below.indexWhere(_.contains("Generate posexplode"))
    assert(joinIdx >= 0 && genIdx > joinIdx,
      s"no candidate prune between the window Generate and the (h,w) aggregate\n$p")
  }

  test("t47: the whole HTML extraction is one exchange-free codegen projection") {
    val p = plan(TextQueries.t47_html_extract)
    val lines = p.linesIterator.toList
    // scan → project, nothing else: no shuffle, no join, no aggregate —
    // the shape that stays embarrassingly parallel at 100 TB
    assert(!lines.exists(_.contains("Exchange")), p)
    assert(!lines.exists(_.contains("Join")), p)
    assert(!lines.exists(_.contains("HashAggregate")), p)
    // the scan-side projection runs codegen'd ("*(n)" stage markers);
    // the HOF lambdas above it are interpreted by design (Spark has no
    // lambda codegen) but stay inside the same narrow pipeline
    assert(lines.exists(_.contains("*(1)")), p)
    val read = "ReadSchema: [^\n]+".r.findFirstIn(p).get
    assert(read.contains("doc_id") && read.contains("text") &&
      !read.contains("source"), read)
  }

  test("d18: no distinct expansion; refinement window text aggregates only candidate-pruned rows") {
    val p = plan(DedupQueries.d18_max_dup_run)
    val lines = p.linesIterator.toList
    // 1. every promotion count is the single-pass min/max rewrite — no
    //    partial_count(distinct) double exchange anywhere in the plan
    assert(!lines.exists(_.contains("partial_count(distinct")), p)
    assert(lines.count(_.contains("partial_min")) >= 3, p)
    // 2. the round-17 attribution promotions exist: unshared keys fold
    //    per-document (min = max filter), then row-local survivor filters
    //    (shared_grams / filter_packed) replace corpus-wide join-backs
    assert(p.contains("shared_grams"), p)
    assert(p.contains("filter_packed"), p)
    // 3. refinement text discipline: below the lowest (__h, __w)-keyed
    //    partial aggregate there is a join against the phase-1 candidate
    //    hashes BEFORE the window Generate — full window text is
    //    aggregated only for candidates, never for the whole corpus
    val lowestHW = lines.lastIndexWhere(l =>
      l.contains("HashAggregate(keys=[__h") && l.contains("__w"))
    assert(lowestHW >= 0, p)
    val below = lines.drop(lowestHW + 1)
    val joinIdx = below.indexWhere(l => l.contains("Join") && l.contains("__h"))
    val genIdx = below.indexWhere(_.contains("Generate"))
    assert(joinIdx >= 0 && genIdx > joinIdx,
      s"no candidate prune between the window Generate and the (h,w) aggregate\n$p")
    // 4. the eager checkpoint (the only leaf the final plan sees) carries
    //    the narrow (doc_id, tokens, length) projection — raw text never
    //    enters the operator's dataflow
    val scans = lines.filter(_.contains("Scan ExistingRDD"))
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("doc_id") && l.contains("__toks") && l.contains("__len") &&
        !l.contains("text#")), scans.mkString("\n"))
  }

  test("d16: benchmark windows broadcast; the training corpus never shuffles before the semi-join") {
    val p = plan(DedupQueries.d16_span_decontaminate)
    val lines = p.linesIterator.toList
    // the decontamination predicate is a BROADCAST LeftSemi on
    // (hash, window text) — map-side inside the corpus scan stage
    assert(lines.exists(l => l.contains("BroadcastHashJoin") &&
      l.contains("LeftSemi")), p)
    // the only shuffles are benchmark-sized (its window distinct) and
    // per-document (the positions fold): exactly two hash exchanges,
    // neither on the corpus window relation
    assert(lines.count(_.contains("Exchange hashpartitioning")) == 2, p)
  }

  test("s13: funnel is k combiner-collapsed exchanges, no sort-merge, pruned events scan") {
    val p = plan(StreamQueries.s13_funnel_conversion)
    val lines = p.linesIterator.toList
    // one exchange per stage, each fed by a map-side partial aggregate
    assert(lines.count(_.contains("Exchange hashpartitioning")) == 3, p)
    assert(lines.count(_.contains("partial_min")) >= 3, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    val reads = lines.filter(_.contains("ReadSchema"))
    assert(reads.forall(r => !r.contains("props") && !r.contains("value")),
      reads.mkString("\n"))
  }

  test("t19: span removal keeps the same pruned-scan / pruned-shuffle contract") {
    val p = TextQueries.t19_span_removal.fn(spark, dir)
      .queryExecution.executedPlan.toString
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(reads.nonEmpty &&
      reads.forall(_.contains("struct<doc_id:bigint,text:string>")), reads.mkString("\n"))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q57: nearest as-of is join-free — one keyed exchange, ONE fused Window") {
    val p = plan(CoreQueries.q57_asof_nearest_purchase)
    val lines = p.linesIterator.toList
    // tag+union+window: no join operator at all, one user_id shuffle, and
    // both directional fills fused into a single Window exec (two frames)
    assert(!p.contains("Join"), p)
    assert(lines.count(_.contains("Exchange hashpartitioning")) == 1, p)
    assert(lines.count(_.contains("Window [")) == 1, p)
    // the purchase filter reaches the scan
    assert(p.contains("EqualTo(event_type,purchase)"), p)
  }

  test("q56: forward as-of shares the single-shuffle window plan") {
    val p = plan(CoreQueries.q56_asof_next_purchase)
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("t25: bm25 ends in TakeOrdered, never a global sort of all docs") {
    val p = plan(TextQueries.t25_bm25_search)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.linesIterator.exists(l => l.contains("Sort ") && l.contains("global")
      && !l.contains("TakeOrdered")), p)
  }

  test("s15: the posting-store probe pushes the query terms into the store scan") {
    val p = plan(StreamQueries.s15_posting_ingest)
    // the accumulated posting relation is parquet; the conjunctive search's
    // term restriction must prune at the scan, not post-shuffle
    assert(p.contains("In(term"), p)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(reads.forall(!_.contains("text")),
      "search must never rescan document text:\n" + reads.mkString("\n"))
  }

  test("t28: query terms broadcast, top-k is TakeOrdered, no global sort") {
    val p = plan(TextQueries.t28_tfidf_cosine)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q60: the 7x fan-out is row-local — Generate below the one distinct aggregate") {
    val p = plan(CoreQueries.q60_rolling_distinct_users)
    assert(p.contains("Generate explode"), p)
    // the range clamp joins as a 1-row broadcast, never a shuffle join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q62: the E-S score never forces a global sort (TakeOrdered top-k)") {
    val p = plan(CoreQueries.q62_weighted_sample)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q68: sketch aggregation is partial (map-side combine), pruned scan") {
    val p = plan(CoreQueries.q68_quantile_sketch)
    // TypedImperativeAggregate plans as ObjectHashAggregate with a
    // partial pass before the exchange — the sketch merges map-side
    assert(p.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2, p)
    assert(p.contains("partial_qsketch"), p)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(reads.forall(r => !r.contains("props") && !r.contains("user_id")),
      reads.mkString("\n"))
  }

  test("q69: rollup never re-scans events — one scan, two sketch aggregates") {
    val p = plan(CoreQueries.q69_weekly_percentile_rollup)
    assert(p.linesIterator.count(_.contains("FileScan")) == 1, p)
    assert(p.contains("partial_qsketch") && p.contains("qsketch_merge"), p)
  }

  test("d19: benchmark windows broadcast; the target corpus never shuffles before the semi-join") {
    val p = plan(DedupQueries.d19_contamination_coverage)
    assert(p.linesIterator.exists(l => l.contains("BroadcastHashJoin") &&
      l.contains("LeftSemi")), p)
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(reads.nonEmpty &&
      reads.forall(_.contains("struct<doc_id:bigint,text:string>")),
      reads.mkString("\n"))
  }

  test("t33: both fusion legs are limit-bounded before their rank windows") {
    val p = plan(TextQueries.t33_hybrid_rrf)
    // the single-partition windows must consume pre-limited (k-row)
    // inputs: every Window node sits above a limit in this plan
    assert(p.linesIterator.count(_.contains("Window")) >= 2, p)
    assert(p.linesIterator.exists(_.contains("TakeOrderedAndProject")) ||
      p.linesIterator.exists(_.contains("GlobalLimit")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q67: interval-overlap data join is hash-side on the bucket key") {
    val p = plan(CoreQueries.q67_interval_overlap)
    // the session × window join must be a plain hash join on __bk — the
    // only nested-loop allowed is the 1-row broadcast(base) window builder
    assert(p.contains("BroadcastHashJoin [__bk"), p)
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toList
    assert(bnlj.size <= 1, "unexpected nested-loop joins:\n" + bnlj.mkString("\n"))
    // the events scan prunes to the referenced columns
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(reads.forall(r => !r.contains("props") && !r.contains("event_type")),
      reads.mkString("\n"))
  }

  test("t34/t35: URL canonicalization and registered domain are pure " +
      "scan-stage projections — zero exchanges, zero joins") {
    Seq(TextQueries.t34_url_canonicalize,
        TextQueries.t35_registered_domain).foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"${q.name} shuffled:\n$p")
      assert(!p.contains("Join"), s"${q.name} joined:\n$p")
    }
  }

  test("t46: importance resampling is a zero-exchange scan-stage filter") {
    // draw, score, and acceptance comparison all ride the scan — at
    // 100 TB the thinning is free inside the read
    val p = plan(TextQueries.t46_importance_sample)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
  }

  test("t36: the blocklist is a broadcast anti-join — no shuffle exchange") {
    val p = plan(TextQueries.t36_domain_blocklist)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning")), p)
  }

  test("q70: the domain quota rides the two-pass cumsum at scale (no " +
      "stratum-only data window), no nested loops") {
    val p = forcedTwoPass(plan(TextQueries.q70_domain_quota))
    auditTwoPassQuota(p)
  }

  /** Round 15: the bench tail's `WindowExec: No Partition Defined`
    * warnings, pinned. A window with an EMPTY partition spec funnels its
    * whole input through ONE task — harmless when that input is bounded
    * by construction (a top-k limit, a #partitions-sized counts
    * relation, a dimension table), fatal when it is data-sized. Every
    * registered query's physical plan is swept here (recursing through
    * cached subplans); each allowed site carries its boundedness
    * argument, and an UNLISTED single-partition window fails the suite —
    * the claim stops being folklore.
    */
  test("global-window inventory: single-partition windows only on the allow-list") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.{WindowExecBase, WindowGroupLimitExec}
    def globalWindows(p: SparkPlan): Int =
      p.collect {
        case w: WindowExecBase if w.partitionSpec.isEmpty => 1
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => 1
        case s: InMemoryTableScanExec => globalWindows(s.relation.cachedPlan)
      }.sum
    // name -> (max allowed count, boundedness argument); PLANS.md appendix
    // carries the same inventory
    val allowed: Map[String, (Int, String)] = Map(
      "q10_surrogate_key" -> ((1,
        "SurrogateKey.dense over the member fact — reference parity " +
        "(contiguous FK ids, transform.py:129); dimension-scale by the " +
        "operator's documented contract, scalable twin exists for facts")),
      "q16_dim_date" -> ((1,
        "SurrogateKey.dense over DIM_Date — year x season grain, " +
        "bounded by the calendar (decades x 4 rows)")),
      "t33_hybrid_rrf" -> ((2,
        "rank-fusion windows over the two LIMIT k retrieval legs — " +
        "k rows each by construction (pinned by the t33 limit test)")),
      "t12_sequence_packing" -> ((1,
        "Packing.streamPositions offset fold over the per-partition " +
        "counts relation — one row per range partition, <= #partitions")),
      "t13_packed_sequences" -> ((1,
        "same Packing offset fold — <= #partitions rows")),
      "t14_epoch_shuffle" -> ((1,
        "SurrogateKey.scalable offset fold — <= #partitions rows")),
      "s05_watermark_late" -> ((1,
        "PrefixAgg.maxExclusive offset fold — one row per range " +
        "partition (the data-sized prefix max itself is two-pass since " +
        "round 15)")),
      "d21_cluster_group_split" -> ((1,
        "groupSplit's unstratified group rank is ALWAYS two-pass (a " +
        "global rank must never single-task); this is its offsets " +
        "fold — <= #partitions rows")))
    // round 17: d22's two entries LEFT the inventory — the guard now
    // reads the RELEASED assignment from the SplitManifest store, so
    // the split's two-pass subtree (and its offsets folds) run once at
    // the staged release site, not in the query plan
    val seen = graft.SparkEntry.registry.map { q =>
      val n = globalWindows(q.fn(spark, dir).queryExecution.sparkPlan)
      q.name -> n
    }.filter(_._2 > 0)
    val unlisted = seen.filterNot { case (n, c) =>
      allowed.get(n).exists(_._1 >= c) }
    assert(unlisted.isEmpty,
      "single-partition Window sites outside the allow-list (add ONLY " +
        "with a written boundedness argument):\n" +
        unlisted.map { case (n, c) => s"  $n: $c" }.mkString("\n"))
    // allow-list hygiene: entries that no longer occur must be removed
    val stale = allowed.keySet -- seen.map(_._1).toSet
    assert(stale.isEmpty, s"stale allow-list entries: $stale")
  }

  test("release: a one-shard read prunes to that shard's partition " +
    "directories (a trainer streams one shard without touching the rest)") {
    val store = java.nio.file.Files.createTempDirectory("relplan").toString +
      "/store"
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val corpus = spark.range(50).select(col("id"), lit("en").as("g"),
      (col("id") % 5 * 10).as("n_tok"))
    graft.operators.Release.publish(corpus, store, graft.operators.Release
      .Spec(1L, Seq(("train", 1.0)), Seq("g"), Seq("id"), "n_tok", 100L))
    val one = graft.operators.Release.readCorpus(spark, store)
      .filter(col("split") === "train" && col("shard") === 0)
    val p = one.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters:") &&
      (p.contains("isnotnull(shard") || p.contains("(shard#")), p)
    assert(one.count() > 0)
  }

  test("t51: the robots rules join is ONE broadcast hash join, never " +
    "sort-merge — the per-domain rule relation must broadcast into the " +
    "corpus scan, not shuffle the corpus by domain") {
    val p = plan(TextQueries.t51_robots_txt_gate)
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q76/s26 curateBatch: the per-batch compliant chain is one " +
    "broadcast hash join (domain -> parsed rules) plus row-local work — " +
    "no sort-merge join, no record-relation exchange; this is the exact " +
    "relation the crawl-ingest stream evaluates every trigger") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val recs = Seq(
      ("https://a.com/keep/1",
        "<html><head><title>Doc 1</title></head><body><p>" +
          "enough words here to pass</p></body></html>", "a.com"))
      .toDF("url", "__html", "domain")
    val robotsDf = Seq(("a.com", "user-agent: *\ndisallow: /p\n"))
      .toDF("domain", "robots_txt")
    val out = graft.operators.CrawlIngest.curateBatch(recs, robotsDf,
      "graftbot", TextQueries.crawlIdOf, minWords = 1)
    val p = out.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only exchange sits on the rules side's domain distinct (a
    // relation ~6 orders smaller than the corpus), inside the broadcast
    // subtree — the record relation itself never shuffles
    assert(!p.contains("Exchange hashpartitioning(url"), p)
    assert(out.columns.toSeq ==
      Seq("doc_id", "url", "domain", "canon_url", "text", "n_words"))
  }

  test("two-pass queries under Pins.scoped leave no pinned relation behind") {
    import graft.operators.{Pins, Sampling}
    // queries whose only internal pins are the two-pass ones (d21 is out:
    // its NearDup array cache is not a two-pass pin)
    val names = Seq("t10_mixture_resample", "t12_sequence_packing",
      "t13_packed_sequences", "t14_epoch_shuffle", "t43_token_quota",
      "t44_lang_token_budgets", "t45_train_val_test", "q70_domain_quota",
      "s05_watermark_late")
    val queries = graft.SparkEntry.queries
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
    val cachedData = cacheManager.getClass.getDeclaredField("cachedData")
    cachedData.setAccessible(true)
    def entries: Set[AnyRef] = cachedData.get(cacheManager)
      .asInstanceOf[Seq[AnyRef]].toSet
    def rdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val prevGate = spark.conf.getOption(Sampling.TwoPassMinBytesKey)
    spark.conf.set(Sampling.TwoPassMinBytesKey, "0") // force the two-pass
    val (entriesBefore, rddsBefore) = (entries, rdds)
    try {
      val pinned = Pins.scoped {
        names.foreach(n =>
          queries(n)(spark, dir).write.format("noop").mode("overwrite").save())
        entries -- entriesBefore
      }
      assert(pinned.size >= names.size,
        s"expected a two-pass pin per query, saw ${pinned.size}")
      val deadline = System.nanoTime() + 5e9.toLong
      while ((rdds -- rddsBefore).nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert((entries -- entriesBefore).isEmpty,
        s"CacheManager entries left: ${entries -- entriesBefore}")
      assert((rdds -- rddsBefore).isEmpty,
        s"persistent RDDs left: ${rdds -- rddsBefore}")
    } finally prevGate match {
      case Some(v) => spark.conf.set(Sampling.TwoPassMinBytesKey, v)
      case None => spark.conf.unset(Sampling.TwoPassMinBytesKey)
    }
  }
}
