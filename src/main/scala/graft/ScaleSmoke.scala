package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew/scale smoke for the capped near-dup / ANN operators: builds a
  * synthetic 10× corpus from sf0.1 WITH AN INJECTED HOT KEY (a boilerplate
  * document repeated thousands of times / one embedding label holding
  * thousands of near-identical vectors — the classic web-dedup degenerate
  * input) and times d03/d05/e05/e06 on it.
  *
  * What it proves: the bucket/block caps turn the hot key from a quadratic
  * blow-up (a 3000-member bucket is 4.5M in-bucket pairs PER BAND) into
  * bounded work — wall-time must stay roughly linear in corpus size, and
  * the run FAILS (exit 1) if any capped operator exceeds `maxSlowdown`×
  * the linear budget extrapolated from the sf0.1 run. Results are recorded
  * in README.md per round.
  */
object ScaleSmoke {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` and return (result, seconds, input bytes read from storage,
    * shuffle bytes written) over every task that completed during it —
    * the two cost axes wall-time can hide (a scan-linear term disappears
    * behind a warm page cache; a shuffle-volume term behind fast local
    * disks). Listener delivery is async, so the counters are polled until
    * stable before detaching.
    */
  def measured[A](spark: SparkSession)(f: => A): (A, Double, Long, Long) = {
    val in = new java.util.concurrent.atomic.AtomicLong(0L)
    val shuf = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          in.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
          shuf.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (r, secs) = time(f)
      var prev = -1L
      var tries = 0
      while (in.get + shuf.get != prev && tries < 30) {
        prev = in.get + shuf.get; Thread.sleep(100); tries += 1
      }
      (r, secs, in.get, shuf.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def docs10x(spark: SparkSession, sfDir: String, copies: Int, hotDocs: Int): DataFrame = {
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val n = 1000000L
    val replicated = base.crossJoin(
        spark.range(copies.toLong).select(col("id").as("__copy")))
      .select((col("doc_id") + col("__copy") * n).as("doc_id"),
        // copy 0 is the base corpus verbatim; every other copy is SALTED by
        // prefixing every word with a copy tag ("w" → "c3w": token and
        // shingle COUNTS unchanged, so the 10x corpus is 10x the input
        // volume), which makes each copy's shingles disjoint from every
        // other copy's. Each copy is then a closed world whose internal
        // near-dup structure mirrors the base — output pairs grow LINEARLY
        // with copies, which is what a "2x of linear" wall-time budget
        // presumes. The previous fixture (a trailing copytag token) made
        // all `copies` replicas of a doc near-dups of EACH OTHER:
        // C(10,2) = 45 cross-copy pairs per base pair-member, so the gate
        // was really measuring that 4.5x output asymmetry (1.7-2.2x across
        // rounds) and drifted over budget with zero code change. A cap
        // regression still explodes quadratically and fails loudly.
        when(col("__copy") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("c"), col("__copy"), lit("$1")))).as("text"))
    // the hot key: one boilerplate string repeated hotDocs times with a tiny
    // suffix — all land in the same SimHash chunks / LSH bands
    val boiler = "lorem ipsum boilerplate terms of service all rights " +
      "reserved please read carefully before proceeding thank you"
    val hot = spark.range(hotDocs.toLong)
      .select((col("id") + copies * n).as("doc_id"),
        concat(lit(boiler + " v"), col("id") % 3).as("text"))
    replicated.unionByName(hot)
  }

  def emb10x(spark: SparkSession, sfDir: String, copies: Int, hotVecs: Int): DataFrame = {
    val base = Tables.embeddings(spark, sfDir).select("vec_id", "label", "embedding")
    val n = 1000000L
    val replicated = base.crossJoin(
        spark.range(copies.toLong).select(col("id").as("__copy")))
      .select((col("vec_id") + col("__copy") * n).as("vec_id"), col("label"),
        col("embedding"))
    // hot label: thousands of copies of one vector under a single label
    val one = base.limit(1).select(col("embedding")).crossJoin(
        spark.range(hotVecs.toLong).select(col("id").as("__i")))
      .select((col("__i") + copies * n).as("vec_id"),
        lit(999999L).as("label"), col("embedding"))
    replicated.unionByName(one)
  }

  /** One measured operator: name, 1× seconds, 10×+hot seconds, result rows,
    * and the 10× leg's storage-input / shuffle-write bytes (so scan-linear
    * or shuffle-volume growth can't hide behind a warm cache or fast local
    * disks — round-8 brief item).
    */
  final case class Measure(name: String, tSmall: Double, tBig: Double,
                           rows: Long, inBytesBig: Long = 0L,
                           shufBytesBig: Long = 0L) {
    def slowdownVsLinear(copies: Int): Double = tBig / (tSmall * copies)
    def gb(b: Long): Double = b / 1e9
  }

  /** The capped-operator section (near-dup / ANN under an injected hot
    * key), extracted so `ScaleSmokeSpec` can gate it inside `sbt test`
    * (env-opted) with the same 2×-of-linear budget the standalone main
    * enforces — a cap regression fails a test, not just a README table.
    */
  def cappedSection(spark: SparkSession, sfDir: String,
                    copies: Int = 10, hot: Int = 3000): Seq[Measure] = {
    val docsBig = docs10x(spark, sfDir, copies, hotDocs = hot).cache()
    val embBig = emb10x(spark, sfDir, copies, hotVecs = hot).cache()
    val nDocs = docsBig.count(); val nVecs = embBig.count()
    println(s"corpus: $nDocs docs, $nVecs vectors (${copies}x $sfDir + hot keys)")

    val docsSmall = Tables.documents(spark, sfDir).select("doc_id", "text").cache()
    val embSmall = Tables.embeddings(spark, sfDir).cache()
    docsSmall.count(); embSmall.count()

    def run(name: String, small: => Long, big: => Long): Measure = {
      small // warm-up (codegen, shuffles)
      // BOTH legs take min-of-N: box noise only ever ADDS time, so the min
      // is the honest steady-state estimate (the repo's bench methodology).
      // Round-11 data made the case: four same-code runs measured the d03
      // big leg at 20.7-30.4 s and the small leg at 1.15-2.43 s — ratio
      // 1.23-2.34x across the cap with no code change on that path. The
      // 10x legs get min-of-3 (no separate warm-up — the first run also
      // pays codegen and any transient spike); the 1x denominator
      // min-of-2. Bytes come from the first (cold) big run — caching
      // doesn't change them, load does not either.
      val (_, tSmallA) = time(small)
      val (_, tSmallB) = time(small)
      val (rows, tBig1, inB, shufB) = measured(spark)(big)
      val (_, tBig2) = time(big)
      val (_, tBig3) = time(big)
      Measure(name, math.min(tSmallA, tSmallB),
        math.min(tBig1, math.min(tBig2, tBig3)), rows, inB, shufB)
    }

    val results = Seq(
      run("d03_minhash_lsh",
        ext.NearDup.nearDuplicatePairs(docsSmall, "doc_id", "text", 0.7).count(),
        ext.NearDup.nearDuplicatePairs(docsBig, "doc_id", "text", 0.7).count()),
      run("d05_simhash_neardup",
        ext.NearDup.simhashNearDups(docsSmall, "doc_id", "text", 3, 4).count(),
        ext.NearDup.simhashNearDups(docsBig, "doc_id", "text", 3, 4).count()),
      // span dedup under the hot key: 3000 identical docs make every one
      // of their windows a corpus-wide heavy hitter — the phase-1 count
      // combines map-side, the phase-2 recount fans linearly in
      // occurrences, and the coverage fold stays per-doc
      run("d15_span_coverage",
        operators.SpanDedup.coverage(docsSmall, "doc_id", "text", 8, 2)
          .agg(sum("covered_tokens")).collect()(0).getLong(0),
        operators.SpanDedup.coverage(docsBig, "doc_id", "text", 8, 2)
          .agg(sum("covered_tokens")).collect()(0).getLong(0)),
      // span decontamination: FIXED benchmark (the sf corpus's every
      // 10th doc) against the growing corpus — the broadcast semi-join
      // contract must hold the check map-side at 10x
      run("d16_span_decon", {
        val bench = docsSmall.filter(col("doc_id") % 10 === 0)
        operators.SpanDedup.decontaminateSpans(
            docsSmall.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
            bench, "text", 8)
          .agg(sum("removed_tokens")).collect()(0).getLong(0)
      }, {
        val bench = docsSmall.filter(col("doc_id") % 10 === 0)
        operators.SpanDedup.decontaminateSpans(docsBig, "doc_id", "text",
            bench, "text", 8)
          .agg(sum("removed_tokens")).collect()(0).getLong(0)
      }),
      // maximal duplicated run under the hot key: 3000 identical
      // boilerplate docs drive every position's ladder to the full doc
      // length and every refinement window to a corpus-wide heavy hitter
      // — the fan-out the cap contract bounds (≤ min(2·np−1, cap, len−p)
      // per position, ∝ duplicated footprint). The round-12 brief's
      // missing gate: the only heavyweight dedup operator without one.
      run("d18_max_dup_run",
        operators.SpanDedup.maxDuplicatedRun(docsSmall, "doc_id", "text")
          .agg(sum("max_dup_run")).collect()(0).getLong(0),
        operators.SpanDedup.maxDuplicatedRun(docsBig, "doc_id", "text")
          .agg(sum("max_dup_run")).collect()(0).getLong(0)),
      run("e05_cosine_neardup",
        ext.EmbeddingDedup.cosineNearDupPairs(embSmall, "vec_id", "embedding",
          "label", 0.42).count(),
        ext.EmbeddingDedup.cosineNearDupPairs(embBig, "vec_id", "embedding",
          "label", 0.42).count()),
      // the scale path for embedding dedup: when labels outgrow the cap
      // (every 10x label does — see e05's 0 rows above), block by IVF cell
      // instead; cell count scales with k, not with label skew
      // same k both sides so the O(k·dim) per-row assignment cost divides out
      run("e05_by_ivf_cell", {
        val cb = ext.IvfAnn.codebook(embSmall, "vec_id", "embedding", 32, 1)
        ext.EmbeddingDedup.cosineNearDupsByCell(embSmall, "vec_id", "embedding",
          cb, 0.9).count()
      }, {
        val cb = ext.IvfAnn.codebook(embBig, "vec_id", "embedding", 32, 1)
        ext.EmbeddingDedup.cosineNearDupsByCell(embBig, "vec_id", "embedding",
          cb, 0.9).count()
      }),
      // pairs -> transitive dedup clusters: connected components over the
      // LSH pair relation (the full dedup story at 10x — 1.7M edges, hot
      // boilerplate cluster included; pointer jumping keeps rounds log-
      // bounded so wall-time tracks edge volume)
      run("d06_cc_over_lsh",
        ext.NearDup.connectedComponents(
          ext.NearDup.nearDuplicatePairs(docsSmall, "doc_id", "text", 0.7)
            .select("id_a", "id_b")).count(),
        ext.NearDup.connectedComponents(
          ext.NearDup.nearDuplicatePairs(docsBig, "doc_id", "text", 0.7)
            .select("id_a", "id_b")).count()),
      // codebook-free alternative: hyperplane-signature blocking (2^6
      // buckets, codegen'd signature) — same cap discipline
      run("e05_by_signature",
        ext.EmbeddingDedup.cosineNearDupsBySignature(embSmall, "vec_id",
          "embedding", dim = 64, planes = 6, threshold = 0.9).count(),
        ext.EmbeddingDedup.cosineNearDupsBySignature(embBig, "vec_id",
          "embedding", dim = 64, planes = 6, threshold = 0.9).count()),
      run("e06_ivf_ann", {
        val cb = ext.IvfAnn.codebook(embSmall, "vec_id", "embedding", 8, 1)
        ext.IvfAnn.searchTopK(embSmall, embSmall.filter(col("vec_id") < 8),
          "vec_id", "embedding", cb, 3, 5).count()
      }, {
        val cb = ext.IvfAnn.codebook(embBig, "vec_id", "embedding", 8, 1)
        ext.IvfAnn.searchTopK(embBig, embBig.filter(col("vec_id") < 8),
          "vec_id", "embedding", cb, 3, 5).count()
      }),
      // SemDeDup composes the capped cell-blocked pairs with an anti-join,
      // so it inherits the same hot-key discipline: the 10x hot label
      // splits across IVF cells and over-cap cells skip pair expansion
      run("e16_semantic_dedup", {
        val cb = ext.IvfAnn.codebook(embSmall, "vec_id", "embedding", 32, 1)
        ext.EmbeddingDedup.semanticDedupByCell(embSmall, "vec_id", "embedding",
          cb, 0.9).count()
      }, {
        val cb = ext.IvfAnn.codebook(embBig, "vec_id", "embedding", 32, 1)
        ext.EmbeddingDedup.semanticDedupByCell(embBig, "vec_id", "embedding",
          cb, 0.9).count()
      }))
    docsBig.unpersist(); embBig.unpersist()
    docsSmall.unpersist(); embSmall.unpersist()
    results
  }

  /** Sequence packing at 10×: materialized packed sequences
    * ([[graft.operators.Packing.sequences]]) over the replicated corpus.
    * The two-pass position assignment + row-local explode must scale
    * LINEARLY — the shape a naive global-window cumsum breaks (it would
    * serialize the whole corpus through one task, turning 10× data into
    * >>10× wall time). The salted 10× fixture keeps every copy's token
    * counts identical, so output rows are exactly linear in copies and
    * the wall-time ratio is a clean read. Returns (t1x, t10x, rows1x,
    * rows10x).
    */
  def packingSection(spark: SparkSession, sfDir: String,
                     copies: Int = 10): (Double, Double, Long, Long) = {
    val small = Tables.documents(spark, sfDir).select("doc_id", "text").cache()
    val big = docs10x(spark, sfDir, copies, hotDocs = 0).cache()
    small.count(); big.count()
    def run(df: DataFrame): Long = {
      val weighted = df.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("w"))
      graft.operators.Pins.scoped {
        graft.operators.Packing.sequences(
          weighted, Seq(col("doc_id")), "w", 2048L).count()
      }
    }
    run(small) // warm-up (codegen, shuffles)
    val (rows1, t1) = time(run(small))
    val (rows10, t10a) = time(run(big))
    val (_, t10b) = time(run(big)) // min-of-2, same rationale as cappedSection
    small.unpersist(); big.unpersist()
    (t1, math.min(t10a, t10b), rows1, rows10)
  }

  /** Classifier training at 10× — the t37 shape (round 14): char-trigram
    * featurization via [[graft.plans.CharNgramsExpr]] is O(L) per
    * document, per-doc vectors fold row-locally
    * ([[graft.plans.BucketCountsExpr]]) and the whole moment computation
    * is ONE partial-aggregated pass ([[graft.plans.RidgeMomentsAgg]])
    * whose shuffle carries one dense (B+1)²-cell buffer per partition
    * REGARDLESS of corpus size — so training wall time must track the
    * corpus (sub-)linearly. This is the gate the round-13 defect lacked:
    * the interpreted-HOF featurization was O(L²) per document and would
    * blow a 2×-of-linear budget on any corpus; a regression to that
    * shape fails here long before a driver artifact ships it. Labels are
    * a deterministic 4-class function of doc_id (training cost is
    * label-agnostic). Returns (t1x, t10x).
    */
  def trainingSection(spark: SparkSession, sfDir: String,
                      copies: Int = 10): (Double, Double) = {
    import graft.operators.HashedLinearScorer
    def labeled(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("text"),
        concat(lit("c"), pmod(col("doc_id"), lit(4))).as("__y"))
    val small = labeled(Tables.documents(spark, sfDir)
      .select("doc_id", "text")).cache()
    val big = labeled(docs10x(spark, sfDir, copies, hotDocs = 0)).cache()
    small.count(); big.count()
    def run(df: DataFrame): Int =
      HashedLinearScorer.trainRidgeMulti(df, "doc_id", "text", "__y",
        buckets = 64, lambda = 0.1, den = 1000003L,
        features = HashedLinearScorer.charNgramTokens(3)).length
    run(small) // warm-up (codegen, broadcast machinery)
    val (_, t1) = time(run(small))
    val (_, t10a) = time(run(big))
    val (_, t10b) = time(run(big)) // min-of-2, same rationale as cappedSection
    small.unpersist(); big.unpersist()
    (t1, math.min(t10a, t10b))
  }

  /** Per-batch cost of the PERSISTED-INDEX incremental dedup vs corpus
    * size: the same fixed batch is deduped against a 1× and a 10× corpus
    * index (both persisted + read back, index build untimed — that's the
    * amortized once-per-corpus cost). The O(batch) contract says the probe
    * only ever shuffles batch-derived data — corpus relations are scanned
    * map-side behind broadcast semi-joins — so wall time must stay FLAT
    * (bounded by scan growth), not scale with the corpus. Returns
    * (t1x, t10x, rows1x, rows10x).
    */
  def indexedBatchSection(spark: SparkSession, sfDir: String,
                          copies: Int = 10): (Double, Double, Long, Long) = {
    import graft.ext.NearDup
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    // fixed batch, ids disjoint from both corpora
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 777000000L).as("doc_id"), col("text"))
      .cache()
    batch.count()
    val big = docs10x(spark, sfDir, copies, hotDocs = 3000)
    val tmp = java.nio.file.Files.createTempDirectory("neardup-flat").toString
    def probe(corpus: DataFrame, dir: String): (Long, Double) = {
      NearDup.NearDupIndex.save(
        NearDup.buildIndex(corpus, "doc_id", "text"), dir) // untimed: amortized
      val index = NearDup.NearDupIndex.load(spark, dir)
      val run = () => NearDup.incrementalNearDupPairs(batch, index,
        "doc_id", "text", threshold = 0.7, maxBucketSize = 1000).count()
      run() // warm-up (codegen, broadcast build)
      spark.catalog.clearCache()
      // min-of-2, same discipline as cappedSection's 10x legs: the flat
      // gate compares two sub-5s readings whose RATIO a single GC pause or
      // box spike can push past budget with unchanged code (observed
      // 2.11x single-shot vs 1.2-1.6x on repeat runs in round 9)
      val (rows, tA) = time(run())
      spark.catalog.clearCache()
      val (_, tB) = time(run())
      spark.catalog.clearCache()
      (rows, math.min(tA, tB))
    }
    try {
      val (rows1, t1) = probe(docs, s"$tmp/idx1x")
      val (rows10, t10) = probe(big, s"$tmp/idx10x")
      batch.unpersist()
      (t1, t10, rows1, rows10)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  /** One streaming-soak batch's measurement (smoke tier): wall seconds,
    * task input bytes, whether a compaction swapped the epoch during the
    * trigger, and whether an injected crash forced an at-least-once
    * replay (those two batch kinds carry extra amortized/restart work and
    * are excluded from the flatness medians).
    */
  final case class SoakBatch(id: Int, secs: Double, inBytes: Long,
                             compacted: Boolean, replayed: Boolean)

  /** SMOKE-TIER soak of [[graft.streaming.StreamOps
    * .incrementalDedupStream]] — the in-suite 26-batch soak's claims
    * (bounded fragments, crash replay, grace readers) at ~400× its data
    * volume, with per-batch wall/bytes accounting: `batches` micro-batches
    * of `docsPerBatch` unique documents each ingest against a cold index,
    * with one injected crash (after writes, before checkpoint commit)
    * mid-soak and compaction every `compactEvery` fragments. Returns the
    * per-batch measurements and the output row count. The continuous-
    * ingest scale claim is that STEADY batches (no compaction, no
    * restart) stay flat in wall time as the corpus grows `batches`-fold —
    * the probe's corpus side is partition-pruned and semi-joined, never
    * shuffled, and fragment growth is bounded by the compaction cadence.
    */
  def soakSection(spark: SparkSession, batches: Int = 20,
                  docsPerBatch: Int = 500, compactEvery: Int = 6)
      : (Seq[SoakBatch], Long) = {
    import graft.ext.NearDup
    import graft.streaming.StreamOps
    val tmp = java.nio.file.Files.createTempDirectory("smoke-soak").toString
    val (idxDir, outDir, ckptDir, inDir) =
      (s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt", s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id bigint, text string")
    val crashAt = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    crashAt.add((batches / 2).toLong)
    def start() = StreamOps.incrementalDedupStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      "doc_id", "text", idxDir, outDir, ckptDir, threshold = 0.5,
      maxBucketSize = 1000, compactEvery = compactEvery,
      onBatchDone = { id =>
        if (crashAt.remove(id))
          throw new RuntimeException("injected crash before checkpoint commit")
      })
    def batchDf(i: Int) = spark.range(docsPerBatch.toLong)
      .select((lit(i.toLong * docsPerBatch) + col("id")).as("doc_id"))
      .select(col("doc_id"), format_string(
        "soak subject %1$d covering alpha%1$d beta%1$d gamma%1$d delta%1$d " +
        "epsilon%1$d zeta%1$d eta%1$d theta%1$d", col("doc_id")).as("text"))
    try {
      NearDup.NearDupIndex.init(spark, idxDir)
      new java.io.File(inDir).mkdirs() // the source demands an existing dir
      var q = start()
      val rows = Seq.newBuilder[SoakBatch]
      for (i <- 0 until batches) {
        batchDf(i).repartition(1).write.mode("append").parquet(inDir)
        val e0 = NearDup.NearDupIndex.readMeta(spark, idxDir).epoch
        var replayed = false
        val (_, secs, inB, _) = measured(spark) {
          try q.processAllAvailable()
          catch { case _: Exception =>
            replayed = true
            try q.stop() catch { case _: Exception => () }
            q = start() // restart from the same checkpoint: replay
            q.processAllAvailable()
          }
        }
        val e1 = NearDup.NearDupIndex.readMeta(spark, idxDir).epoch
        rows += SoakBatch(i, secs, inB, e1 != e0, replayed)
      }
      q.stop()
      (rows.result(), spark.read.parquet(outDir).count())
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  /** SMOKE-TIER soak of [[graft.streaming.StreamOps.annIngestStream]] —
    * the ANN twin of [[soakSection]]: `batches` micro-batches of
    * `vecsPerBatch` new vectors ingest against a stored
    * [[graft.ext.AnnIndex]] with the self-maintained vector relation
    * (`vectorsDir`), one injected crash mid-soak (at-least-once replay
    * must rewrite its own fragment), and a full RETRAIN every
    * `rebuildEvery` fragments (epoch swap carrying the checkpoint pin).
    * The scale claim: a steady batch's append is encode(batch) with the
    * stored codebooks + an idempotent partition overwrite + a meta CAS —
    * O(batch), so steady wall time stays FLAT while the index grows
    * `batches`-fold; rebuild batches carry the amortized O(corpus)
    * retrain and are excluded from the flatness medians exactly like the
    * dedup soak's compaction batches. Returns per-batch measurements,
    * the final codes count and distinct-id count (exactly-once across
    * the crash and the epoch swaps), and the final epoch.
    */
  def annIngestSection(spark: SparkSession, batches: Int = 20,
                       vecsPerBatch: Int = 2000, rebuildEvery: Int = 8)
      : (Seq[SoakBatch], Long, Long, Int) = {
    import graft.ext.{AnnIndex, ClusteredFixture}
    import graft.streaming.StreamOps
    val (dim, clusters) = (32, 16)
    val tmp = java.nio.file.Files.createTempDirectory("smoke-ann").toString
    val (idxDir, inDir, ckptDir, vecDir) =
      (s"$tmp/idx", s"$tmp/in", s"$tmp/ckpt", s"$tmp/vectors")
    def vecsFor(lo: Long, n: Int) = spark.range(lo, lo + n)
      .select(col("id").as("vec_id"),
        ClusteredFixture.normalizedVec(col("id"), clusters, dim).as("embedding"))
    val crashAt = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    crashAt.add((batches / 2).toLong)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id bigint, embedding array<float>")
    def start() = StreamOps.annIngestStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(inDir),
      idxDir, "embedding", ckptDir,
      rebuildEvery = rebuildEvery, vectorsDir = Some(vecDir),
      onBatchDone = { id =>
        if (crashAt.remove(id))
          throw new RuntimeException("injected crash before checkpoint commit")
      })
    def epochOf: Int = {
      val (kv, _) = graft.sources.StoredIndex.readKvWithGen(spark, idxDir)
      kv("epoch").toInt
    }
    try {
      val base = vecsFor(0L, vecsPerBatch)
      AnnIndex.build(base, "vec_id", "embedding", idxDir, dim,
        m = 8, pqK = 16, ivfK = clusters, iterations = 2)
      graft.sources.ParquetWarehouse.overwritePartitions(
        base.withColumn("batch_id", lit(-1L)), vecDir, Seq("batch_id"))
      new java.io.File(inDir).mkdirs()
      var q = start()
      val rows = Seq.newBuilder[SoakBatch]
      for (i <- 0 until batches) {
        vecsFor((i + 1).toLong * vecsPerBatch, vecsPerBatch)
          .repartition(1).write.mode("append").parquet(inDir)
        val e0 = epochOf
        var replayed = false
        val (_, secs, inB, _) = measured(spark) {
          try q.processAllAvailable()
          catch { case _: Exception =>
            replayed = true
            try q.stop() catch { case _: Exception => () }
            q = start() // restart from the same checkpoint: replay
            q.processAllAvailable()
          }
        }
        rows += SoakBatch(i, secs, inB, epochOf != e0, replayed)
      }
      q.stop()
      val codes = AnnIndex.load(spark, idxDir).codes
      (rows.result(), codes.count(),
        codes.select("vec_id").distinct().count(), epochOf)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  /** Layout-prune effectiveness in BYTES (round-8 brief): the same small
    * ingest batch probes the same stored 10× index twice — once through the
    * partition-pruned path (the default for a loaded index), once with the
    * layout metadata masked so both corpus relations are scanned in full.
    * Wall-time hides this on a warm local page cache; storage input bytes
    * don't. Returns (bytesPruned, bytesUnpruned, rowsEqual). The batch is
    * SMALL on purpose: its candidate set touches a handful of the shingle
    * relation's `parts` partitions, which is exactly the daily-ingest shape
    * the layout exists for (the bucket relation's band keys spray wider —
    * the shingle relation is the volume term at corpus scale).
    */
  def prunedBytesSection(spark: SparkSession, sfDir: String,
                         copies: Int = 10): (Long, Long, Boolean) = {
    import graft.ext.NearDup
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val batch = docs.filter(col("doc_id") % 1000 === 0)
      .select((col("doc_id") + 888000000L).as("doc_id"), col("text"))
      .cache()
    batch.count()
    val tmp = java.nio.file.Files.createTempDirectory("neardup-bytes").toString
    try {
      NearDup.NearDupIndex.save(
        NearDup.buildIndex(docs10x(spark, sfDir, copies, hotDocs = 3000),
          "doc_id", "text"),
        s"$tmp/idx")
      val index = NearDup.NearDupIndex.load(spark, s"$tmp/idx")
      def run(idx: NearDup.NearDupIndex): (Long, Long) = {
        // warm-up, then measure (page cache stays warm for BOTH runs — the
        // comparison is bytes, which the cache does not change)
        NearDup.incrementalNearDupPairs(batch, idx, "doc_id", "text",
          threshold = 0.7, maxBucketSize = 1000).count()
        spark.catalog.clearCache()
        val (rows, _, inB, _) = measured(spark)(
          NearDup.incrementalNearDupPairs(batch, idx, "doc_id", "text",
            threshold = 0.7, maxBucketSize = 1000).count())
        spark.catalog.clearCache()
        (rows, inB)
      }
      val (rowsU, bytesU) = run(index.copy(layoutParts = 0)) // prune masked
      val (rowsP, bytesP) = run(index)
      batch.unpersist()
      (bytesP, bytesU, rowsP == rowsU && rowsP > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = 10
    val maxSlowdown = 2.0 // vs linear extrapolation of the sf0.1 timing
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    val results = cappedSection(spark, sfDir, copies)

    def run(name: String, small: => Long, big: => Long): Measure = {
      small // warm-up (codegen, shuffles)
      val (_, tSmall) = time(small)
      val (rows, tBig) = time(big)
      Measure(name, tSmall, tBig, rows)
    }

    // ---------------------------------------------------------------
    // relational section: the fact tables replicated 10x (6M lineitem
    // rows), dims left at sf0.1 (dims don't grow with facts — they stay
    // broadcastable, which is the point)
    // ---------------------------------------------------------------
    import org.apache.spark.sql.expressions.Window
    val liSmall = Tables.lineitem(spark, sfDir).cache(); liSmall.count()
    val liBig = {
      val n = 100000000L
      liSmall.crossJoin(spark.range(copies.toLong).select(col("id").as("__c")))
        .withColumn("l_orderkey", col("l_orderkey") + col("__c") * n)
        .drop("__c").cache()
    }
    liBig.count()
    val ordSmall = Tables.orders(spark, sfDir).cache(); ordSmall.count()
    val ordBig = {
      val n = 100000000L
      ordSmall.crossJoin(spark.range(copies.toLong).select(col("id").as("__c")))
        .withColumn("o_orderkey", col("o_orderkey") + col("__c") * n)
        .drop("__c").cache()
    }
    ordBig.count()
    val cust = Tables.customer(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)

    def scanAgg(li: org.apache.spark.sql.DataFrame): Long =
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("q"), count(lit(1))).count()
    def windowDedup(li: org.apache.spark.sql.DataFrame): Long =
      operators.Dedup.keepFirst(li, Seq("l_orderkey", "l_partkey"),
        Seq(col("l_linenumber"), col("l_suppkey"))).count()
    def joinTopK(li: org.apache.spark.sql.DataFrame,
                 ord: org.apache.spark.sql.DataFrame): Long =
      li.join(ord.filter(col("o_orderstatus") =!= "F"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey").agg(sum(col("l_extendedprice")).as("rev"))
        .orderBy(col("rev").desc).limit(10).count()
    def fourWayJoin(li: org.apache.spark.sql.DataFrame,
                    ord: org.apache.spark.sql.DataFrame): Long =
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name").agg(sum(col("l_extendedprice"))).count()

    // bloom-prefiltered exact anti join: lineitem rows whose order is NOT
    // in the 'F'-status key set — the map-side prune must keep the big
    // side's shuffle proportional to the maybe-matching sliver
    def bloomAnti(li: org.apache.spark.sql.DataFrame,
                  ord: org.apache.spark.sql.DataFrame, expected: Long): Long =
      ext.BloomJoin.anti(li,
        ord.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), expectedItems = expected).count()

    val relational = Seq(
      run("rel_scan_agg", scanAgg(liSmall), scanAgg(liBig)),
      run("rel_window_dedup", windowDedup(liSmall), windowDedup(liBig)),
      run("rel_join_topk", joinTopK(liSmall, ordSmall), joinTopK(liBig, ordBig)),
      run("rel_4way_join", fourWayJoin(liSmall, ordSmall), fourWayJoin(liBig, ordBig)),
      run("rel_bloom_anti", bloomAnti(liSmall, ordSmall, 100000L),
        bloomAnti(liBig, ordBig, 1000000L)))

    // persisted-index probe: FLAT budget (2x of the 1x probe), not linear —
    // the whole point of the index is that corpus growth doesn't reach the
    // per-batch plan
    val (tIdx1, tIdx10, rIdx1, rIdx10) = indexedBatchSection(spark, sfDir, copies)
    val idxFlat = tIdx10 / math.max(tIdx1, 1.0)
    val idxVerdict = if (tIdx10 <= 2.0 * math.max(tIdx1, 1.0)) "OK"
                     else "FAIL (corpus-coupled)"
    println(f"SMOKE d11_indexed_batch     1x=$tIdx1%6.2fs 10x-corpus=$tIdx10%6.2fs " +
      f"rows=$rIdx1%d/$rIdx10%d flat=$idxFlat%5.2fx $idxVerdict")

    // layout-prune effectiveness: bytes, not seconds (page cache hides the
    // scan term in wall time)
    val (bytesP, bytesU, rowsEq) = prunedBytesSection(spark, sfDir, copies)
    val pruneVerdict = if (rowsEq && bytesP * 2 <= bytesU) "OK"
                       else "FAIL (prune ineffective)"
    println(f"SMOKE d11_prune_bytes       pruned=${bytesP / 1e6}%8.1fMB " +
      f"unpruned=${bytesU / 1e6}%8.1fMB ratio=${bytesP.toDouble / bytesU}%5.2f $pruneVerdict")

    // sequence packing: linear rows AND linear time at 10x (a data-sized
    // single-partition stage would blow both)
    val (tPack1, tPack10, rPack1, rPack10) = packingSection(spark, sfDir, copies)
    val packLinear = tPack10 / (tPack1 * copies)
    val packVerdict =
      if (packLinear <= maxSlowdown &&
          rPack10 >= rPack1 * (copies - 1) && rPack10 <= rPack1 * (copies + 1)) "OK"
      else "FAIL (packing non-linear)"
    println(f"SMOKE t13_packing           1x=$tPack1%6.2fs ${copies}x=$tPack10%6.2fs " +
      f"rows=$rPack1%d/$rPack10%d vs-linear=$packLinear%5.2fx $packVerdict")

    // classifier training: one moment pass, fused O(L) featurization —
    // wall time must track corpus size (the r13 O(L^2) defect's gate)
    val (tTrain1, tTrain10) = trainingSection(spark, sfDir, copies)
    val trainLinear = tTrain10 / (tTrain1 * copies)
    val trainVerdict =
      if (trainLinear <= maxSlowdown) "OK" else "FAIL (training non-linear)"
    println(f"SMOKE t37_training          1x=$tTrain1%6.2fs ${copies}x=$tTrain10%6.2fs " +
      f"vs-linear=$trainLinear%5.2fx $trainVerdict")

    // token-budget quota under a hot stratum: the two-pass cumsum must
    // stay linear when ONE stratum holds 80% of rows (the single-window
    // form's serialization shape)
    val (tQ1, tQ10, rQ1, rQ10) = quotaSection(spark, 600000, copies)
    val quotaLinear = tQ10 / (tQ1 * copies)
    val quotaVerdict =
      if (quotaLinear <= maxSlowdown) "OK" else "FAIL (quota non-linear)"
    println(f"SMOKE t43_hot_stratum       1x=$tQ1%6.2fs ${copies}x=$tQ10%6.2fs " +
      f"rows=$rQ1%d/$rQ10%d vs-linear=$quotaLinear%5.2fx $quotaVerdict")

    // continuous quota view under a hot-stratum MEGA-BATCH (round 16):
    // one micro-batch with 80% of rows in one stratum, admitted through
    // QuotaView.appendWeighted with the batch gate forced onto the
    // two-pass — the within-batch running sum must stay linear in batch
    // size (the r15 What's-wrong #3 shape, now removed)
    val (tB1, tB10, rB1, rB10) = quotaBatchSection(spark, 600000, copies)
    val quotaBatchLinear = tB10 / (tB1 * copies)
    val quotaBatchVerdict =
      if (quotaBatchLinear <= maxSlowdown) "OK"
      else "FAIL (quota batch non-linear)"
    println(f"SMOKE s22_hot_batch         1x=$tB1%6.2fs ${copies}x=$tB10%6.2fs " +
      f"rows=$rB1%d/$rB10%d vs-linear=$quotaBatchLinear%5.2fx $quotaBatchVerdict")

    var failed = idxVerdict != "OK" || pruneVerdict != "OK" ||
      packVerdict != "OK" || trainVerdict != "OK" || quotaVerdict != "OK" ||
      quotaBatchVerdict != "OK"
    // (scd2Flat / zorderLinear run in the sbt-test smoke tier only —
    // they gate layout/merge cost shapes, not hot-key caps)
    (results ++ relational).foreach {
      case m @ Measure(name, tSmall, tBig, rows, inB, shufB) =>
        val slowdown = m.slowdownVsLinear(copies)
        val verdict =
          if (slowdown <= maxSlowdown) "OK"
          else { failed = true; "FAIL (super-linear)" }
        println(f"SMOKE $name%-22s 1x=${tSmall}%6.2fs 10x+hot=${tBig}%7.2fs " +
          f"rows=$rows%8d in=${inB / 1e6}%7.1fMB shuf=${shufB / 1e6}%7.1fMB " +
          f"vs-linear=${slowdown}%5.2fx $verdict")
    }
    spark.stop()
    if (failed) sys.exit(1)
  }

  /** Token-budget quota under a HOT STRATUM (round 15, the r14 brief's
    * skewed-strata gate): one stratum holds 80 % of all rows — the shape
    * a real mixture job always has ("en" is ~half of a web crawl) and
    * the one the single-window form serializes (its stratum-partitioned
    * sort puts the mega-stratum in ONE task, so 10× data means 10× the
    * serial term, not 10× the parallel work). The two-pass
    * [[graft.operators.Sampling.weightCappedPerStratum]] must stay
    * within the 2×-of-linear budget as rows grow `copies`×. Synthetic
    * corpus (range + hash arithmetic, no I/O term) so the timing reads
    * the cumsum machinery itself; weights 1..50, budget sized to bite
    * mid-stratum at both scales. Returns (t1x, tBigx, rows1x, rowsBigx).
    */
  def quotaSection(spark: SparkSession, baseRows: Int,
                   copies: Int): (Double, Double, Long, Long) = {
    // force the two-pass path: this leg measures the SCALE shape's cumsum
    // machinery itself, and the synthetic range corpus's leaf stats would
    // otherwise (correctly) gate the one-window form at these volumes.
    // Snapshot the session's prior gate value and RESTORE it (not unset):
    // a caller-configured gate must survive the smoke run.
    val priorGate =
      spark.conf.getOption(graft.operators.Sampling.TwoPassMinBytesKey)
    spark.conf.set(graft.operators.Sampling.TwoPassMinBytesKey, "0")
    def corpus(n: Long): DataFrame =
      spark.range(n).select(col("id"),
        when(pmod(col("id"), lit(10)) < 8, lit("mega"))
          .otherwise(concat(lit("d"), pmod(col("id"), lit(997))))
          .as("domain"),
        (lit(1L) + pmod(col("id") * 2654435761L, lit(50))).as("w"))
    def run(n: Long): Long =
      // scoped: the two-pass pin is released per call, no clearCache
      // hammer
      graft.operators.Pins.scoped {
        graft.operators.Sampling.weightCappedPerStratum(
          corpus(n), Seq("domain"), Seq("id"), "w", budget = 200000L).count()
      }
    try {
      run(baseRows.toLong) // warm-up (codegen, shuffles)
      val (r1, t1a) = time(run(baseRows.toLong))
      val (_, t1b) = time(run(baseRows.toLong))
      val (rb, tba) = time(run(baseRows.toLong * copies))
      val (_, tbb) = time(run(baseRows.toLong * copies))
      (math.min(t1a, t1b), math.min(tba, tbb), r1, rb)
    } finally priorGate match {
      case Some(v) =>
        spark.conf.set(graft.operators.Sampling.TwoPassMinBytesKey, v)
      case None =>
        spark.conf.unset(graft.operators.Sampling.TwoPassMinBytesKey)
    }
  }

  /** Continuous-quota twin of [[quotaSection]]: ONE mega-batch (same 80 %
    * hot stratum, same weights/budget) admitted through
    * [[graft.operators.QuotaView.appendWeighted]] into a fresh store, the
    * batch gate forced onto the two-pass so the timing reads the
    * within-batch running-sum machinery (plus the store fragment write,
    * linear in admitted rows by construction). Both scales measure the
    * SAME form — a gate-crossing comparison would mix a window leg into
    * the linearity ratio. Returns (t1x, tBigx, admitted1x, admittedBigx).
    */
  def quotaBatchSection(spark: SparkSession, baseRows: Int,
                        copies: Int): (Double, Double, Long, Long) = {
    import graft.operators.QuotaView
    // same snapshot-and-restore discipline as quotaSection
    val priorGate = spark.conf.getOption(QuotaView.BatchTwoPassMinRowsKey)
    spark.conf.set(QuotaView.BatchTwoPassMinRowsKey, "0")
    def corpus(n: Long): DataFrame =
      spark.range(n).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) < 8, lit("mega"))
          .otherwise(concat(lit("d"), pmod(col("id"), lit(997))))
          .as("domain"),
        (lit(1L) + pmod(col("id") * 2654435761L, lit(50))).as("n_tok"))
    def run(n: Long): Long = {
      val tmp = java.nio.file.Files.createTempDirectory("quotabatch")
        .toString + "/store"
      try {
        QuotaView.init(spark, tmp)
        QuotaView.appendWeighted(corpus(n), "doc_id", "domain", "n_tok",
          tmp, batchId = 0L, budget = 200000L).count()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(new java.io.File(tmp).getParent))
    }
    try {
      run(baseRows.toLong) // warm-up (codegen, shuffles, store init)
      val (r1, t1a) = time(run(baseRows.toLong))
      val (_, t1b) = time(run(baseRows.toLong))
      val (rb, tba) = time(run(baseRows.toLong * copies))
      val (_, tbb) = time(run(baseRows.toLong * copies))
      (math.min(t1a, t1b), math.min(tba, tbb), r1, rb)
    } finally priorGate match {
      case Some(v) => spark.conf.set(QuotaView.BatchTwoPassMinRowsKey, v)
      case None => spark.conf.unset(QuotaView.BatchTwoPassMinRowsKey)
    }
  }

  /** SCD2 merge cost must track the TOUCHED buckets, not the dimension:
    * with buckets sized so one bucket holds a constant number of keys
    * (the operational contract — buckets grow with the table), a
    * single-key merge into a growing dimension must stay SUB-LINEAR
    * (constant touched-bucket work + per-pass overhead). Returns the
    * min-of-2 single-key merge time at each requested scale multiple —
    * MULTIPLE points so the TREND carries the claim (a single 10× ratio
    * cannot distinguish constant per-pass overhead from O(historyᵉ)
    * creep; the round-11 verdict's gate-strengthening ask).
    */
  def scd2Flat(spark: SparkSession, baseKeys: Int,
               multiples: Seq[Int]): Seq[Double] = {
    import graft.sources.Scd2
    def leg(n: Int, buckets: Int): Double = {
      val root = java.nio.file.Files.createTempDirectory("scd2smoke").toString + "/dim"
      val base = spark.range(n.toLong).select(col("id"),
        concat(lit("name"), col("id")).as("name"),
        (col("id") % 1000).cast("double").as("bal"))
      Scd2.merge(base, root, Seq("id"), Seq("name", "bal"), 1L, buckets)
      def oneKey(id: Long, batch: Long): Unit = {
        val upd = spark.range(id, id + 1).select(col("id"),
          concat(lit("name"), col("id"), lit("_v"), lit(batch)).as("name"),
          lit(-batch.toDouble).as("bal"))
        Scd2.merge(upd, root, Seq("id"), Seq("name", "bal"), batch, buckets)
      }
      oneKey(0L, 2L) // warm-up (codegen, listing caches)
      // min-of-2 — the cappedSection noise discipline (a ~1 s single-key
      // merge swings enough under box load to flap a ratio gate alone)
      val (_, tA) = time(oneKey(1L, 3L))
      val (_, tB) = time(oneKey(2L, 4L))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(new java.io.File(root).getParent))
      math.min(tA, tB)
    }
    multiples.map(m => leg(baseKeys * m, 16 * m))
  }

  /** JoinView single-key append cost must track the delta's touched
    * buckets, not the accumulated input history: with buckets scaled so
    * one bucket holds a constant number of keys (the operational
    * contract, same as [[scd2Flat]]), a one-key-per-side batch into a
    * growing history must stay SUB-LINEAR — the gate that catches a
    * delta join quietly rescanning the whole history per batch. Returns
    * the min-of-2 append time at each requested scale multiple (trend
    * over multiple points, same rationale as [[scd2Flat]]).
    */
  def joinViewFlat(spark: SparkSession, baseKeys: Int,
                   multiples: Seq[Int]): Seq[Double] = {
    import graft.sources.JoinView
    def leg(n: Int, buckets: Int): Double = {
      val root = java.nio.file.Files.createTempDirectory("jvsmoke").toString + "/v"
      val v = JoinView.View(root, Seq("k"),
        leftDdl = "k bigint, a string, batch_id bigint",
        rightDdl = "k bigint, b string, batch_id bigint",
        joinDdl = "k bigint, a string, b string, batch_id bigint",
        buckets = buckets)
      JoinView.init(spark, v)
      JoinView.appendBatch(
        spark.range(n.toLong).select(col("id").as("k"),
          concat(lit("a"), col("id")).as("a")),
        spark.range(n.toLong).select(col("id").as("k"),
          concat(lit("b"), col("id")).as("b")),
        v, 0L)
      def oneKey(batch: Long): Unit =
        JoinView.appendBatch(
          spark.range(1).select(lit(n + batch).cast("long").as("k"),
            lit(s"a$batch").as("a")),
          spark.range(1).select(lit(n + batch).cast("long").as("k"),
            lit(s"b$batch").as("b")),
          v, batch)
      oneKey(1L) // warm-up (codegen, listing caches)
      // min-of-2 per leg — the cappedSection noise discipline: a ~1 s
      // single-key append under box noise swings enough to flap a 2.5x
      // ratio gate on its own
      val (_, tA) = time(oneKey(2L))
      val (_, tB) = time(oneKey(3L))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(new java.io.File(root).getParent))
      math.min(tA, tB)
    }
    multiples.map(m => leg(baseKeys * m, 16 * m))
  }

  /** Z-order rewrite at `copies`×: the re-layout is one quantile pass plus
    * one range shuffle + local sort, so wall time must stay within the
    * 2×-of-linear budget as rows AND files scale together — the shape a
    * driver-side sort or a single-task range would break. Returns
    * (t1x, tBigx, rows1x, rowsBigx).
    */
  def zorderLinear(spark: SparkSession, baseRows: Int,
                   copies: Int): (Double, Double, Long, Long) = {
    import graft.sources.Zorder
    def leg(n: Int, files: Int): (Double, Long) = {
      val root = java.nio.file.Files.createTempDirectory("zsmoke").toString + "/t"
      spark.range(n.toLong).select(col("id").as("a"),
          ((col("id") * 48271) % n).as("b"))
        .repartitionByRange(files, col("a"))
        .write.mode("overwrite").parquet(root)
      Zorder.rewrite(spark, root, Seq("a", "b"), files) // warm-up rewrite
      val (_, t) = time(Zorder.rewrite(spark, root, Seq("a", "b"), files))
      val rows = spark.read.parquet(root).count()
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(new java.io.File(root).getParent))
      (t, rows)
    }
    val (t1, r1) = leg(baseRows, 16)
    val (tb, rb) = leg(baseRows * copies, 16 * copies)
    (t1, tb, r1, rb)
  }
}
