package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.StoredIndex

/** CORPUS RELEASE BUNDLE — the one-call trainer handoff that composes
  * the pieces a dataset release otherwise wires by hand: deterministic
  * train/val/test split ([[Sampling.deterministicSplit]]), TOKEN-
  * budgeted shard assignment (contiguous prefix-sum packing in the
  * split's deterministic order — shard size measured in whatever token
  * count the caller provides: the t48 BPE count, the t43 regex count,
  * bytes), the shard-partitioned corpus write, and a per-shard manifest
  * plus per-split datacard COUNTED FROM THE WRITTEN FILES and
  * CAS-published next to the data. Reference analogue: none — the
  * reference loads a warehouse (`himalayan_etl/ops/load.py`); this is
  * the LLM-pipeline release surface built on the engine's own protocol.
  *
  * LAYOUT — the [[graft.sources.StoredIndex]] protocol, fourth client
  * (near-dup index, ANN index, [[SplitManifest]], this): relations land
  * under GENERATION- AND ATTEMPT-TAGGED directories BEFORE the CAS meta
  * publish points at them, so every crash/racer window is benign —
  * identical inheritance argument to [[SplitManifest.release]], which
  * documents the protocol in full. Under `dir`:
  *   - `corpus_e{G}_w{tag}/`    the released rows, `partitionBy(split,
  *     shard)` — the physical layout a trainer streams shard by shard;
  *   - `manifest_e{G}_w{tag}/`  one row per (split, shard): n_docs,
  *     n_tokens — RE-COUNTED from the written corpus files, so the
  *     manifest describes the artifact of record, not the plan;
  *   - `datacard_e{G}_w{tag}/`  one row per split: fraction, n_docs,
  *     n_tokens, n_shards, seed;
  *   - `meta_g{N}`              the spec + `rel_gen`/`rel_tag` pointers.
  *
  * Shard assignment law (engine-replayable, oracle-gated by src23):
  * within each split, rows order by (md5(seed || '|' || keys), keys) —
  * the SAME seeded draw the split itself uses — and a row whose
  * EXCLUSIVE prefix token sum is `p` lands in shard
  * `floor(p / shardTokens)`. Shards are therefore contiguous prefixes,
  * each closing as soon as it reaches the target (a single document
  * larger than `shardTokens` overflows its own shard rather than
  * splitting — documents are atomic). The prefix sum rides
  * [[Sampling]]'s size-gated machinery: one window per split at bench
  * scale, the distributed two-pass at 100 TB — never a data-sized
  * single task.
  */
object Release {

  /** Full release provenance. `tokensCol` names the per-row token count
    * column (caller-computed: BPE via [[graft.plans.BpeEncodeExpr]],
    * regex count via [[graft.functions.TextFunctions.tokenCount]], …;
    * must be non-negative). `shardTokens` is the target shard size in
    * those tokens.
    */
  final case class Spec(seed: Long, fractions: Seq[(String, Double)],
                        strataCols: Seq[String], keyCols: Seq[String],
                        tokensCol: String, shardTokens: Long,
                        splitCol: String = "split")

  // relation names under a release store; the protocol helpers
  // (tagged paths, kv codecs, generation sweep, pointer resolution) are
  // the SHARED StoredIndex client surface — one implementation under
  // SplitManifest and Release both
  private val relNames = Seq("corpus", "manifest", "datacard", "tokenizer")

  /** A tokenizer shipped WITH the corpus (the fourth relation of the
    * bundle): the trained merge table plus its base alphabet, exported
    * as the standard text interchange ([[Bpe.exportArtifacts]] —
    * `merges.txt` + `vocab.txt`) under the same generation/attempt tag
    * and CAS meta as the data, so trainer and corpus can never skew: the
    * pointer that resolves the shards resolves the tokenizer that
    * segmented them.
    */
  final case class Tokenizer(merges: Seq[Bpe.Merge], alphabet: Seq[String])

  /** Split, shard, write, count, publish — see the object contract.
    * Re-releasing to the same store advances the generation; a
    * concurrent release loses the CAS loudly; a crash anywhere before
    * the meta publish leaves the previous release fully live (protocol
    * inheritance — ReleaseSpec proves it).
    *
    * CONTENT-ADDRESSED SHARD REUSE (the 100 TB re-release story): when
    * the store already holds a live release with the SAME spec and
    * corpus schema, each shard of the new assignment is fingerprinted
    * MAP-SIDE (count, token sum, and two order-invariant folds of the
    * per-row xxhash64 over the data columns — a DECIMAL sum and a bit
    * XOR), compared against the prior manifest's stored fingerprints,
    * and only DIRTY shards are written; a clean shard's files HARD-LINK
    * from the prior generation's directory into the new one (link(2) on
    * local/POSIX — the new name is independent of the old, so the grace
    * sweep of the prior generation never touches reused content;
    * filesystems without hard links fall back to a copy, which still
    * saves the parquet encode). A small curation delta therefore
    * rewrites only the shards whose member set actually changed —
    * within each split, the contiguous prefix BEFORE the first edited
    * draw position (packing is prefix-sum based, so shards after an
    * edit shift and rewrite honestly). Manifest counts are RE-COUNTED
    * from the files of the new directory (linked and written alike) and
    * REQUIRED to match the assignment's counts shard by shard, so a
    * linking bug fails the publish instead of shipping a torn corpus.
    * Fingerprint equality is three independent 64-bit+ LINEAR invariants
    * over the row-hash multiset (count, DECIMAL sum, bit-XOR, next to the
    * token sum). Scope of the guarantee: ACCIDENTAL deltas — any random
    * member change collides with ~2^-128 odds, the md5-content-fingerprint
    * posture. Because the folds are linear, adversarially STRUCTURED
    * multiset swaps that preserve count/sum/xor simultaneously do exist;
    * the store's threat model is the curation pipeline's own edits (never
    * adversarial), so linearity is accepted for its map-side-combinable
    * cost. Driver work is O(#shards) (the dirty/clean lists and the link
    * calls) — the explicit small-side contract, like maxVocabRows.
    */
  def publish(corpus: DataFrame, dir: String, spec: Spec,
              tokenizer: Option[Tokenizer] = None): Unit = {
    require(spec.shardTokens > 0,
      s"shardTokens must be positive, got ${spec.shardTokens}")
    require(spec.keyCols.nonEmpty, "spec must carry the key columns")
    (spec.keyCols ++ spec.strataCols :+ spec.tokensCol).foreach { c =>
      require(corpus.columns.contains(c),
        s"corpus has no '$c' column (columns: ${corpus.columns.mkString(", ")})")
    }
    // the columns publish ADDS must not clobber caller data — 'shard' is
    // a very plausible column on a corpus being RE-released
    Seq(spec.splitCol, "shard", "__cum").foreach { c =>
      require(!corpus.columns.contains(c),
        s"corpus already carries a '$c' column, which publish would " +
          "overwrite — rename it first")
    }
    val spark = corpus.sparkSession
    val gen = StoredIndex.currentGeneration(spark, dir) // read BEFORE the relation writes
    val relGen = gen + 1
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val corpusPath = StoredIndex.taggedRelPath(dir, "corpus", relGen, tag)
    val manPath = StoredIndex.taggedRelPath(dir, "manifest", relGen, tag)
    val cardPath = StoredIndex.taggedRelPath(dir, "datacard", relGen, tag)

    // data columns in a FIXED (sorted-name) order, so this release's
    // fingerprints and any later release's hash identically. Each column
    // is PRECEDED by an explicit null flag: XxHash64 folds nothing for a
    // null child, so without the flags a value MOVING between two
    // same-typed nullable columns hashes identically — a systematic
    // clean-shard false positive, not the random-collision posture the
    // contract claims. Flags are never null, so the fold stream always
    // carries one entry per column position.
    val dataCols = corpus.columns.sorted.toSeq
    val rowHash = xxhash64(dataCols.flatMap(c =>
      Seq(col(c).isNull.cast("int"), col(c))): _*)
    val prior = priorReusable(spark, dir, spec, gen, corpus)
    // assignment-side manifest rows: (split, shard, n_docs, n_tokens,
    // fp_add, fp_xor) — O(#shards) on the driver (the explicit contract)
    var assignRows: Array[(String, Int, Long, Long, String, Long)] = null

    // 1. deterministic split (exact per-stratum fraction floors), then
    // 2. shard by EXCLUSIVE prefix token sum in the split's own
    //    deterministic order (same seeded draw) — both two-pass pins are
    //    scoped: the shard assignment and the write run inside
    Pins.scoped {
      val split = Sampling.deterministicSplit(corpus, spec.strataCols,
        spec.keyCols, spec.fractions, spec.seed, spec.splitCol)
      val draw = md5(concat_ws("|",
        lit(spec.seed.toString) +:
          spec.keyCols.map(c => col(c).cast("string")): _*).cast("binary"))
      val cum = Sampling.stratumRunningSum(
        split, Seq(spec.splitCol), draw +: spec.keyCols.map(col),
        col(spec.tokensCol).cast("long"), "__cum")
      // INTEGER division on longs (`div`), not double `/`: floor of a
      // double quotient loses exactness once a split's cumulative token
      // count exceeds 2^53 — at 100 TB that misassigns shard boundaries
      // (round-19 ADVICE). The prefix sum is non-negative (tokens are
      // non-negative by contract), so div == floor.
      val tokEsc = spec.tokensCol.replace("`", "``")
      val sharded = cum.withColumn("shard",
        expr(s"CAST((__cum - CAST(`$tokEsc` AS BIGINT)) " +
          s"div ${spec.shardTokens} AS INT)"))
        .drop("__cum")
      // 2b. per-shard counts + order-invariant member fingerprints,
      //     map-side combined (the DECIMAL sum cannot overflow ANSI
      //     long arithmetic, and its string form is scale-stable)
      assignRows = sharded.withColumn("__rh", rowHash)
        .groupBy(col(spec.splitCol).cast("string").as("split"),
          col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col(spec.tokensCol).cast("long")).as("n_tokens"),
          sum(col("__rh").cast("decimal(38,0)")).cast("string")
            .as("fp_add"),
          expr("bit_xor(__rh)").as("fp_xor"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getLong(5)))
      // 3. the corpus-sized action: the shard-partitioned write —
      //    full on a first/incompatible release, dirty-only on a
      //    fingerprint-matched re-release (clean shards hard-link)
      prior match {
        case Some((priorCorpus, priorFps)) if assignRows.nonEmpty =>
          val clean = assignRows.filter { case (s, n, d, t, fa, fx) =>
            priorFps.get((s, n)).contains((d, t, fa, fx))
          }
          val cleanKeys = clean.map(t => (t._1, t._2)).toSet
          val dirty = assignRows.collect {
            case t if !cleanKeys((t._1, t._2)) => (t._1, t._2)
          }
          if (dirty.nonEmpty) {
            import spark.implicits._
            sharded.join(
                broadcast(dirty.toSeq.toDF(spec.splitCol, "shard")),
                Seq(spec.splitCol, "shard"), "left_semi")
              .write.mode("overwrite")
              .partitionBy(spec.splitCol, "shard").parquet(corpusPath)
          }
          linkShards(spark, priorCorpus, corpusPath, spec.splitCol,
            clean.map(t => (t._1, t._2)).toSeq)
        case _ =>
          sharded.write.mode("overwrite")
            .partitionBy(spec.splitCol, "shard").parquet(corpusPath)
      }
    }

    // 4. manifest: fingerprints from the assignment, counts RE-COUNTED
    //    from the files of the new directory (linked and written alike)
    //    and REQUIRED to agree shard by shard — a linking bug fails the
    //    publish instead of shipping a torn corpus
    val fileCounts = spark.read.parquet(corpusPath)
      .groupBy(col(spec.splitCol).cast("string").as("split"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(spec.tokensCol).cast("long")).as("n_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val assignCounts =
      assignRows.map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    require(fileCounts == assignCounts,
      "released files disagree with the shard assignment " +
        s"(first diffs: ${(assignCounts.toSet diff fileCounts.toSet)
          .take(3)} vs ${(fileCounts.toSet diff assignCounts.toSet).take(3)})")
    locally {
      import spark.implicits._
      assignRows.toSeq
        .toDF("split", "shard", "n_docs", "n_tokens", "fp_add", "fp_xor")
        .coalesce(1).write.mode("overwrite").parquet(manPath)
    }
    val perSplit = spark.read.parquet(manPath)
      .groupBy("split")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        count(lit(1)).as("n_shards"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    import spark.implicits._
    spec.fractions.map { case (name, f) =>
      val (d, t, sh) = perSplit.getOrElse(name, (0L, 0L, 0L))
      (name, f, d, t, sh, spec.seed)
    }.toDF("split", "fraction", "n_docs", "n_tokens", "n_shards", "seed")
      .coalesce(1).write.mode("overwrite").parquet(cardPath)

    // 4b. tokenizer artifact (optional fourth relation) — written, like
    //     the others, BEFORE the meta that references it
    tokenizer.foreach { t =>
      Bpe.exportArtifacts(spark, t.merges, t.alphabet,
        StoredIndex.taggedRelPath(dir, "tokenizer", relGen, tag))
    }

    // 5. CAS publish + sweep (the SplitManifest discipline)
    StoredIndex.writeMetaCas(spark, dir, Seq(
      "kind" -> "release",
      "rel_gen" -> relGen.toString,
      "rel_tag" -> tag,
      "tokenizer" -> (if (tokenizer.isDefined) "1" else "0"),
      "seed" -> spec.seed.toString,
      "fractions" -> StoredIndex.encodeFractions(spec.fractions),
      "strata_cols" -> spec.strataCols.mkString(","),
      "key_cols" -> spec.keyCols.mkString(","),
      "tokens_col" -> spec.tokensCol,
      "shard_tokens" -> spec.shardTokens.toString,
      "split_col" -> spec.splitCol), gen)
    StoredIndex.sweepTaggedBelow(spark, dir, relNames, relGen - 1,
      legacyUntagged = false)
  }

  /** The live release, IF a new publish may reuse its shards: same spec,
    * same data-column schema, and a fingerprint-bearing manifest.
    * Anything off — a foreign/uninitialized store, a pre-fingerprint
    * manifest, a spec or schema change — degrades to a full rewrite,
    * never to a wrong reuse.
    */
  private def priorReusable(spark: SparkSession, dir: String, spec: Spec,
                            gen: Int, corpus: DataFrame)
      : Option[(String, Map[(String, Int), (Long, Long, String, Long)])] = {
    if (gen < 0) return None
    try {
      if (readSpec(spark, dir) != spec) return None
      val man = spark.read.parquet(livePath(spark, dir, "manifest"))
      if (!man.columns.contains("fp_add") ||
          !man.columns.contains("fp_xor")) return None
      val corpusPath = livePath(spark, dir, "corpus")
      def norm(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
      val priorCols = norm(spark.read.parquet(corpusPath)
        .drop(spec.splitCol, "shard").schema)
      if (priorCols != norm(corpus.schema)) return None
      val fps = man.select(col("split"), col("shard"), col("n_docs"),
          col("n_tokens"), col("fp_add"), col("fp_xor"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3), r.getString(4), r.getLong(5))))
        .toMap
      Some((corpusPath, fps))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Hard-link a clean shard's data files from the prior generation's
    * directory into the new one (new name, same inode — the prior
    * generation's grace sweep unlinks only ITS names, so reused content
    * survives it). Filesystems without link(2) fall back to a copy:
    * correctness unchanged, the write savings become encode savings.
    */
  private def linkShards(spark: SparkSession, fromDir: String,
                         toDir: String, splitCol: String,
                         shards: Seq[(String, Int)]): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(toDir).getFileSystem(conf)
    if (!fs.exists(new Path(toDir))) fs.mkdirs(new Path(toDir))
    // partition VALUES are path-escaped exactly as Spark's writer escapes
    // them (space -> %20 etc.) — raw values would miss the source dir of
    // any split name needing escaping and crash the reuse path
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName _
    shards.foreach { case (s, n) =>
      val src = new Path(s"$fromDir/${esc(splitCol)}=${esc(s)}/shard=$n")
      val dst = new Path(s"$toDir/${esc(splitCol)}=${esc(s)}/shard=$n")
      fs.mkdirs(dst)
      fs.listStatus(src).iterator
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .foreach { st =>
          val target = new Path(dst, st.getPath.getName)
          def copy(): Unit = {
            FileUtil.copy(fs, st.getPath, fs, target, false, conf); ()
          }
          if (fs.getScheme == "file") {
            try java.nio.file.Files.createLink(
              java.nio.file.Paths.get(target.toUri.getPath),
              java.nio.file.Paths.get(st.getPath.toUri.getPath))
            catch {
              case _: UnsupportedOperationException => copy()
              case _: java.nio.file.FileSystemException => copy()
            }
          } else copy()
        }
    }
  }

  /** The released spec (validates the store's meta pointer). */
  def readSpec(spark: SparkSession, dir: String): Spec = {
    val kv = StoredIndex.kvOfKind(spark, dir, "release")
    Spec(kv("seed").toLong, StoredIndex.decodeFractions(kv("fractions")),
      StoredIndex.splitList(kv("strata_cols")),
      StoredIndex.splitList(kv("key_cols")),
      kv("tokens_col"), kv("shard_tokens").toLong,
      kv.getOrElse("split_col", "split"))
  }

  private def livePath(spark: SparkSession, dir: String,
                       name: String): String =
    StoredIndex.liveTaggedPath(spark, dir, name, "release",
      legacyUntagged = false)

  /** Per-(split, shard) manifest of the live release. */
  def readManifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(livePath(spark, dir, "manifest"))

  /** Per-split datacard of the live release. */
  def readDatacard(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(livePath(spark, dir, "datacard"))

  /** The released corpus itself (shard-partitioned; `split`/`shard`
    * filters prune to directories — a trainer reads one shard without
    * touching the rest).
    */
  def readCorpus(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(livePath(spark, dir, "corpus"))

  /** The live release's shipped tokenizer, re-read THROUGH the meta
    * pointer from the interchange files ([[Bpe.readArtifacts]]). Refuses
    * a release published without one — a trainer must not silently fall
    * back to some other table.
    */
  def readTokenizer(spark: SparkSession, dir: String): Seq[Bpe.Merge] = {
    val kv = StoredIndex.kvOfKind(spark, dir, "release")
    require(kv.get("tokenizer").contains("1"),
      s"release at $dir was published without a tokenizer artifact")
    Bpe.readArtifacts(spark, livePath(spark, dir, "tokenizer"))
  }
}
