package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for large-scale pipeline curation — per-source
  * quotas, fixed eval carve-outs, train/val/test splits, debug slices. A
  * training-data pipeline needs samples that are REPRODUCIBLE across runs,
  * partitionings, and engines; `rand()` gives none of that (per-task seeds
  * reshuffle with the partitioning, and a retry can resample). Hash-order
  * sampling does: rank rows inside each stratum by a hash of their key and
  * keep the first k — a uniform pseudo-random draw that is a pure function
  * of the data.
  *
  * Cost: the k-quota forms ([[stratified]], [[temperatureResample]])
  * are one window shuffle partitioned by stratum; the cap/budget/split
  * forms ([[cappedPerStratum]], [[weightCappedPerStratum]],
  * [[budgetCappedPerStratum]], [[deterministicSplit]]) ride
  * [[stratumRunningSum]]'s SIZE-GATED per-stratum running sum:
  * small inputs take the one-window form, large inputs the two-pass
  * distributed running sum, which costs one extra data shuffle and in
  * exchange never sorts a stratum in one task — the form that survives a
  * skewed 100 TB mixture (the two forms admit IDENTICAL rows; SamplingSpec
  * pins the law). For per-ROW Bernoulli-style sampling (keep p% of rows,
  * no k quota), prefer a hash predicate (`xxhash64(key) % 100 < p` — see
  * q42's hash split), which is shuffle-free; this operator is for exact-k
  * strata.
  *
  * CACHE LIFETIME: the two-pass path (and [[epochShuffle]]) pins its
  * range-sorted relation through [[Pins]]; the one-window path pins
  * nothing. Release with `Pins.scoped` around the final action.
  */
object Sampling {

  /** Inputs whose summed LEAF-scan size estimate is below this many bytes
    * take the single-window running-sum form (one shuffle, one task per
    * stratum — fine when the whole input fits a task); at or above it,
    * the two-pass form (never serializes a stratum). Set to 0 to force
    * the two-pass everywhere (ScaleSmoke and the plan pins do). Leaf
    * stats, not plan stats: Spark's non-CBO join estimates multiply
    * children, so a post-join quota input would always look huge; the sum
    * of leaf sizes is the honest data-magnitude signal (a 100 TB corpus
    * gates two-pass from its scan size alone), with the documented caveat
    * that a row-EXPLODING join above tiny leaves could under-gate — the
    * choice is pure performance (identical kept set, by spec law), and
    * `spark.graft.quota.twoPassMinBytes=0` forces the scale shape.
    * Unresolvable leaf estimates (streaming batches' LogicalRDD defaults
    * to Long.MaxValue) gate two-pass — the safe direction.
    */
  val TwoPassMinBytesKey = "spark.graft.quota.twoPassMinBytes"
  private val DefaultTwoPassMinBytes: Long = 128L << 20

  private def useWindowForm(df: DataFrame): Boolean = {
    val threshold = df.sparkSession.conf.getOption(TwoPassMinBytesKey)
      .map(_.toLong).getOrElse(DefaultTwoPassMinBytes)
    threshold > 0 && {
      val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).sum
      leafBytes < threshold
    }
  }

  /** Exactly min(k, |stratum|) rows per stratum, drawn by hash order.
    *
    * `hash` defaults to `xxhash64(keyCols)` — 8-byte, codegen'd, the
    * scale choice. Pass e.g. `md5(concat(...))` when the draw must be
    * replayable by another engine (cross-engine hex strings agree;
    * xxhash64 is Spark-specific). The key should uniquely identify a row
    * within its stratum or ties are broken by `keyCols` order —
    * determinism holds either way.
    *
    * Skew shape: the LITERAL k lets Spark's `InferWindowGroupLimit`
    * insert a Partial WindowGroupLimit BELOW the stratum exchange — each
    * map partition pre-prunes to its local top-k per stratum, so the
    * single stratum task sorts ≤ k·#partitions rows however skewed the
    * corpus (PlanAuditSpec pins the Partial node on q46). That is why
    * this form keeps the one-shuffle window unconditionally while the
    * column-quota / running-sum forms ([[temperatureResample]],
    * [[weightCappedPerStratum]]) gate onto the two-pass — no group-limit
    * pruning exists for them.
    */
  def stratified(df: DataFrame, strataCols: Seq[String], k: Int,
                 keyCols: Seq[String],
                 hash: Option[Column] = None): DataFrame = {
    require(k > 0, s"sample size k must be positive, got $k")
    val h = hash.getOrElse(xxhash64(keyCols.map(col): _*))
    val w = Window.partitionBy(strataCols.map(col): _*)
      .orderBy(h +: keyCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** TEMPERATURE resampling across strata (the multilingual-training
    * mixture rebalance: α = 0.5 quotas — big languages downsampled toward
    * their square root, small ones kept whole, so no stratum drowns the
    * mixture). Per stratum the quota is
    * `min(n, scale · floor(sqrt(n)))` and exactly that many rows are kept,
    * drawn by deterministic hash order (same contract as [[stratified]]:
    * a pure function of the data — reproducible across runs,
    * partitionings, and engines).
    *
    * `floor(sqrt(n))` (not `n^α` in the exponent form) keeps the quota
    * integer-exact on ANY engine: IEEE sqrt is correctly rounded and exact
    * on perfect squares, so an oracle recomputing the quota can never be
    * an ULP off where a `POWER(n, 0.5)`-sum formulation could. `scale`
    * tunes the output size (quota ≈ scale·√n caps a 10⁹-doc stratum at
    * ~31623·scale rows while a 10⁴-doc stratum keeps 100·scale — the
    * classic α=0.5 flattening).
    *
    * Cost: one tiny count aggregate (broadcast back — one row per
    * stratum; drop the hint past broadcastable strata counts) + the
    * size-gated per-stratum rank. The per-stratum QUOTA is a COLUMN, so
    * Spark's `InferWindowGroupLimit` cannot prune a rank window map-side
    * the way it does for [[stratified]]'s literal k (the round-15 plan
    * check: q46 plans a Partial+Final WindowGroupLimit, t10 planned
    * NONE) — a stratum-partitioned window over a LARGE input would sort a
    * mega-stratum in one task with no bound, so at scale the rank rides
    * the two-pass.
    */
  def temperatureResample(df: DataFrame, strataCols: Seq[String],
                          keyCols: Seq[String], scale: Int = 8,
                          hash: Option[Column] = None): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val quotas = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .select(strataCols.map(col) :+
        least(col("__cnt"),
          lit(scale.toLong) * floor(sqrt(col("__cnt")))).as("__quota"): _*)
    val h = hash.getOrElse(xxhash64(keyCols.map(col): _*))
    stratumRunningSum(df, strataCols, h +: keyCols.map(col), lit(1L), "__rn")
      .join(broadcast(quotas), strataCols)
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__quota")
  }

  /** SIZE-GATED distributed per-stratum running sum — `sum(w) OVER
    * (PARTITION BY stratum ORDER BY draw)` in whichever physical form the
    * input size warrants. The single-window form hash-partitions by
    * STRATUM, so one task sorts each stratum's entire row set; a real
    * mixture corpus is skewed exactly where the budget matters ("en" is
    * ~half of a 100 TB web crawl), so at scale the dominant stratum would
    * serialize — there the sum rides [[TwoPass.prefix]] (range-sort
    * pinning, ≤ N−1 broadcastable offsets, (pid, stratum)-partitioned
    * local windows — the same total order as the window form, so the
    * result is IDENTICAL; SamplingSpec pins the law on randomized skewed
    * corpora). Below [[TwoPassMinBytesKey]]'s leaf-size threshold the
    * one-window form wins: the two-pass pays a whole extra data shuffle +
    * a persist for a skew defense a small input doesn't need (the
    * round-15 driver artifacts priced that constant at ~1.5 s per quota
    * query at sf0.1 — a pure constant the gate reclaims without giving up
    * the 100× shape).
    *
    * Weights must be non-negative and non-null.
    *
    * PRECONDITION — `orderCols` must be a TOTAL order (in practice:
    * `keyCols` unique per stratum, which every registered caller
    * satisfies with a row id). Duplicate order tuples carrying different
    * weights are ordered arbitrarily WITHIN the tie, and the two
    * physical forms may break the tie differently — the "identical kept
    * set regardless of form" law (SamplingSpec) holds only up to ties,
    * so under the size gate a duplicate-key input could admit different
    * rows at different input sizes. The oracle-replayability contract
    * (`row_number()/sum() OVER (ORDER BY hash, keys)`) has the same
    * blind spot in SQL, which is why the precondition lives here rather
    * than a wider tiebreaker: appending hidden columns to the order
    * would silently diverge from every written oracle.
    *
    * [[QuotaView]] gates per micro-batch through the same core with an
    * explicit row count.
    */
  private[operators] def stratumRunningSum(
      df: DataFrame, strataCols: Seq[String], orderCols: Seq[Column],
      weight: Column, cumCol: String,
      smallInput: Option[Boolean] = None): DataFrame = {
    val small = smallInput.getOrElse(useWindowForm(df))
    if (small && strataCols.nonEmpty) {
      val w = Window.partitionBy(strataCols.map(col): _*)
        .orderBy(orderCols: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(cumCol, sum(weight).over(w))
    } else {
      // empty strata never take the window form: it would be a GLOBAL
      // (single-partition) window — the exact shape the two-pass exists
      // to remove, and the PlanAuditSpec inventory would rightly flag it
      TwoPass.prefix(df, strataCols, orderCols, weight, sum,
        (off, local) => coalesce(off, lit(0L)) + local,
        inclusive = true, outCol = cumCol)
    }
  }

  /** FIXED per-stratum cap — the per-domain quota every web-corpus
    * pipeline applies right after registered-domain extraction
    * ([[graft.functions.UrlFunctions.registeredDomain]]): keep at most
    * `cap` rows per stratum, chosen by a deterministic pseudo-random
    * order (hash of `keyCols`, ties broken by the keys), so the kept
    * subset is a pure function of the data — same rows on any engine,
    * any partitioning, any retry. [[temperatureResample]] is the
    * √-scaled form of the same machinery; this is the hard-ceiling form
    * (a single mega-domain contributes `cap` documents, full stop).
    *
    * The kept set equals `row_number() OVER (PARTITION BY stratum ORDER
    * BY hash, keys) <= cap` (the one-window oracle form), computed via
    * the size-gated [[stratumRunningSum]] so a mega-stratum at scale never
    * serializes through one task (SamplingSpec pins the equivalence law
    * on randomized skewed corpora).
    */
  def cappedPerStratum(df: DataFrame, strataCols: Seq[String],
                       keyCols: Seq[String], cap: Int,
                       hash: Option[Column] = None): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val h = hash.getOrElse(xxhash64(keyCols.map(col): _*))
    stratumRunningSum(df, strataCols, h +: keyCols.map(col), lit(1L), "__cum")
      .filter(col("__cum") <= cap).drop("__cum")
  }

  /** WEIGHT-BUDGETED per-stratum cap — the TOKEN-budget form of
    * [[cappedPerStratum]] (FineWeb-style: each domain contributes at
    * most `budget` TOKENS, not documents): rows draw in the same
    * deterministic hash order and a row is kept iff the stratum's
    * RUNNING weight through that row stays ≤ `budget`. With positive
    * weights the running sum is monotone, so the kept set is exactly
    * the greedy prefix of the draw — a pure function of the data, same
    * rows on any engine/partitioning/retry, and exactly replayable as
    * `SUM(w) OVER (PARTITION BY stratum ORDER BY hash, keys ROWS
    * UNBOUNDED PRECEDING) <= budget`.
    *
    * Weights must be non-negative (a negative weight would un-exceed an
    * exceeded budget and break the prefix property). Computed via the
    * size-gated [[stratumRunningSum]] so the dominant stratum of a skewed
    * mixture never serializes through one task at scale.
    */
  def weightCappedPerStratum(df: DataFrame, strataCols: Seq[String],
                             keyCols: Seq[String], weightCol: String,
                             budget: Long,
                             hash: Option[Column] = None): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val h = hash.getOrElse(xxhash64(keyCols.map(col): _*))
    stratumRunningSum(df, strataCols, h +: keyCols.map(col), col(weightCol),
      "__cum").filter(col("__cum") <= budget).drop("__cum")
  }

  /** PER-STRATUM budget RELATION form of [[weightCappedPerStratum]] —
    * the data-mixture operation proper: "at most B_en tokens of English,
    * B_zh of Chinese, …" with a DIFFERENT budget per stratum, supplied
    * as a relation (`strataCols` + a `budget` long column) instead of
    * one constant. Strata ABSENT from the relation are kept whole
    * (unlimited) — a mixture spec names the strata it constrains. Same
    * greedy-prefix/running-sum semantics on the size-gated
    * [[stratumRunningSum]] (no stratum ever serializes at scale); the
    * budget relation broadcasts (mixture specs are driver-small by
    * nature).
    */
  def budgetCappedPerStratum(df: DataFrame, strataCols: Seq[String],
                             keyCols: Seq[String], weightCol: String,
                             budgets: DataFrame,
                             hash: Option[Column] = None): DataFrame = {
    val h = hash.getOrElse(xxhash64(keyCols.map(col): _*))
    stratumRunningSum(df, strataCols, h +: keyCols.map(col), col(weightCol),
        "__cum")
      .join(broadcast(budgets), strataCols, "left")
      .filter(col("budget").isNull || col("__cum") <= col("budget"))
      .drop("__cum", "budget")
  }

  /** DETERMINISTIC TRAIN/VAL/TEST SPLIT — the one curation primitive
    * every training-data pipeline runs before a single gradient step:
    * assign each row to exactly one named split, by a seeded hash-order
    * draw, with EXACT per-stratum proportions. Adds `splitCol` to the
    * input; every row is assigned (exhaustive), no row gets two labels
    * (disjoint by construction), and the assignment is a pure function of
    * (seed, data) — the same rows land in `test` on any engine, any
    * partitioning, any retry, which is what makes a held-out set HELD
    * OUT across reruns (a `rand()` split silently re-deals the eval set
    * every run). NULL handling: a NULL stratum is a real stratum (rank,
    * counts and join are all null-safe — no row is ever dropped); a
    * NULL value inside `keyCols` is skipped from the hash input (Spark
    * `concat_ws` semantics) — an external replay engine must mirror
    * that, so prefer non-null keys where an oracle replays the draw.
    *
    * `fractions` are (name, fraction) pairs summing to 1 (±1e-9). Within
    * each stratum of n rows, rows are ranked 1..n by
    * `md5(seed || '|' || key)` (md5, not xxhash64 — the [[epochShuffle]]
    * engine-replayability contract: any engine recomputes the identical
    * hex draw) and split i takes ranks
    * `(floor(c_{i-1}·n), floor(c_i·n)]` where c_i is the cumulative
    * fraction — so sizes are EXACT floors, the last split absorbs the
    * remainder, and nested fractions give nested splits. The floor is
    * evaluated in binary64 on both engines (the oracle casts to DOUBLE)
    * so the boundary arithmetic is bit-identical. Stratify by language /
    * source to keep eval mixtures faithful; pass `strataCols = Nil` for a
    * global split (always two-pass: a global rank must never
    * single-task).
    *
    * Scale shape: one driver-small per-stratum count broadcast + the
    * size-gated per-stratum rank ([[stratumRunningSum]]). The
    * leakage companion: near-dup pairs STRADDLING the split (train text
    * memorizing an eval near-duplicate) — compose with
    * [[graft.ext.NearDup]]'s pair relations over the split assignment
    * (d20 pins the audit shape).
    *
    * NO streaming twin, deliberately: exact floor boundaries depend on
    * the per-stratum count n, which GROWS under ingest — the
    * floor(0.8·n) cut moves and would re-deal rows already assigned,
    * the exact property a held-out set must not have. For continuously
    * ingested corpora use the hash-threshold split (q42's shape:
    * `xxhash64(key) % 100 < p` — per-row, assignment never moves,
    * proportions approximate); exact-proportion splitting is a
    * batch-curation operation by nature.
    */
  def deterministicSplit(df: DataFrame, strataCols: Seq[String],
                         keyCols: Seq[String],
                         fractions: Seq[(String, Double)], seed: Long,
                         splitCol: String = "split"): DataFrame = {
    require(fractions.nonEmpty, "at least one split required")
    require(fractions.forall(_._2 > 0), s"fractions must be positive: $fractions")
    require(fractions.map(_._1).distinct.size == fractions.size,
      s"duplicate split names: ${fractions.map(_._1)}")
    require(math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must sum to 1, got ${fractions.map(_._2).sum}")
    val counts = df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .select(strataCols.map(c => col(c).as(s"__s_$c")) :+ col("__n"): _*)
    val h = seededDraw(seed, keyCols)
    val ranked = stratumRunningSum(df, strataCols,
      h +: keyCols.map(col), lit(1L), "__rn",
      // a global rank (no strata) must never take the single-window form
      smallInput = if (strataCols.isEmpty) Some(false) else None)
    // NULL-SAFE count join: a NULL stratum is a real stratum (the rank
    // window and the counts aggregate both group nulls together); a
    // plain equi-join would silently DROP every null-stratum row and
    // break the exhaustiveness guarantee
    val withN =
      if (strataCols.isEmpty) ranked.crossJoin(broadcast(counts))
      else ranked.join(broadcast(counts),
        strataCols.map(c => col(c) <=> col(s"__s_$c")).reduce(_ && _))
        .drop(strataCols.map(c => s"__s_$c"): _*)
    // boundaries at cumulative-fraction floors; the last split absorbs
    // the remainder (its boundary is n itself, never a float)
    val cum = fractions.map(_._2).scanLeft(0.0)(_ + _).tail
    val assign = fractions.init.zip(cum.init).foldRight(
        lit(fractions.last._1)) { case (((name, _), c), rest) =>
      when(col("__rn") <= floor(lit(c) * col("__n")), name).otherwise(rest)
    }
    withN.withColumn(splitCol, assign).drop("__rn", "__n")
  }

  /** GROUP-AWARE deterministic split — the leakage-PROOF form of
    * [[deterministicSplit]]: all rows sharing `groupCols` land in the
    * SAME split (groups are the atoms of assignment), so any relation
    * CONTAINED within groups — near-dup clusters, same-domain pages,
    * same-user sessions — can never straddle a split boundary. This is
    * the standard fix for the leakage d20 detects: split by the near-dup
    * CLUSTER (connected components over the pair relation) and a test
    * document's training near-duplicate is impossible by construction
    * (d21 pins zero straddling pairs end-to-end against the oracle).
    *
    * Groups rank by md5(seed || group) and boundaries are the same exact
    * cumulative-fraction floors, over the per-stratum GROUP count — so
    * proportions are GROUP-exact and row-approximate (a mega-group drags
    * its whole mass into one split; that is the point). `strataCols`
    * must be constant within a group (they key the group relation).
    *
    * Scale shape: one distinct over (strata, group) + the size-gated
    * group rank + one (shuffled) equi-join of the data against the
    * group assignment.
    */
  def groupSplit(df: DataFrame, strataCols: Seq[String],
                 groupCols: Seq[String],
                 fractions: Seq[(String, Double)], seed: Long,
                 splitCol: String = "split"): DataFrame = {
    require(groupCols.nonEmpty, "groupSplit needs at least one group column")
    val keys = strataCols ++ groupCols
    val groups = df.select(keys.map(col): _*).distinct()
    val assigned = deterministicSplit(groups, strataCols, groupCols,
      fractions, seed, splitCol)
    // NULL-SAFE join back: a NULL group key is a real group (distinct
    // keeps it and it gets a split); a plain equi-join would silently
    // DROP its rows from the output
    val renamed = assigned.select(
      keys.map(c => col(c).as(s"__g_$c")) :+ col(splitCol): _*)
    df.join(renamed, keys.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _))
      .drop(keys.map(c => s"__g_$c"): _*)
  }

  private def seededDraw(seed: Long, keyCols: Seq[String]): Column =
    md5(concat_ws("|",
      lit(seed.toString) +: keyCols.map(c => col(c).cast("string")): _*)
      .cast("binary"))

  /** Deterministic EPOCH SHUFFLE: assign every row a contiguous 1..n
    * position in a pseudo-random order that is a pure function of
    * (seed, key) — the global reshuffle a pretraining loader runs per
    * epoch. `rand()`-based shuffles are neither reproducible (per-task
    * seeds move with the partitioning; a task retry resamples) nor
    * auditable; hashing the seed with the row key gives the same
    * permutation on any engine, any partitioning, any retry — change the
    * seed, get an independent permutation.
    *
    * Scale shape: the order is md5(seed || key) and the position
    * assignment rides [[SurrogateKey.scalable]]'s distributed two-pass
    * (range sort + per-partition counts broadcast back) — NO data-sized
    * single-partition stage, unlike the naive `row_number() OVER (ORDER
    * BY hash)`. md5 (not xxhash64) so any engine can replay the draw
    * bit-for-bit (hex strings agree cross-engine); keys must uniquely
    * identify rows (ties broken by the key itself, so determinism holds
    * regardless).
    */
  def epochShuffle(df: DataFrame, keyCols: Seq[String], seed: Long,
                   posCol: String = "shuffle_pos"): DataFrame =
    SurrogateKey.scalable(df, seededDraw(seed, keyCols) +: keyCols.map(col),
      posCol)

  /** WEIGHTED sampling without replacement (Efraimidis & Spirakis 2006,
    * "Weighted random sampling with a reservoir"): every row draws a
    * deterministic uniform u from md5 of its key and scores
    * `ln(u) / w` — taking the global top-k by that score IS an exact
    * weighted sample without replacement (the paper's u^(1/w) key under
    * a monotone ln). The draw is a pure function of the data (same
    * engine-replayability contract as [[epochShuffle]]: md5, not
    * xxhash64), so another engine replays the identical sample; the
    * uniform is the first 13 md5 hex digits + 0.5 over 2^52 — integer-
    * exact in binary64 on any engine, never 0 (ln stays finite).
    *
    * Scale shape: the score is row-local scan-stage arithmetic and the
    * selection is a top-k (TakeOrderedAndProject — per-partition heaps,
    * never a global sort). Rows with non-positive weight are excluded
    * (the paper's domain; a zero weight would divide to -inf).
    */
  def weightedSample(df: DataFrame, keyCols: Seq[String], weight: Column,
                     k: Int, scoreCol: String = "es_score"): DataFrame = {
    require(k > 0, s"sample size k must be positive, got $k")
    df.filter(weight > 0)
      .withColumn(scoreCol, log(md5Uniform(keyCols)) / weight.cast("double"))
      .orderBy(col(scoreCol).desc +: keyCols.map(col): _*)
      .limit(k)
  }

  /** Deterministic per-row uniform in (0, 1): the first 13 md5 hex
    * digits of the `|`-joined keys + 0.5 over 2^52 — integer-exact in
    * binary64 on any engine, never 0 or 1. The shared draw under
    * [[weightedSample]] and [[importanceSample]].
    */
  private def md5Uniform(keyCols: Seq[String]): Column =
    (conv(substring(md5(concat_ws("|",
      keyCols.map(c => col(c).cast("string")): _*).cast("binary")), 1, 13),
      16, 10).cast("double") + lit(0.5)) / lit(4503599627370496.0)

  /** Deterministic IMPORTANCE RESAMPLING (the DSIR-/quality-weighted
    * thinning step a curation pipeline runs after scoring): keep each
    * row with probability `prob` (clamped to [0, 1]), decided by the
    * deterministic per-row uniform u = [[md5Uniform]] — keep iff
    * u < p. Unlike `df.sample()` / `rand() < p` (per-task seeds move
    * with the partitioning; a retry resamples), the kept set is a pure
    * function of the data: same rows on any engine, any partitioning,
    * any retry, and another engine replays it exactly (q62's uniform
    * formula). Expected kept fraction per row IS its probability;
    * monotone in p per row (raising a row's probability can only keep
    * it sooner — u is fixed), so samples at nested probabilities nest.
    * Shuffle-free: the draw and the comparison are scan-stage column
    * arithmetic — at 100 TB this is free inside the scan.
    *
    * `prob` should be cross-engine-deterministic if an external oracle
    * must replay the draw (e.g. round a computed score to fixed
    * decimals, the t02 discipline); the operator itself only needs it
    * evaluable per row.
    */
  def importanceSample(df: DataFrame, keyCols: Seq[String],
                       prob: Column): DataFrame =
    df.filter(md5Uniform(keyCols) <
      least(greatest(prob.cast("double"), lit(0.0)), lit(1.0)))
}
