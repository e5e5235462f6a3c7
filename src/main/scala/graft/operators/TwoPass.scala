package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** THE distributed prefix-aggregate skeleton — the one implementation
  * of the two-pass trick, parameterized by stratum columns, aggregate,
  * merge and frame. Its callers:
  *   - [[Sampling.stratumRunningSum]], the size-gated per-stratum
  *     running sum under the quota, budget and split operators, and
  *     through them [[QuotaView]] and [[Release]];
  *   - [[Packing.streamPositions]] (global exclusive running sums, under
  *     [[Packing.chunk]] and [[Packing.sequences]]);
  *   - [[PrefixAgg.maxExclusive]] (global exclusive prefix max).
  * [[SurrogateKey.scalable]] keeps its own core: its `__mid`-bit local
  * index needs no pid-keyed window (one shuffle fewer).
  *
  *   1. range-sort by (strata, order); `monotonically_increasing_id()`
  *      pins (partition id, local row number) as column arithmetic;
  *   2. per-(partition, strata) aggregates fold into per-strata
  *      EXCLUSIVE prefix offsets via a window over ≤ #partitions rows
  *      per stratum; null offsets (a stratum's first partition) drop,
  *      and because the strata lead the range-sort key only the stratum
  *      at a partition's HEAD can continue from an earlier partition —
  *      ≤ N−1 surviving rows, broadcastable by construction at ANY
  *      strata count (with no strata: one row per partition, same
  *      bound);
  *   3. the within-partition prefix rides a window PARTITIONED BY
  *      (partition id, strata) — parallel across partitions, a
  *      mega-stratum's sort split across all the range partitions it
  *      spans;
  *   4. `combine(offset, local)` merges the seam — `coalesce(o,0)+l`
  *      for sums, `greatest(o,l)` for maxes (null-skipping = the
  *      aggregate's identity handling).
  *
  * `agg` must be associative and order-insensitive over the order
  * prefix decomposition (sum, max, min); weights/values must satisfy
  * the caller's documented contract (e.g. non-null, non-negative for
  * budget sums). Determinism requires (strata, order) to be total.
  *
  * CACHE LIFETIME: the range-sorted relation is pinned through [[Pins]];
  * release it with `Pins.scoped` around the frame's final action.
  */
private[operators] object TwoPass {

  def prefix(df: DataFrame, strataCols: Seq[String], orderCols: Seq[Column],
             value: Column, agg: Column => Column,
             combine: (Column, Column) => Column, inclusive: Boolean,
             outCol: String): DataFrame = {
    val sorted = Pins.pin(df
      .orderBy(strataCols.map(col) ++ orderCols: _*)
      .withColumn("__v", value)
      .withColumn("__mid", monotonically_increasing_id()))
    val pid = shiftright(col("__mid"), 33)
    val parts = sorted
      .groupBy(pid.as("__pid") +: strataCols.map(c => col(c).as(s"__s_$c")): _*)
      .agg(agg(col("__v")).as("__pagg"))
    val wOff = Window.partitionBy(strataCols.map(c => col(s"__s_$c")): _*)
      .orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts
      .select(col("__pid") +: strataCols.map(c => col(s"__s_$c")) :+
        agg(col("__pagg")).over(wOff).as("__off"): _*)
      .filter(col("__off").isNotNull)
    val joinCond = strataCols.map(c => col(c) <=> col(s"__s_$c"))
      .foldLeft(pid === col("__pid"))(_ && _)
    val wLocal = Window.partitionBy(pid +: strataCols.map(col): _*)
      .orderBy(col("__mid"))
      .rowsBetween(Window.unboundedPreceding, if (inclusive) 0L else -1L)
    sorted.join(broadcast(offsets), joinCond, "left")
      .withColumn(outCol, combine(col("__off"), agg(col("__v")).over(wLocal)))
      .drop(Seq("__v", "__mid", "__pid", "__off", Pins.TagCol) ++
        strataCols.map(c => s"__s_$c"): _*)
  }
}
