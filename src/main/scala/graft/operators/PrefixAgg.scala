package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed PREFIX AGGREGATE over a total order — the two-pass
  * replacement for `agg(v) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING ...)`,
  * whose single-window execution funnels the ENTIRE relation through one
  * task. A thin wrapper over [[TwoPass.prefix]] (no strata, exclusive
  * frame, max/greatest as aggregate/merge) — the same skeleton behind
  * [[Packing.streamPositions]] and [[Sampling]]'s per-stratum cumsum.
  *
  * Used by s05's watermark-lateness model: "max event-time seen strictly
  * before me in arrival order" is a data-sized prefix max that must never
  * serialize. CACHE LIFETIME: [[TwoPass]] pins through [[Pins]]; release
  * with `Pins.scoped` around the final action.
  */
object PrefixAgg {

  /** Adds `outCol` = max of `value` over all rows STRICTLY EARLIER in
    * `order` (the `rowsBetween(unboundedPreceding, -1)` frame); null for
    * the globally first row, and wherever every earlier value is null.
    * `order` must be total (tie-break like any two-pass assignment).
    */
  def maxExclusive(df: DataFrame, order: Seq[Column], value: Column,
                   outCol: String): DataFrame =
    // greatest() skips nulls (null only when BOTH sides are) — max's
    // identity element, so the partition seam needs no special case
    TwoPass.prefix(df, Nil, order, value, max,
      (off, local) => greatest(off, local), inclusive = false, outCol)
}
