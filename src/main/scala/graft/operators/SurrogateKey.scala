package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Surrogate-key assignment (reference: dw-etl `himalayan_etl/ops/
  * transform.py:129,301,376` — `Id = 1..n` in frame order).
  *
  * Contiguous 1..n ids require a total order, which in Spark means a
  * single-partition window — acceptable ONLY at dimension scale (the
  * reference uses it for dims and the member fact; all bounded). For fact
  * tables at 100 TB use [[scalable]] instead: zipWithIndex-style two-pass
  * (per-partition counts, then offset), which keeps data distributed and
  * still yields contiguous ids, at the cost of an extra pass.
  * `monotonically_increasing_id` is NOT acceptable where downstream FKs
  * reference the values (non-contiguous, partition-dependent).
  */
object SurrogateKey {

  /** Contiguous 1..n in the order given — single-partition window; use for
    * dimension-sized data only.
    */
  def dense(df: DataFrame, order: Seq[Column], idCol: String = "Id"): DataFrame =
    df.withColumn(idCol, row_number().over(Window.orderBy(order: _*)))

  /** Contiguous 1..n for big tables: sort once, then assign ids with a
    * distributed two-pass (per-partition row counts → cumulative offsets
    * broadcast back). No single-partition stage over the data; the sort is
    * the only full shuffle.
    *
    * Stays entirely in Tungsten/codegen (no RDD round-trip): after the range
    * sort, `monotonically_increasing_id()` is `(partitionId << 33) + local
    * 0-based counter` by contract, which gives both the partition id and the
    * within-partition row number as column arithmetic. Per-partition counts
    * (a combiner-friendly aggregate of one row per partition) become
    * cumulative offsets via a window over #partitions rows, broadcast back.
    * Range partitioning orders partitions, so offset + local + 1 is the
    * global 1..n rank. Like any two-pass id assignment (RDD `zipWithIndex`
    * included), determinism requires the sort order to be total — pass a
    * tie-breaking key.
    *
    * CACHE LIFETIME: the range-sorted relation is pinned through [[Pins]]
    * (required for correctness — see the comment below); release it with
    * `Pins.scoped` around the frame's final action.
    */
  def scalable(df: DataFrame, order: Seq[Column], idCol: String = "Id"): DataFrame = {
    val local = lit((1L << 33) - 1)
    // the pin holds the (partition-dependent, nondeterministic) __mid
    // values: the frame is consumed TWICE below — by the counts aggregate
    // and by the join — and correctness of the offsets requires both
    // evaluations to see identical range-partition boundaries. Without a
    // shared materialization the two subtrees prune differently, so their
    // sort exchanges need not be reused — two independent range samplings
    // could disagree on boundaries and silently duplicate/gap ids. The
    // in-memory relation keeps the plan in SQL operators (no RDD
    // round-trip).
    val withMid = Pins.pin(df.orderBy(order: _*)
      .withColumn("__mid", monotonically_increasing_id()))
    val counts = withMid
      .groupBy(shiftright(col("__mid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__n"))
    val offsets = counts.select(col("__pid"),
      (sum(col("__n")).over(Window.orderBy("__pid")) - col("__n")).as("__offset"))
    withMid
      .join(broadcast(offsets), shiftright(col("__mid"), 33) === col("__pid"))
      .withColumn(idCol, col("__offset") + col("__mid").bitwiseAND(local) + 1L)
      .drop("__mid", "__pid", "__offset", Pins.TagCol)
  }
}
