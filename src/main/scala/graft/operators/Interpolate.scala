package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grouped linear interpolation with pandas `Series.interpolate()` semantics
  * (reference: dw-etl `himalayan_etl/ops/transform.py:279-286`, which runs it
  * per COUNTRYCODE group after a pivot).
  *
  * Exact semantics reproduced:
  *   - interior null runs: linear fill between nearest non-null neighbours by
  *     ROW POSITION (not by the ordering column's value);
  *   - trailing nulls: carry the last valid value forward (ffill);
  *   - leading nulls: left as null (pandas' default `limit_direction="forward"`).
  *
  * Implementation is pure window arithmetic — two frames per value column
  * (`last ignoreNulls` over the preceding frame, `first ignoreNulls` over the
  * following frame), no UDF, fully codegen-friendly. Cost at scale: one
  * shuffle on the partition keys; each group is processed by a single task,
  * so partition keys must be finer than "everything" (they are: one group per
  * country/entity). Window frames are unbounded but Spark evaluates
  * `last/first ignoreNulls` in a single running pass per group — O(n) per
  * group, no quadratic blow-up.
  */
object Interpolate {

  /** Linearly interpolate `valueCols` within each `partitionCols` group,
    * ordered by `orderCols`.
    */
  def linear(df: DataFrame, partitionCols: Seq[String], orderCols: Seq[String],
             valueCols: Seq[String]): DataFrame = {
    val part = partitionCols.map(col)
    val ord  = orderCols.map(col)
    val base   = Window.partitionBy(part: _*).orderBy(ord: _*)
    val before = base.rowsBetween(Window.unboundedPreceding, 0)
    val after  = base.rowsBetween(0, Window.unboundedFollowing)

    val withPos = df.withColumn("__pos", row_number().over(base))
    val filled = valueCols.map { c =>
      val v = col(c).cast("double")
      val prevVal = last(v, ignoreNulls = true).over(before)
      val prevPos = last(when(v.isNotNull, col("__pos")), ignoreNulls = true).over(before)
      val nextVal = first(v, ignoreNulls = true).over(after)
      val nextPos = first(when(v.isNotNull, col("__pos")), ignoreNulls = true).over(after)
      c -> when(v.isNotNull, v)
        .when(prevVal.isNotNull && nextVal.isNotNull,
          prevVal + (nextVal - prevVal) * (col("__pos") - prevPos) / (nextPos - prevPos))
        .when(prevVal.isNotNull, prevVal) // trailing nulls: ffill
        .otherwise(lit(null))             // leading nulls stay null
    }
    withPos.withColumns(ListMap(filled: _*)).drop("__pos")
  }

  /** Reference quirk (`ops/transform.py:280-282`): before interpolating, the
    * FIRST row of each group gets null → 0, anchoring leading-null runs.
    */
  def zeroAnchorFirstRow(df: DataFrame, partitionCols: Seq[String],
                         orderCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
    val anchored = valueCols.map { c =>
      c -> when(col("__rn0") === 1 && col(c).isNull, lit(0.0)).otherwise(col(c).cast("double"))
    }
    df.withColumn("__rn0", row_number().over(w))
      .withColumns(ListMap(anchored: _*))
      .drop("__rn0")
  }
}
