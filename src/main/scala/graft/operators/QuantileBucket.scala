package graft.operators

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group equal-frequency bucketing with pandas `qcut(q=3,
  * duplicates="drop")` semantics (reference: dw-etl
  * `himalayan_etl/ops/transform.py:322-353`, per-Year bucketing of the five
  * World Bank indicators).
  *
  * Exact semantics reproduced:
  *   - bin edges are the linear-interpolated quantiles {0, 1/3, 2/3, 1} of the
  *     group's non-null values (pandas/numpy `linear` method == Spark's exact
  *     `percentile`);
  *   - duplicate edges collapse (`duplicates="drop"`), so a group can yield 3,
  *     2 or 1 buckets;
  *   - labels depend on the RESULTING bucket count: [Low, Medium, High] /
  *     [Low, High] / [Low];
  *   - intervals are right-closed, lowest edge included; nulls map to null.
  *
  * NOT `ntile(3)`: ntile splits ties across buckets, qcut puts equal values in
  * one bucket.
  *
  * Scale: the multi-column form buckets n value columns with ONE grouped
  * aggregate (the four edges of every column; exact `percentile` requires a
  * sort per group — acceptable because groups are bounded, e.g. years; for
  * unbounded value sets swap in `approx_percentile`), ONE join back on the
  * group key (broadcast when the group count is small, which AQE decides from
  * runtime stats) and one `when`-chain labeling projection. The input lineage
  * is referenced twice, however many columns are bucketed; folding the
  * single-column form over n columns instead references it 2^n times (each
  * step joins its input with an aggregate of that same input), and every
  * later DataFrame call re-analyzes that tree. It is an aggregate plus a
  * join, not a `percentile` window over `groupCols`, because callers bucket
  * over one global group (t42): there a window would be an unbounded
  * single-partition window, while the aggregate's one row is broadcast.
  */
object QuantileBucket {

  def qcut3(df: DataFrame, groupCols: Seq[String], valueCol: String,
            labelCol: String): DataFrame =
    qcut3(df, groupCols, Seq(valueCol -> labelCol))

  /** Buckets each `(valueCol, labelCol)` pair independently within its
    * `groupCols` group; the same rows as folding the single-column form over
    * `cols`, with the label columns appended in `cols` order.
    */
  def qcut3(df: DataFrame, groupCols: Seq[String],
            cols: Seq[(String, String)]): DataFrame = {
    val values = cols.map { case (valueCol, _) => col(valueCol).cast("double") }
    val edgeCols = cols.indices.map(i => s"__edges$i")
    // duplicates="drop": np.unique over each column's 4 edges
    val edgeAggs = values.zip(edgeCols).map { case (v, e) =>
      array_sort(array_distinct(array(min(v), percentile(v, lit(1.0 / 3.0)),
        percentile(v, lit(2.0 / 3.0)), max(v)))).as(e)
    }
    val edges = df.groupBy(groupCols.map(col): _*).agg(edgeAggs.head, edgeAggs.tail: _*)

    val labels = cols.zip(values).zip(edgeCols).map { case (((_, labelCol), v), e) =>
      val nb = size(col(e)) - 1 // bucket count after edge dedup
      val e1 = element_at(col(e), 2)
      val e2 = element_at(col(e), 3)
      labelCol -> when(v.isNull, lit(null).cast("string"))
        .when(nb <= 1, lit("Low"))
        .when(nb === 2, when(v <= e1, "Low").otherwise("High"))
        .otherwise(when(v <= e1, "Low").when(v <= e2, "Medium").otherwise("High"))
    }
    df.join(edges, groupCols, "left")
      .withColumns(ListMap(labels: _*))
      .drop(edgeCols: _*)
  }
}
