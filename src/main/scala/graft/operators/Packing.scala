package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining pipelines: place every document at
  * its global offset in the CONCATENATED token stream (the order given by a
  * total sort key), then map offsets to fixed-length training sequences —
  * the "concatenate and chunk" step every autoregressive-pretraining data
  * pipeline runs between curation and the trainer.
  *
  * Scale shape: the stream offsets are [[TwoPass.prefix]]'s global
  * exclusive running sum — a naive global-window cumulative sum would
  * serialize 100 TB through ONE partition. Two data shuffles total (the
  * range sort, the pid-keyed window), both fully parallel. Determinism
  * requires the sort key to be TOTAL (tie-break like any two-pass id
  * assignment); weights must be non-negative.
  *
  * CACHE LIFETIME: [[TwoPass]] pins its range-sorted relation through
  * [[Pins]]; release it with `Pins.scoped` around the final action.
  */
object Packing {

  /** Adds `startCol`: the row's global starting offset in the concatenated
    * weight stream (0-based; the running sum of `weightCol` over all
    * earlier rows in `order`).
    */
  def streamPositions(df: DataFrame, order: Seq[Column], weightCol: String,
                      startCol: String = "stream_start"): DataFrame =
    TwoPass.prefix(df, Nil, order, col(weightCol), sum,
      (o, l) => coalesce(o, lit(0L)) + coalesce(l, lit(0L)),
      inclusive = false, startCol)

  /** Concatenate-and-chunk: [[streamPositions]] plus the fixed-length
    * training-sequence mapping — for sequence length `seqLen`, each row
    * gets the first and last sequence index it occupies and how many
    * sequences it spans (0 for weight-0 rows: they occupy no tokens;
    * `seq_first`/`seq_last` still record where they WOULD fall, so
    * downstream slicing stays total). Integer arithmetic throughout —
    * stream offsets at 100 TB exceed a double's exact range.
    */
  def chunk(df: DataFrame, order: Seq[Column], weightCol: String,
            seqLen: Long): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val w = col(weightCol)
    streamPositions(df, order, weightCol)
      .withColumn("seq_first", expr(s"stream_start div ${seqLen}L"))
      .withColumn("seq_last", expr(
        s"(stream_start + greatest(`$weightCol`, 1L) - 1L) div ${seqLen}L"))
      .withColumn("n_seqs",
        when(w === 0, lit(0L)).otherwise(col("seq_last") - col("seq_first") + 1L))
  }

  /** MATERIALIZED packed sequences — the rows a trainer's loader actually
    * consumes: one row per (sequence, document-slice), i.e. [[chunk]]
    * exploded over each document's occupied sequence range with the
    * boundary arithmetic resolved. Output adds to every input column:
    *   - `stream_start`  global token offset of the document;
    *   - `seq_id`        the training-sequence index (stream offset
    *                     `seq_id*seqLen ..< (seq_id+1)*seqLen`);
    *   - `offset_in_seq` where this document's slice begins inside the
    *                     sequence (0 unless the document starts mid-seq);
    *   - `offset_in_doc` where the slice begins inside the document (0
    *                     unless the document straddled in from the previous
    *                     sequence);
    *   - `len_in_seq`    slice length in tokens (> 0).
    * Weight-0 documents occupy no tokens and emit no rows. Per sequence,
    * slices ordered by `offset_in_seq` are contiguous and sum to `seqLen`
    * (except the final, possibly short, sequence) — PackingSpec pins the
    * law. The explode is row-local (output linear in total tokens /
    * seqLen), so the scale shape is [[streamPositions]]'s two shuffles plus
    * a generator — no new exchange.
    */
  def sequences(df: DataFrame, order: Seq[Column], weightCol: String,
                seqLen: Long): DataFrame = {
    val w = col(weightCol)
    val seqStart = col("seq_id") * seqLen
    val sliceStart = greatest(col("stream_start"), seqStart)
    val sliceEnd = least(col("stream_start") + w, seqStart + seqLen)
    chunk(df, order, weightCol, seqLen).where(w > 0)
      .withColumn("seq_id", explode(sequence(col("seq_first"), col("seq_last"))))
      .withColumn("offset_in_seq", sliceStart - seqStart)
      .withColumn("offset_in_doc", sliceStart - col("stream_start"))
      .withColumn("len_in_seq", sliceEnd - sliceStart)
      .drop("seq_first", "seq_last", "n_seqs")
  }
}
