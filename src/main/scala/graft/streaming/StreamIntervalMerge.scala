package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.IntervalMerge

/** STREAMING islands-and-gaps maintenance — a continuously-updated
  * coalesced-interval view (per key: maximal busy spans with member
  * counts), the streaming twin of the batch q90 interval merge.
  *
  * Fold identity: interval coalescing is a closure operator —
  * `coalesce(coalesce(S) ∪ B) = coalesce(S ∪ B)` — so each
  * microbatch merges into the committed SPAN state (one row per
  * maximal span, weight = member count), never recomputing over
  * history. Per batch the cost is |batch| + |spans|, and the span
  * state is bounded by the key set's distinct busy periods, tiny
  * relative to the interval history at 100 TB.
  *
  * Weights break replay idempotence (a re-delivered interval re-adds
  * its member count even though the span geometry is unchanged), so
  * streamed batches carry their foreachBatch batchId and a
  * redelivered microbatch is skipped by the [[VersionedFold]] guard;
  * readers always see one complete committed span table.
  */
object StreamIntervalMerge {

  def start(stream: DataFrame, keyCol: String, startCol: String,
            endCol: String, dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, keyCol, startCol, endCol, dir, Some(batchId))
        ()
      }
      .start()

  /** One microbatch of `(keyCol, startCol, endCol)` intervals, each
    * weighted 1; factored out for replay tests and batch callers
    * (who pass no batchId and always apply).
    */
  def applyBatch(batch: DataFrame, keyCol: String, startCol: String,
                 endCol: String, dir: String,
                 batchId: Option[Long] = None): Unit =
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val delta = batch.select(col(keyCol), col(startCol).as("span_start"),
        col(endCol).as("span_end"), lit(1L).as("weight"))
      val input = prev.fold(delta)(_.table("spans").unionByName(delta))
      VersionedFold.Staged("spans" -> IntervalMerge.coalesce(input, keyCol,
        "span_start", "span_end", "weight"))
    }

  /** The current committed span view (call only after a first
    * committed batch).
    */
  def spans(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "spans")
}
