package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING RFM maintenance — a continuously-updated customer
  * recency/frequency/monetary table, the streaming twin of the batch
  * q115 segmentation.
  *
  * The three metrics are a commutative MERGEABLE-PARTIALS monoid
  * (max date / sum count / sum cents), so state is one row per
  * customer — folded per microbatch, never recomputing over order
  * history — and [[rfm]] applies the exact q115 quintile arithmetic
  * (`Advanced3.rfmScores`) over the state on demand: scoring is
  * rank-relative, so it cannot be maintained incrementally, but it
  * only ever runs over the customers-sized state, not the order
  * stream.
  *
  * Counts and sums are NOT replay-idempotent, so streamed batches
  * carry their foreachBatch batchId and redeliveries are skipped by
  * the [[VersionedFold]] guard.
  */
object StreamRfm {

  def start(stream: DataFrame, dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, dir, Some(batchId))
        ()
      }
      .start()

  /** One microbatch of raw order rows (o_custkey, o_orderdate,
    * o_totalprice); factored out for replay tests and batch callers.
    */
  def applyBatch(batch: DataFrame, dir: String,
                 batchId: Option[Long] = None): Unit =
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val delta = graft.queries.Advanced3.rfmBase(batch)
      val input = prev.fold(delta)(_.table("rfm").unionByName(delta))
      VersionedFold.Staged("rfm" -> input.groupBy(col("cust"))
        .agg(max(col("rec")).as("rec"),
          sum(col("freq")).cast("bigint").as("freq"),
          sum(col("mon")).cast("bigint").as("mon")))
    }

  /** The maintained per-customer metric state. */
  def state(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "rfm")

  /** Quintile scores over the maintained state — exactly the batch
    * q115 arithmetic, run at state (customers) cardinality.
    */
  def rfm(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Advanced3.rfmScores(state(spark, dir))
}
