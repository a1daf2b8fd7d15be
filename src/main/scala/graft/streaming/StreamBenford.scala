package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Benford

/** STREAMING Benford first-digit screen — a live fraud/data-quality
  * readout over an append stream without re-scanning the corpus: the
  * nine per-digit counts are the ADDITIVE sufficient statistic of
  * the whole test ([[Benford.testFromCounts]] computes entirely from
  * them), so a microbatch folds in as one count aggregate + one
  * nine-row merge.
  *
  * Counts are additive, not idempotent — the fold carries the
  * [[VersionedFold]] replay guard: a batch at or below the committed
  * id is skipped whole. The readout selects the current snapshot and
  * runs the shared batch machinery, so stream == batch by
  * construction.
  */
object StreamBenford {

  def start(stream: DataFrame, valueCol: String, dir: String,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, valueCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, valueCol: String, dir: String,
                 batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = batch.select(col(valueCol).cast("long").as("v"))
        .filter(col("v") > 0)
        .select(substring(col("v").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("o"))
      VersionedFold.Staged("digits" -> prev.fold(delta)(p =>
        p.table("digits").unionByName(delta)
          .groupBy(col("digit")).agg(sum(col("o")).as("o"))))
    }

  /** Current Benford screen — == the batch [[Benford.test]] over
    * everything streamed so far.
    */
  def current(spark: SparkSession, dir: String): DataFrame =
    Benford.testFromCounts(VersionedFold.read(spark, dir, "digits"))
}
