package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.DailySeries

/** STREAMING daily-series maintenance — live autocorrelation and
  * rolling-median readouts over an append stream of timestamped
  * amounts: per-day SUMS are the additive sufficient statistic for
  * both readouts (they only see the daily table), so a microbatch
  * folds in as one day aggregate + one date-cardinality merge —
  * O(|batch|) per fold, readouts at date-cardinality.
  *
  * Sums are additive, not idempotent — the fold carries the
  * [[VersionedFold]] replay guard.
  * Readouts call the SAME [[DailySeries]] operators the batch
  * q139/q140 contract queries use, so stream == batch by
  * construction (and by spec).
  */
object StreamDailySeries {

  def start(stream: DataFrame, tsCol: String, amountCol: String,
            dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, tsCol, amountCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use.
    * `amountCol` integral (the cents convention).
    */
  def applyBatch(batch: DataFrame, tsCol: String, amountCol: String,
                 dir: String, batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = batch.select(to_date(col(tsCol)).as("day"),
          col(amountCol).cast("long").as("rev"))
        .groupBy(col("day")).agg(sum(col("rev")).as("rev"))
      VersionedFold.Staged("daily" -> prev.fold(delta)(p =>
        p.table("daily").unionByName(delta)
          .groupBy(col("day")).agg(sum(col("rev")).as("rev"))))
    }

  private def daily(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "daily")

  /** Live ACF — == the batch [[DailySeries.acf]] over everything
    * streamed so far.
    */
  def acf(spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame =
    DailySeries.acf(daily(spark, dir), maxLag)

  /** Live rolling median — == the batch [[DailySeries.rollingMedian]]. */
  def rollingMedian(spark: SparkSession, dir: String,
                    halfWindow: Int = 3): DataFrame =
    DailySeries.rollingMedian(daily(spark, dir), halfWindow)

  /** Live Holt forecast — == the batch [[DailySeries.holt]] (the
    * daily table is the recursion's entire input, so the stream's
    * fits AND forecasts track every microbatch).
    */
  def holt(spark: SparkSession, dir: String, alpha: Double = 0.2,
           beta: Double = 0.1, horizon: Int = 7): DataFrame =
    DailySeries.holt(daily(spark, dir), alpha, beta, horizon)

  /** Live weekday seasonal profile — == the batch
    * [[DailySeries.weekdayProfile]].
    */
  def weekdayProfile(spark: SparkSession, dir: String): DataFrame =
    DailySeries.weekdayProfile(daily(spark, dir))
}
