package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.RobustStats

/** STREAMING robust statistics — live per-group median/MAD/outlier
  * and quantile-band readouts over an append stream, without ever
  * re-scanning the corpus: the per-(group, value) COUNT table is the
  * ADDITIVE sufficient statistic for every order-statistic readout
  * ([[RobustStats]] computes entirely from it), so a microbatch
  * folds in as one count aggregate + one merge at value-cardinality.
  *
  * Counts are additive, not idempotent — a replayed batch would
  * double-count — so the fold carries the [[VersionedFold]] replay
  * guard: a batch at or below the committed id is skipped whole.
  * Readouts select the current snapshot and run the shared
  * value-cardinality machinery.
  */
object StreamRobustStats {

  def start(stream: DataFrame, groupCol: String, valueCol: String,
            dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, groupCol, valueCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, groupCol: String, valueCol: String,
                 dir: String, batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = batch.select(col(groupCol).as("g"),
          col(valueCol).cast("long").as("v"))
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as("cnt"))
      VersionedFold.Staged("counts" -> prev.fold(delta)(p =>
        p.table("counts").unionByName(delta)
          .groupBy(col("g"), col("v")).agg(sum(col("cnt")).as("cnt"))))
    }

  private def counts(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "counts")

  /** Current median/MAD/outlier summary — == the batch
    * [[RobustStats.madSummary]] over everything streamed so far.
    */
  def madSummary(spark: SparkSession, dir: String): DataFrame =
    RobustStats.madSummaryFromCounts(counts(spark, dir))

  /** Current nearest-rank quantile bands — == the batch
    * [[RobustStats.quantilesNearestRank]] over everything streamed.
    */
  def quantiles(spark: SparkSession, dir: String,
                percents: Seq[Int]): DataFrame =
    RobustStats.quantilesFromCounts(counts(spark, dir), percents)
}
