package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.GroupTests

/** STREAMING Cochran–Mantel–Haenszel maintenance — a live stratified
  * exposure/outcome association over an append stream: the per-
  * stratum 2×2 cell counts (a, b, c, d) are the ADDITIVE sufficient
  * statistic of the whole test, so a microbatch folds in as one
  * four-way conditional count + one stratum-cardinality merge.
  *
  * Counts are additive, not idempotent — the [[VersionedFold]]
  * replay guard skips a replayed batch. The readout runs
  * the shared [[GroupTests.cmhFromStrata]] batch machinery, so
  * stream == batch by construction.
  */
object StreamCmh {

  def start(stream: DataFrame, strataCol: String, exposureCol: String,
            outcomeCol: String, dir: String,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, strataCol, exposureCol, outcomeCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, strataCol: String, exposureCol: String,
                 outcomeCol: String, dir: String, batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = batch.select(col(strataCol).as("g"),
          col(exposureCol).cast("boolean").as("x"),
          col(outcomeCol).cast("boolean").as("y"))
        .groupBy(col("g"))
        .agg(sum(when(col("x") && col("y"), 1L).otherwise(0L)).as("a"),
          sum(when(col("x") && !col("y"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("x") && col("y"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("x") && !col("y"), 1L).otherwise(0L)).as("d"))
      VersionedFold.Staged("strata" -> prev.fold(delta)(p =>
        p.table("strata").unionByName(delta)
          .groupBy(col("g"))
          .agg(sum(col("a")).as("a"), sum(col("b")).as("b"),
            sum(col("c")).as("c"), sum(col("d")).as("d"))))
    }

  /** Current CMH test — == the batch [[GroupTests.cmh]] over
    * everything streamed so far.
    */
  def cmh(spark: SparkSession, dir: String): DataFrame =
    GroupTests.cmhFromStrata(VersionedFold.read(spark, dir, "strata"))
}
