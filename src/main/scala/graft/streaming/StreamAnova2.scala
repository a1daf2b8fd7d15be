package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.GroupTests

/** STREAMING two-way ANOVA (r17) — the live twin of
  * [[GroupTests.anovaTwoWay]], on the [[StreamGroupTests]]
  * architecture: the per-(family, A, B, value) COUNT table is the
  * ADDITIVE sufficient statistic of the whole SS decomposition
  * (cell/marginal/total moments are all functions of it —
  * [[GroupTests.anova2FromCells]] computes entirely from the
  * cells), so a microbatch folds in as one count aggregate + one
  * cell-cardinality merge, and the readout equals the batch operator
  * over everything streamed so far BY CONSTRUCTION (shared code, not
  * a twin implementation).
  *
  * Counts are additive, not idempotent — the [[VersionedFold]]
  * replay guard skips a replayed batch whole.
  */
object StreamAnova2 {

  def start(stream: DataFrame, famCol: String, aCol: String,
            bCol: String, valueCol: String, dir: String,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, famCol, aCol, bCol, valueCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, famCol: String, aCol: String,
                 bCol: String, valueCol: String, dir: String,
                 batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = batch.select(col(famCol).as("g"), col(aCol).as("fa"),
          col(bCol).as("fb"), col(valueCol).cast("long").as("v"))
        .groupBy(col("g"), col("fa"), col("fb"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      VersionedFold.Staged("cells" -> prev.fold(delta)(p =>
        p.table("cells").unionByName(delta)
          .groupBy(col("g"), col("fa"), col("fb"), col("v"))
          .agg(sum(col("cnt")).as("cnt"))))
    }

  /** Current two-way ANOVA per family — == the batch
    * [[GroupTests.anovaTwoWay]] over everything streamed so far.
    */
  def anova2(spark: SparkSession, dir: String,
             famCol: String): DataFrame =
    GroupTests.anova2FromCells(VersionedFold.read(spark, dir, "cells"), famCol)
}
