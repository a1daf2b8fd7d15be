package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.GroupTests

/** STREAMING Cramér's V — a live categorical-association readout
  * over an append stream: the per-(family, row, column) contingency
  * CELL counts are the ADDITIVE sufficient statistic
  * ([[GroupTests.cramersVFromCells]] computes entirely from them,
  * structural zeros included by its dense-grid expansion), so a
  * microbatch folds in as one count aggregate + one merge at
  * cell-cardinality.
  *
  * Counts are additive, not idempotent — the fold carries the
  * [[VersionedFold]] replay guard. The readout selects the current
  * snapshot and runs the shared batch machinery, so stream == batch
  * by construction.
  */
object StreamCramersV {

  def start(stream: DataFrame, famCol: String, rowCol: String,
            colCol: String, dir: String,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, famCol, rowCol, colCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, famCol: String, rowCol: String,
                 colCol: String, dir: String, batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = batch.select(col(famCol).as("g"), col(rowCol).as("r"),
          col(colCol).as("c"))
        .groupBy(col("g"), col("r"), col("c"))
        .agg(count(lit(1)).cast("bigint").as("o"))
      VersionedFold.Staged("cells" -> prev.fold(delta)(p =>
        p.table("cells").unionByName(delta)
          .groupBy(col("g"), col("r"), col("c"))
          .agg(sum(col("o")).cast("bigint").as("o"))))
    }

  /** Current chi-square + Cramér's V per family — == the batch
    * [[GroupTests.cramersV]] over everything streamed so far.
    */
  def current(spark: SparkSession, dir: String,
              famCol: String): DataFrame =
    GroupTests.cramersVFromCells(VersionedFold.read(spark, dir, "cells"),
      famCol)
}
