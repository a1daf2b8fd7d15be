package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SpatialJoin

/** STREAMING grid-hotspot maintenance — the streaming twin of the
  * q132 density scan: per-cell point counts are a SUMMABLE monoid, so
  * state is one row per occupied cell (cell cardinality, never
  * points), folded per microbatch; the 3×3-neighborhood report runs
  * on demand over state only. Counts sum ⇒ redelivered batchIds are
  * skipped by the [[VersionedFold]] guard.
  */
object StreamHotspots {

  def start(stream: DataFrame, xCol: String, yCol: String, cellSize: Long,
            dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, xCol, yCol, cellSize, dir, Some(batchId))
        ()
      }
      .start()

  def applyBatch(batch: DataFrame, xCol: String, yCol: String,
                 cellSize: Long, dir: String,
                 batchId: Option[Long] = None): Unit =
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val delta = SpatialJoin.cellCounts(batch, xCol, yCol, cellSize)
      val input = prev.fold(delta)(_.table("cells").unionByName(delta))
      VersionedFold.Staged("cells" -> input.groupBy(col("cx"), col("cy"))
        .agg(sum(col("n")).cast("bigint").as("n")))
    }

  /** The maintained per-cell count state. */
  def state(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "cells")

  /** The batch-identical hotspot report over everything streamed:
    * == `SpatialJoin.gridHotspots` over all points so far.
    */
  def hotspots(spark: SparkSession, dir: String): DataFrame =
    SpatialJoin.hotspotsFromCellCounts(state(spark, dir))
}
