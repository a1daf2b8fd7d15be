package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Ols

/** STREAMING grouped two-covariate OLS — a live regression readout
  * over an append stream: the exact integer moment table
  * (n, Σx, Σx², Σxy, … per group — [[Ols.moments2]]) is the ADDITIVE
  * sufficient statistic of the whole fit, so a microbatch folds in
  * as one moment aggregate + one column-wise DECIMAL addition at
  * group cardinality, and the readout runs the SAME Cramer algebra
  * as the batch [[Ols.fitGrouped2]] — stream == batch EXACTLY (the
  * state is integers, not floats: no ulp drift across fold orders).
  *
  * Moments are additive, not idempotent — the fold carries the
  * [[VersionedFold]] replay guard.
  */
object StreamOls {

  def start(stream: DataFrame, groupCol: String, x1Col: String,
            x2Col: String, yCol: String, dir: String,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, groupCol, x1Col, x2Col, yCol, dir, batchId)
        ()
      }
      .start()

  private val momentCols =
    Seq("n", "sx1", "sx2", "sx1x1", "sx2x2", "sx1x2", "sy", "sx1y",
      "sx2y", "syy")

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, groupCol: String, x1Col: String,
                 x2Col: String, yCol: String, dir: String,
                 batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = Ols.moments2(batch.select(col(groupCol).as("g"),
        col(x1Col).cast("long").as("x1"), col(x2Col).cast("long").as("x2"),
        col(yCol).cast("long").as("y")))
      VersionedFold.Staged("moments" -> prev.fold(delta)(p =>
        p.table("moments").unionByName(delta)
          .groupBy(col("g"))
          .agg(sum(col(momentCols.head)).cast("decimal(38,0)")
              .as(momentCols.head),
            momentCols.tail.map(c =>
              sum(col(c)).cast("decimal(38,0)").as(c)): _*)))
    }

  /** Current per-group fit — == the batch [[Ols.fitGrouped2]] over
    * everything streamed so far (exact: integer state, shared
    * Cramer algebra, incl. its magnitude refusal).
    */
  def current(spark: SparkSession, dir: String,
              groupCol: String): DataFrame =
    Ols.fitFromMoments2(VersionedFold.read(spark, dir, "moments"), groupCol)
}
