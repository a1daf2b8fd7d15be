package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Cohorts

/** STREAMING cohort-retention maintenance — the live form of q142:
  * state is the pair of sufficient-statistic tables the readout
  * needs, (user, first-week) MINIMA and the DISTINCT (user, week)
  * activity set. Both fold per microbatch without rescanning the
  * corpus: the first-week table merges by min() — a LATE-ARRIVING
  * earlier event correctly re-cohorts its user, which no
  * append-only design could — and the activity set merges by
  * distinct-union. Merges are idempotent on CONTENT but the fold is
  * guarded by the [[VersionedFold]] batchId check anyway (one guard
  * across every additive stream in this library beats per-operator
  * reasoning about which merges happen to be idempotent). Readout
  * calls the SAME [[Cohorts.retention]] the batch query uses —
  * stream == batch by construction and by spec.
  */
object StreamCohorts {

  def start(stream: DataFrame, userCol: String, tsCol: String,
            dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, userCol, tsCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, userCol: String, tsCol: String,
                 dir: String, batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val weeks = batch.select(col(userCol).as("user_id"),
        to_date(date_trunc("week", col(tsCol))).as("am"))
      val dFirst = weeks.groupBy(col("user_id")).agg(min(col("am")).as("cohort"))
      val dActive = weeks.distinct()
      val (first, active) = prev match {
        case Some(p) =>
          (p.table("first").unionByName(dFirst)
             .groupBy(col("user_id")).agg(min(col("cohort")).as("cohort")),
           p.table("active").unionByName(dActive).distinct())
        case None => (dFirst, dActive)
      }
      VersionedFold.Staged("first" -> first, "active" -> active)
    }

  /** Current retention matrix — == the batch [[Cohorts.retention]]
    * over everything streamed so far.
    */
  def retention(spark: SparkSession, dir: String,
                maxOffset: Int = 12): DataFrame = {
    val s = VersionedFold.snapshot(spark, dir)
    Cohorts.retention(s.table("first"), s.table("active"), maxOffset)
  }
}
