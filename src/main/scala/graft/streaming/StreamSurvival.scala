package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Survival

/** STREAMING survival maintenance — live Kaplan–Meier curves and
  * log-rank tests over an observation stream, without ever
  * re-scanning the corpus: the per-(group, time) (events, totals)
  * COUNT table is the ADDITIVE sufficient statistic for the whole
  * estimator ([[Survival]] computes entirely from it — risk sets are
  * cumulative counts, steps are event rows), so a microbatch folds
  * in as one count aggregate + one merge at group×time cardinality.
  *
  * Counts are additive, not idempotent — a replayed batch would
  * double-count — so the fold carries the [[VersionedFold]] replay
  * guard: a batch at or below the committed id is skipped whole.
  * Readouts select the current snapshot and run the shared batch
  * machinery, so stream == batch by construction AND by spec.
  *
  * Observation rows: (group, time, event) with event 1 = occurred,
  * 0 = right-censored at time.
  */
object StreamSurvival {

  def start(stream: DataFrame, groupCol: String, timeCol: String,
            eventCol: String, dir: String,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, groupCol, timeCol, eventCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, groupCol: String, timeCol: String,
                 eventCol: String, dir: String, batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = batch.select(col(groupCol).cast("string").as("g"),
          col(timeCol).cast("long").as("t"),
          col(eventCol).cast("int").as("e"))
        .groupBy(col("g"), col("t"))
        .agg(sum(when(col("e") === 1, 1L).otherwise(0L)).as("d"),
          count(lit(1)).as("cnt"))
      VersionedFold.Staged("counts" -> prev.fold(delta)(p =>
        p.table("counts").unionByName(delta)
          .groupBy(col("g"), col("t"))
          .agg(sum(col("d")).as("d"), sum(col("cnt")).as("cnt"))))
    }

  private def counts(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "counts")

  /** Current Kaplan–Meier curve — == the batch
    * [[Survival.kaplanMeier]] over everything streamed so far.
    */
  def kaplanMeier(spark: SparkSession, dir: String,
                  groupCol: String = "g"): DataFrame =
    Survival.kaplanMeierFromCounts(counts(spark, dir), groupCol)

  /** Current two-sample log-rank test — == the batch
    * [[Survival.logRank]] over everything streamed so far.
    */
  def logRank(spark: SparkSession, dir: String, groupA: String): DataFrame =
    Survival.logRankFromCounts(counts(spark, dir), groupA)
}
