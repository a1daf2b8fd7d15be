package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{GroupTests, RankCorr}

/** STREAMING K-sample test battery — live Kruskal–Wallis / one-way
  * ANOVA / Mood's-median readouts over an append stream, without ever
  * re-scanning the corpus: the per-(family, sample, value) COUNT
  * table is the ADDITIVE sufficient statistic for ALL THREE tests at
  * once (ranks, moments, and the pooled median are each functions of
  * it — [[RankCorr.kruskalWallisFromCells]],
  * [[GroupTests.anovaFromCells]], [[GroupTests.moodFromCells]]
  * compute entirely from the cells), so a microbatch folds in as one
  * count aggregate + one merge at cell-cardinality.
  *
  * Counts are additive, not idempotent — a replayed batch would
  * double-count — so the fold carries the [[VersionedFold]] replay
  * guard: a batch at or below the committed id is skipped whole.
  * Readouts select the current snapshot and run the shared batch
  * machinery, so stream == batch by construction.
  */
object StreamGroupTests {

  def start(stream: DataFrame, famCol: String, sampleCol: String,
            valueCol: String, dir: String,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, famCol, sampleCol, valueCol, dir, batchId)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, famCol: String, sampleCol: String,
                 valueCol: String, dir: String, batchId: Long): Unit =
    VersionedFold(batch.sparkSession, dir, Some(batchId)) { prev =>
      val delta = batch.select(col(famCol).as("g"),
          col(sampleCol).as("smp"), col(valueCol).cast("long").as("v"))
        .groupBy(col("g"), col("smp"), col("v")).agg(count(lit(1)).as("cnt"))
      VersionedFold.Staged("cells" -> prev.fold(delta)(p =>
        p.table("cells").unionByName(delta)
          .groupBy(col("g"), col("smp"), col("v"))
          .agg(sum(col("cnt")).as("cnt"))))
    }

  private def cells(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "cells")

  /** Current Kruskal–Wallis H per family — == the batch
    * [[RankCorr.kruskalWallis]] over everything streamed so far.
    */
  def kruskalWallis(spark: SparkSession, dir: String, famCol: String,
                    maxFamilyN: Long = 1300000L): DataFrame =
    RankCorr.kruskalWallisFromCells(cells(spark, dir), famCol, maxFamilyN)

  /** Current one-way ANOVA per family — == the batch
    * [[GroupTests.anovaOneWay]] over everything streamed so far.
    */
  def anova(spark: SparkSession, dir: String, famCol: String): DataFrame =
    GroupTests.anovaFromCells(cells(spark, dir), famCol)

  /** Current Mood's median test per family — == the batch
    * [[GroupTests.moodMedianTest]] over everything streamed so far.
    */
  def moodMedian(spark: SparkSession, dir: String,
                 famCol: String): DataFrame =
    GroupTests.moodFromCells(cells(spark, dir), famCol)

  /** Current Jonckheere–Terpstra ordered trend per family — == the
    * batch [[RankCorr.jonckheereTerpstra]] (requires the streamed
    * `sampleCol` to be the integral sample ORDER). The fourth test
    * off the same cell table.
    */
  def jonckheere(spark: SparkSession, dir: String,
                 famCol: String): DataFrame =
    RankCorr.jtFromCells(
      cells(spark, dir).select(col("g").as("fam"),
        col("smp").cast("long").as("smp"), col("v"), col("cnt")),
      famCol)
}
