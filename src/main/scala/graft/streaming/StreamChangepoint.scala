package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING change-point monitoring — the continuously-updated CUSUM
  * of the batch `q89_changepoint`: as events stream in, "where did
  * the daily volume's mean shift" stays current without ever
  * retaining events.
  *
  * Per-day counts are a MERGEABLE aggregate (sums), so state is the
  * days×1 count table in a [[VersionedFold]]; each microbatch merges
  * its per-day partial counts in, then the CUSUM statistic
  * `D_k = K·S_k − k·S_K` (all exact integers — the q89 algebra) is
  * recomputed over the DAYS-SIZED state, not the stream. Counts SUM,
  * so the merge is not replay-idempotent by algebra: the
  * [[VersionedFold]] batchId guard skips a redelivered microbatch —
  * with that guard the detected day always equals the batch query
  * over everything seen, pinned by the spec.
  */
object StreamChangepoint {

  def start(stream: DataFrame, dir: String, checkpointDir: String)
  : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, dir, Some(batchId))
        ()
      }
      .start()

  /** One microbatch: merge per-day counts into state. Batch-mode
    * callers (no batchId) always apply; a streamed batchId ≤ the one
    * recorded in the current committed version is a replay → no-op.
    */
  def applyBatch(batch: DataFrame, dir: String,
                 batchId: Option[Long] = None): Unit =
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val delta = batch.groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast("long").as("c"))
      VersionedFold.Staged("daily" -> prev.fold(delta)(p =>
        p.table("daily").unionByName(delta)
          .groupBy(col("day")).agg(sum(col("c")).cast("long").as("c"))))
    }

  /** The current change-point over everything seen: (change_day, d_k,
    * n_days, total_events) — the q89 exact-integer CUSUM over the
    * days-sized state table.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = VersionedFold.read(spark, dir, "daily").localCheckpoint(true)
    val tot = daily.agg(count(lit(1)).cast("long"), sum(col("c")).cast("long"))
      .collect()(0)
    val k = tot.getLong(0)
    val sTot = tot.getLong(1)
    val cum = graft.operators.PrefixSum.runningTotal(
      graft.operators.PrefixSum.runningTotal(
        daily.withColumn("__one", lit(1L)), "day", "c", "s_k"),
      "day", "__one", "rank")
    cum.withColumn("d_k",
        abs(col("s_k").cast("long") * k - col("rank").cast("long") * sTot))
      .orderBy(col("d_k").desc, col("day").asc).limit(1)
      .select(col("day").as("change_day"), col("d_k"),
        lit(k).as("n_days"), lit(sTot).as("total_events"))
  }
}
