package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING OHLC maintenance — per-day open/high/low/close bars kept
  * continuously current, the streaming twin of the batch `q87_ohlc`.
  *
  * OHLC is a MERGEABLE aggregate: for two event sets,
  * `ohlc(S ∪ T) = merge(ohlc(S), ohlc(T))` where merge keeps the
  * value at the smaller key for open / the larger for close, min/max
  * for low/high, and sums counts. So the stream never retains raw
  * events: each microbatch aggregates to per-day partial bars (with
  * the exact event-time keys the batch query uses), merges with the
  * state table by the same rule, and publishes through
  * [[VersionedFold]]. State is days×1 rows. NOT replay-idempotent by
  * algebra (counts sum) — so a redelivered microbatch is skipped by
  * the [[VersionedFold]] batchId guard.
  *
  * Scale shape: per batch one hash aggregation of the batch + a
  * days-sized merge; no event-level state anywhere.
  */
object StreamOhlc {

  private val aggCols = Seq(
    min_by(col("cents"), col("k")).as("open"),
    max(col("cents")).as("high"),
    min(col("cents")).as("low"),
    max_by(col("cents"), col("k")).as("close"),
    count(lit(1)).cast("bigint").as("n"),
    min(col("k")).as("__k_open"),
    max(col("k")).as("__k_close"))

  /** Per-day partial bars of one event set (same key construction as
    * the batch q87: micros-in-day scaled + event_id).
    */
  def partial(events: DataFrame): DataFrame = {
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
    val us = unix_micros(col("ts"))
    val key = (us % (86400L * 1000000L)) * 20000000L + col("event_id")
    val base = events.select(to_date(col("ts")).as("day"),
      cents.as("cents"), key.as("k"))
    base.groupBy(col("day")).agg(aggCols.head, aggCols.tail: _*)
  }

  /** Merge two partial-bar tables by the OHLC merge rule. */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .select(col("day"), col("open").as("cents_o"), col("close").as("cents_c"),
        col("high"), col("low"), col("n"), col("__k_open"), col("__k_close"))
      .groupBy(col("day"))
      .agg(min_by(col("cents_o"), col("__k_open")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("cents_c"), col("__k_close")).as("close"),
        sum(col("n")).cast("bigint").as("n"),
        min(col("__k_open")).as("__k_open"),
        max(col("__k_close")).as("__k_close"))

  def start(stream: DataFrame, dir: String, checkpointDir: String)
  : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, dir, Some(batchId))
        ()
      }
      .start()

  /** One microbatch; factored out for direct use.
    *
    * Counts SUM, so the merge is NOT replay-idempotent by algebra —
    * the [[VersionedFold]] batchId guard skips a redelivered
    * microbatch. Batch-mode callers (no batchId) always apply.
    */
  def applyBatch(batch: DataFrame, dir: String,
                 batchId: Option[Long] = None): Unit =
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val delta = partial(batch)
      VersionedFold.Staged(
        "bars" -> prev.fold(delta)(p => merge(p.table("bars"), delta)))
    }

  /** The current committed bars (internal merge keys dropped). */
  def bars(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "bars").drop("__k_open", "__k_close")
}
