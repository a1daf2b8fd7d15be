package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING maximum-drawdown maintenance — the running worst
  * peak-to-trough fall of each user's value balance, streaming twin
  * of the batch q122.
  *
  * Drawdown is ORDER-DEPENDENT (unlike OHLC/RFM there is no
  * order-free merge of two arbitrary sub-histories), so the view's
  * contract is MONOTONIC APPEND: each microbatch must lie strictly
  * after the state's last (ts, event_id) per user — the natural
  * shape of an event-time stream — and the apply REFUSES on a
  * violation rather than folding out-of-order data into a silently
  * wrong statistic (the skipping-index staleness convention). Under
  * that contract the per-user sufficient state is tiny and exact:
  * (n, cum, peak, maxdd, last) folds with a batch's prefix sums in
  * one partitioned window pass.
  *
  * Counts/sums are not replay-idempotent ⇒ the [[VersionedFold]]
  * batchId guard. All arithmetic exact integer cents.
  */
object StreamDrawdown {

  def start(stream: DataFrame, dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, dir, Some(batchId))
        ()
      }
      .start()

  /** One microbatch of raw event rows (user_id, ts, event_id, value);
    * rows with null value are ignored (the q122 filter).
    */
  def applyBatch(batch: DataFrame, dir: String,
                 batchId: Option[Long] = None): Unit =
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val ev = batch.filter(col("value").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
        .localCheckpoint(true)
      val state = prev match {
        case Some(p) => p.table("dd")
        case None => ev.limit(0).select(
          col("user_id"), lit(0L).as("n_events"), lit(0L).as("cum"),
          lit(Long.MinValue).as("peak"), lit(0L).as("maxdd"),
          col("ts").as("last_ts"), col("event_id").as("last_eid"))
      }
      // monotonic-append contract: every batch row strictly after the
      // user's committed (last_ts, last_eid)
      val violations = ev
        .join(state.select(col("user_id"), col("last_ts"), col("last_eid")),
          Seq("user_id"))
        .filter(struct(col("ts"), col("event_id")) <=
          struct(col("last_ts"), col("last_eid")))
        .count()
      require(violations == 0L,
        s"StreamDrawdown($dir): $violations batch rows at or before their " +
          "user's committed frontier — drawdown is order-dependent and " +
          "cannot fold out-of-order appends; replay from a full snapshot " +
          "or repair the upstream ordering")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val local = ev
        .join(state.select(col("user_id"), col("cum").as("s_cum"),
          col("peak").as("s_peak"), col("maxdd").as("s_maxdd"),
          col("n_events").as("s_n")), Seq("user_id"), "left")
        .withColumn("cum",
          coalesce(col("s_cum"), lit(0L)) + sum(col("c")).over(w))
        .withColumn("peak",
          greatest(coalesce(col("s_peak"), lit(Long.MinValue)),
            max(col("cum")).over(w)))
        .withColumn("dd", col("peak") - col("cum"))
      // last cum per user = cum at the max (ts, event_id) row
      val finalRow = local
        .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("cum").as("f_cum"),
          col("ts").as("last_ts"), col("event_id").as("last_eid"))
      val merged = local.groupBy(col("user_id"))
        .agg((max(coalesce(col("s_n"), lit(0L))) + count(lit(1)))
            .cast("bigint").as("n_events"),
          max(col("peak")).cast("bigint").as("peak"),
          greatest(max(coalesce(col("s_maxdd"), lit(0L))), max(col("dd")))
            .cast("bigint").as("maxdd"))
        .join(finalRow, Seq("user_id"))
        .select(col("user_id"), col("n_events"), col("f_cum").as("cum"),
          col("peak"), col("maxdd"), col("last_ts"), col("last_eid"))
      val untouched = state.join(ev.select("user_id").distinct(),
        Seq("user_id"), "left_anti")
      VersionedFold.Staged("dd" -> untouched.unionByName(merged))
    }

  /** The maintained view in the batch q122 output shape. */
  def drawdown(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "dd")
      .select(col("user_id"), col("n_events"),
        col("maxdd").as("max_drawdown_cents"),
        col("cum").as("final_cents"), col("peak").as("peak_cents"))
}
