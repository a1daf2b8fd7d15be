package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.LocalFiles

/** Watermarked stream-stream inner join (SURVEY.md §2a row 18d) —
  * joining two unbounded feeds (e.g. two CDC topics, or an event
  * stream against itself) with a key equality plus an event-time
  * bound. This is the Structured Streaming shape that scales: the
  * time bound + watermarks let Spark EVICT join state as event time
  * advances, so state is proportional to the lag window, not the
  * stream's lifetime — without the bound a stream-stream join buffers
  * both sides forever.
  */
object StreamStreamJoin {

  /** Inner-join `left` and `right` streams where
    * `leftKey == rightKey` and `rightTs` falls within
    * `[leftTs - maxLagSec, leftTs]`. Both sides are watermarked with
    * `delay`; matches emit immediately (append mode), and right-side
    * state older than `watermark - maxLagSec` is dropped.
    *
    * Column names must be disjoint across the two sides (rename
    * before calling), exactly like the as-of join contract.
    */
  def timeBound(left: DataFrame, right: DataFrame,
                leftKey: String, rightKey: String,
                leftTs: String, rightTs: String,
                maxLagSec: Long, delay: String = "1 minute"): DataFrame = {
    val l = left.withWatermark(leftTs, delay)
    val r = right.withWatermark(rightTs, delay)
    l.join(r, expr(
      s"$leftKey = $rightKey AND " +
        s"$rightTs >= $leftTs - INTERVAL $maxLagSec SECONDS AND $rightTs <= $leftTs"))
  }

  /** Full-parity replay over the events table: purchases joined with
    * the same user's views in the trailing `maxLagSec`, run as a REAL
    * two-microbatch stream-stream join (chronological file batches,
    * memory sink). Batches are time-split, so nothing is late and the
    * result equals the batch join exactly (oracle-checked as
    * `q_stream_join`); cross-batch matches (a purchase in batch 2
    * finding a view from batch 1) exercise the buffered join state.
    */
  def replayPurchaseViews(spark: SparkSession, events: DataFrame,
                          maxLagSec: Long): DataFrame = {
    // one narrow projection cached: the four batch-file writes and the
    // min/max probe would otherwise each rescan the events source
    val ev = events.filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .persist()
    val purchasesAll = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val viewsAll = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"),
        col("ts").as("v_ts"))

    val dirPath = java.nio.file.Files.createTempDirectory("graft-ssjoin-replay")
    val dir = dirPath.toString
    val name = "qsj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val drained = try {
      val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      if (r.isNullAt(0)) { // no purchases/views at all: empty result, not an NPE
        return purchasesAll.crossJoin(viewsAll).where(lit(false))
          .select(col("p_id"), col("user_id"), col("v_id"), col("p_ts"), col("v_ts"))
      }
      val midUs = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
      // one file per side per batch → deterministic two-trigger replay
      purchasesAll.filter(unix_micros(col("p_ts")) <= midUs)
        .coalesce(1).write.parquet(s"$dir/p/b1")
      purchasesAll.filter(unix_micros(col("p_ts")) > midUs)
        .coalesce(1).write.parquet(s"$dir/p/b2")
      viewsAll.filter(unix_micros(col("v_ts")) <= midUs)
        .coalesce(1).write.parquet(s"$dir/v/b1")
      viewsAll.filter(unix_micros(col("v_ts")) > midUs)
        .coalesce(1).write.parquet(s"$dir/v/b2")
      val pStream = spark.readStream.schema(purchasesAll.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/p/*")
      val vStream = spark.readStream.schema(viewsAll.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/v/*")
      val joined = timeBound(pStream, vStream, "user_id", "v_user",
        "p_ts", "v_ts", maxLagSec)
        .select(col("p_id"), col("user_id"), col("v_id"),
          col("p_ts"), col("v_ts"))
      // stream-stream join state = one store PER shuffle partition PER
      // side per microbatch: at replay scale fewer, fuller stores beat
      // many near-empty commits (production sizes this to key volume)
      // r18 finding: profiled the replay at 4 vs 2 state partitions —
      // no repeatable win (the floor is ~2.7 s of driver-side
      // microbatch machinery: 3 trigger plans + offset/commit logs +
      // processAllAvailable, plus ~1.4 s of state-store tasks); 4 kept
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      val q = joined.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      q.processAllAvailable()
      q.stop()
      spark.table(name)
    } finally {
      ev.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      LocalFiles.deleteRecursively(dirPath)
    }
    spark.catalog.dropTempView(name)
    drained
  }
}
