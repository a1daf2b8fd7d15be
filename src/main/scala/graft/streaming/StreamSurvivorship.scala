package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING golden-record maintenance — the streaming twin of
  * `cdc.Survivorship.goldenRecord` (q129): a continuously-merged
  * per-entity record where each FIELD independently keeps its latest
  * non-null value.
  *
  * The per-field rule is a lexicographic arg-max over (seq…, value)
  * structs — a commutative, associative, idempotent-under-max monoid
  * — so state is ONE candidate struct per (key, field), folded per
  * microbatch: the batch collapses to its own per-key candidates
  * first (map-side partials), then one union + re-max against the
  * state. History is never re-read.
  *
  * `n_updates` is a SUM (not idempotent), so redelivered batchIds are
  * skipped by the [[VersionedFold]] guard; [[golden]] projects the
  * batch-identical surface from state on demand.
  */
object StreamSurvivorship {

  def start(stream: DataFrame, keyCol: String, seqCols: Seq[String],
            fields: Seq[String], dir: String,
            checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, keyCol, seqCols, fields, dir, Some(batchId))
        ()
      }
      .start()

  private def candName(f: String) = s"__c_$f"

  /** Collapse rows to one candidate struct per (key, field) plus the
    * summable tallies — the mergeable state shape.
    */
  private def collapse(df: DataFrame, keyCol: String, seqCols: Seq[String],
                       fields: Seq[String]): DataFrame = {
    val picks = fields.map { f =>
      max(when(col(f).isNotNull,
        struct(seqCols.map(col) :+ col(f).as("__v"): _*)))
        .as(candName(f))
    }
    val aggs = picks ++ Seq(
      sum(col("__n")).cast("bigint").as("__n"),
      max(col("__last")).as("__last"))
    df.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** One microbatch of raw update rows; factored out for replay tests
    * and batch callers.
    */
  def applyBatch(batch: DataFrame, keyCol: String, seqCols: Seq[String],
                 fields: Seq[String], dir: String,
                 batchId: Option[Long] = None): Unit = {
    require(seqCols.nonEmpty && fields.nonEmpty,
      "StreamSurvivorship: need seq and field columns")
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val delta = collapse(
        batch.withColumn("__n", lit(1L))
          .withColumn("__last", col(seqCols.head)),
        keyCol, seqCols, fields)
      // state candidates re-enter as (seq…, value) structs: max over
      // the union is exactly the arg-max over everything seen
      val input = prev.fold(delta)(_.table("golden").unionByName(delta))
      val picks = fields.map(f => max(col(candName(f))).as(candName(f)))
      val aggs = picks ++ Seq(
        sum(col("__n")).cast("bigint").as("__n"),
        max(col("__last")).as("__last"))
      VersionedFold.Staged(
        "golden" -> input.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*))
    }
  }

  /** The maintained per-key candidate state (struct form). */
  def state(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "golden")

  /** The batch-identical golden-record surface: per key, each field's
    * surviving value + n_updates + last_seen (== `Survivorship
    * .goldenRecord` over everything streamed so far).
    */
  def golden(spark: SparkSession, dir: String, keyCol: String,
             fields: Seq[String]): DataFrame = {
    val s = state(spark, dir)
    val cols = Seq(col(keyCol)) ++
      fields.map(f => col(candName(f)).getField("__v").as(f)) ++
      Seq(col("__n").as("n_updates"), col("__last").as("last_seen"))
    s.select(cols: _*)
  }
}
