package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.PrefixSum

/** STREAMING exact ROC AUC maintenance — the streaming twin of the
  * batch `q105_auc` (Mann-Whitney rank-sum): the model-quality gauge
  * stays current as scored examples stream in, and always equals the
  * batch computation over everything seen.
  *
  * The sufficient statistic for exact AUC is the per-VALUE
  * (positives, negatives) count table — mergeable by plain summation
  * — so the stream retains score-value-cardinality state, never
  * examples. Each microbatch hash-aggregates to per-value counts and
  * merges with the state table; [[auc]] recomputes the exact
  * midrank-tie 2U = Σ[2·pos·negBelow + pos·neg] over STATE via the
  * distributed [[PrefixSum]], exactly the batch q105 algebra.
  *
  * Counts sum, so the merge is NOT replay-idempotent by algebra; the
  * [[VersionedFold]] batchId guard makes a redelivered microbatch a
  * detected no-op.
  */
object StreamAuc {

  /** Per-value (p_at, n_at) counts of one example set; `posCol` must
    * be 1L/0L.
    */
  def partial(df: DataFrame, scoreCol: String, posCol: String): DataFrame =
    df.groupBy(col(scoreCol).cast("long").as("score"))
      .agg(sum(col(posCol)).cast("bigint").as("p_at"),
        sum(lit(1L) - col(posCol)).cast("bigint").as("n_at"))

  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("score"))
      .agg(sum(col("p_at")).cast("bigint").as("p_at"),
        sum(col("n_at")).cast("bigint").as("n_at"))

  def start(stream: DataFrame, scoreCol: String, posCol: String,
            dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, scoreCol, posCol, dir, Some(batchId))
        ()
      }
      .start()

  /** One microbatch; factored out for direct use. Redelivered
    * batchIds (at-least-once foreachBatch) are detected and skipped.
    */
  def applyBatch(batch: DataFrame, scoreCol: String, posCol: String,
                 dir: String, batchId: Option[Long] = None): Unit =
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val delta = partial(batch, scoreCol, posCol)
      VersionedFold.Staged(
        "counts" -> prev.fold(delta)(p => merge(p.table("counts"), delta)))
    }

  /** Exact (two_u, n_pos, n_neg, auc) over the committed state —
    * verbatim the batch q105 algebra.
    */
  def auc(spark: SparkSession, dir: String): DataFrame = {
    val perValue = VersionedFold.read(spark, dir, "counts")
    val cum = PrefixSum.runningTotal(perValue, "score", "n_at", "n_cum")
      .withColumn("n_below", col("n_cum") - col("n_at"))
    cum.agg(
        sum(col("p_at") * col("n_below") * 2 + col("p_at") * col("n_at"))
          .cast("decimal(38,0)").as("two_u"),
        sum(col("p_at")).cast("bigint").as("n_pos"),
        sum(col("n_at")).cast("bigint").as("n_neg"))
      .select(col("two_u").cast("bigint").as("two_u"),
        col("n_pos"), col("n_neg"),
        round(col("two_u").cast("double") /
          (col("n_pos") * col("n_neg") * 2).cast("double"), 9).as("auc"))
  }
}
