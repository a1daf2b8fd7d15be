package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** STREAMING weighted reservoir sampling — a k-row sample, selection
  * probability ∝ weight, maintained continuously over an insert
  * stream and EXACTLY equal to the batch
  * [[graft.operators.Sampling.weightedSample]] over everything seen.
  *
  * The trick is that A-ES keys are DETERMINISTIC here: the
  * Efraimidis-Spirakis exponential `−ln(u)/w` draws its uniform from
  * md5(id, salt), not a RNG, so "the k smallest keys of the union" is
  * a pure function of the data seen. Streaming maintenance is then
  * the same fold as the skyline's: keep the k smallest keys of
  * (current reservoir ∪ batch) — and replays are no-ops by algebra
  * (re-offering a row cannot change the k smallest), so the fold
  * passes no [[VersionedFold]] batchId. State is the k-row reservoir
  * itself.
  *
  * Scale shape: per batch one TakeOrdered over (reservoir + batch)
  * with bounded per-partition heaps — never a sort of history; state
  * on disk is k rows.
  */
object StreamReservoir {

  def start(stream: DataFrame, idCol: String, weightCol: String,
            k: Int, dir: String, checkpointDir: String,
            salt: String = "wsample"): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, idCol, weightCol, k, dir, salt)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, idCol: String, weightCol: String,
                 k: Int, dir: String, salt: String = "wsample"): Unit =
    VersionedFold(batch.sparkSession, dir, None) { prev =>
      // a re-delivered row appears twice in the union: its A-ES key is
      // identical both times, and the id tie-break collapses the pair,
      // so the k smallest are unchanged — replay-safe
      val input = prev.fold(batch)(_.table("sample").unionByName(batch))
      VersionedFold.Staged("sample" -> graft.operators.Sampling
        .weightedSample(input.dropDuplicates(idCol), idCol, weightCol, k, salt))
    }

  /** The current committed reservoir. */
  def reservoir(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "sample")
}
