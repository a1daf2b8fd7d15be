package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Skyline

/** STREAMING skyline maintenance — the continuously-updated Pareto
  * frontier of an insert stream, through the batch identity
  * `skyline(S ∪ T) = skyline(skyline(S) ∪ T)`: each microbatch folds
  * into the (tiny) current frontier, never recomputing over history.
  *
  * Replay safety comes from ALGEBRA, not bookkeeping: inserts are
  * idempotent for a skyline (re-adding points cannot change
  * dominance), so a replayed microbatch folds in again and produces
  * the same frontier — no seen-set, no delta log, no
  * [[VersionedFold]] batchId. Readers always see one complete
  * committed frontier.
  *
  * Scale shape: per batch, cost = batch + current frontier through
  * the two-phase skyline (shard-local windows, range-partitioned
  * prefix-max — see [[Skyline]]); the state on disk is the frontier
  * itself, which for real-valued attributes is tiny relative to the
  * stream's history.
  */
object StreamSkyline {

  def start(stream: DataFrame, minCol: String, maxCol: String,
            idCol: String, dir: String, checkpointDir: String,
            shards: Int = 64): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, minCol, maxCol, idCol, dir, shards)
        ()
      }
      .start()

  /** One microbatch; factored out for replay and direct use. */
  def applyBatch(batch: DataFrame, minCol: String, maxCol: String,
                 idCol: String, dir: String, shards: Int = 64): Unit =
    VersionedFold(batch.sparkSession, dir, None) { prev =>
      val input = prev.fold(batch)(_.table("frontier").unionByName(batch))
      // pareto2d keeps coincident points (neither dominates the other),
      // so a REPLAYED point that already sits in the committed frontier
      // would survive twice and frontier rows would accumulate per
      // replay — the id dedup (mirroring StreamReservoir) restores the
      // fold's idempotence at the row-multiset level, not just the set
      // level.
      VersionedFold.Staged("frontier" -> Skyline.pareto2d(
        input.dropDuplicates(idCol), minCol, maxCol, col(idCol), shards))
    }

  /** The current committed frontier (empty schema-less read refused —
    * call only after at least one batch committed).
    */
  def frontier(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "frontier")

  // ------------------- CDC (delete-bearing) form -------------------
  //
  // The insert-only fold above cannot survive deletes: a deleted
  // frontier point resurrects the points it dominated, which the
  // frontier-only state no longer holds. The CDC form keeps the first
  // k skyline LAYERS ([[Skyline.kLayers]]) as dominated-candidate
  // retention, plus an EXACT-DEPTH budget: each in-state delete can
  // raise a layer index by at most 1, so after d cumulative in-state
  // deletes layers 1..k−d are still exact. The frontier (layer 1) is
  // exact while the budget holds; when a batch would exhaust it the
  // apply REFUSES — demanding a rebuild from a full snapshot — the
  // same refuse-never-silently-wrong contract as the skipping index's
  // staleness gate. Inserts never consume budget (the kLayers fold
  // identity is exact under inserts), so an insert-dominated stream
  // with occasional deletes runs indefinitely on a small k.

  private val ExactDepthFile = "_exact_depth"

  def startCdc(stream: DataFrame, minCol: String, maxCol: String,
               idCol: String, opCol: String, dir: String,
               checkpointDir: String, k: Int = 8,
               shards: Int = 64): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch, minCol, maxCol, idCol, opCol, dir, k, shards,
          Some(batchId))
        ()
      }
      .start()

  /** One CDC microbatch: rows with `opCol` = 1 are deletes (by
    * `idCol`); anything else is an upsert — any existing state row
    * with the same id is replaced (replacement of an in-state point
    * consumes delete budget too: the old point vanishes). Latest-wins
    * within the batch is the CALLER's contract (run [[graft.cdc.CdcMerge]]
    * first for raw CDC logs); ids must be unique per batch.
    *
    * Unlike the insert-only fold, this apply is NOT replay-idempotent
    * by algebra (a replayed upsert would re-remove the rows it just
    * inserted and consume budget spuriously), so streamed batches
    * carry their batchId and a redelivery is skipped by the
    * [[VersionedFold]] guard. Batch-mode callers (no batchId) always
    * apply.
    */
  def applyCdcBatch(batch: DataFrame, minCol: String, maxCol: String,
                    idCol: String, opCol: String, dir: String,
                    k: Int = 8, shards: Int = 64,
                    batchId: Option[Long] = None): Unit =
    VersionedFold(batch.sparkSession, dir, batchId) { prev =>
      val inserts = batch.filter(col(opCol) =!= 1)
        .select(batch.columns.filterNot(_ == opCol).map(col): _*)
      val touchedIds = batch.select(col(idCol)).distinct().localCheckpoint(true)
      val (candidates, depthAfter) = prev match {
        case Some(p) =>
          val state = p.table("layers").drop("__layer")
          val prevDepth = p.aside(ExactDepthFile)
            .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(k.toLong)
          // budget consumption = state rows REMOVED (delete or replace);
          // deletes of never-retained or never-seen ids are free
          val removed = state.join(touchedIds, Seq(idCol), "left_semi").count()
          val after = prevDepth - removed
          if (after < 1)
            throw new IllegalStateException(
              s"StreamSkyline($dir): k-layer delete budget exhausted " +
                s"($removed in-state removals against exactDepth=$prevDepth) — " +
                "the frontier can no longer be proven exact. Rebuild the view " +
                "from a full snapshot (or use a larger k).")
          (state.join(touchedIds, Seq(idCol), "left_anti").unionByName(inserts),
            after)
        case None => (inserts, k.toLong)
      }
      VersionedFold.Staged("layers" -> Skyline.kLayers(
          candidates.dropDuplicates(idCol), minCol, maxCol, idCol, k, shards))
        .withAside(ExactDepthFile, depthAfter.toString)
    }

  /** The current committed CDC frontier: layer 1 of the retained
    * k-layer state (exact while the delete budget holds — the apply
    * refuses past it, so a committed state is always exact).
    */
  def frontierCdc(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "layers")
      .filter(col("__layer") === 1).drop("__layer")
}
