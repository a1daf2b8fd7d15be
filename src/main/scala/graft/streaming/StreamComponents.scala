package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Components

/** STREAMING connected-components maintenance — the incremental form
  * of [[Components.connectedComponents]] under an edge-insert stream
  * (the live view behind transitive near-dup clustering: "which
  * cluster is this document in, right now").
  *
  * The fold identity: treating a labelling as the star edge set
  * {(node, component)}, comps(S ∪ T) = comps(stars(comps(S)) ∪ T) —
  * new edges can only MERGE existing components, and a merge is
  * exactly what min-label propagation over the star graph plus the
  * batch edges computes. So state is the (id, component) table —
  * nodes-sized, never the edge history — and each microbatch runs
  * components over |state| + |batch| star/batch edges, with the star
  * side converging in O(1) hops because every state component is
  * depth-1 by construction.
  *
  * Replay-idempotent BY ALGEBRA (no [[VersionedFold]] batchId): a
  * redelivered batch contributes edges whose endpoints already share
  * a component — min-label propagation is idempotent over them, and
  * the unchanged fixpoint commits byte-identically.
  */
object StreamComponents {

  def start(stream: DataFrame, aCol: String, bCol: String,
            dir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(batch, aCol, bCol, dir)
        ()
      }
      .start()

  /** One microbatch of undirected edges; factored out for direct use. */
  def applyBatch(batch: DataFrame, aCol: String, bCol: String,
                 dir: String): Unit =
    VersionedFold(batch.sparkSession, dir, None) { prev =>
      val edges = batch.select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      val all = prev.fold(edges)(_.table("labels")
        .select(col("id").as("src"), col("component").as("dst"))
        .unionByName(edges))
      VersionedFold.Staged(
        "labels" -> Components.connectedComponents(all, "src", "dst"))
    }

  /** The current committed (id, component) labelling. */
  def labels(spark: SparkSession, dir: String): DataFrame =
    VersionedFold.read(spark, dir, "labels")
}
