package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Multi-source breadth-first search: minimum hop distance from a
  * seed set to every reachable node, the level-synchronous frontier
  * algorithm every distributed graph engine uses (Pregel's BFS
  * example; same iteration discipline as [[Components]] and
  * [[PageRank]]).
  *
  * Each round joins the current frontier with the edge list (one |E|
  * shuffle on the join key), anti-joins out already-visited nodes,
  * and marks the remainder with the next distance. Distances are
  * exact integers, so results are bit-deterministic regardless of
  * partitioning.
  *
  * Scale shape: per-iteration state (`visited`, `frontier`) is
  * materialized with an EAGER `localCheckpoint` — the lesson measured
  * on PageRank and Components: `cache` cuts execution lineage but the
  * LOGICAL plan keeps growing, and Catalyst planning cost compounds
  * per iteration until planning dwarfs execution. Iterations stop at
  * `maxHops` (bounded state) or when a frontier empties, whichever
  * comes first; the frontier emptiness probe rides the checkpointed
  * frontier, not a recomputation.
  *
  * Size-routed by [[SizeRoute]] (measured: q74_bfs spent ~2 s
  * scheduling 5 hop rounds of sub-0.1 s stages over a 30k-edge
  * graph, and graph_harmonic ~40 jobs of ≤0.06 s on a ≤2000-node
  * brand graph): long-id graphs under the edge cap run the whole
  * level-synchronous sweep in one driver pass over a CSR (identical
  * frontier semantics, exact integer distances, same refusals).
  * Null endpoints or seeds fall through to the checkpointed loop
  * below, as do graphs above the cap — the 100 TB regime; a probe
  * pin, when one ran, also stops the per-hop frontier join from
  * recomputing the edge subtree maxHops times there.
  */
object Bfs {

  /** Size-route one sweep ([[SizeRoute]]): Right(the driver kernel's
    * (src, node, dist) rows) when the local route ran, else Left(the
    * edge frame the distributed loop reads). Eligible: long ids on
    * both endpoints and the seeds; null-bearing inputs fall through.
    */
  private def routed(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, seedCol: String, maxHops: Int,
                     perSource: Boolean)
      : Either[DataFrame, Array[(Long, Long, Long)]] = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e0 = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    val longIds = Seq(e0.schema("__src"), e0.schema("__dst"),
      seeds.schema(seedCol)).forall(_.dataType == LongType)
    val r = SizeRoute.decide(e0, longIds, SizeRoute.MaxLocalEdges)
    val local = for {
      es <- r.localPairs
      sd <- Some(seeds.select(col(seedCol)).distinct().collect())
        .filterNot(_.exists(_.isNullAt(0)))
    } yield bfsLocal(es, sd.map(_.getLong(0)), maxHops, perSource)
    local.toRight(r.input)
  }

  /** `edges` (srcCol, dstCol) is followed as directed — symmetrize
    * before the call for undirected reach. Returns (node, dist) with
    * dist = min hops from any seed (seeds themselves at 0).
    */
  def multiSourceBfs(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, seedCol: String,
                     maxHops: Int): DataFrame = {
    val e = routed(edges, srcCol, dstCol, seeds, seedCol, maxHops,
        perSource = false) match {
      case Right(out) =>
        return SizeRoute.rddBacked(edges.sparkSession,
          SizeRoute.longCols("node", "dist"), out.toSeq) {
          case (_, n, d) => Row(n, d) }
      case Left(e) => e
    }
    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var frontier = visited.select("node").localCheckpoint(true)
    var hop = 1L
    while (hop <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(e, frontier("node") === e("__src"))
        .select(col("__dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(true)
      visited = visited
        .unionByName(next.withColumn("dist", lit(hop)))
        .localCheckpoint(true)
      frontier = next
      hop += 1
    }
    visited
  }

  /** PER-SOURCE multi-source BFS — the landmark/all-pairs form: one
    * level-synchronous sweep over the COMPOSITE (source, node)
    * frontier computes d(s, v) for every seed s SIMULTANEOUSLY (the
    * state is |seeds|·|reach| pairs — size the seed set accordingly;
    * [[GraphOps.harmonicCentrality]] caps it). Same iteration
    * discipline as [[multiSourceBfs]]; exact integer distances,
    * bit-deterministic.
    *
    * REFUSES if any frontier is still live at `maxHops` — a
    * truncated distance table silently isn't the distance table (the
    * graph-loop refusal convention). The local route refuses
    * identically: a reachable node past `maxHops` raises the same
    * message.
    *
    * @return (src, node, dist) for every seed × reachable node,
    *         seeds themselves at dist 0
    */
  def perSourceBfs(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = {
    val e = routed(edges, srcCol, dstCol, seeds, seedCol, maxHops,
        perSource = true) match {
      case Right(out) =>
        return SizeRoute.rddBacked(edges.sparkSession,
          SizeRoute.longCols("src", "node", "dist"), out.toSeq)(Row.fromTuple)
      case Left(e) => e
    }
    var visited = seeds.select(col(seedCol).as("src")).distinct()
      .select(col("src"), col("src").as("node"))
      .withColumn("dist", lit(0L))
      .localCheckpoint(true)
    var frontier = visited.select("src", "node").localCheckpoint(true)
    var hop = 1L
    while (hop <= maxHops && !frontier.isEmpty) {
      val next = frontier.join(e, frontier("node") === e("__src"))
        .select(col("src"), col("__dst").as("node")).distinct()
        .join(visited.select("src", "node"), Seq("src", "node"),
          "left_anti")
        .localCheckpoint(true)
      visited = visited
        .unionByName(next.withColumn("dist", lit(hop)))
        .localCheckpoint(true)
      frontier = next
      hop += 1
    }
    require(frontier.isEmpty,
      s"perSourceBfs: frontier still live after maxHops=$maxHops — a " +
        "truncated distance table is not the distance table; raise " +
        "maxHops (the graph diameter bounds it)")
    visited
  }

  /** Driver-local level-synchronous BFS over a CSR of the collected
    * DIRECTED edge list — one queue pass per seed (`perSource`) or one
    * multi-source pass (all seeds at distance 0). Matches the
    * distributed sweeps exactly: seeds (deduped) appear at dist 0 even
    * when absent from the edge list; expansion stops at `maxHops`
    * (multi-source truncates there by contract; per-source REFUSES —
    * checked by the caller via dist > maxHops, same message).
    */
  private[graft] def bfsLocal(edges: Array[(Long, Long)],
                              seedsIn: Array[Long], maxHops: Int,
                              perSource: Boolean)
      : Array[(Long, Long, Long)] = {
    val idOf = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    def intern(v: Long): Int =
      idOf.getOrElseUpdate(v, { val i = ids.length; ids += v; i })
    val m = edges.length
    val srcs = new Array[Int](m); val dsts = new Array[Int](m)
    var e = 0
    while (e < m) {
      srcs(e) = intern(edges(e)._1); dsts(e) = intern(edges(e)._2); e += 1
    }
    val seeds = seedsIn.map(intern)
    val n = ids.length
    val deg = new Array[Int](n)
    e = 0; while (e < m) { deg(srcs(e)) += 1; e += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val pos = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](m)
    e = 0
    while (e < m) { adj(pos(srcs(e))) = dsts(e); pos(srcs(e)) += 1; e += 1 }
    val dist = new Array[Long](n)
    val queue = new Array[Int](n)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    def sweep(init: Array[Int], srcLabel: Int => Long): Unit = {
      java.util.Arrays.fill(dist, -1L)
      var qt = 0
      var s = 0
      while (s < init.length) {
        val v = init(s)
        if (dist(v) < 0) { dist(v) = 0L; queue(qt) = v; qt += 1 }
        s += 1
      }
      var qh = 0
      while (qh < qt) {
        val v = queue(qh); qh += 1
        if (dist(v) < maxHops) {
          var c = off(v)
          while (c < off(v + 1)) {
            val w = adj(c); c += 1
            if (dist(w) < 0) { dist(w) = dist(v) + 1; queue(qt) = w; qt += 1 }
          }
        } else if (perSource) {
          // a frontier node AT maxHops with an unvisited neighbor is
          // exactly "frontier still live after maxHops" distributed
          var c = off(v)
          while (c < off(v + 1)) {
            require(dist(adj(c)) >= 0,
              s"perSourceBfs: frontier still live after maxHops=$maxHops " +
                "— a truncated distance table is not the distance table; " +
                "raise maxHops (the graph diameter bounds it)")
            c += 1
          }
        }
      }
      var v = 0
      while (v < n) {
        if (dist(v) >= 0) out += ((srcLabel(v), ids(v), dist(v)))
        v += 1
      }
    }
    if (perSource) {
      var s = 0
      while (s < seeds.length) {
        val sid = ids(seeds(s))
        sweep(Array(seeds(s)), _ => sid)
        s += 1
      }
    } else sweep(seeds, _ => 0L)
    out.toArray
  }
}
