package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Triangle counting over an undirected simple graph — the
  * clustering-coefficient / community-density primitive next to
  * [[Components]] / [[PageRank]] / [[Bfs]].
  *
  * Degree-ordered edge orientation (the classic Schank–Wagner /
  * Cohen MapReduce formulation): every edge is directed from its
  * smaller (degree, id) endpoint to the larger, which bounds
  * out-degrees at O(√|E|) — so the wedge join costs Σ outdeg², never
  * the hub-quadratic Σ deg² a naive wedge join pays on skewed graphs
  * (a star graph generates ZERO wedges here: the hub is the largest
  * endpoint of every edge). Each triangle is counted exactly once, at
  * its order-minimal vertex; the closing edge is confirmed by one
  * left-semi join. Exact integers throughout — bit-deterministic
  * under any partitioning.
  */
object GraphOps {

  /** Count triangles in the undirected graph given as an edge list
    * (each undirected edge once, either direction; self-loops and
    * duplicate edges are removed first).
    *
    * @return one row: (n_nodes, n_edges, n_triangles), all bigint
    */
  def triangleCount(edgesIn: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    // canonicalize: a < b, dedup, no self-loops
    val edges = edgesIn
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true) // degrees + orientation + closing join
    val deg = edges.select(col("x").as("node"))
      .unionAll(edges.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
    val oriented = withDeg.select(
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
          struct(col("x").as("u"), col("dx").as("du"),
            col("y").as("v"), col("dy").as("dv")))
          .otherwise(struct(col("y").as("u"), col("dy").as("du"),
            col("x").as("v"), col("dx").as("dv"))).as("e"))
      .select(col("e.u"), col("e.du"), col("e.v"), col("e.dv"))
      .localCheckpoint(true) // wedge sides + closing probe
    val wedges = oriented.select(col("u"), col("v").as("w1"), col("dv").as("dw1"))
      .join(oriented.select(col("u"), col("v").as("w2"), col("dv").as("dw2")), "u")
      .filter(struct(col("dw1"), col("w1")) < struct(col("dw2"), col("w2")))
    val tri = wedges.join(oriented.select(col("u").as("w1"), col("v").as("w2")),
      Seq("w1", "w2"), "left_semi")
    val nNodes = deg.agg(count(lit(1)).cast("bigint").as("n_nodes"))
    val nEdges = edges.agg(count(lit(1)).cast("bigint").as("n_edges"))
    val nTri = tri.agg(count(lit(1)).cast("bigint").as("n_triangles"))
    nNodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(nTri))
  }

  /** LOCAL clustering coefficient per node: lcc(v) = 2·T(v) /
    * (deg(v)·(deg(v)−1)), the fraction of a node's neighbour pairs
    * that are themselves connected — the per-node refinement of
    * [[triangleCount]] (same degree-ordered orientation, same
    * Σ outdeg² wedge bound). The oriented enumeration finds each
    * triangle once at its order-minimal vertex; it increments ALL
    * THREE corners, so per-node counts are exact. deg and T are exact
    * integers; lcc is ONE double division rounded to 9 (0.0 for
    * degree-1 nodes, where the coefficient is conventionally zero).
    *
    * @return (node, deg, n_tri, lcc) for every node with deg ≥ 1
    */
  def localClustering(edgesIn: DataFrame, aCol: String, bCol: String)
  : DataFrame = {
    val edges = edgesIn
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true) // degrees + orientation
    val deg = edges.select(col("x").as("node"))
      .unionAll(edges.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
    val oriented = withDeg.select(
        when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
          struct(col("x").as("u"), col("dx").as("du"),
            col("y").as("v"), col("dy").as("dv")))
          .otherwise(struct(col("y").as("u"), col("dy").as("du"),
            col("x").as("v"), col("dx").as("dv"))).as("e"))
      .select(col("e.u"), col("e.du"), col("e.v"), col("e.dv"))
      .localCheckpoint(true) // wedge sides + closing probe
    val wedges = oriented.select(col("u"), col("v").as("w1"), col("dv").as("dw1"))
      .join(oriented.select(col("u"), col("v").as("w2"), col("dv").as("dw2")), "u")
      .filter(struct(col("dw1"), col("w1")) < struct(col("dw2"), col("w2")))
    val tris = wedges.join(oriented.select(col("u").as("w1"), col("v").as("w2")),
      Seq("w1", "w2"), "left_semi")
    val perNode = tris
      .select(explode(array(col("u"), col("w1"), col("w2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg").cast("bigint").as("deg"),
        coalesce(col("n_tri"), lit(0L)).cast("bigint").as("n_tri"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          round((coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 9)).as("lcc"))
  }

  /** K-CORE of an undirected simple graph: the maximal subgraph in
    * which every node has degree ≥ k — the classic density filter
    * (spam-farm detection in link graphs, community kernels,
    * influence backbones). The fixpoint is unique regardless of
    * peeling order, so the result is deterministic.
    *
    * Iterative peeling: each round is one degree aggregation + two
    * anti-joins dropping edges incident to under-degree nodes; the
    * driver loops only on a scalar emptiness check, with the edge
    * frame pinned by eager localCheckpoint per round (the PageRank
    * lineage lesson — a path graph peels one layer per round, so
    * depth is real). `maxIter` bounds the walk; non-convergence
    * REFUSES rather than returning a superset that silently isn't a
    * core.
    *
    * @return surviving (node, degree) rows — degree WITHIN the core
    */
  def kCore(edgesIn: DataFrame, aCol: String, bCol: String, k: Int,
            maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val canon = edgesIn
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true)
    // Size-routed by [[SizeRoute]] for integral ids: under the edge
    // cap the driver peels in ONE linear pass (queue of sub-k nodes)
    // instead of O(peel depth) scheduled rounds — path-shaped graphs
    // peel one layer per round distributed, all layers at once
    // locally. Ids keep their input type on both routes (kCore does
    // not cast them), so the local rows are cast back to it.
    val idType = canon.schema("x").dataType
    val r = SizeRoute.decide(canon, SizeRoute.integral(idType),
      SizeRoute.MaxLocalEdges)
    r.localPairs match {
      case Some(es) =>
        return SizeRoute.rddBacked(edgesIn.sparkSession,
            SizeRoute.longCols("node", "degree"), kCoreLocal(es, k).toSeq)(
            Row.fromTuple)
          .select(col("node").cast(idType), col("degree"))
      case None =>
    }
    // symmetric form: degree = per-src row count
    var sym = canon.unionAll(canon.select(col("y").as("x"), col("x").as("y")))
      .localCheckpoint(true)
    var done = false
    var i = 0
    while (!done && i < maxIter) {
      val deg = sym.groupBy(col("x")).agg(count(lit(1)).as("deg"))
      val bad = deg.filter(col("deg") < k).select(col("x")).localCheckpoint(true)
      if (bad.isEmpty) done = true
      else {
        sym = sym.join(bad, Seq("x"), "left_anti")
          .join(bad.select(col("x").as("y")), Seq("y"), "left_anti")
          .select(col("x"), col("y"))
          .localCheckpoint(true)
        i += 1
      }
    }
    require(done,
      s"kCore: no fixpoint after maxIter=$maxIter peeling rounds — " +
        "raise maxIter (deep path-shaped graphs peel one layer per round)")
    sym.groupBy(col("x").as("node"))
      .agg(count(lit(1)).cast("bigint").as("degree"))
  }

  /** Driver-local k-core: queue-based peel, linear in |V|+|E| — every
    * sub-k node peels as soon as its degree crosses below k, so the
    * whole cascade runs in one pass. Input deduped canonical (x<y)
    * simple edges; returns (node, degree within the k-core) exactly
    * like the distributed peel.
    */
  private[graft] def kCoreLocal(edges: Array[(Long, Long)], k: Int)
      : Array[(Long, Long)] = {
    val idOf = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    def intern(v: Long): Int =
      idOf.getOrElseUpdate(v, { val i = ids.length; ids += v; i })
    val m = edges.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var e = 0
    while (e < m) {
      ea(e) = intern(edges(e)._1); eb(e) = intern(edges(e)._2); e += 1
    }
    val n = ids.length
    val deg = new Array[Int](n)
    e = 0; while (e < m) { deg(ea(e)) += 1; deg(eb(e)) += 1; e += 1 }
    // symmetric CSR
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val pos = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](2 * m)
    e = 0
    while (e < m) {
      adj(pos(ea(e))) = eb(e); pos(ea(e)) += 1
      adj(pos(eb(e))) = ea(e); pos(eb(e)) += 1
      e += 1
    }
    val removed = new Array[Boolean](n)
    val queue = new Array[Int](n); var qt = 0
    i = 0
    while (i < n) { if (deg(i) < k) { queue(qt) = i; qt += 1; removed(i) = true }; i += 1 }
    var qh = 0
    while (qh < qt) {
      val v = queue(qh); qh += 1
      var c = off(v)
      while (c < off(v + 1)) {
        val w = adj(c); c += 1
        if (!removed(w)) {
          deg(w) -= 1
          if (deg(w) < k) { removed(w) = true; queue(qt) = w; qt += 1 }
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    i = 0
    while (i < n) { if (!removed(i)) out += ((ids(i), deg(i).toLong)); i += 1 }
    out.toArray
  }

  /** STRONGLY connected components of a DIRECTED graph — the mutual-
    * reachability partition (cycle detection, dependency knots,
    * navigation loops), via the distributed COLORING algorithm
    * (Orzan '04; the FW-BW family): no sequential Tarjan stack, every
    * step a join/aggregate.
    *
    * Per outer round:
    *  1. TRIM — a node with no in-edges or no out-edges (in the
    *     remaining graph) can sit on no cycle: emit as singleton SCC.
    *  2. COLOR — propagate color(v) = max node id that reaches v
    *     (fixpoint of `color(v) ← max(color(v), max_{u→v} color(u))`,
    *     one |E| shuffle per hop; iterations bounded by graph
    *     diameter). The unique fixpoint makes every downstream row
    *     bit-deterministic regardless of partitioning.
    *  3. EXTRACT — a root r (color(r) = r) is the MAX id of its SCC,
    *     and SCC(r) = nodes backward-reachable from r through
    *     SAME-COLOR edges (a path witnessing mutual reach provably
    *     never leaves the color class). One multi-source backward
    *     BFS extracts every root's SCC in parallel.
    *  4. Remove extracted nodes; repeat. Every color class loses at
    *     least its root per round, so rounds are bounded by the
    *     SCC-condensation's chain structure, not |V|.
    *
    * Iteration state is pinned by eager localCheckpoint (the PageRank
    * lineage lesson). Exhausting `maxIter` on any loop REFUSES (the
    * kCore convention) — a truncated propagation or reach would
    * return a partition that silently isn't the SCC partition.
    *
    * Nodes are the edge endpoints (pass isolated nodes separately if
    * they matter — each is trivially its own SCC). Self-loops are
    * dropped: they never change mutual reachability between distinct
    * nodes.
    *
    * Size-routed by [[SizeRoute]] (the broadcast-join analogy): SCC
    * inputs in an analytics engine are CONDENSATION graphs over a
    * dimension — parts, suppliers, URLs — whose deduped edge set is
    * orders of magnitude smaller than the fact table that produced it
    * (the |E|-bounding distinct() runs distributed first). Under the
    * edge cap the driver runs ITERATIVE Tarjan in one linear pass: a
    * depth-D acyclic residue costs the distributed fixpoint O(D)
    * scheduled jobs (measured ~100 s on a 20k-node purchase graph
    * whose trim peels hundreds of layers) and Tarjan a few
    * milliseconds. Beyond the cap the distributed coloring path below
    * runs unchanged. `partitions` is an output layout on both routes.
    *
    * @return (node, scc) — scc = MAX node id in the component
    */
  def scc(edgesIn: DataFrame, srcCol: String, dstCol: String,
          maxIter: Int = 200, partitions: Int = 0): DataFrame = {
    val spark = edgesIn.sparkSession
    def rep(df: DataFrame, c: String): DataFrame =
      if (partitions > 0) df.repartition(partitions, col(c)) else df
    var edges = rep(edgesIn
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("t"))
      .filter(col("s") =!= col("t")).distinct(), "s").localCheckpoint(true)
    val r = SizeRoute.decide(edges, eligible = true, SizeRoute.MaxLocalEdges)
    r.localPairs match {
      case Some(es) =>
        return rep(SizeRoute.rddBacked(spark, SizeRoute.longCols("node", "scc"),
          tarjanLocal(es).toSeq)(Row.fromTuple), "node")
      case None =>
    }
    var nodes = rep(edges.select(col("s").as("node"))
      .unionAll(edges.select(col("t").as("node")))
      .distinct(), "node").localCheckpoint(true)
    var assigned = nodes.limit(0).withColumn("scc", col("node"))
    var round = 0
    while (!nodes.isEmpty && round < maxIter) {
      // 1. trim TO FIXPOINT: a no-in or no-out node sits on no cycle —
      //    singleton SCC. Peeling repeats because each peel exposes the
      //    next layer (an acyclic residue — e.g. everything left after
      //    a giant SCC's extraction — drains here entirely, at ~2 small
      //    jobs per layer instead of a full color+reach pass).
      var trimming = true
      var ti = 0
      while (trimming && ti < maxIter) {
        val both = edges.select(col("s").as("node")).distinct()
          .join(edges.select(col("t").as("node")).distinct(), Seq("node"))
          .localCheckpoint(true)
        val singles = nodes.join(both, Seq("node"), "left_anti")
          .localCheckpoint(true)
        if (singles.isEmpty) trimming = false
        else {
          assigned = assigned.unionByName(singles.withColumn("scc", col("node")))
            .localCheckpoint(true)
          nodes = both
          edges = edges
            .join(nodes.select(col("node").as("s")), Seq("s"), "left_semi")
            .join(nodes.select(col("node").as("t")), Seq("t"), "left_semi")
            .select(col("s"), col("t")).localCheckpoint(true)
        }
        ti += 1
      }
      require(!trimming || nodes.isEmpty,
        s"scc: trim hit maxIter=$maxIter layers — raise maxIter")
      if (!nodes.isEmpty) {
        // 2. color to fixpoint: max id reaching each node
        var colors = nodes.withColumn("color", col("node"))
          .localCheckpoint(true)
        var converged = false
        var i = 0
        while (!converged && i < maxIter) {
          val inMax = edges
            .join(colors.select(col("node").as("s"), col("color").as("c")), Seq("s"))
            .groupBy(col("t").as("node")).agg(max(col("c")).as("in_max"))
          val merged = colors.join(inMax, Seq("node"), "left")
            .select(col("node"), col("color"),
              greatest(col("color"), coalesce(col("in_max"), col("color")))
                .as("c2"))
            .localCheckpoint(true)
          // merged is checkpointed: both the convergence probe and the
          // next iteration's colors are shallow reads of it — no
          // second materialization
          converged = merged.filter(col("c2") > col("color")).isEmpty
          colors = merged.select(col("node"), col("c2").as("color"))
          i += 1
        }
        require(converged,
          s"scc: color propagation hit maxIter=$maxIter before fixpoint — " +
            "raise maxIter (iterations are bounded by graph diameter)")
        // 3. backward reach from roots through same-color edges
        val ec = edges
          .join(colors.select(col("node").as("s"), col("color").as("cs")), Seq("s"))
          .join(colors.select(col("node").as("t"), col("color").as("ct")), Seq("t"))
          .filter(col("cs") === col("ct"))
          .select(col("s"), col("t")).localCheckpoint(true)
        var visited = colors.filter(col("color") === col("node"))
          .select(col("node")).localCheckpoint(true)
        var frontier = visited
        var hop = 0
        while (!frontier.isEmpty && hop < maxIter) {
          frontier = ec.join(frontier.select(col("node").as("t")), Seq("t"), "left_semi")
            .select(col("s").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .localCheckpoint(true)
          visited = visited.unionByName(frontier).localCheckpoint(true)
          hop += 1
        }
        require(frontier.isEmpty,
          s"scc: backward reach hit maxIter=$maxIter with a live frontier — " +
            "raise maxIter (hops are bounded by the largest SCC's diameter)")
        // 4. emit and remove
        val members = visited.join(colors, Seq("node"))
          .select(col("node"), col("color").as("scc")).localCheckpoint(true)
        assigned = assigned.unionByName(members).localCheckpoint(true)
        nodes = nodes.join(members.select("node"), Seq("node"), "left_anti")
          .localCheckpoint(true)
        edges = edges
          .join(members.select(col("node").as("s")), Seq("s"), "left_anti")
          .join(members.select(col("node").as("t")), Seq("t"), "left_anti")
          .select(col("s"), col("t")).localCheckpoint(true)
      }
      round += 1
    }
    require(nodes.isEmpty,
      s"scc: $maxIter rounds exhausted with nodes remaining — raise maxIter")
    assigned
  }

  /** Iterative (heap-allocated stack, no recursion — a path graph is
    * exactly the depth that would blow the JVM stack) Tarjan SCC over
    * a collected edge list. Input is already deduped and self-loop
    * free. Returns (node, max node id of its component) — the same
    * label contract as the distributed path, so the two routes are
    * interchangeable bit-for-bit.
    */
  private[graft] def tarjanLocal(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    // compact ids
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
    val n = ids.length
    // CSR adjacency
    val deg = new Array[Int](n)
    e = 0; while (e < m) { deg(srcs(e)) += 1; e += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val pos = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](m)
    e = 0
    while (e < m) { adj(pos(srcs(e))) = dsts(e); pos(srcs(e)) += 1; e += 1 }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val sccOf = new Array[Int](n)
    val compStack = new Array[Int](n); var compTop = 0
    // explicit DFS frames: node + next-child cursor
    val frameNode = new Array[Int](n + 1)
    val frameEdge = new Array[Int](n + 1)
    var counter = 0; var nComp = 0
    val compMax = scala.collection.mutable.ArrayBuffer[Long]()
    var root = 0
    while (root < n) {
      if (index(root) == -1) {
        var top = 0
        frameNode(0) = root; frameEdge(0) = off(root)
        index(root) = counter; low(root) = counter; counter += 1
        compStack(compTop) = root; compTop += 1; onStack(root) = true
        while (top >= 0) {
          val v = frameNode(top)
          var cursor = frameEdge(top)
          var descended = false
          while (!descended && cursor < off(v + 1)) {
            val w = adj(cursor); cursor += 1
            if (index(w) == -1) {
              frameEdge(top) = cursor
              top += 1; frameNode(top) = w; frameEdge(top) = off(w)
              index(w) = counter; low(w) = counter; counter += 1
              compStack(compTop) = w; compTop += 1; onStack(w) = true
              descended = true
            } else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          }
          if (!descended) {
            if (low(v) == index(v)) {
              var maxId = Long.MinValue; var j = compTop
              var w = -1
              while (w != v) {
                j -= 1; w = compStack(j)
                if (ids(w) > maxId) maxId = ids(w)
              }
              compMax += maxId
              while (compTop > j) {
                compTop -= 1; val u = compStack(compTop)
                onStack(u) = false; sccOf(u) = nComp
              }
              nComp += 1
            }
            top -= 1
            if (top >= 0) {
              val p = frameNode(top)
              if (low(v) < low(p)) low(p) = low(v)
            }
          }
        }
      }
      root += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), compMax(sccOf(i))); i += 1 }
    out
  }

  /** Community detection by DETERMINISTIC label propagation (LPA,
    * Raghavan–Albert–Kumara 2007, made reproducible): every node
    * starts labeled with its own id; each SYNCHRONOUS round a node
    * adopts the most frequent label among its neighbours PLUS ITSELF
    * (self-inclusion damps the two-coloring oscillation synchronous
    * LPA is known for), ties broken by the SMALLEST label — so the
    * fixpoint is a pure function of the graph, bit-identical under
    * any partitioning (the async/random-tie variants of the paper
    * are deliberately not reproducible; this is the engine-grade
    * form). Convergence = a round that changes no label; exhausting
    * `maxIter` REFUSES (the kCore convention) rather than returning
    * a half-propagated labeling that silently isn't a fixpoint.
    *
    * Each round is one |E| join (neighbour labels) + one
    * (node, label)-cardinality count + a struct-max argmax — no
    * windows, no driver state beyond the convergence scalar; frames
    * pinned by eager localCheckpoint per round (the PageRank lineage
    * lesson).
    *
    * Size-routed by [[SizeRoute]]: community inputs are
    * dimension-sized co-occurrence graphs whose deduped edge list the
    * distributed distinct() bounds first; under the edge cap the
    * driver runs the SAME synchronous update on a CSR in one linear
    * pass per round — label-frequency graphs converge in a handful of
    * rounds, so the local path trades O(rounds) scheduled jobs for
    * milliseconds while staying bit-identical to the distributed
    * fixpoint (spec-asserted parity).
    *
    * @return (node, community) — community = the converged label
    *         (the smallest most-frequent label wins everywhere)
    */
  def labelPropagation(edgesIn: DataFrame, aCol: String, bCol: String,
                       maxIter: Int = 50): DataFrame = {
    val spark = edgesIn.sparkSession
    val canon = edgesIn
      .select(least(col(aCol), col(bCol)).cast("long").as("x"),
        greatest(col(aCol), col(bCol)).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true)
    val r = SizeRoute.decide(canon, eligible = true, SizeRoute.MaxLocalEdges)
    r.localPairs match {
      case Some(es) =>
        return SizeRoute.rddBacked(spark, SizeRoute.longCols("node", "community"),
          lpaLocal(es, maxIter).toSeq)(Row.fromTuple)
      case None =>
    }
    val sym = canon.unionAll(canon.select(col("y").as("x"), col("x").as("y")))
      .localCheckpoint(true)
    var labels = sym.select(col("x").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbour votes + the node's own current label (one vote)
      val votes = sym
        .join(labels.select(col("node").as("y"), col("lbl").as("nl")), Seq("y"))
        .select(col("x").as("node"), col("nl").as("l"))
        .unionAll(labels.select(col("node"), col("lbl").as("l")))
      val next = votes.groupBy(col("node"), col("l"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("node"))
        // argmax by (count desc, label asc): max struct of (cnt, -l)
        .agg(max(struct(col("cnt"), (-col("l")).as("nl"))).as("best"))
        .select(col("node"), (-col("best.nl")).as("lbl"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("lbl", "prev"), Seq("node"))
        .filter(col("lbl") =!= col("prev")).isEmpty
      labels = next
      i += 1
    }
    require(converged,
      s"labelPropagation: no fixpoint after maxIter=$maxIter synchronous " +
        "rounds — raise maxIter (or the graph oscillates; see the " +
        "self-inclusion note)")
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Newman MODULARITY of a community assignment — the standard
    * partition-quality score (Newman & Girvan 2004):
    * Q = Σ_c [ e_c/m − (d_c/2m)² ] where e_c = edges inside community
    * c, d_c = degree mass of c, m = |E|. The quality half next to
    * [[labelPropagation]]'s assignment half: score ANY labeling
    * (LPA output, a dimension column, a competitor's clustering)
    * against the graph.
    *
    * EXACT integer algebra until the final division: the per-
    * community contribution is (4·m·e_c − d_c²) / 4m², with the
    * numerator in DECIMAL(38,0) (d_c ≤ 2m, so d_c² ≤ 4m² ≈ 4e18
    * already brushes bigint at m = 1e9 edges — decimal is the
    * 100 TB-safe form) and ONE double division rounded to 9 —
    * bit-deterministic under any partitioning, DuckDB-replicable.
    *
    * Plan shape: two broadcast-able joins of the edge list against
    * the (node, community) assignment (dimension-sized by
    * construction), two community-cardinality aggregates, and the
    * scalar m cross-joined broadcast. Nodes missing from the
    * assignment refuse (a silent drop would misstate d_c).
    *
    * @param assignment (node, community) — every edge endpoint must
    *                   appear exactly once
    * @return one row per community: (community, n_nodes, e_in,
    *         deg_sum, q_contrib); Σ q_contrib = Q
    */
  def modularity(edgesIn: DataFrame, aCol: String, bCol: String,
                 assignment: DataFrame, nodeCol: String,
                 communityCol: String): DataFrame = {
    val canon = edgesIn
      .select(least(col(aCol), col(bCol)).cast("long").as("x"),
        greatest(col(aCol), col(bCol)).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true) // feeds deg, e_c and the m scalar
    val assign = assignment.select(col(nodeCol).cast("long").as("node"),
      col(communityCol).as("community"))
    val deg = canon.select(col("x").as("node"))
      .unionAll(canon.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // missing-endpoint refusal IN-PLAN (r18 — previously its own
    // eager isEmpty ACTION over the deg aggregate, a whole extra
    // scheduled pass before the real one): the unassigned count rides
    // the same broadcast scalar as m, and the gate multiplies into
    // EVERY output column (the anovaFromCells convention), so any
    // projection that reads a statistic raises, naming the count
    val missing = deg.join(assign.select(col("node")), Seq("node"),
        "left_anti")
      .agg(count(lit(1)).as("__miss"))
    // d_c: degree mass per community (nodes without edges contribute 0
    // and communities of only such nodes score 0 — keep them visible)
    val dc = assign.join(deg, Seq("node"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).cast("bigint").as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).cast("decimal(20,0)").as("d_c"))
    // e_c: edges with BOTH endpoints in c
    val ec = canon
      .join(assign.select(col("node").as("x"), col("community").as("cx")), Seq("x"))
      .join(assign.select(col("node").as("y"), col("community").as("cy")), Seq("y"))
      .filter(col("cx") === col("cy"))
      .groupBy(col("cx").as("community"))
      .agg(count(lit(1)).cast("bigint").as("e_in"))
    val m = canon.agg(count(lit(1)).cast("decimal(20,0)").as("m"))
      .crossJoin(missing)
    val refusal = raise_error(concat(lit("modularity: "),
      col("__miss").cast("string"),
      lit(" edge endpoints missing from the assignment — a silent " +
        "drop would misstate the community degree mass")))
    def gate(c: Column, tpe: String): Column =
      when(col("__miss") === 0, c).otherwise(refusal.cast(tpe))
    refuseMissing(m, refusal, dc.join(ec, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"),
        gate(col("n_nodes"), "bigint").as("n_nodes"),
        gate(coalesce(col("e_in"), lit(0L)).cast("bigint"), "bigint")
          .as("e_in"),
        gate(col("d_c").cast("bigint"), "bigint").as("deg_sum"),
        gate(round((col("m") * coalesce(col("e_in"), lit(0L)).cast("decimal(20,0)") * 4
          - col("d_c") * col("d_c")).cast("decimal(38,0)").cast("double") /
          (col("m") * col("m") * 4).cast("decimal(38,0)").cast("double"), 9),
          "double").as("q_contrib")))
  }

  /** `rows` plus one branch over the one-row `scalar` (which carries
    * `__miss`) that raises `refusal` by itself. The column gates need
    * a row to ride on, so without it an empty assignment — or a
    * consumer that reads no gated column (a community-only
    * projection, a count) — would get a quiet frame. The branch is a
    * FILTER, which no column pruning removes, and it yields no row
    * when nothing is missing.
    */
  private def refuseMissing(scalar: DataFrame, refusal: Column,
                            rows: DataFrame): DataFrame =
    rows.unionByName(scalar
      .filter(when(col("__miss") === 0, lit(false))
        .otherwise(refusal.cast("boolean")))
      .select(rows.schema.fields.toIndexedSeq
        .map(f => lit(null).cast(f.dataType).as(f.name)): _*))

  /** CONDUCTANCE of each community in an assignment — the
    * cut-quality companion to [[modularity]] (Kannan–Vempala–Vetta
    * 2004): φ(c) = cut(c) / min(vol(c), vol(rest)), cut = edges with
    * exactly one endpoint in c, vol = degree mass. Low φ = a
    * well-separated community; modularity rewards internal density,
    * conductance punishes external leakage — the two disagree
    * exactly where a partition is interesting. Same plan shape as
    * modularity (two broadcast-able edge-vs-assignment joins + two
    * community-cardinality aggregates), same missing-endpoint
    * refusal, exact integers until ONE double division rounded 9
    * (null for a community with zero volume on either side).
    *
    * @return (community, n_nodes, cut_edges, deg_sum, conductance)
    */
  def conductance(edgesIn: DataFrame, aCol: String, bCol: String,
                  assignment: DataFrame, nodeCol: String,
                  communityCol: String): DataFrame = {
    val canon = edgesIn
      .select(least(col(aCol), col(bCol)).cast("long").as("x"),
        greatest(col(aCol), col(bCol)).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true) // deg, cut and the total-volume scalar
    val assign = assignment.select(col(nodeCol).cast("long").as("node"),
      col(communityCol).as("community"))
    val deg = canon.select(col("x").as("node"))
      .unionAll(canon.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // missing-endpoint refusal IN-PLAN (r18 — the modularity gate):
    // the unassigned count rides the total-volume broadcast scalar
    val missing = deg.join(assign.select(col("node")), Seq("node"),
        "left_anti")
      .agg(count(lit(1)).as("__miss"))
    val dc = assign.join(deg, Seq("node"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).cast("bigint").as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).cast("bigint").as("deg_sum"))
    val withC = canon
      .join(assign.select(col("node").as("x"), col("community").as("cx")), Seq("x"))
      .join(assign.select(col("node").as("y"), col("community").as("cy")), Seq("y"))
    // a cut edge counts toward BOTH of its endpoint communities
    val cut = withC.filter(col("cx") =!= col("cy"))
      .select(explode(array(col("cx"), col("cy"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).cast("bigint").as("cut_edges"))
    val totalVol = canon.agg((count(lit(1)) * 2).cast("bigint").as("vol_all"))
      .crossJoin(missing)
    val refusal = raise_error(concat(lit("conductance: "),
      col("__miss").cast("string"),
      lit(" edge endpoints missing from the assignment — a silent " +
        "drop would misstate the community volume")))
    def gate(c: Column, tpe: String): Column =
      when(col("__miss") === 0, c).otherwise(refusal.cast(tpe))
    refuseMissing(totalVol, refusal, dc.join(cut, Seq("community"), "left")
      .crossJoin(broadcast(totalVol))
      .select(col("community"),
        gate(col("n_nodes"), "bigint").as("n_nodes"),
        gate(coalesce(col("cut_edges"), lit(0L)).cast("bigint"), "bigint")
          .as("cut_edges"),
        gate(col("deg_sum"), "bigint").as("deg_sum"),
        gate(when(col("deg_sum") > 0 && col("vol_all") - col("deg_sum") > 0,
          round(coalesce(col("cut_edges"), lit(0L)).cast("double") /
            least(col("deg_sum"), col("vol_all") - col("deg_sum"))
              .cast("double"), 9))
          .otherwise(lit(null).cast("double")), "double").as("conductance")))
  }

  /** LINK PREDICTION by common-neighbor counting — the classic
    * structural-similarity candidate generator (Liben-Nowell &
    * Kleinberg 2003): for every NON-adjacent pair (a, b) sharing at
    * least one neighbor, report |N(a) ∩ N(b)| and the exact-integer
    * Jaccard share |N(a)∩N(b)|·10⁶ DIV |N(a)∪N(b)| (the q85/PMI
    * no-float ranking convention — log-weighted variants like
    * Adamic–Adar would hang cross-engine hashes on ln ulps).
    *
    * Plan shape: wedges enumerate at their CENTER (each 2-path a–c–b
    * counted once via a < b), one aggregate to (a, b, cn), one
    * left-anti join removes existing edges, degrees broadcast back,
    * heap-based top-k — never a window sort. Wedge volume is
    * Σ_c deg(c)², the [[triangleCount]] cost class — which one
    * social-scale HUB can silently take quadratic (a degree-10⁶
    * center is 10¹² wedge rows in a single key), so centers past
    * `maxDegree` are SKIPPED from wedge enumeration, quantified by
    * [[commonNeighborLinksWithReport]] (the embeddingNearDup
    * skip-and-report convention). The skip is also statistically
    * honest: a mega-hub certifies almost nothing about its
    * neighbours' pairwise affinity — hub-mediated common-neighbor
    * evidence is exactly what Adamic–Adar down-weights to ≈ 0.
    * Degrees in the output (and the Jaccard denominator) stay TRUE
    * degrees — only the wedge CENTER role is capped.
    *
    * @param maxDegree centers above this degree do not generate
    *                  wedges; defaults far above any dimension-sized
    *                  co-occurrence graph’s hub
    * @return top-k rows (x, y, common, jaccard_ppm, deg_x, deg_y)
    *         ordered by (common desc, jaccard_ppm desc, x, y)
    */
  /** NOTE on completeness: the default `maxDegree` cap applies here
    * too — if the graph has a hub past the cap, its wedges are
    * silently absent from THIS entry point's result. The plain path
    * therefore reads the one-row report eagerly (the degree table is
    * already checkpointed — the readout is a model-sized aggregate)
    * and WARNS when anything was skipped; callers that need the
    * skip counts programmatically use
    * [[commonNeighborLinksWithReport]].
    */
  def commonNeighborLinks(edgesIn: DataFrame, aCol: String, bCol: String,
                          k: Int = 20,
                          maxDegree: Long = 100000L): DataFrame = {
    val (links, report) =
      commonNeighborLinksWithReport(edgesIn, aCol, bCol, k, maxDegree)
    val r = report.head()
    if (r.getLong(0) > 0) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"commonNeighborLinks: ${r.getLong(0)} hubs past " +
          s"maxDegree=$maxDegree skipped as wedge centers " +
          s"(${r.getLong(2)} wedges, max degree seen ${r.getLong(1)}) " +
          "— use commonNeighborLinksWithReport for the counts")
    }
    links
  }

  /** [[commonNeighborLinks]] plus its cap-opt-out report: `(links,
    * report)` where the report is ONE row — (hubs_skipped,
    * max_degree_seen, wedges_skipped) — quantifying what the
    * `maxDegree` center cap excluded (wedges_skipped = Σ over
    * skipped hubs of deg·(deg−1)/2, the exact wedge count the cap
    * refused to enumerate). A capped path that doesn’t say how much
    * it skipped looks complete when it isn’t.
    */
  def commonNeighborLinksWithReport(edgesIn: DataFrame, aCol: String,
                                    bCol: String, k: Int = 20,
                                    maxDegree: Long = 100000L)
      : (DataFrame, DataFrame) = {
    require(maxDegree > 0, s"maxDegree must be positive, got $maxDegree")
    val canon = edgesIn
      .select(least(col(aCol), col(bCol)).cast("long").as("x"),
        greatest(col(aCol), col(bCol)).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true) // wedges + anti-join + degrees
    val sym = canon.unionAll(canon.select(col("y").as("x"), col("x").as("y")))
    val deg = sym.groupBy(col("x").as("node"))
      .agg(count(lit(1)).cast("bigint").as("deg"))
      .localCheckpoint(true) // the hub filter, the report, two join-backs
    // TOTAL one-row report: on an EMPTY edge input the aggregates
    // would return NULLs, which a bigint-reading consumer NPEs on —
    // coalesce every field to zero
    val report = deg.agg(
      coalesce(sum(when(col("deg") > maxDegree, 1L).otherwise(0L)),
        lit(0L)).cast("bigint").as("hubs_skipped"),
      coalesce(max(col("deg")), lit(0L)).cast("bigint")
        .as("max_degree_seen"),
      coalesce(sum(when(col("deg") > maxDegree,
        expr("deg * (deg - 1) DIV 2")).otherwise(0L)), lit(0L))
        .cast("bigint").as("wedges_skipped"))
    // wedges at their center: neighbor pairs (a < b) of each c —
    // centers past the cap are excluded BEFORE the self-join, so the
    // quadratic key never materializes
    val centers = sym.join(
      deg.filter(col("deg") <= maxDegree).select(col("node").as("x")),
      Seq("x"))
      .select(col("x").as("c"), col("y"))
    val cn = centers.select(col("c"), col("y").as("a"))
      .join(centers.select(col("c"), col("y").as("b")), Seq("c"))
      .filter(col("a") < col("b"))
      .groupBy(col("a").as("x"), col("b").as("y"))
      .agg(count(lit(1)).cast("bigint").as("common"))
      .join(canon, Seq("x", "y"), "left_anti") // candidates only
      .join(deg.select(col("node").as("x"), col("deg").as("deg_x")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("deg_y")), Seq("y"))
      .select(col("x"), col("y"), col("common"),
        expr("common * 1000000 DIV (deg_x + deg_y - common)")
          .cast("bigint").as("jaccard_ppm"),
        col("deg_x"), col("deg_y"))
    // global top-k: sort+limit plans to TakeOrderedAndProject (the
    // partial+final heap), never a full sort
    (cn.orderBy(col("common").desc, col("jaccard_ppm").desc,
        col("x"), col("y"))
      .limit(k), report)
  }

  /** Modularity-guided COMMUNITY DETECTION — deterministic Louvain-
    * family local-move refinement (Blondel et al. 2008 over the
    * Newman–Girvan 2004 objective): the assignment half that SURVIVES
    * dense graphs, where plain [[labelPropagation]] floods to one
    * label per component (the pinned Raghavan '07 epidemic mode —
    * honest but empty). Two phases:
    *
    *  1. NODE-SCALE synchronous local-move rounds from singleton
    *     seeds. Every node scores a move to each neighbouring
    *     community with the exact integer gain comparison
    *     score(c) = 2m·k(v,c) − d_v·d_c  vs
    *     stay = 2m·k(v,a) − d_v·(d_a − d_v)
    *     (k(v,c) = edges from v into c; ties → smallest community
    *     label; move only on a STRICT win). Synchronous batches can
    *     oscillate (the classic two-node swap), so a round's batch is
    *     accepted only if the EXACT integer modularity numerator
    *     Σ_c (4m·e_c − d_c²) strictly increases — otherwise the batch
    *     is reverted and the phase stops: Q is bounded above, so
    *     termination is guaranteed, and every step is
    *     bit-deterministic under any partitioning.
    *  2. COMMUNITY-SCALE sequential refinement. The level-1 partition
    *     is contracted to a weighted graph (self-loops carry the
    *     internal edge mass) — community-cardinality by construction,
    *     collected under the same named cap — and classic SEQUENTIAL
    *     Louvain local-move passes + contractions run to a fixpoint
    *     on the driver (ascending-label node order, min-label ties,
    *     strictly positive gains: each accepted move strictly
    *     increases Q, so termination is guaranteed). Sequential moves
    *     escape the local optima the synchronous phase leaves behind —
    *     e.g. the reverted half-swap on a two-clique graph.
    *
    * Size-routed by [[SizeRoute]]: under the edge cap the whole
    * phase-1 fixpoint runs on a driver CSR
    * with the SAME synchronous update — bit-identical to the
    * distributed rounds (spec-asserted parity). Phase 2 scores in
    * BigInt: contracted weights sum to the ORIGINAL edge count m,
    * whose 2m·w products overflow Long past m ≈ 1.5e9.
    *
    * Output labels are canonical — each community is named by its
    * smallest member node id — so the result is a pure function of
    * the graph.
    *
    * @return (node, community)
    */
  def louvain(edgesIn: DataFrame, aCol: String, bCol: String,
              maxIter: Int = 50): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val canon = edgesIn
      .select(least(col(aCol), col(bCol)).cast("long").as("x"),
        greatest(col(aCol), col(bCol)).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true)
    val r = SizeRoute.decide(canon, eligible = true, SizeRoute.MaxLocalEdges)
    val level1 = r.localPairs match {
      case Some(es) =>
        SizeRoute.rddBacked(spark, SizeRoute.longCols("node", "c1"),
          louvainSyncLocal(es, maxIter).toSeq)(Row.fromTuple)
      case None =>
        louvainSyncDistributed(canon, r.rows.getOrElse(canon.count()), maxIter)
    }
    // contract to the weighted community graph (p ≤ q; p = q rows
    // carry the internal edge mass) — community-cardinality
    val wedges = canon
      .join(level1.select(col("node").as("x"), col("c1").as("cx")), Seq("x"))
      .join(level1.select(col("node").as("y"), col("c1").as("cy")), Seq("y"))
      .select(least(col("cx"), col("cy")).as("p"),
        greatest(col("cx"), col("cy")).as("q"))
      .groupBy(col("p"), col("q")).agg(count(lit(1)).cast("long").as("w"))
      .localCheckpoint(true)
    // phase 2 is driver-local on every route: a forced route moves
    // phase 1 only, never this community-cardinality collect
    val nW = wedges.count()
    require(nW <= SizeRoute.MaxLocalEdges,
      s"louvain: contracted community graph has $nW weighted edges > " +
        s"${SizeRoute.MaxLocalEdges} — phase-2 refinement collects " +
        "the contracted graph to the driver, which this one exceeds")
    val refined = spark.createDataset(
        louvainWeightedLocal(wedges.as[(Long, Long, Long)].collect(),
          maxIter).toSeq)
      .toDF("c1", "c2")
    val out = level1.join(broadcast(refined), Seq("c1"))
    val canonLbl = out.groupBy(col("c2"))
      .agg(min(col("node")).as("community"))
    out.join(broadcast(canonLbl), Seq("c2"))
      .select(col("node"), col("community"))
  }

  /** Phase-1 synchronous local-move rounds, distributed: one degree
    * join, one neighbour-community count, one community-volume
    * aggregate and one exact-Q acceptance check per round, labels
    * pinned by eager localCheckpoint (the PageRank lineage lesson).
    * All scores in DECIMAL(38,0) — 2m·k and d_v·d_c overflow bigint
    * past m ≈ 1.5e9 edges.
    */
  private def louvainSyncDistributed(canon: DataFrame, m: Long,
                                     maxIter: Int): DataFrame = {
    val sym = canon.unionAll(canon.select(col("y").as("x"), col("x").as("y")))
      .localCheckpoint(true)
    val deg = sym.groupBy(col("x").as("node"))
      .agg(count(lit(1)).cast("decimal(19,0)").as("deg"))
      .localCheckpoint(true)
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val m4 = dec(lit(m) * lit(4))
    val m2 = dec(lit(m) * lit(2))
    def qnum(lbls: DataFrame): java.math.BigDecimal = {
      val vol = lbls.join(deg, Seq("node"))
        .groupBy(col("lbl")).agg(sum(col("deg")).as("vol"))
      val ein = canon
        .join(lbls.select(col("node").as("x"), col("lbl").as("cx")), Seq("x"))
        .join(lbls.select(col("node").as("y"), col("lbl").as("cy")), Seq("y"))
        .filter(col("cx") === col("cy"))
        .groupBy(col("cx").as("lbl"))
        .agg(count(lit(1)).cast("decimal(19,0)").as("e_in"))
      val r = vol.join(ein, Seq("lbl"), "left")
        .select(dec(m4 * coalesce(col("e_in"), lit(0).cast("decimal(19,0)"))
          - col("vol") * col("vol")).as("t"))
        .agg(sum(col("t"))).head().getDecimal(0)
      if (r == null) java.math.BigDecimal.ZERO else r
    }
    var labels = deg.select(col("node")).withColumn("lbl", col("node"))
      .localCheckpoint(true)
    var q = qnum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val vol = labels.join(deg, Seq("node"))
        .groupBy(col("lbl")).agg(sum(col("deg")).as("vol"))
        .localCheckpoint(true)
      val kvc = sym
        .join(labels.select(col("node").as("y"), col("lbl").as("c")), Seq("y"))
        .groupBy(col("x").as("node"), col("c"))
        .agg(count(lit(1)).cast("decimal(19,0)").as("k"))
        .localCheckpoint(true)
      val stay = labels.join(deg, Seq("node"))
        .join(vol.select(col("lbl"), col("vol").as("avol")), Seq("lbl"))
        .join(kvc.select(col("node"), col("c").as("lbl"), col("k").as("ka")),
          Seq("node", "lbl"), "left")
        .select(col("node"), col("lbl"),
          dec(m2 * coalesce(col("ka"), lit(0).cast("decimal(19,0)"))
            - col("deg") * (col("avol") - col("deg"))).as("stayScore"))
      val cand = kvc
        .join(labels, Seq("node"))
        .filter(col("c") =!= col("lbl"))
        .join(vol.select(col("lbl").as("c"), col("vol").as("cvol")), Seq("c"))
        .join(deg, Seq("node"))
        .select(col("node"),
          dec(m2 * col("k") - col("deg") * col("cvol")).as("score"),
          col("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("score"), (-col("c")).as("nc"))).as("best"))
        .select(col("node"), col("best.score").as("bestScore"),
          (-col("best.nc")).as("bestC"))
      val next = stay.join(cand, Seq("node"), "left")
        .select(col("node"),
          when(col("bestScore").isNotNull &&
            col("bestScore") > col("stayScore"), col("bestC"))
            .otherwise(col("lbl")).as("lbl"))
        .localCheckpoint(true)
      val anyMove = !next
        .join(labels.withColumnRenamed("lbl", "prev"), Seq("node"))
        .filter(col("lbl") =!= col("prev")).isEmpty
      if (!anyMove) converged = true
      else {
        val q2 = qnum(next)
        if (q2.compareTo(q) > 0) { labels = next; q = q2 }
        else converged = true // the batch oscillated: revert and stop
      }
      i += 1
    }
    require(converged,
      s"louvain: phase-1 synchronous local-move still improving after " +
        s"maxIter=$maxIter rounds — raise maxIter")
    labels.select(col("node"), col("lbl").as("c1"))
  }

  /** Driver-local phase 1: the SAME synchronous update on a CSR —
    * bit-identical to [[louvainSyncDistributed]] (parity
    * spec-asserted). Long arithmetic is safe here: the local route is
    * only taken under [[SizeRoute.MaxLocalEdges]] collected edges.
    */
  private[graft] def louvainSyncLocal(edges: Array[(Long, Long)], maxIter: Int)
      : Array[(Long, Long)] = {
    val idOf = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    def intern(v: Long): Int =
      idOf.getOrElseUpdate(v, { val i = ids.length; ids += v; i })
    val mE = edges.length
    val ea = new Array[Int](mE); val eb = new Array[Int](mE)
    var e = 0
    while (e < mE) {
      ea(e) = intern(edges(e)._1); eb(e) = intern(edges(e)._2); e += 1
    }
    val n = ids.length
    val deg = new Array[Long](n)
    e = 0; while (e < mE) { deg(ea(e)) += 1; deg(eb(e)) += 1; e += 1 }
    val off = new Array[Int](n + 1)
    var i0 = 0
    while (i0 < n) { off(i0 + 1) = off(i0) + deg(i0).toInt; i0 += 1 }
    val pos = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](2 * mE)
    e = 0
    while (e < mE) {
      adj(pos(ea(e))) = eb(e); pos(ea(e)) += 1
      adj(pos(eb(e))) = ea(e); pos(eb(e)) += 1
      e += 1
    }
    val m = mE.toLong
    def volOf(l: Array[Long]): scala.collection.mutable.LongMap[Long] = {
      val vol = scala.collection.mutable.LongMap.empty[Long]
      var v = 0
      while (v < n) { vol(l(v)) = vol.getOrElse(l(v), 0L) + deg(v); v += 1 }
      vol
    }
    def qnum(l: Array[Long]): Long = {
      val vol = volOf(l)
      val ein = scala.collection.mutable.LongMap.empty[Long]
      var k = 0
      while (k < mE) {
        if (l(ea(k)) == l(eb(k)))
          ein(l(ea(k))) = ein.getOrElse(l(ea(k)), 0L) + 1L
        k += 1
      }
      var q = 0L
      vol.foreach { case (c, d) => q += 4L * m * ein.getOrElse(c, 0L) - d * d }
      q
    }
    var lbl: Array[Long] = Array.tabulate(n)(v => ids(v))
    var q = qnum(lbl)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val vol = volOf(lbl)
      val next = new Array[Long](n)
      var anyMove = false
      var v = 0
      while (v < n) {
        val a = lbl(v)
        val k = scala.collection.mutable.LongMap.empty[Long]
        var c = off(v)
        while (c < off(v + 1)) {
          val l = lbl(adj(c)); c += 1
          k(l) = k.getOrElse(l, 0L) + 1L
        }
        val stay = 2L * m * k.getOrElse(a, 0L) - deg(v) * (vol(a) - deg(v))
        var bestC = Long.MaxValue; var bestS = Long.MinValue; var has = false
        k.foreach { case (cl, kc) =>
          if (cl != a) {
            val s = 2L * m * kc - deg(v) * vol(cl)
            if (!has || s > bestS || (s == bestS && cl < bestC)) {
              bestS = s; bestC = cl; has = true
            }
          }
        }
        next(v) = if (has && bestS > stay) { anyMove = true; bestC } else a
        v += 1
      }
      if (!anyMove) converged = true
      else {
        val q2 = qnum(next)
        if (q2 > q) { lbl = next; q = q2 }
        else converged = true // the batch oscillated: revert and stop
      }
      it += 1
    }
    require(converged,
      s"louvain: phase-1 synchronous local-move still improving after " +
        s"maxIter=$maxIter rounds — raise maxIter")
    Array.tabulate(n)(v => (ids(v), lbl(v)))
  }

  /** Phase 2: sequential weighted Louvain on the contracted community
    * graph — ascending-label order, min-label ties, strictly positive
    * gains (each accepted move strictly increases Q ⇒ termination),
    * contract and recurse until a level merges nothing. Scores in
    * BigInt: contracted weights sum to the ORIGINAL m.
    *
    * @param wedges (p, q, w) with p ≤ q; p = q rows carry internal
    *               (self-loop) mass
    * @return supernode label → final community label
    */
  private[graft] def louvainWeightedLocal(wedges: Array[(Long, Long, Long)],
                                          maxIter: Int): Map[Long, Long] = {
    val allNodes = wedges.flatMap(t => Array(t._1, t._2)).distinct
    var mapping: Map[Long, Long] = allNodes.map(l => l -> l).toMap
    var cur = wedges
    val twoM: BigInt = BigInt(2) * cur.map(t => BigInt(t._3)).sum
    var merging = twoM > 0
    var levels = 0
    while (merging) {
      levels += 1
      require(levels <= maxIter,
        s"louvain: refinement still contracting after maxIter=$maxIter " +
          "levels — raise maxIter")
      val nodes = cur.flatMap(t => Array(t._1, t._2)).distinct.sorted
      val adj = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.LongMap[Long]]
      nodes.foreach(v => adj(v) = scala.collection.mutable.LongMap.empty[Long])
      val self = scala.collection.mutable.LongMap.empty[Long]
      cur.foreach { case (p, qq, w) =>
        if (p == qq) self(p) = self.getOrElse(p, 0L) + w
        else {
          adj(p)(qq) = adj(p).getOrElse(qq, 0L) + w
          adj(qq)(p) = adj(qq).getOrElse(p, 0L) + w
        }
      }
      val s = scala.collection.mutable.LongMap.empty[Long]
      nodes.foreach { v =>
        var t = 2L * self.getOrElse(v, 0L)
        adj(v).foreach { case (_, w) => t += w }
        s(v) = t
      }
      val comm = scala.collection.mutable.LongMap.empty[Long]
      val svol = scala.collection.mutable.LongMap.empty[Long]
      nodes.foreach { v => comm(v) = v; svol(v) = s(v) }
      var movedAny = false
      var movedInPass = true
      var pass = 0
      while (movedInPass) {
        pass += 1
        require(pass <= maxIter,
          s"louvain: refinement pass limit maxIter=$maxIter hit — " +
            "raise maxIter")
        movedInPass = false
        nodes.foreach { v =>
          val a = comm(v)
          val kc = scala.collection.mutable.LongMap.empty[Long]
          adj(v).foreach { case (u, w) =>
            val cu = comm(u); kc(cu) = kc.getOrElse(cu, 0L) + w
          }
          val sv = BigInt(s(v))
          val stay = twoM * BigInt(kc.getOrElse(a, 0L)) -
            sv * BigInt(svol(a) - s(v))
          var bestC = Long.MaxValue; var bestS: BigInt = null
          kc.foreach { case (c, w) =>
            if (c != a) {
              val sc = twoM * BigInt(w) - sv * BigInt(svol(c))
              if (bestS == null || sc > bestS || (sc == bestS && c < bestC)) {
                bestS = sc; bestC = c
              }
            }
          }
          if (bestS != null && bestS > stay) {
            comm(v) = bestC
            svol(a) -= s(v); svol(bestC) += s(v)
            movedInPass = true; movedAny = true
          }
        }
      }
      if (!movedAny) merging = false
      else {
        // canonical labels at this level: min member label
        val minLbl = scala.collection.mutable.LongMap.empty[Long]
        nodes.foreach { v =>
          val c = comm(v)
          minLbl(c) = math.min(minLbl.getOrElse(c, Long.MaxValue), v)
        }
        def toNew(v: Long): Long = minLbl(comm(v))
        mapping = mapping.map { case (orig, curL) => orig -> toNew(curL) }
        val agg = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        cur.foreach { case (p, qq, w) =>
          val np = toNew(p); val nq = toNew(qq)
          val key = (math.min(np, nq), math.max(np, nq))
          agg(key) = agg.getOrElse(key, 0L) + w
        }
        cur = agg.iterator.map { case ((p, qq), w) => (p, qq, w) }.toArray
      }
    }
    mapping
  }

  /** Driver-local LPA: the SAME synchronous most-frequent-
    * neighbour+self / min-label update on a CSR, one array pass per
    * round — bit-identical to the distributed fixpoint (parity
    * spec-asserted), linear per round in |V|+|E|.
    */
  private[graft] def lpaLocal(edges: Array[(Long, Long)], maxIter: Int)
      : Array[(Long, Long)] = {
    val idOf = scala.collection.mutable.LongMap.empty[Int]
    val ids = scala.collection.mutable.ArrayBuffer[Long]()
    def intern(v: Long): Int =
      idOf.getOrElseUpdate(v, { val i = ids.length; ids += v; i })
    val m = edges.length
    val ea = new Array[Int](m); val eb = new Array[Int](m)
    var e = 0
    while (e < m) {
      ea(e) = intern(edges(e)._1); eb(e) = intern(edges(e)._2); e += 1
    }
    val n = ids.length
    val deg = new Array[Int](n)
    e = 0; while (e < m) { deg(ea(e)) += 1; deg(eb(e)) += 1; e += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val pos = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](2 * m)
    e = 0
    while (e < m) {
      adj(pos(ea(e))) = eb(e); pos(ea(e)) += 1
      adj(pos(eb(e))) = ea(e); pos(eb(e)) += 1
      e += 1
    }
    var lbl = Array.tabulate(n)(v => ids(v)) // labels are ORIGINAL ids
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = new Array[Long](n)
      converged = true
      var v = 0
      while (v < n) {
        // count neighbour labels + self; argmax (count, then min label)
        val counts = scala.collection.mutable.LongMap.empty[Int]
        var c = off(v)
        while (c < off(v + 1)) {
          val l = lbl(adj(c)); c += 1
          counts(l) = counts.getOrElse(l, 0) + 1
        }
        counts(lbl(v)) = counts.getOrElse(lbl(v), 0) + 1
        var bestL = Long.MaxValue; var bestC = -1
        counts.foreach { case (l, cnt) =>
          if (cnt > bestC || (cnt == bestC && l < bestL)) { bestC = cnt; bestL = l }
        }
        next(v) = bestL
        if (bestL != lbl(v)) converged = false
        v += 1
      }
      lbl = next
      it += 1
    }
    require(converged,
      s"labelPropagation: no fixpoint after maxIter=$maxIter synchronous " +
        "rounds — raise maxIter (or the graph oscillates; see the " +
        "self-inclusion note)")
    Array.tabulate(n)(v => (ids(v), lbl(v)))
  }

  /** Longest-path layering of a DAG — dependency-scheduling levels:
    * level(v) = the longest chain of edges ending at v (sources at
    * 0), i.e. the earliest parallel wave v can run in. Iterative
    * zero-in-degree peeling, one degree aggregate + two anti-joins
    * per level (the kCore loop shape, eager localCheckpoint per
    * round). REFUSES on a cycle (no zero-in-degree node while nodes
    * remain — a layering of a cyclic graph does not exist; run
    * [[scc]] + condense first) and on maxIter exhaustion.
    *
    * Size-routed by [[SizeRoute]]: layering inputs are
    * condensation/dependency DAGs over a dimension; under the edge
    * cap the driver layers the deduped edge set in one linear Kahn
    * pass — the distributed peel costs O(longest path) scheduled
    * jobs, which dominates wall clock on a deep chain. Beyond the cap
    * the distributed peel runs unchanged.
    *
    * Edges with a null endpoint are dropped on both routes: a null is
    * no node, and the peel's anti-joins could never retire it.
    *
    * @return (node, level) over the edge endpoints
    */
  def topoLevels(edgesIn: DataFrame, srcCol: String, dstCol: String,
                 maxIter: Int = 200, partitions: Int = 0): DataFrame = {
    val repart: DataFrame => DataFrame =
      df => if (partitions > 0) df.repartition(partitions, col("s")) else df
    var edges = repart(edgesIn
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("t"))
      .filter(col("s").isNotNull && col("t").isNotNull)
      .distinct()).localCheckpoint(true)
    require(edges.filter(col("s") === col("t")).isEmpty,
      "topoLevels: self-loop found — the graph is not a DAG")
    val r = SizeRoute.decide(edges, eligible = true, SizeRoute.MaxLocalEdges)
    r.localPairs match {
      case Some(es) =>
        val out = SizeRoute.rddBacked(edgesIn.sparkSession,
          SizeRoute.longCols("node", "level"), topoLevelsLocal(es).toSeq)(
          Row.fromTuple)
        return if (partitions > 0) out.repartition(partitions, col("node"))
               else out
      case None =>
    }
    var nodes = edges.select(col("s").as("node"))
      .unionAll(edges.select(col("t").as("node")))
      .distinct().localCheckpoint(true)
    var out = nodes.limit(0).withColumn("level", lit(0L))
    var level = 0L
    while (!nodes.isEmpty && level < maxIter) {
      val wave = nodes.join(edges.select(col("t").as("node")).distinct(),
        Seq("node"), "left_anti").localCheckpoint(true)
      require(!wave.isEmpty,
        "topoLevels: no zero-in-degree node but nodes remain — the " +
          "graph has a cycle; a DAG layering does not exist (run scc " +
          "and condense first)")
      out = out.unionByName(wave.withColumn("level", lit(level)))
        .localCheckpoint(true)
      nodes = nodes.join(wave, Seq("node"), "left_anti").localCheckpoint(true)
      edges = edges.join(wave.select(col("node").as("s")), Seq("s"), "left_anti")
        .select(col("s"), col("t")).localCheckpoint(true)
      level += 1
    }
    require(nodes.isEmpty,
      s"topoLevels: maxIter=$maxIter levels exhausted with nodes " +
        "remaining — raise maxIter (level count = longest path length)")
    out
  }

  /** Driver-local longest-path layering: Kahn's queue with
    * level(w) = max(level(w), level(v)+1) on each relaxed edge —
    * linear in |V|+|E|. Refuses on a cycle (some node never reaches
    * in-degree 0), matching the distributed peel's refusal.
    */
  private[graft] def topoLevelsLocal(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
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
    val n = ids.length
    val deg = new Array[Int](n)
    val indeg = new Array[Int](n)
    e = 0; while (e < m) { deg(srcs(e)) += 1; indeg(dsts(e)) += 1; e += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val pos = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](m)
    e = 0
    while (e < m) { adj(pos(srcs(e))) = dsts(e); pos(srcs(e)) += 1; e += 1 }
    val level = new Array[Long](n)
    val queue = new Array[Int](n); var qHead = 0; var qTail = 0
    i = 0
    while (i < n) { if (indeg(i) == 0) { queue(qTail) = i; qTail += 1 }; i += 1 }
    var seen = 0
    while (qHead < qTail) {
      val v = queue(qHead); qHead += 1; seen += 1
      var c = off(v)
      while (c < off(v + 1)) {
        val w = adj(c); c += 1
        if (level(v) + 1 > level(w)) level(w) = level(v) + 1
        indeg(w) -= 1
        if (indeg(w) == 0) { queue(qTail) = w; qTail += 1 }
      }
    }
    require(seen == n,
      "topoLevels: no zero-in-degree node but nodes remain — the " +
        "graph has a cycle; a DAG layering does not exist (run scc " +
        "and condense first)")
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), level(i)); i += 1 }
    out
  }

  /** HARMONIC CENTRALITY, exact all-pairs (Marchiori & Latora 2000;
    * Boldi–Vigna 2014 argue it over closeness because it handles
    * DISCONNECTION gracefully — unreachable nodes contribute 0, not
    * ∞): H(u) = Σ_{v≠u} 1/d(u, v) over the undirected graph.
    *
    * EXACT: distances from one [[Bfs.perSourceBfs]] sweep (composite
    * (source, node) frontier — every source simultaneously, the
    * landmark layout), and the reciprocal sum enters as the exact
    * integer Σ ⌊10⁶/d⌋ per node — ORDER-FREE (the ppm discipline; a
    * float Σ1/d would be partition-order-sensitive), one descaling
    * at the end.
    *
    * All-pairs BFS state is |V|·|reach| pairs — the exact form is
    * for DIMENSION-SIZED graphs (brands, categories, nations — the
    * co-occurrence graphs this library builds), REFUSED above
    * `maxNodes`; sample sources for larger graphs (Eppstein–Wang)
    * before calling. Truncation refuses inside perSourceBfs.
    *
    * @return (node, n_reached, h_ppm, harmonic) ordered by
    *         (h_ppm desc, node)
    */
  def harmonicCentrality(edgesIn: DataFrame, aCol: String, bCol: String,
                         maxNodes: Long = 2000L,
                         maxHops: Int = 64): DataFrame = {
    val canon = edgesIn
      .select(least(col(aCol), col(bCol)).cast("long").as("x"),
        greatest(col(aCol), col(bCol)).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .distinct()
      .localCheckpoint(true) // node census + both sweep directions
    val nodes = canon.select(col("x").as("node"))
      .unionAll(canon.select(col("y").as("node"))).distinct()
      .localCheckpoint(true)
    val nNodes = nodes.count()
    require(nNodes <= maxNodes,
      s"harmonicCentrality: $nNodes nodes > maxNodes=$maxNodes — " +
        "all-pairs BFS state is |V|·|reach|; this exact form is for " +
        "dimension-sized graphs (sample sources for larger ones)")
    val sym = canon.unionByName(
      canon.select(col("y").as("x"), col("x").as("y")))
    val dist = Bfs.perSourceBfs(sym, "x", "y", nodes, "node", maxHops)
    dist.filter(col("dist") > 0)
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("bigint").as("n_reached"),
        sum(expr("1000000 DIV dist")).cast("bigint").as("h_ppm"))
      .withColumn("harmonic",
        round(col("h_ppm").cast("double") / lit(1000000.0), 6))
      .orderBy(col("h_ppm").desc, col("node"))
  }
}
