package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Connected components over a near-duplicate pair graph — the
  * clustering step after pair generation: every document in a
  * component shares its representative (the minimum id), so "keep one
  * per component" drops all transitive duplicates.
  *
  * Distributed min-label propagation with pointer jumping: each
  * iteration first takes the min label over graph neighbors (one
  * join+aggregate on the edge list), then follows the label pointer
  * one hop (`component := component's component`). The jump compresses
  * label paths, so the labelled distance roughly DOUBLES per
  * iteration: chains of length d converge in O(log d) iterations
  * instead of O(d), while the tiny-clique graphs that dominate
  * near-dup clustering still finish in 2-3. Each iteration's result
  * is materialized with an eager localCheckpoint — truncating the
  * LOGICAL plan, not just execution lineage — so neither the plan nor
  * Catalyst's per-iteration planning cost grows with iterations or
  * with the depth of the pair-generation plan upstream.
  */
object Components {

  /** @param pairs two-column DataFrame of undirected edges
    * @param partitions partition count for the cached edge/label
    *        frames; 0 = the session's shuffle-partition default.
    *        Each iteration schedules a handful of stages over these
    *        partitions, so when the GRAPH is known to be model-sized
    *        (an entity-resolution dim, a capped pair table) a small
    *        explicit count removes most of the per-iteration task
    *        overhead — the result is partition-count-invariant
    *        (spec-pinned), only the wall clock changes.
    * @return (id, component) with component = min id reachable
    */
  def connectedComponents(pairs: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 20,
                          partitions: Int = 0): DataFrame =
    connectedComponentsWithStats(pairs, srcCol, dstCol, maxIter, partitions)._1

  /** As [[connectedComponents]], also returning the iteration count
    * (spec hook for the O(log diameter) convergence property; the
    * driver-local route reports 0 — it runs no distributed
    * iterations).
    *
    * Size-routed by [[SizeRoute]]: the symmetrized deduped edge list
    * is already materialized for the fixpoint, so its count is a
    * plain count(); when it fits twice the edge cap (each undirected
    * edge appears in both directions) the driver runs union-find in
    * one linear pass instead of paying O(log diameter) scheduled
    * join+aggregate rounds, which dominate wall clock on the small
    * pair graphs near-dup clustering actually produces. Above the
    * cap — the 100 TB dedup regime — the distributed pointer-jumping
    * fixpoint below runs unchanged.
    */
  def connectedComponentsWithStats(pairs: DataFrame, srcCol: String, dstCol: String,
                                   maxIter: Int = 20,
                                   partitions: Int = 0): (DataFrame, Int) = {
    val edges = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    // Materialize sym hash-partitioned on src and labels on id with
    // EAGER localCheckpoint, not cache: the checkpoint truncates the
    // LOGICAL plan, so per-iteration Catalyst analysis never re-walks
    // the (possibly deep) pair-generation subtree or the previous
    // iterations' lineage — the PageRank planning-blowup lesson
    // (PageRank.scala:34-41; measured here: a capped-blocking pairs
    // plan upstream doubled total runtime under cache, purely in
    // planning). The checkpoint preserves the physical partitioning,
    // so the neighbor join and the label-update join stay
    // co-partitioned against it (no per-iteration exchange on the
    // checkpointed sides; at small SF AQE broadcasts the aggregate
    // side instead — either way the materialized data never
    // re-shuffles). Checkpoint blocks are freed by the
    // ContextCleaner once the previous iteration's frame drops out
    // of scope.
    val symBase = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val sym = (if (partitions > 0) symBase.repartition(partitions, col("src"))
               else symBase.repartition(col("src"))).localCheckpoint(true)
    // local route: `component = min id` must order identically on the
    // driver and in Spark — a given for longs; for STRINGS (entity
    // resolution) the r18 route compares UTF-8 BYTES unsigned, which
    // IS UTF8String's binary order (JVM UTF-16 compareTo would
    // disagree outside the BMP — the original collation rule; byte
    // comparison sidesteps it instead of forfeiting the route, which
    // was worth ~45 scheduled fixpoint jobs per entity-resolution
    // query). Null-bearing edges fall through to the distributed
    // fixpoint (equi-join null semantics are its contract).
    val spark = pairs.sparkSession
    val idType = sym.schema("src").dataType
    // (the union widened src and dst to one type)
    val eligible = idType == LongType || idType == StringType
    val r = SizeRoute.decide(sym, eligible, 2 * SizeRoute.MaxLocalEdges)
    val local: Option[Seq[Product]] =
      if (!r.local) None
      else if (idType == LongType) r.localPairs.map(unionFindLocal(_).toSeq)
      else {
        import spark.implicits._
        Some(sym.as[(String, String)].collect())
          .filter(_.forall(p => p._1 != null && p._2 != null))
          .map(unionFindLocalUtf8(_).toSeq)
      }
    local match {
      case Some(out) =>
        val df = SizeRoute.rddBacked(spark, StructType(Seq(
          StructField("id", idType), StructField("component", idType))),
          out)(Row.fromTuple)
        return (if (partitions > 0) df.repartition(partitions, col("id"))
                else df, 0)
      case None =>
    }
    // The INITIAL labels and the first two iterations use plain cache:
    // sym's checkpoint already truncated the deep upstream plan, so
    // iteration 0-1 lineage is at most two shallow joins deep and the
    // per-iteration checkpoint's extra materialization job is a pure
    // tax there (measured ~2x on the small-graph consumers at sf0.1).
    // From iteration 2 on — the regime only chain-shaped graphs reach
    // — lineage depth starts compounding and the checkpoint takes
    // over, keeping Catalyst's per-iteration planning O(1) in depth.
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).cache()
    var prevCached: List[DataFrame] = List(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // hop 1: min label over graph neighbors
      val prop = sym.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("nbr"))
      val stepped = labels.join(prop, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nbr"), col("component"))).as("component"))
      // hop 2 (iteration 3+ only): pointer jump through the PREVIOUS
      // labels — composes the last iteration's reach onto this one,
      // doubling labelled distance per iteration. Any label is an id
      // within the same component, so the min stays a same-component
      // id. Tiny-clique graphs converge within the first plain
      // iterations and never pay for the extra join; chains go
      // exponential once the jump kicks in.
      val jumped = if (i < 2) stepped else {
        val reps = labels.select(col("id").as("rep_id"), col("component").as("rep_comp"))
        stepped.join(reps, col("component") === col("rep_id"), "left")
          .select(col("id"), col("__old"),
            least(col("component"), coalesce(col("rep_comp"), col("component"))).as("component"))
      }
      // carry the previous label through the projection so the
      // convergence check is a filter on the SAME materialized result.
      // Cached path: a FULL (un-limited) count so every partition of
      // the cache is populated — a limit(1) job could leave partitions
      // uncached and recomputing through already-unpersisted parents.
      // Checkpointed path: materialization is the checkpoint itself,
      // so the convergence probe can short-circuit with limit(1).
      val checkpointNow = i >= 2
      val next = if (checkpointNow) jumped.localCheckpoint(true) else jumped.cache()
      val changedProbe = next.filter(col("component") =!= col("__old"))
      val changed =
        if (checkpointNow) changedProbe.limit(1).count() > 0
        else changedProbe.count() > 0
      prevCached.foreach(_.unpersist(false))
      prevCached = if (checkpointNow) Nil else List(next)
      labels = next.select("id", "component")
      converged = !changed
      i += 1
    }
    (labels, i)
  }

  /** Driver-local union-find (path halving + union by rank) over a
    * collected edge list; linear-ish in |E|·α. Returns (id, min id of
    * its component) for every edge endpoint — the exact contract of
    * the distributed fixpoint, so the two routes are interchangeable.
    */
  private[graft] def unionFindLocal(edges: Array[(Long, Long)])
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
    val parent = new Array[Int](n)
    val rank = new Array[Byte](n)
    var i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)); x = parent(x)
      }
      x
    }
    e = 0
    while (e < m) {
      val a = find(srcs(e)); val b = find(dsts(e))
      if (a != b) {
        if (rank(a) < rank(b)) parent(a) = b
        else if (rank(a) > rank(b)) parent(b) = a
        else { parent(b) = a; rank(a) = (rank(a) + 1).toByte }
      }
      e += 1
    }
    // min original id per root, then label every node with it
    val minOf = new Array[Long](n)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    i = 0
    while (i < n) {
      val r = find(i)
      if (ids(i) < minOf(r)) minOf(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), minOf(find(i))); i += 1 }
    out
  }

  /** String-keyed twin of [[unionFindLocal]]: identical union-find,
    * with `component = min id` decided on UTF-8 BYTES compared
    * unsigned — byte-for-byte the order Spark's UTF8String binary
    * comparison (and therefore the distributed fixpoint's min
    * aggregate) uses, including outside the BMP where JVM
    * String.compareTo (UTF-16 code units) disagrees.
    */
  private[graft] def unionFindLocalUtf8(edges: Array[(String, String)])
      : Array[(String, String)] = {
    val idOf = scala.collection.mutable.HashMap.empty[String, Int]
    val ids = scala.collection.mutable.ArrayBuffer[String]()
    def intern(v: String): Int =
      idOf.getOrElseUpdate(v, { val i = ids.length; ids += v; i })
    val m = edges.length
    val srcs = new Array[Int](m); val dsts = new Array[Int](m)
    var e = 0
    while (e < m) {
      srcs(e) = intern(edges(e)._1); dsts(e) = intern(edges(e)._2); e += 1
    }
    val n = ids.length
    val parent = new Array[Int](n)
    val rank = new Array[Byte](n)
    var i = 0
    while (i < n) { parent(i) = i; i += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)); x = parent(x)
      }
      x
    }
    e = 0
    while (e < m) {
      val a = find(srcs(e)); val b = find(dsts(e))
      if (a != b) {
        if (rank(a) < rank(b)) parent(a) = b
        else if (rank(a) > rank(b)) parent(b) = a
        else { parent(b) = a; rank(a) = (rank(a) + 1).toByte }
      }
      e += 1
    }
    val bytes = new Array[Array[Byte]](n)
    i = 0
    while (i < n) {
      bytes(i) = ids(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    // min (by UTF-8 bytes) original id per root
    val minOf = new Array[Int](n)
    java.util.Arrays.fill(minOf, -1)
    i = 0
    while (i < n) {
      val r = find(i)
      if (minOf(r) < 0 ||
          java.util.Arrays.compareUnsigned(bytes(i), bytes(minOf(r))) < 0)
        minOf(r) = i
      i += 1
    }
    val out = new Array[(String, String)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), ids(minOf(find(i)))); i += 1 }
    out
  }
}
