package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps, SizeRoute}

/** Deterministic label-propagation communities
  * ([[GraphOps.labelPropagation]]): hand-graph structure, the
  * local/distributed route parity, partitioning invariance, and the
  * maxIter refusal.
  */
class LpaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def communities(edges: Seq[(Long, Long)],
                          maxIter: Int = 50): Map[Long, Long] =
    GraphOps.labelPropagation(edges.toDF("a", "b"), "a", "b",
        maxIter = maxIter)
      .as[(Long, Long)].collect().toMap

  test("two triangles over one bridge split into their own communities") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), // triangle A
      (4L, 5L), (5L, 6L), (4L, 6L),               // triangle B
      (3L, 4L))                                   // bridge
    val got = communities(edges)
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // one label per triangle, and the two differ
    assert(Set(got(1L), got(2L), got(3L)).size == 1)
    assert(Set(got(4L), got(5L), got(6L)).size == 1)
    assert(got(1L) != got(4L), got.toString)
  }

  test("a clique is one community labeled by its smallest id") {
    val nodes = (1L to 6L)
    val edges = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val got = communities(edges)
    assert(got.values.toSet == Set(1L), got.toString)
  }

  test("disconnected components never share a community") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
    val got = communities(edges)
    assert(Set(got(1L), got(2L), got(3L))
      .intersect(Set(got(10L), got(11L), got(12L))).isEmpty)
  }

  test("local and distributed routes agree bit-for-bit; repartitioning is invisible") {
    // a graph big enough to exercise several rounds: two 8-cliques
    // joined by a sparse chain
    val cliqueA = for (a <- 1L to 8L; b <- 1L to 8L if a < b) yield (a, b)
    val cliqueB = for (a <- 101L to 108L; b <- 101L to 108L if a < b) yield (a, b)
    val chain = Seq((8L, 50L), (50L, 51L), (51L, 101L))
    val edges = cliqueA ++ cliqueB ++ chain
    val local = communities(edges)                      // routed local
    val dist = SizeRoute.forceRoute(false)(communities(edges)) // forced distributed
    assert(dist == local, s"route divergence: ${dist.toSet -- local.toSet}")
    // partitioning invariance on the distributed path
    val shuffled = SizeRoute.forceRoute(false) {
      GraphOps.labelPropagation(
          scala.util.Random.shuffle(edges).toDF("a", "b").repartition(13),
          "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    assert(shuffled == dist)
  }

  test("self-loops and duplicate/reversed edges are canonicalized away") {
    val got = communities(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 2L)))
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got.values.toSet.size == 1)
  }

  test("maxIter exhaustion refuses on both routes") {
    // the two-triangle graph needs >1 round to converge
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val eLocal = intercept[IllegalArgumentException](communities(edges, maxIter = 1))
    assert(eLocal.getMessage.contains("no fixpoint"))
    val eDist = intercept[IllegalArgumentException](
      SizeRoute.forceRoute(false)(communities(edges, maxIter = 1)))
    assert(eDist.getMessage.contains("no fixpoint"))
  }

  test("modularity: hand value on two triangles + bridge; LPA beats the one-blob labeling") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    // the natural split {1,2,3}/{4,5,6}: m=7, each side e_c=3,
    // d_c=7 → Q = 2·(3/7 − (7/14)²) = 6/7 − 1/2 = 5/14 ≈ 0.357142857
    val lpa = GraphOps.labelPropagation(edges, "a", "b")
    val split = GraphOps.modularity(edges, "a", "b", lpa, "node", "community")
    val qSplit = split.agg(sum($"q_contrib")).as[Double].head()
    assert(math.abs(qSplit - 5.0 / 14.0) < 1e-8, qSplit.toString)
    // per-community rows carry the exact integers
    val rows = split.orderBy("community")
      .select($"n_nodes", $"e_in", $"deg_sum").as[(Long, Long, Long)].collect()
    assert(rows.toSeq == Seq((3L, 3L, 7L), (3L, 3L, 7L)))
    // everything in one community: Q = m/m − (2m/2m)² = 0 exactly
    val blob = lpa.select($"node", lit(1L).as("community"))
    val qBlob = GraphOps.modularity(edges, "a", "b", blob, "node", "community")
      .agg(sum($"q_contrib")).as[Double].head()
    assert(qBlob == 0.0)
    assert(qSplit > qBlob)
  }

  test("conductance: hand value on two triangles + bridge; cut counted both sides") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val lpa = GraphOps.labelPropagation(edges, "a", "b")
    // each side: cut = 1 (the bridge), vol = 7, rest = 7 → φ = 1/7
    val got = GraphOps.conductance(edges, "a", "b", lpa, "node", "community")
      .select($"n_nodes", $"cut_edges", $"deg_sum", $"conductance")
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    assert(got == Set((3L, 1L, 7L, Some(0.142857143))), got.toString)
    // one blob: vol(rest) = 0 → null (conductance of the whole graph
    // is undefined)
    val blob = lpa.select($"node", lit(1L).as("community"))
    val g2 = GraphOps.conductance(edges, "a", "b", blob, "node", "community")
      .select($"conductance").as[Option[Double]].collect()
    assert(g2.toSeq == Seq(None))
  }

  test("modularity refuses an assignment that misses edge endpoints") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val partial = Seq((1L, 1L), (2L, 1L)).toDF("node", "community")
    // r18: the refusal moved in-plan (raise_error riding the m scalar
    // — no extra eager action), so it surfaces at the ACTION like the
    // rest of the in-plan gate family
    val e = SparkTestSession.refusalMessage(
      GraphOps.modularity(edges, "a", "b", partial, "node", "community").collect())
    assert(e.contains("missing from the assignment"))
    val e2 = SparkTestSession.refusalMessage(
      GraphOps.conductance(edges, "a", "b", partial, "node", "community").collect())
    assert(e2.contains("missing from the assignment"))
  }

  test("modularity refuses an empty assignment over edges, whatever the consumer reads") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val empty = Seq.empty[(Long, Long)].toDF("node", "community")
    // no community row exists for the column gates to ride on, and a
    // community-only or count consumer reads no gated column
    val consumers = Seq[(String, org.apache.spark.sql.DataFrame => Any)](
      "collect" -> (_.collect()),
      "community" -> (_.select("community").collect()),
      "count" -> (_.count()))
    for ((name, consume) <- consumers) {
      val e = SparkTestSession.refusalMessage(consume(
        GraphOps.modularity(edges, "a", "b", empty, "node", "community")))
      assert(e.contains("3 edge endpoints missing"), s"$name: $e")
      val e2 = SparkTestSession.refusalMessage(consume(
        GraphOps.conductance(edges, "a", "b", empty, "node", "community")))
      assert(e2.contains("3 edge endpoints missing"), s"$name: $e2")
    }
  }

  test("dense hairball: LPA collapses to per-component labels (the documented epidemic mode)") {
    // The sf0.001 co-purchase graph is one dense hairball; synchronous
    // min-tie LPA is KNOWN to let one label sweep such graphs
    // epidemic-style (Raghavan '07 §IV). Pin the behavior: exactly one
    // community per connected component, and modularity of that
    // labeling = 0 for a single component (Q = m/m − (2m/2m)²). Real
    // community structure (the two-triangle specs above) survives; a
    // hairball honestly reports "no structure" instead of inventing
    // some.
    import graft.sources.TableCatalog
    val sfDir = "/root/testdata/sf0.001"
    val li = TableCatalog.lineitem(spark, sfDir)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val edges = li.as("a").join(li.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .groupBy($"a.pk".as("x"), $"b.pk".as("y"))
      .agg(count(lit(1)).as("n"))
      .filter($"n" >= 2).select($"x", $"y")
      .localCheckpoint(true)
    val lpa = GraphOps.labelPropagation(edges, "x", "y")
    val nComms = lpa.select($"community").distinct().count()
    val nComps = graft.operators.Components
      .connectedComponents(edges, "x", "y")
      .select($"component").distinct().count()
    assert(nComms == nComps, s"$nComms communities vs $nComps components")
    if (nComps == 1L) {
      val q = GraphOps.modularity(edges, "x", "y", lpa, "node", "community")
        .agg(sum($"q_contrib")).as[Double].head()
      assert(q == 0.0, s"one-blob labeling must score Q = 0, got $q")
    }
  }

  test("contract query graph_communities: census is deterministic and sized sanely") {
    val sfDir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("graph_communities")(spark, sfDir).collect()
    val b = SparkEntry.queries("graph_communities")(spark, sfDir).collect()
    assert(a.nonEmpty && a.length <= 20)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // members partition the node set: sizes are positive, ids ordered
    a.foreach { r =>
      assert(r.getLong(1) >= 1L)
      assert(r.getLong(2) <= r.getLong(3))
    }
  }
}
