package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps, SizeRoute}

/** Modularity-guided Louvain communities ([[GraphOps.louvain]]):
  * hand-graph exact partitions, Q beats LPA's epidemic labeling on
  * the dense co-purchase hairball, local/distributed route parity,
  * partitioning invariance, and the maxIter refusal.
  */
class LouvainSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def communities(edges: Seq[(Long, Long)],
                          maxIter: Int = 50): Map[Long, Long] =
    GraphOps.louvain(edges.toDF("a", "b"), "a", "b", maxIter = maxIter)
      .as[(Long, Long)].collect().toMap

  private def q(edges: Seq[(Long, Long)], assign: Map[Long, Long]): Double = {
    val adf = assign.toSeq.toDF("node", "community")
    GraphOps.modularity(edges.toDF("a", "b"), "a", "b",
        adf, "node", "community")
      .agg(sum($"q_contrib")).as[Double].head()
  }

  private val twoTriangles = Seq((1L, 2L), (2L, 3L), (1L, 3L),
    (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))

  test("two triangles over one bridge: the exact optimal partition, Q = 5/14") {
    val got = communities(twoTriangles)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L), got.toString)
    assert(math.abs(q(twoTriangles, got) - 5.0 / 14.0) < 1e-8)
  }

  test("a clique is one community labeled by its smallest id") {
    val nodes = (1L to 6L)
    val edges = for (a <- nodes; b <- nodes if a < b) yield (a, b)
    val got = communities(edges)
    assert(got.values.toSet == Set(1L), got.toString)
  }

  test("two 8-cliques over a sparse chain: cliques recovered, chain absorbed") {
    val cliqueA = for (a <- 1L to 8L; b <- 1L to 8L if a < b) yield (a, b)
    val cliqueB = for (a <- 101L to 108L; b <- 101L to 108L if a < b) yield (a, b)
    val chain = Seq((8L, 50L), (50L, 51L), (51L, 101L))
    val got = communities(cliqueA ++ cliqueB ++ chain)
    // each clique is one community, and they differ
    assert((1L to 8L).map(got).toSet.size == 1, got.toString)
    assert((101L to 108L).map(got).toSet.size == 1, got.toString)
    assert(got(1L) != got(101L))
    // chain nodes are not a clique's label donor (labels are min ids)
    assert(got(1L) == 1L && got(101L) <= 101L)
  }

  test("disconnected components never share a community") {
    val got = communities(Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L)))
    assert(Set(got(1L), got(2L), got(3L))
      .intersect(Set(got(10L), got(11L), got(12L))).isEmpty)
  }

  test("self-loops and duplicate/reversed edges are canonicalized away") {
    val got = communities(Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 2L)))
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got.values.toSet.size == 1)
  }

  test("local and distributed routes agree bit-for-bit; repartitioning is invisible") {
    val cliqueA = for (a <- 1L to 8L; b <- 1L to 8L if a < b) yield (a, b)
    val cliqueB = for (a <- 101L to 108L; b <- 101L to 108L if a < b) yield (a, b)
    val edges = cliqueA ++ cliqueB ++ Seq((8L, 50L), (50L, 51L), (51L, 101L))
    val local = communities(edges)                    // routed local
    val dist = SizeRoute.forceRoute(false)(communities(edges)) // forced distributed
    assert(dist == local, s"route divergence: ${dist.toSet -- local.toSet}")
    val shuffled = SizeRoute.forceRoute(false) {
      GraphOps.louvain(
          scala.util.Random.shuffle(edges).toDF("a", "b").repartition(13),
          "a", "b")
        .as[(Long, Long)].collect().toMap
    }
    assert(shuffled == dist)
  }

  test("maxIter exhaustion refuses on both routes") {
    val e1 = intercept[IllegalArgumentException](
      communities(twoTriangles, maxIter = 1))
    assert(e1.getMessage.contains("maxIter"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      SizeRoute.forceRoute(false)(communities(twoTriangles, maxIter = 1)))
    assert(e2.getMessage.contains("maxIter"), e2.getMessage)
  }

  test("dense co-purchase hairball: Louvain finds Q > 0 where LPA's epidemic labeling scores 0") {
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
    val qLpa = GraphOps.modularity(edges, "x", "y", lpa, "node", "community")
      .agg(sum($"q_contrib")).as[Double].head()
    val lv = GraphOps.louvain(edges, "x", "y")
    val qLv = GraphOps.modularity(edges, "x", "y", lv, "node", "community")
      .agg(sum($"q_contrib")).as[Double].head()
    assert(qLv > qLpa,
      s"louvain Q=$qLv must beat LPA's epidemic Q=$qLpa on the hairball")
    assert(qLv > 0.0, s"louvain must report real structure, got Q=$qLv")
    // determinism on the real graph
    val lv2 = GraphOps.louvain(edges, "x", "y")
      .as[(Long, Long)].collect().toMap
    assert(lv.as[(Long, Long)].collect().toMap == lv2)
  }

  test("contract query graph_communities2: census is deterministic and sized sanely") {
    val sfDir = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("graph_communities2")(spark, sfDir).collect()
    val b = SparkEntry.queries("graph_communities2")(spark, sfDir).collect()
    assert(a.nonEmpty && a.length <= 20)
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    a.foreach { r =>
      assert(r.getLong(1) >= 1L)
      assert(r.getLong(2) <= r.getLong(3))
    }
  }
}
