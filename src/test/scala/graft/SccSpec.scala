package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps, SizeRoute}

/** Strongly connected components: the distributed coloring algorithm
  * against a driver-side Tarjan reference on crafted and random
  * directed graphs, partitioning invariance, and the refusal path.
  */
class SccSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Tarjan's sequential SCC as the oracle; returns the partition as
    * a set of node sets.
    */
  private def tarjan(edges: Seq[(Long, Long)]): Set[Set[Long]] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val index = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.Stack[Long]()
    val out = scala.collection.mutable.ListBuffer[Set[Long]]()
    var counter = 0
    def strong(v: Long): Unit = {
      index(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      adj.getOrElse(v, Nil).foreach { w =>
        if (!index.contains(w)) { strong(w); low(v) = math.min(low(v), low(w)) }
        else if (onStack(w)) low(v) = math.min(low(v), index(w))
      }
      if (low(v) == index(v)) {
        val comp = scala.collection.mutable.Set[Long]()
        var w = -1L
        while (w != v) { w = stack.pop(); onStack -= w; comp += w }
        out += comp.toSet
      }
    }
    nodes.foreach(v => if (!index.contains(v)) strong(v))
    out.toSet
  }

  private def sccSets(edges: Seq[(Long, Long)], parts: Int = 4): Set[Set[Long]] =
    GraphOps.scc(edges.toDF("s", "t").repartition(parts), "s", "t")
      .as[(Long, Long)].collect()
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet

  test("crafted graphs: cycle, DAG, two cycles with a one-way bridge, figure-eight") {
    // 5-cycle: one SCC
    val cyc = (1L to 5L).map(i => (i, i % 5 + 1))
    assert(sccSets(cyc) === Set((1L to 5L).toSet))
    // DAG: all singletons
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    assert(sccSets(dag) === Set(Set(1L), Set(2L), Set(3L), Set(4L)))
    // two 3-cycles joined by a one-way bridge: two SCCs, not one
    val two = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 4L))
    assert(sccSets(two) === Set(Set(1L, 2L, 3L), Set(4L, 5L, 6L)))
    // figure-eight sharing node 3: ONE SCC (mutual through the waist)
    val eight = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
    assert(sccSets(eight) === Set((1L to 5L).toSet))
    // self-loops and duplicates don't perturb anything
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 1L), (2L, 3L))
    assert(sccSets(messy) === Set(Set(1L, 2L), Set(3L)))
  }

  test("scc labels are the component's max node id") {
    val two = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
    val labels = GraphOps.scc(two.toDF("s", "t"), "s", "t")
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) === 3L && labels(2L) === 3L && labels(3L) === 3L)
    assert(labels(4L) === 5L && labels(5L) === 5L)
  }

  test("matches Tarjan on random directed graphs, any partitioning") {
    val rnd = new scala.util.Random(11)
    (0 until 4).foreach { trial =>
      val n = 25 + trial * 10
      val edges = (1 to n * 2).map(_ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter(e => e._1 != e._2).distinct
      val want = tarjan(edges)
      assert(sccSets(edges, parts = 3) === want, s"trial $trial")
      assert(sccSets(edges, parts = 7) === want, s"trial $trial reparted")
      // force the distributed coloring path: both routes must agree
      assert(SizeRoute.forceRoute(false)(sccSets(edges, parts = 3)) === want,
        s"trial $trial distributed")
    }
  }

  test("local fast path handles a DFS depth that would blow recursion") {
    // a 40k-node path: all singletons, max-id labels = each node itself;
    // a recursive Tarjan would StackOverflow — the iterative one must not
    val n = 40000L
    val path = (1L until n).map(i => (i, i + 1))
    val out = GraphOps.tarjanLocal(path.toArray)
    assert(out.length === n.toInt)
    assert(out.forall { case (node, scc) => node === scc })
    // and a path CLOSED into a cycle is one component labelled n
    val cyc = path :+ ((n, 1L))
    val out2 = GraphOps.tarjanLocal(cyc.toArray)
    assert(out2.forall(_._2 === n))
  }

  test("maxIter exhaustion refuses rather than returning a non-partition") {
    // a 30-node directed cycle needs ~30 color hops; maxIter=3 must refuse
    val cyc = (1L to 30L).map(i => (i, i % 30 + 1))
    val e = intercept[IllegalArgumentException] {
      SizeRoute.forceRoute(false) {
        GraphOps.scc(cyc.toDF("s", "t"), "s", "t", maxIter = 3).collect()
      }
    }
    assert(e.getMessage.contains("maxIter"))
  }
}
