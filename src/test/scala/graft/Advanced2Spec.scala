package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps, Interpolate, SizeRoute}

/** Round-12 operator specs: triangle counting on crafted graphs and
  * exact linear-interpolation gap fill.
  */
class Advanced2Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) =
    GraphOps.triangleCount(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long)].collect()(0)

  test("triangle count: crafted graphs (K4, star, cycle, dup/reversed edges)") {
    // K4: C(4,3) = 4 triangles
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(tri(k4) === ((4L, 6L, 4L)))
    // star: hub never sources a wedge — 0 triangles
    val star = (2L to 10L).map(i => (1L, i))
    assert(tri(star) === ((10L, 9L, 0L)))
    // 5-cycle: no triangles
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L))
    assert(tri(cyc) === ((5L, 5L, 0L)))
    // duplicate + reversed + self-loop edges canonicalize away
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (2L, 2L))
    assert(tri(messy) === ((3L, 3L, 1L)))
  }

  test("triangle count matches brute force on a random graph, any partitioning") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ =>
      (rnd.nextInt(40).toLong + 1, rnd.nextInt(40).toLong + 1))
      .filter(e => e._1 != e._2)
    val canon = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val es = canon.toSet
    val nodes = canon.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var brute = 0L
    for (a <- nodes; b <- nodes if b > a; c <- nodes if c > b)
      if (es((a, b)) && es((b, c)) && es((a, c))) brute += 1
    val got = tri(edges)
    assert(got._3 === brute && got._2 === canon.size.toLong)
    val reparted = GraphOps.triangleCount(
      edges.toDF("a", "b").repartition(13), "a", "b")
      .as[(Long, Long, Long)].collect()(0)
    assert(reparted === got)
  }

  test("kCore: crafted graphs — fixpoint, unique result, refusal on iteration cap") {
    // K4 with a pendant path: the 3-core is exactly the K4
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val tail = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val core3 = GraphOps.kCore((k4 ++ tail).toDF("a", "b"), "a", "b", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // 2-core of a pure path is empty (unravels end-in)
    val path = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
    assert(GraphOps.kCore(path.toDF("a", "b"), "a", "b", k = 2).isEmpty)
    // partitioning cannot change the fixpoint
    val reparted = GraphOps.kCore(
      (k4 ++ tail).toDF("a", "b").repartition(7), "a", "b", k = 3)
      .as[(Long, Long)].collect().toMap
    assert(reparted === core3)
    // local fast path and the distributed peel agree on a random graph
    val rnd = new scala.util.Random(13)
    val rg = (1 to 300).map(_ =>
      (rnd.nextInt(60).toLong + 1, rnd.nextInt(60).toLong + 1))
      .filter(e => e._1 != e._2)
    val localCore = GraphOps.kCore(rg.toDF("a", "b"), "a", "b", k = 4)
      .as[(Long, Long)].collect().toMap
    val distCore = SizeRoute.forceRoute(false) {
      GraphOps.kCore(rg.toDF("a", "b"), "a", "b", k = 4)
        .as[(Long, Long)].collect().toMap
    }
    assert(localCore === distCore)
    // a path peels one layer per round DISTRIBUTED: a tiny cap must
    // REFUSE, not return a superset that silently isn't a core
    // (forceRoute(false) forces that path; the local peel is
    // single-pass and needs no cap)
    val long = (1L to 30L).sliding(2).map(s => (s.head, s.last)).toSeq
    val ex = intercept[IllegalArgumentException] {
      SizeRoute.forceRoute(false) {
        GraphOps.kCore(long.toDF("a", "b"), "a", "b", k = 2, maxIter = 3)
      }
    }
    assert(ex.getMessage.contains("maxIter"), ex.getMessage)
  }

  test("damerau-levenshtein: hand-computed classic values incl. the true-DL case") {
    import graft.plans.DamerauLevenshtein
    val cases = Seq(
      ("CA", "ABC", 2),        // true DL; OSA would give 3
      ("abc", "acb", 1),       // adjacent transposition
      ("hte", "the", 1),
      ("kitten", "sitting", 3),
      ("", "abc", 3),
      ("abc", "", 3),
      ("same", "same", 0),
      ("a", "b", 1),
      ("teh quick", "the quick", 1))
    for ((a, b, want) <- cases) {
      assert(DamerauLevenshtein.distance(a, b) === want, s"dl($a, $b)")
      assert(DamerauLevenshtein.distance(b, a) === want, s"dl($b, $a) symmetry")
    }
  }

  test("damerau-levenshtein expression runs in a codegen projection; nulls; SQL form") {
    import graft.plans.GraftFunctions
    GraftFunctions.register(spark)
    val df = Seq(("CA", "ABC"), ("same", "same"), (null, "x"))
      .toDF("a", "b")
      .select(GraftFunctions.damerauFast($"a", $"b").as("dl"))
    assert(df.as[Option[Int]].collect().toSeq === Seq(Some(2), Some(0), None))
    assert(spark.sql("SELECT graft_damerau_levenshtein('hte', 'the')")
      .as[Int].collect()(0) === 1)
    // DP budget refusal on absurd inputs, with the named budget
    val big = "x" * 8000
    val ex = intercept[Exception] {
      Seq((big, big + "y")).toDF("a", "b")
        .select(GraftFunctions.damerauFast($"a", $"b")).collect()
    }
    assert(ex.getMessage.contains("16M-cell") ||
      ex.getCause != null && ex.getCause.getMessage.contains("16M-cell"),
      s"expected budget refusal: ${ex.getMessage}")
  }

  test("lerpFill: hand-computed interpolation incl. negative slope (floor, not truncate)") {
    val daily = Seq(
      (1L, "2024-01-01", 100L),
      (1L, "2024-01-04", 130L), // Δ=+30 span 3: days 2,3 → 110, 120
      (1L, "2024-01-06", 120L), // Δ=-10 span 2: day 5 → 125
      (2L, "2024-01-01", 100L),
      (2L, "2024-01-03", 95L))  // Δ=-5 span 2: day 2 → 100 + floor(-2.5) = 97
      .toDF("k", "day", "v")
      .selectExpr("k", "CAST(day AS DATE) AS day", "v")
    val got = Interpolate.lerpFill(daily, "k", "day", "v")
      .selectExpr("k", "CAST(day AS STRING)", "v", "interpolated")
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got((1L, "2024-01-01")) === ((100L, false)))
    assert(got((1L, "2024-01-02")) === ((110L, true)))
    assert(got((1L, "2024-01-03")) === ((120L, true)))
    assert(got((1L, "2024-01-04")) === ((130L, false)))
    assert(got((1L, "2024-01-05")) === ((125L, true)))
    assert(got((1L, "2024-01-06")) === ((120L, false)))
    // negative slope: floor(-2.5) = -3, NOT truncate(-2.5) = -2
    assert(got((2L, "2024-01-02")) === ((97L, true)))
    // grid is per-key min..max only: no row outside either key's span
    assert(got.size === 6 + 3)
  }
}
