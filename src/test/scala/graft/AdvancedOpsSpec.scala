package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bfs, FeatureEncoding, Sampling, SizeRoute, Skyline}
import graft.plans.{GraftFunctions, JaroWinkler}

/** Specs for the round-11 operators: skyline, BFS, feature encoding,
  * epoch upsampling, and the Jaro-Winkler expression.
  */
class AdvancedOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // ---- Jaro-Winkler ----

  test("jaro-winkler matches hand-computed classic values") {
    // reference values from the published algorithm (Winkler 1990)
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("same", "same", 1.0),
      ("a", "b", 0.0),
      ("ab", "ba", 0.0), // window max(2,2)/2-1 = 0: no matches at all
      ("CRATE", "TRACE", 0.7333333333333334), // no shared prefix: no boost
      ("aXXXXXXX", "aYYYYYYY", 0.4166666666666667), // jaro <= 0.7: boost withheld
      ("prefix12", "prefix99", 0.9), // 4-char prefix cap
      ("", "x", 0.0))
    for ((a, b, want) <- cases)
      assert(JaroWinkler.similarity(a, b) === want,
        s"similarity($a, $b)")
  }

  test("jaro-winkler expression evaluates in a codegen projection and handles nulls") {
    GraftFunctions.register(spark)
    val df = Seq(("martha", "marhta"), ("same", "same"), (null, "x"))
      .toDF("a", "b")
      .select(GraftFunctions.jaroWinklerFast(col("a"), col("b")).as("jw"))
    val got = df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got(0) === Some(0.9611111111111111))
    assert(got(1) === Some(1.0))
    assert(got(2) === None) // null-safe
  }

  test("jaro-winkler is symmetric") {
    val pairs = Seq(("dwayne", "duane"), ("frosted", "forest"),
      ("abcdefgh", "abcdefgx"), ("x", "xyzzy"))
    for ((a, b) <- pairs)
      assert(JaroWinkler.similarity(a, b) === JaroWinkler.similarity(b, a))
  }

  // ---- Skyline ----

  test("skyline matches brute-force dominance on a crafted frontier") {
    // minimize x, maximize y; includes duplicate points and
    // same-x / same-y ties
    val pts = Seq(
      (1L, 1L, 10L), (2L, 2L, 20L), (3L, 3L, 15L), (4L, 2L, 20L),
      (5L, 5L, 30L), (6L, 5L, 25L), (7L, 1L, 5L), (8L, 10L, 30L),
      (9L, 4L, 28L), (10L, 6L, 31L))
    val df = pts.toDF("id", "x", "y")
    val got = Skyline.pareto2d(df, "x", "y", col("id"), shards = 4)
      .select("id").as[Long].collect().toSet
    // brute force
    val want = pts.filter { case (_, ax, ay) =>
      !pts.exists { case (_, bx, by) =>
        bx <= ax && by >= ay && (bx < ax || by > ay) }
    }.map(_._1).toSet
    assert(want.nonEmpty && want != pts.map(_._1).toSet)
    assert(got === want)
  }

  test("skyline keeps coincident points (neither dominates) and is shard-invariant") {
    val df = Seq((1L, 3L, 7L), (2L, 3L, 7L), (3L, 4L, 7L), (4L, 3L, 6L))
      .toDF("id", "x", "y")
    def run(sh: Int) = Skyline.pareto2d(df, "x", "y", col("id"), shards = sh)
      .select("id").as[Long].collect().toSet
    // (3,7) twice: both survive; (4,7) and (3,6) dominated
    assert(run(1) === Set(1L, 2L))
    assert(run(1) === run(7))
    assert(run(1) === run(64))
  }

  // ---- BFS ----

  test("multi-source BFS computes min hop distances with visited pruning") {
    //   1 - 2 - 3 - 4 - 5    and   10 - 11 (separate component)
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val sym = (edges0 ++ edges0.map(e => (e._2, e._1))).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("node")
    val got = Bfs.multiSourceBfs(sym, "src", "dst", seeds, "node", maxHops = 10)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L,
      10L -> 0L, 11L -> 1L))
  }

  test("BFS maxHops caps the expansion and cycles terminate") {
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val sym = (edges0 ++ edges0.map(e => (e._2, e._1))).toDF("src", "dst")
    val got = Bfs.multiSourceBfs(sym, "src", "dst",
        Seq(1L).toDF("node"), "node", maxHops = 2)
      .as[(Long, Long)].collect().toMap
    // node 5 is 3 hops away: excluded by the cap; cycle 1-2-3 resolves
    // to min distances
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("BFS r18 size routing: local and forced-distributed routes " +
      "agree (multi-source truncation, per-source table + refusal)") {
    val edges0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val sym = (edges0 ++ edges0.map(e => (e._2, e._1))).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("node")
    def multi(local: Boolean) = SizeRoute.forceRoute(local) {
      Bfs.multiSourceBfs(sym, "src", "dst", seeds, "node", maxHops = 3)
        .as[(Long, Long)].collect().toMap
    }
    // maxHops = 3 truncates node 5 (4 hops) on both routes
    assert(multi(true) === multi(false))
    assert(!multi(true).contains(5L))
    def per(local: Boolean) = SizeRoute.forceRoute(local) {
      Bfs.perSourceBfs(sym, "src", "dst", seeds, "node", maxHops = 10)
        .as[(Long, Long, Long)].collect().toSet
    }
    assert(per(true) === per(false))
    // a seed absent from the edge list still appears at dist 0
    val soloSeed = Seq(1L, 99L).toDF("node")
    val solo = Bfs.multiSourceBfs(sym, "src", "dst", soloSeed, "node",
        maxHops = 2).as[(Long, Long)].collect().toMap
    assert(solo(99L) == 0L)
    // per-source refusal parity: a node past maxHops refuses on both
    for (local <- Seq(true, false)) {
      val e = intercept[Exception] {
        SizeRoute.forceRoute(local) {
          Bfs.perSourceBfs(sym, "src", "dst", seeds, "node", maxHops = 2)
            .collect()
        }
      }
      assert(e.getMessage.contains("frontier still live"),
        s"local=$local: ${e.getMessage}")
    }
  }

  // ---- Feature encoding ----

  test("scaleNumeric: min-max and z-score from exact sums; flat group degenerates safely") {
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L),
      ("b", 7L), ("b", 7L)).toDF("g", "v")
    val got = FeatureEncoding.scaleNumeric(df, "g", "v")
      .select("g", "v", "minmax", "zscore").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toSet
    // group a: mean 20, sample stddev 10
    assert(got.contains(("a", 10L, 0.0, Some(-1.0))))
    assert(got.contains(("a", 20L, 0.5, Some(0.0))))
    assert(got.contains(("a", 30L, 1.0, Some(1.0))))
    // flat group: minmax 0, zscore null (zero variance)
    assert(got.contains(("b", 7L, 0.0, None)))
  }

  test("targetEncode: m-estimate shrinks rare categories toward the global mean") {
    // cat a: 4 rows of 10; cat b: 1 row of 100 → global mean 28
    val df = Seq(("a", 10L), ("a", 10L), ("a", 10L), ("a", 10L), ("b", 100L))
      .toDF("c", "t")
    val got = FeatureEncoding.targetEncode(df, "c", "t", m = 10)
      .select("c", "n", "freq", "target_mean", "target_enc").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got("a")._1 === 4L)
    assert(got("a")._2 === 0.8)
    assert(got("a")._3 === 10.0)
    // (40 + 10*28) / 14 = 22.857…: pulled well off the raw mean
    assert(math.abs(got("a")._4 - 320.0 / 14) < 1e-12)
    // rare cat b: (100 + 280) / 11 = 34.5…, barely off the global mean
    assert(math.abs(got("b")._4 - 380.0 / 11) < 1e-12)
    assert(math.abs(got("b")._4 - 28.0) < math.abs(100.0 - 28.0))
  }

  // ---- Epoch upsampling ----

  test("epochUpsample: whole copies exact, fractional share close to advertised, deterministic") {
    val df = spark.range(0, 2000).toDF("id")
      .withColumn("w", when(col("id") % 2 === 0, 300L).otherwise(150L))
    val out = Sampling.epochUpsample(df, "id", col("w"))
    val byId = out.groupBy("id").agg(count(lit(1)).as("n"), max("copy").as("mx"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // whole weights replicate exactly; copy runs 1..n
    byId.filter(_._1 % 2 == 0).foreach { case (id, n, mx) =>
      assert(n === 3L && mx === 3L, s"id $id") }
    // fractional weight 1.5: every row at least once, ~half twice
    val odd = byId.filter(_._1 % 2 == 1)
    assert(odd.forall(r => r._2 == 1L || r._2 == 2L))
    val doubled = odd.count(_._2 == 2L)
    assert(doubled > 350 && doubled < 650, s"doubled=$doubled of ${odd.length}")
    // deterministic under repartitioning
    val again = Sampling.epochUpsample(df.repartition(13), "id", col("w"))
      .groupBy("id").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again === byId.map(r => (r._1, r._2)).toSet)
  }

  test("epochUpsample: weight below 100 downsamples deterministically") {
    val df = spark.range(0, 1000).toDF("id").withColumn("w", lit(40L))
    val out = Sampling.epochUpsample(df, "id", col("w"))
    val n = out.count()
    assert(n > 300 && n < 500, s"kept $n of 1000 at weight 0.40")
    assert(out.groupBy("id").count().filter(col("count") > 1).count() === 0)
  }
}

/** Specs for the batch-2 round-11 operators: prefix-filter set
  * similarity, distributed global rank, incremental skyline.
  */
class AdvancedOps2Spec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import graft.operators.{Ranking, SetSimJoin, Skyline}

  test("prefix-filter set-similarity join equals brute force (exact, no candidate dropped)") {
    // sets engineered around the threshold 2/3, incl. a pair whose
    // shared tokens are all COMMON (the case a naive rare-token-only
    // heuristic would miss but the prefix bound must keep)
    val sets = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")),     // J(1,2)=3/5 < 2/3
      (3L, Seq("a", "b", "c", "d")),     // J(1,3)=1
      (4L, Seq("a", "b", "c")),          // J(1,4)=3/4 >= 2/3
      (5L, Seq("x", "y")),
      (6L, Seq("x", "y", "z")),          // J(5,6)=2/3 boundary: kept
      (7L, Seq("q")),
      (8L, Seq("a", "b", "c", "d", "e", "f")))
    val df = sets.toDF("id", "s")
    val got = SetSimJoin.prefixFilterJoin(df, "id", "s", p = 2, q = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = sa.toSet.intersect(sb.toSet).size
      uni = sa.toSet.union(sb.toSet).size
      if inter * 3 >= uni * 2
    } yield (ia, ib)).toSet
    assert(want === Set((1L, 3L), (1L, 4L), (1L, 8L), (2L, 4L), (2L, 8L),
      (3L, 4L), (3L, 8L), (5L, 6L))) // incl. the J = 2/3 boundary pairs
    assert(got === want)
  }

  test("prefix-filter join: randomized brute-force parity") {
    val rnd = new scala.util.Random(42)
    val univ = (0 until 30).map(i => s"t$i")
    val sets = (1 to 120).map { id =>
      (id.toLong, rnd.shuffle(univ).take(3 + rnd.nextInt(8)).toSeq)
    }
    val got = SetSimJoin.prefixFilterJoin(sets.toDF("id", "s"), "id", "s", p = 1, q = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = sa.toSet.intersect(sb.toSet).size
      uni = sa.toSet.union(sb.toSet).size
      if inter * 2 >= uni * 1
    } yield (ia, ib)).toSet
    assert(got === want)
  }

  test("rakeWeights: both marginals converge to uniform; fixed point exact") {
    // skewed 2x2: counts (a,x)=30 (a,y)=10 (b,x)=10 (b,y)=50
    val rows = Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(50)(("b", "y"))
    val df = rows.toDF("r", "c")
    val got = graft.operators.Sampling.rakeWeights(df, "r", "c", iters = 5)
      .as[(String, String, Long, Long)].collect()
    val total = 100L * 1000000L
    // column marginal is EXACT after the final column step (up to the
    // floor-division remainder); row marginal converges geometrically
    val colMass = got.groupBy(_._2).view
      .mapValues(_.map(t => t._3 * t._4).sum).toMap
    colMass.values.foreach(m =>
      assert(math.abs(m - total / 2) <= got.length * 1000000L,
        s"column mass $m far from ${total / 2}"))
    val rowMass = got.groupBy(_._1).view
      .mapValues(_.map(t => t._3 * t._4).sum).toMap
    rowMass.values.foreach(m =>
      assert(math.abs(m - total / 2).toDouble / (total / 2) < 0.02,
        s"row mass $m not within 2% of ${total / 2}"))
    // directionality: (b,y) is over-represented on BOTH margins (row b
    // 60>50, col y 60>50) → down-weighted; (a,x) is under on both →
    // up-weighted. (A cell rare in its row may still be DOWN-weighted
    // if its column is over-full — the joint fit, not the row fit.)
    val w = got.map(t => (t._1, t._2) -> t._4).toMap
    assert(w(("b", "y")) < 1000000L, s"(b,y) must shrink: ${w(("b", "y"))}")
    assert(w(("a", "x")) > 1000000L, s"(a,x) must grow: ${w(("a", "x"))}")
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.rakeWeights(df, "r", "c", iters = 0)
    }
  }

  test("coverageGreedy matches a driver greedy reference and stops at full cover") {
    val docs = Seq(
      (1L, "a b c d"),     // 4 tokens — first pick
      (2L, "a b c"),       // subset of 1: zero marginal gain later
      (3L, "e f g"),       // disjoint 3 — second pick
      (4L, "d e h"),       // 1 new (h) after picks 1,3
      (5L, "a h")          // h only
    ).toDF("doc_id", "text")
    val got = graft.operators.Sampling
      .coverageGreedy(docs, "doc_id", "text", k = 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // greedy: 1 (gain 4), 3 (gain 3), 4 (gain 1, tie vs 5 on h broken
    // by id), then all remaining gains are 0 -> early stop at full
    // cover of {a..h}
    assert(got === Seq((1L, 1L, 4L, 4L), (2L, 3L, 3L, 7L), (3L, 4L, 1L, 8L)))
    // driver reference on random salad: same picks, gains non-increasing
    val rnd = new scala.util.Random(17)
    val vocab = Vector.tabulate(30)(i => s"w$i")
    val corpus = (1 to 40).map(i =>
      (i.toLong, (1 to 8).map(_ => vocab(rnd.nextInt(30))).mkString(" ")))
    val want = {
      val sets = corpus.map { case (id, t) =>
        id -> t.split(" ").toSet }.toMap
      var cov = Set.empty[String]
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      (1 to 6).foreach { _ =>
        val (doc, gain) = sets.map { case (id, s) => (id, (s -- cov).size) }
          .toSeq.minBy { case (id, g) => (-g, id) }
        if (gain > 0 && out.size < 6) { out += ((doc, gain.toLong)); cov ++= sets(doc) }
      }
      out.toSeq
    }
    val got2 = graft.operators.Sampling
      .coverageGreedy(corpus.toDF("doc_id", "text"), k = 6, idCol = "doc_id",
        textCol = "text")
      .as[(Long, Long, Long, Long)].collect().toSeq.map(r => (r._2, r._3))
    assert(got2 === want)
    assert(got2.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "greedy marginal gains must be non-increasing")
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.coverageGreedy(docs, "doc_id", "text",
        k = 101, maxPicks = 100)
    }
  }

  test("rrfFuse: exact fixed-point reciprocal sum; absent ids contribute nothing") {
    import graft.operators.Ranking
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rank")
    val b = Seq((2L, 1L), (1L, 2L)).toDF("id", "rank") // id 3 absent
    val got = Ranking.rrfFuse(Seq(a, b), "id", "rank")
      .as[(Long, Long)].collect().toMap
    def rr(r: Long) = 1000000000000L / (60 + r)
    assert(got === Map(
      1L -> (rr(1) + rr(2)), 2L -> (rr(2) + rr(1)), 3L -> rr(3)))
    intercept[IllegalArgumentException] { Ranking.rrfFuse(Nil, "id", "rank") }
  }

  test("globalRank assigns dense 1..N ranks matching a local sort, any partitioning") {
    val vals = Seq("pear", "apple", "fig", "date", "kiwi", "lime",
      "mango", "plum", "grape", "peach")
    val df = vals.toDF("v").repartition(7)
    val got = Ranking.globalRank(df, "v", "rn", partitions = 3)
      .as[(String, Long)].collect().toMap
    val want = vals.sorted.zipWithIndex.map { case (v, i) => v -> (i + 1L) }.toMap
    assert(got === want)
  }

  test("globalRank refuses duplicate order keys") {
    val df = Seq("a", "b", "a").toDF("v")
    val e = intercept[IllegalArgumentException] {
      Ranking.globalRank(df, "v", "rn").collect()
    }
    assert(e.getMessage.contains("unique"))
  }

  test("globalRank r17 size routing: local and forced-distributed " +
      "routes agree on integral composites and refuse identically") {
    val rows = (1 to 300).map(i =>
      ((i * 7 % 13).toLong, (i * 31 % 300).toLong, i.toLong))
    val df = rows.toDF("a", "b", "id").repartition(5)
    def run(local: Boolean) = SizeRoute.forceRoute(local) {
      Ranking.globalRank(df, Seq("a", "b", "id"), "r", 0)
        .select("id", "r").as[(Long, Long)].collect().toMap
    }
    assert(run(true) === run(false))
    val dup = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "id")
    val e = intercept[IllegalArgumentException] {
      SizeRoute.forceRoute(true) {
        Ranking.globalRank(dup, Seq("a"), "r", 0).collect()
      }
    }
    assert(e.getMessage.contains("unique"))
  }

  test("globalRank r18 probe gate: null keys refuse on BOTH routes; " +
      "partitions > 0 forces the distributed route; a materialized " +
      "input probes by count and still routes local") {
    // null order key: the distributed guard (count_distinct skips
    // null tuples) and the local guard refuse with the same message
    val withNull = Seq(Some(1L), None, Some(3L)).toDF("v")
    for (local <- Seq(true, false)) {
      val e = intercept[IllegalArgumentException] {
        SizeRoute.forceRoute(local) {
          Ranking.globalRank(withNull, Seq("v"), "r", 0).collect()
        }
      }
      assert(e.getMessage.contains("unique"), s"local=$local: $e")
    }
    // explicit partitions: a requested distributed layout wins over
    // the local route (the PrefixSum precedence) — the output carries
    // the requested range partitioning, and the values still match
    val rows = (1 to 50).map(i => ((i * 17 % 50).toLong, i.toLong))
    val df = rows.toDF("k", "id").repartition(4)
    val forced = Ranking.globalRank(df, Seq("k", "id"), "r", 3)
    // route witness: the distributed machinery ends in a window pass;
    // the local route comes back as one parallelized RDD scan
    assert(forced.queryExecution.executedPlan.toString.contains("Window"),
      "partitions>0 must force the distributed route")
    val local = Ranking.globalRank(df, Seq("k", "id"), "r", 0)
    assert(forced.select("id", "r").as[(Long, Long)].collect().toMap ===
      local.select("id", "r").as[(Long, Long)].collect().toMap)
    // a caller-checkpointed input routes local without a second pin
    val ckpt = df.localCheckpoint(true)
    val viaCkpt = Ranking.globalRank(ckpt, Seq("k", "id"), "r", 0)
      .select("id", "r").as[(Long, Long)].collect().toMap
    assert(viaCkpt === local.select("id", "r").as[(Long, Long)]
      .collect().toMap)
  }

  test("incremental skyline under inserts equals full recompute") {
    val rnd = new scala.util.Random(7)
    val pts = (1 to 400).map(i =>
      (i.toLong, (rnd.nextInt(100) + 1).toLong, (rnd.nextInt(100) + 1).toLong))
    val df = pts.toDF("id", "x", "y")
    val full = Skyline.pareto2d(df, "x", "y", col("id"))
      .select("id").as[Long].collect().toSet
    // three insert batches, frontier maintained incrementally
    val batches = pts.grouped(140).toSeq
    var frontier = Skyline.pareto2d(batches.head.toDF("id", "x", "y"),
      "x", "y", col("id"))
    for (b <- batches.tail)
      frontier = Skyline.insertMaintain(frontier, b.toDF("id", "x", "y"),
        "x", "y", col("id"))
    assert(frontier.select("id").as[Long].collect().toSet === full)
  }
}

/** Robust scaling: hand-computed median/MAD, flat-group safety. */
class RobustScaleSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import graft.operators.FeatureEncoding

  test("robustScale: hand-computed median/MAD; outlier barely moves the median") {
    // group a: 1,2,3,4,100 → median 3, deviations 2,1,0,1,97 → MAD 1
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 100L),
      ("b", 5L), ("b", 5L)).toDF("g", "v")
    val got = FeatureEncoding.robustScale(df, "g", "v")
      .select("g", "v", "median", "mad", "robust_z").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSet
    assert(got.contains(("a", 3L, 3L, 1L, Some(0.0))))
    assert(got.contains(("a", 100L, 3L, 1L, Some(97.0))))
    assert(got.contains(("a", 1L, 3L, 1L, Some(-2.0))))
    // flat group: MAD 0 → NULL, never NaN
    assert(got.contains(("b", 5L, 5L, 0L, None)))
  }
}

/** Bootstrap (weighted with-replacement) sampling specs. */
class BootstrapSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import graft.operators.Sampling

  test("bootstrap: every draw lands on exactly one row; weights steer frequency") {
    // two rows, weights 9:1 — of 2000 draws, ~90% should hit 'heavy'
    val df = Seq((1L, 900L), (2L, 100L)).toDF("id", "w")
    val out = Sampling.bootstrapSample(df, "id", "w", k = 2000)
    assert(out.count() === 2000L) // one row per draw, no draw lost/duplicated
    assert(out.select("draw").distinct().count() === 2000L)
    val heavy = out.filter($"id" === 1L).count()
    assert(heavy > 1700 && heavy < 1900, s"heavy=$heavy of 2000")
  }

  test("bootstrap is deterministic and partition-invariant") {
    val df = spark.range(1, 500).toDF("id")
      .withColumn("w", ($"id" % 7) + 1)
    def run(p: Int) = Sampling.bootstrapSample(
        df.repartition(p), "id", "w", k = 300)
      .as[(Long, Long)].collect().toSet
    assert(run(3) === run(17))
    // salt redraw changes the sample
    val redraw = Sampling.bootstrapSample(df, "id", "w", k = 300, salt = "other")
      .as[(Long, Long)].collect().toSet
    assert(redraw !== run(3))
  }
}

/** Mojibake repair + URL canonicalization specs. */
class TextCleaningSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._
  import java.nio.charset.StandardCharsets
  import graft.plans.{FixMojibake, GraftFunctions}
  import org.apache.spark.unsafe.types.UTF8String

  private def fix(s: String): String =
    FixMojibake.repair(UTF8String.fromString(s)).toString

  /** The UTF-8-as-Latin-1 corruption, built from bytes (several
    * corrupted forms contain C1 control characters — unprintable in
    * source literals by design of the corruption).
    */
  private def garble(s: String): String =
    new String(s.getBytes(StandardCharsets.UTF_8), StandardCharsets.ISO_8859_1)

  test("mojibake repair: corrupted UTF-8-as-Latin-1 restored; clean text untouched") {
    for (clean <- Seq("café", "№ 42", "naïve — dash")) {
      val bad = garble(clean)
      assert(bad !== clean, s"garble must corrupt $clean")
      assert(fix(bad) === clean, s"repair of $clean")
    }
    // genuine Latin-1 text: 0xE9 is a lone continuation byte - untouched
    assert(fix("café") === "café")
    // pure ASCII: identity (fast path)
    assert(fix("plain ascii text") === "plain ascii text")
    // chars >= U+0100 present: not byte-shaped - untouched
    assert(fix("Ā and beyond") === "Ā and beyond")
    assert(fix("") === "")
  }

  test("mojibake expression round-trips a corpus-wide corruption in codegen") {
    GraftFunctions.register(spark)
    val df = Seq("héllo wörld", "ascii only", "naïve — dash")
      .toDF("text")
      .withColumn("bad",
        expr("decode(encode(text, 'UTF-8'), 'ISO-8859-1')"))
      .withColumn("fixed", GraftFunctions.fixMojibakeFast(col("bad")))
    assert(df.filter(col("fixed") =!= col("text")).count() === 0)
    // the corruption itself was real for the non-ASCII rows
    assert(df.filter(col("bad") =!= col("text")).count() === 2)
  }

  test("URL canonicalization: host/scheme lowered, utm and fragment dropped, params sorted") {
    val got = Seq(
      "HTTPS://Site.COM/Path/Cased?utm_source=x&b=2&a=1#frag",
      "https://site.com/Path/Cased?a=1&b=2",
      "http://HOST.org/p",
      "https://h.io/q?utm_campaign=c&utm_medium=m")
      .toDF("url")
      .select(graft.operators.TextAnalysis.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    assert(got(0) === "https://site.com/Path/Cased?a=1&b=2")
    assert(got(1) === got(0)) // the two spellings of the same page collapse
    assert(got(2) === "http://host.org/p")
    assert(got(3) === "https://h.io/q") // all params tracking: no query at all
  }

  test("kLayers: hand-computed onion peeling; insert fold identity holds") {
    // minimize x, maximize y
    val pts = Seq(
      (1L, 1L, 10L), (2L, 2L, 20L),          // layer 1 (frontier)
      (3L, 2L, 10L), (4L, 3L, 15L),          // layer 2 (each dominated only by layer 1)
      (5L, 3L, 9L),                           // layer 3 ((2,10) dominates it)
      (6L, 9L, 1L))                           // layer 4 ((3,9) dominates it)
    val df = pts.toDF("id", "x", "y")
    val got = Skyline.kLayers(df, "x", "y", "id", k = 5)
      .select($"id", $"__layer").as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3, 6L -> 4))
    // peeling stops when the remainder is empty: k=5 asked, 4 layers exist
    assert(got.size === 6)
    // truncation: k=2 retains exactly layers 1-2
    val k2 = Skyline.kLayers(df, "x", "y", "id", k = 2)
      .select($"id", $"__layer").as[(Long, Int)].collect().toMap
    assert(k2 === Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2))
    // insert fold identity: kLayers(S ∪ T) == kLayers(kLayers(S) ∪ T)
    val rnd = new scala.util.Random(42)
    val s = (1 to 300).map(i => (i.toLong, (rnd.nextInt(50) + 1).toLong,
      (rnd.nextInt(50) + 1).toLong))
    val t = (301 to 500).map(i => (i.toLong, (rnd.nextInt(50) + 1).toLong,
      (rnd.nextInt(50) + 1).toLong))
    val k = 3
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select($"id", $"__layer").as[(Long, Int)].collect().toSet
    val full = ids(Skyline.kLayers((s ++ t).toDF("id", "x", "y"), "x", "y", "id", k))
    val folded = ids(Skyline.kLayers(
      Skyline.kLayers(s.toDF("id", "x", "y"), "x", "y", "id", k)
        .drop("__layer").unionByName(t.toDF("id", "x", "y")),
      "x", "y", "id", k))
    assert(folded === full)
  }

  test("paretoReport: cumulative walk matches hand math; over-cardinality fails fast") {
    import graft.queries.Advanced
    val per = Seq(("a", 60L), ("b", 25L), ("c", 10L), ("d", 5L))
      .toDF("source", "tokens")
    val rep = Advanced.paretoReport(per, "source", "tokens")
      .orderBy("rank")
      .as[(Int, String, Long, Long, Double, Double, Boolean)].collect()
    assert(rep.map(_._2).toSeq === Seq("a", "b", "c", "d"))
    assert(rep.map(_._4).toSeq === Seq(60L, 85L, 95L, 100L))
    // frontier: a (cum 60 <= 80) and b (the row crossing 80) are in;
    // c and d start at/after the 80% line
    assert(rep.map(_._7).toSeq === Seq(true, true, false, false))
    assert(rep(1)._6 === 0.85)
    // the walk collects the grouped table — a high-cardinality group
    // column must fail fast, naming the knob, not OOM the driver
    val wide = (1 to 500).map(i => (s"s$i", i.toLong)).toDF("source", "tokens")
    val ex = intercept[IllegalArgumentException] {
      Advanced.paretoReport(wide, "source", "tokens", maxGroups = 100)
    }
    assert(ex.getMessage.contains("maxGroups"), ex.getMessage)
  }

  test("phraseSearch: exact containment, mixed lengths, zero rows, refusals") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "a cat   sat quickly"),      // extra whitespace collapses
      (3L, "concatenation satisfies"),  // substring of words ≠ token run
      (4L, "cat sat cat sat"),          // repeated phrase counts ONCE per doc
      (5L, "sat cat")                   // reversed ≠ contained
    ).toDF("doc_id", "text")
    val got = TextAnalysis.phraseSearch(docs, "doc_id", "text",
        Seq("cat sat", "the cat sat", "dog ran"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("cat sat" -> 3L, "the cat sat" -> 1L, "dog ran" -> 0L))
    // brute-force parity on random word salad
    val rnd = new scala.util.Random(31)
    val vocab = Vector("a", "b", "c", "d", "e")
    val corpus = (1 to 60).map(i =>
      (i.toLong, (1 to 20).map(_ => vocab(rnd.nextInt(5))).mkString(" ")))
    val phrases = Seq("a b", "b c d", "e e", "a a a")
    val want = phrases.map { p =>
      p -> corpus.count(d => (" " + d._2 + " ").contains(" " + p + " ")).toLong
    }.toMap
    val got2 = TextAnalysis.phraseSearch(corpus.toDF("doc_id", "text"),
      "doc_id", "text", phrases).as[(String, Long)].collect().toMap
    assert(got2 === want)
    // refusals: empty list, blank phrase, over-cardinality names the knob
    intercept[IllegalArgumentException] {
      TextAnalysis.phraseSearch(docs, "doc_id", "text", Nil)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.phraseSearch(docs, "doc_id", "text", Seq("  "))
    }
    val big = (1 to 11).map(i => s"p $i")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.phraseSearch(docs, "doc_id", "text", big, maxPhrases = 10)
    }
    assert(e.getMessage.contains("maxPhrases"))
  }

  test("quantileNormalize: hand-computed two-group case and identities") {
    // groups A (4 rows) and B (2 rows), pooled order statistics
    // (value asc, id asc): 1,2,3,5,8,9 at ranks 1..6
    val df = Seq(
      ("A", 1L, 10L), ("A", 3L, 11L), ("A", 8L, 12L), ("A", 9L, 13L),
      ("B", 2L, 20L), ("B", 5L, 21L)).toDF("g", "v", "id")
    val got = FeatureEncoding.quantileNormalize(df, "g", "v", "id")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    // A: r=1..4, n_g=4, N=6 → k=ceil(6r/4)=2,3,5,6 → 2,3,8,9
    // B: r=1..2, n_g=2 → k=3,6 → 3,9
    assert(got === Map(10L -> 2L, 11L -> 3L, 12L -> 8L, 13L -> 9L,
      20L -> 3L, 21L -> 9L))
    // single group: qnorm is the identity (k = r exactly)
    val one = Seq(("x", 7L, 1L), ("x", 4L, 2L), ("x", 4L, 3L))
      .toDF("g", "v", "id")
    val idm = FeatureEncoding.quantileNormalize(one, "g", "v", "id")
      .as[(Long, String, Long, Long)].collect()
    assert(idm.forall(r => r._3 === r._4))
    // every group's output is a subsample of the pooled values, and
    // the max of each group maps to the pooled max (r=n_g ⇒ k=N)
    val pooled = Set(1L, 2L, 3L, 5L, 8L, 9L)
    val byGroup = FeatureEncoding.quantileNormalize(df, "g", "v", "id")
      .as[(Long, String, Long, Long)].collect().groupBy(_._2)
    assert(byGroup.values.flatten.forall(r => pooled.contains(r._4)))
    assert(byGroup.values.forall(_.map(_._4).max === 9L))
  }
}
