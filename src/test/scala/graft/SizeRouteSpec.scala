package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.scalacheck.{Gen, Prop, Test => ScTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bfs, Components, GraphOps, PrefixSum, RankCorr, Ranking, SizeRoute, TableStats}

/** Cross-route property for the one size-routing policy
  * ([[SizeRoute]]): every size-routed operator, run under
  * `forceRoute(true)` and `forceRoute(false)` on small generated inputs
  * — empty inputs (scalacheck's first case has size 0), nulls,
  * duplicates, self-loops and non-BMP strings where the key type
  * admits them — gives the same rows and schema, or the same refusal.
  * Deterministic seeds; no shrinking (each case runs Spark jobs). Plus
  * the route-parity regressions the policy fixed, and a source lint
  * that keeps the caps and the RDD-backed return in one place.
  */
class SizeRouteSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Outcome = Either[String, (Seq[(String, DataType)], Seq[String])]

  /** Schema and sorted rows, or the refusal's innermost message. */
  private def outcome(f: => DataFrame): Outcome =
    try {
      val df = f
      Right((df.schema.map(c => c.name -> c.dataType),
        df.collect().map(_.toString).toSeq.sorted))
    } catch {
      case e: Exception =>
        val root = Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).toSeq.last
        Left(String.valueOf(root.getMessage).stripPrefix("requirement failed: "))
    }

  private def bothRoutes(f: => DataFrame): Prop = {
    val local = SizeRoute.forceRoute(true)(outcome(f))
    val dist = SizeRoute.forceRoute(false)(outcome(f))
    (local == dist) :| s"local $local != distributed $dist"
  }

  private def check[T](gen: Gen[T], seed: Long, cases: Int = 4)(f: T => Prop): Unit = {
    val res = ScTest.check(
      ScTest.Parameters.default.withMinSuccessfulTests(cases).withMaxSize(30)
        .withInitialSeed(org.scalacheck.rng.Seed(seed)),
      Prop.forAllNoShrink(gen)(f))
    assert(res.passed, res.status.toString)
  }

  // ---- generators: tiny id spaces, so duplicates and self-loops are
  // common; one null in `oneIn` values
  private def nullable[T](g: Gen[T], oneIn: Int = 12): Gen[Option[T]] =
    Gen.frequency(oneIn - 1 -> g.map(Some(_)), 1 -> Gen.const(None))
  private val id = Gen.choose(1L, 12L)
  private def edgesOver(ids: Gen[Long]): Gen[List[(Option[Long], Option[Long])]] =
    Gen.listOf(Gen.zip(nullable(ids), nullable(ids)))
  private val edges = edgesOver(id)
  private val strs = Seq("a", "b", "ab", "é", "｡", "𐀀", "𐀁z", "z𐀀")
  private val strEdges: Gen[List[(Option[String], Option[String])]] =
    Gen.listOf(Gen.zip(nullable(Gen.oneOf(strs)), nullable(Gen.oneOf(strs))))
  private def edgeDf(es: Seq[(Option[Long], Option[Long])]): DataFrame =
    es.toDF("a", "b")

  test("property: Bfs multi-source and per-source sweeps agree across routes") {
    val small = Gen.choose(1L, 8L)
    val gen = Gen.zip(edgesOver(small), Gen.listOfN(2, nullable(small)))
    check(gen, 1L) { case (es, seeds) =>
      val sd = seeds.toDF("node")
      bothRoutes(Bfs.multiSourceBfs(edgeDf(es), "a", "b", sd, "node", maxHops = 3)) &&
        bothRoutes(Bfs.perSourceBfs(edgeDf(es), "a", "b", sd, "node", maxHops = 3))
    }
  }

  test("property: connected components agree across routes (long and non-BMP string ids)") {
    check(Gen.zip(edges, strEdges), 2L) { case (es, ss) =>
      bothRoutes(Components.connectedComponents(edgeDf(es), "a", "b")) &&
        bothRoutes(Components.connectedComponents(ss.toDF("a", "b"), "a", "b"))
    }
  }

  test("property: kCore agrees across routes (long, int and string ids)") {
    // a denser id space, so 2-cores are not all empty
    check(Gen.zip(edgesOver(Gen.choose(1L, 6L)), strEdges), 3L) { case (es, ss) =>
      val ints = edgeDf(es).select(col("a").cast("int"), col("b").cast("int"))
      bothRoutes(GraphOps.kCore(edgeDf(es), "a", "b", k = 2)) &&
        bothRoutes(GraphOps.kCore(ints, "a", "b", k = 2)) &&
        bothRoutes(GraphOps.kCore(ss.toDF("a", "b"), "a", "b", k = 2))
    }
  }

  test("property: scc and topoLevels agree across routes") {
    // topoLevels also on the acyclic orientation, so layerings (not
    // only cycle refusals) are compared
    check(edges, 4L) { es =>
      val dag = edgeDf(es).filter(col("a") =!= col("b") || col("a").isNull || col("b").isNull)
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      bothRoutes(GraphOps.scc(edgeDf(es), "a", "b")) &&
        bothRoutes(GraphOps.topoLevels(edgeDf(es), "a", "b")) &&
        bothRoutes(GraphOps.topoLevels(dag, "a", "b", partitions = 3))
    }
  }

  test("property: label propagation and louvain agree across routes") {
    check(edges, 5L) { es =>
      bothRoutes(GraphOps.labelPropagation(edgeDf(es), "a", "b", maxIter = 10)) &&
        bothRoutes(GraphOps.louvain(edgeDf(es), "a", "b", maxIter = 10))
    }
  }

  test("property: globalRank and runningTotal agree across routes") {
    // keys drawn from a space wide enough that most cases are unique
    // (ranked), some duplicate and some null (refused)
    val rows = Gen.listOf(Gen.zip(nullable(Gen.choose(1L, 200L)), id))
    check(rows, 6L, cases = 6) { rs =>
      val df = rs.toDF("k", "v")
      bothRoutes(Ranking.globalRank(df, Seq("k"), "r", 0)) &&
        bothRoutes(PrefixSum.runningTotal(df, "k", "v", "run"))
    }
  }

  test("property: cumFromCountsWith agrees across routes (non-BMP groups, null values)") {
    // null values refuse the whole table, so they are rarer here
    val rows = Gen.listOf(Gen.zip(nullable(Gen.oneOf(strs)),
      nullable(Gen.choose(1L, 40L), oneIn = 30), id, nullable(id)))
    check(rows, 7L, cases = 6) { rs =>
      val df = rs.toDF("g", "v", "cnt", "vv")
      bothRoutes(RankCorr.cumFromCountsWith(df, "v", Some("vv"), Seq("vv"))) &&
        bothRoutes(RankCorr.cumFromCountsWith(df, "v", None))
    }
  }

  test("property: joinSkewReport agrees across routes (non-BMP keys)") {
    check(Gen.listOf(nullable(Gen.oneOf(strs))), 8L) { ks =>
      bothRoutes(TableStats.joinSkewReport(ks.toDF("k"), "k"))
    }
  }

  // ---- route-parity regressions

  test("kCore: string and int ids give the same rows and schema on both routes") {
    val tri = Seq(("x", "y"), ("y", "z"), ("x", "z"), ("z", "w"))
    val byDefault = GraphOps.kCore(tri.toDF("a", "b"), "a", "b", k = 2)
      .as[(String, Long)].collect().toSet
    assert(byDefault == Set(("x", 2L), ("y", 2L), ("z", 2L)))
    assert(byDefault == SizeRoute.forceRoute(false) {
      GraphOps.kCore(tri.toDF("a", "b"), "a", "b", k = 2)
        .as[(String, Long)].collect().toSet
    })
    val ints = Seq((1, 2), (2, 3), (1, 3), (3, 4)).toDF("a", "b")
    val local = GraphOps.kCore(ints, "a", "b", k = 2)
    val dist = SizeRoute.forceRoute(false)(GraphOps.kCore(ints, "a", "b", k = 2))
    assert(local.schema("node").dataType == IntegerType)
    assert(dist.schema("node").dataType == IntegerType)
    assert(local.collect().toSet == dist.collect().toSet)
  }

  test("Bfs: null endpoints under the cap fall through to the distributed route") {
    val es = Seq((Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(1L)))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    def multi = Bfs.multiSourceBfs(es, "src", "dst", seeds, "node", maxHops = 5)
      .as[(Long, Long)].collect().toSet
    def per = Bfs.perSourceBfs(es, "src", "dst", seeds, "node", maxHops = 5)
      .as[(Long, Long, Long)].collect().toSet
    assert(multi == Set((1L, 0L), (2L, 1L), (3L, 2L)))
    assert(multi == SizeRoute.forceRoute(false)(multi))
    assert(per == Set((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L)))
    assert(per == SizeRoute.forceRoute(false)(per))
  }

  test("globalRank: null order keys refuse with their own diagnosis on both routes") {
    val withNull = Seq(Some(1L), None, Some(3L)).toDF("v")
    // partitions > 0 is a requested distributed layout; 0 routes local
    for (parts <- Seq(0, 3)) {
      val e = SparkTestSession.refusalMessage {
        Ranking.globalRank(withNull, Seq("v"), "r", parts).collect()
      }
      assert(e.contains("null order key in 'v'") && e.contains("unique"),
        s"partitions=$parts: $e")
    }
  }

  test("lint: caps, cap parameters and the RDD-backed return live only in SizeRoute") {
    val src = Paths.get(sys.props("user.dir"), "src/main/scala/graft/operators")
    val files = Files.list(src).iterator().asScala.toSeq
      .filter(f => f.getFileName.toString.endsWith(".scala") &&
        f.getFileName.toString != "SizeRoute.scala")
    assert(files.size >= 50, s"no operator sources under $src")
    val banned = Seq("""\b4000000L\b""".r, """\b250000L\b""".r,
      """\b(maxLocalEdges|maxLocalRows|maxOnePartRows)\b""".r,
      """/\s*20000\b""".r)
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(_.findFirstIn(line).nonEmpty)
    } yield s"${f.getFileName}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
