package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dbscan, GraphOps, SizeRoute}

/** DBSCAN against a driver-side brute-force reference (same min-label
  * canonicalization) and topoLevels against hand-layered DAGs +
  * cycle refusals.
  */
class DbscanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Brute-force DBSCAN with the operator's exact conventions:
    * neighbor count includes self; clusters = components of the
    * core-core graph labelled min id; border -> min core-neighbor
    * cluster.
    */
  private def bruteDbscan(pts: Seq[(Long, Long, Long)], r: Long, minPts: Int)
      : Map[Long, (String, Option[Long])] = {
    def near(a: (Long, Long, Long), b: (Long, Long, Long)) = {
      val dx = a._2 - b._2; val dy = a._3 - b._3
      dx * dx + dy * dy <= r * r
    }
    val nn = pts.map(p => p._1 -> pts.count(q => near(p, q))).toMap // incl self
    val cores = pts.filter(p => nn(p._1) >= minPts).map(_._1).toSet
    // components over core-core neighbor graph
    val coreList = pts.filter(p => cores(p._1))
    val parent = scala.collection.mutable.Map[Long, Long](cores.map(c => c -> c).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r0 = find(parent(x)); parent(x) = r0; r0 }
    for (a <- coreList; b <- coreList if a._1 < b._1 && near(a, b)) {
      val (ra, rb) = (find(a._1), find(b._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val cluster = cores.map(c => c -> find(c)).toMap
    pts.map { p =>
      if (cores(p._1)) p._1 -> (("core", Some(cluster(p._1))))
      else {
        val coreNbrs = coreList.filter(c => near(p, c)).map(c => cluster(c._1))
        if (coreNbrs.nonEmpty) p._1 -> (("border", Some(coreNbrs.min)))
        else p._1 -> (("noise", None))
      }
    }.toMap
  }

  private def run(pts: Seq[(Long, Long, Long)], r: Long, minPts: Int)
      : Map[Long, (String, Option[Long])] =
    Dbscan.dbscan(pts.toDF("id", "x", "y"), "id", "x", "y", r, minPts)
      .collect().map { row =>
        row.getLong(0) -> ((row.getString(1),
          if (row.isNullAt(2)) None else Some(row.getLong(2))))
      }.toMap

  test("crafted: two blobs, a border bridge, and an isolated noise point") {
    // blob A around (10,10), blob B around (50,10), bridge at (30,10)
    // is within r of nothing core; far point is noise
    val pts = Seq(
      (1L, 10L, 10L), (2L, 12L, 10L), (3L, 10L, 12L), (4L, 12L, 12L),
      (5L, 50L, 10L), (6L, 52L, 10L), (7L, 50L, 12L), (8L, 52L, 12L),
      (9L, 16L, 10L),   // border of blob A (near 2 only with r=5)
      (10L, 500L, 500L) // noise
    )
    val got = run(pts, r = 5L, minPts = 4)
    assert(got === bruteDbscan(pts, 5L, 4))
    assert(got(10L) === (("noise", None)))
    assert(got(1L)._1 === "core" && got(1L)._2 === Some(1L))
    assert(got(5L)._2 === Some(5L)) // blob B labelled by its min core id
    assert(got(9L)._1 === "border" && got(9L)._2 === Some(1L))
  }

  test("border point reachable from two clusters takes the MIN cluster label") {
    // two tight 6-point blobs; point 7 sits between them, within r of
    // exactly ONE core from each blob — 3 neighbors incl self < minPts
    // = 6, so 7 is border of BOTH clusters and must take the min label
    val blobA = Seq((1L, 0L, 0L), (2L, 1L, 0L), (3L, 0L, 1L),
      (4L, 1L, 1L), (5L, 2L, 0L), (6L, 2L, 1L))
    val blobB = Seq((11L, 42L, 0L), (12L, 43L, 0L), (13L, 42L, 1L),
      (14L, 43L, 1L), (15L, 44L, 0L), (16L, 44L, 1L))
    val pts = blobA ++ blobB :+ ((7L, 22L, 0L))
    val got = run(pts, r = 20L, minPts = 6)
    val want = bruteDbscan(pts, 20L, 6)
    assert(want(7L)._1 === "border") // the geometry really is a 2-cluster border
    assert(got === want)
    assert(got(7L)._2 === Some(1L)) // min of the two cluster labels
  }

  test("matches brute force on random integer point sets") {
    val rnd = new scala.util.Random(5)
    (0 until 3).foreach { trial =>
      val pts = (1 to 120).map(i =>
        (i.toLong, rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      // ids are unique but coordinates may collide — the operator
      // treats coincident points as distance 0 neighbors, as does brute
      val (r, minPts) = Seq((6L, 4), (10L, 6), (4L, 3))(trial)
      assert(run(pts, r, minPts) === bruteDbscan(pts, r, minPts),
        s"trial $trial r=$r minPts=$minPts")
    }
  }

  test("topoLevels: chain, diamond, refusals on cycle and self-loop") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(GraphOps.topoLevels(chain.toDF("s", "t"), "s", "t")
      .as[(Long, Long)].collect().toMap ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // diamond + a long arm: level = LONGEST path in
    val dia = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (3L, 5L), (5L, 4L))
    assert(GraphOps.topoLevels(dia.toDF("s", "t"), "s", "t")
      .as[(Long, Long)].collect().toMap ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 5L -> 2L, 4L -> 3L))
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val e1 = intercept[IllegalArgumentException] {
      GraphOps.topoLevels(cyc.toDF("s", "t"), "s", "t").collect()
    }
    assert(e1.getMessage.contains("cycle"))
    val self = Seq((1L, 1L), (1L, 2L))
    val e2 = intercept[IllegalArgumentException] {
      GraphOps.topoLevels(self.toDF("s", "t"), "s", "t").collect()
    }
    assert(e2.getMessage.contains("self-loop"))
  }

  test("gridHotspots: hand-computed 3x3 neighborhood sums; edge cells") {
    // cells (0,0):2 pts, (1,0):1, (2,2):3 — (1,0) neighbors (0,0),
    // itself → 3; (0,0) neighbors itself + (1,0) → 3; (2,2) isolated → 3
    val pts = Seq((1L, 2L), (3L, 4L), (12L, 3L), (25L, 27L), (26L, 28L),
      (29L, 29L)).toDF("x", "y")
    val cells = graft.operators.SpatialJoin.gridHotspots(pts, "x", "y", 10L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(cells === Map(
      (0L, 0L) -> ((2L, 3L)), (1L, 0L) -> ((1L, 3L)), (2L, 2L) -> ((3L, 3L))))
    intercept[IllegalArgumentException] {
      graft.operators.SpatialJoin.gridHotspots(pts, "x", "y", 0L)
    }
  }

  test("topoLevels: local fast path and distributed peel agree") {
    // random DAG (edges only ever point id-upward → acyclic)
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map { _ =>
      val a = rnd.nextInt(60) + 1; val b = a + rnd.nextInt(12) + 1
      (a.toLong, b.toLong)
    }.distinct
    val local = GraphOps.topoLevels(edges.toDF("s", "t"), "s", "t")
      .as[(Long, Long)].collect().toMap
    val dist = SizeRoute.forceRoute(false) {
      GraphOps.topoLevels(edges.toDF("s", "t"), "s", "t")
        .as[(Long, Long)].collect().toMap
    }
    assert(local === dist)
    // distributed cycle refusal still reachable
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val e = intercept[IllegalArgumentException] {
      SizeRoute.forceRoute(false) {
        GraphOps.topoLevels(cyc.toDF("s", "t"), "s", "t").collect()
      }
    }
    assert(e.getMessage.contains("cycle"))
  }
}
