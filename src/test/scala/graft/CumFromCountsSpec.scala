package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.{RankCorr, SizeRoute}

/** Direct property coverage for the r16 FUSED grouped cumulation
  * ([[RankCorr.cumFromCountsWith]]) — the primitive the whole
  * rank/order-statistic battery rides: brute-force parity for
  * `below`, the second cumulated column, carry-through payload,
  * boundary-spanning-group offsets (forced by many groups over few
  * partitions), duplicate-key refusal, null-group drop.
  */
class CumFromCountsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** brute force: within-group exclusive cumulative cnt below each
    * value, and inclusive cumulative of vv
    */
  private def brute(rows: Seq[(String, Long, Long, Long)])
      : Map[(String, Long), (Long, Long)] =
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.sortBy(_._2)
      var cum = 0L; var cumv = 0L
      sorted.map { case (_, v, cnt, vv) =>
        val below = cum
        cum += cnt; cumv += vv
        (g, v) -> (below, cumv)
      }
    }

  test("brute-force parity across partition counts, with spanning " +
      "groups (200 groups over 4 shuffle partitions)") {
    val rows = for (gi <- 1 to 200; vi <- 1 to 5) yield
      (f"g$gi%03d", vi.toLong * 3, (gi * vi % 7 + 1).toLong,
        (gi + vi).toLong)
    val want = brute(rows)
    for (parts <- Seq(1, 3, 13)) {
      val df = rows.toDF("g", "v", "cnt", "vv").repartition(parts)
      // forced distributed: this is the spanning-offset machinery's
      // brute-force gate (the local route has its own, plus the
      // cross-route equality test below)
      val got = SizeRoute.forceRoute(false) {
        RankCorr.cumFromCountsWith(df, "v", Some("vv"), Seq("vv"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1)) ->
            (r.getLong(3), r.getDecimal(4).longValue, r.getLong(5)))
          .toMap
      }
      assert(got.size == want.size, s"parts=$parts size")
      for (((g, v), (below, cumv)) <- want) {
        val (gb, gc, gvv) = got((g, v))
        assert(gb == below, s"parts=$parts below($g,$v)")
        assert(gc == cumv, s"parts=$parts cumv($g,$v)")
        // carry column rides untouched
        assert(gvv == rows.find(r => r._1 == g && r._2 == v).get._4)
      }
    }
  }

  test("one giant group spanning every partition still offsets exactly " +
      "(forced onto the distributed route)") {
    val rows = (1 to 5000).map(i => ("g", i.toLong, 2L, 0L))
    val got = SizeRoute.forceRoute(false) {
      RankCorr.cumFromCountsWith(
          rows.toDF("g", "v", "cnt", "vv").repartition(8), "v", None)
        .orderBy("v").collect()
    }
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(3) == 2L * i, s"row $i")
    }
  }

  test("duplicate (g, v) keys refuse loudly") {
    val dup = Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("g", "v", "cnt")
    val e = SparkTestSession.refusalMessage {
      RankCorr.cumFromCountsWith(dup, "v", None).collect()
    }
    assert(e.contains("unique"), e)
  }

  test("null groups are dropped (the documented prior-join behavior)") {
    val rows = Seq((Some("g"), 1L, 1L), (None, 2L, 1L))
      .toDF("g", "v", "cnt")
    val got = RankCorr.cumFromCountsWith(rows, "v", None).collect()
    assert(got.length == 1 && got.head.getString(0) == "g")
  }

  test("r17 size routing: local and forced-distributed routes agree " +
      "bit-for-bit (below, cumv, carry) and refuse identically") {
    val rows = for (gi <- 1 to 40; vi <- 1 to 6) yield
      (f"g$gi%03d", vi.toLong * 7 % 11, (gi * vi % 5 + 1).toLong,
        (gi * 13 + vi).toLong)
    val df = rows.toDF("g", "v", "cnt", "vv").repartition(5)
    def run(local: Boolean) = SizeRoute.forceRoute(local) {
      RankCorr.cumFromCountsWith(df, "v", Some("vv"), Seq("vv"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getDecimal(4).longValue,
            r.getLong(5)))
        .toMap
    }
    val local = run(true)
    val dist = run(false)
    assert(local == dist)
    // the same schema comes back from both routes
    def schemaOf(local: Boolean) = SizeRoute.forceRoute(local) {
      RankCorr.cumFromCountsWith(df, "v", Some("vv"), Seq("vv"))
        .schema.map(f => (f.name, f.dataType))
    }
    assert(schemaOf(true) == schemaOf(false))
    // refusals fire on the local route too, with the same diagnoses
    val dup = Seq(("g", 1L, 1L), ("g", 1L, 2L)).toDF("g", "v", "cnt")
    val e1 = SparkTestSession.refusalMessage {
      SizeRoute.forceRoute(true) {
        RankCorr.cumFromCountsWith(dup, "v", None).collect()
      }
    }
    assert(e1.contains("unique"), e1)
    val nulls = Seq((Some("g"), Some(1L), 1L), (Some("g"), None, 1L))
      .toDF("g", "v", "cnt")
    val e2 = SparkTestSession.refusalMessage {
      SizeRoute.forceRoute(true) {
        RankCorr.cumFromCountsWith(nulls, "v", None).collect()
      }
    }
    assert(e2.contains("null values in v"), e2)
  }

  test("r18: null-bearing valCol agrees across routes, including a " +
      "partition-spanning all-null prefix (the carried-sum parity fix)") {
    // one giant group over many partitions; vv is NULL for the first
    // 60% of the value axis, so on the distributed route several
    // leading partitions carry no value at all — cumv must stay null
    // until the group's first value and then carry across partitions
    // (pre-fix, a null partition-local window sum nulled out a
    // non-null carried offset)
    val rows = (1 to 4000).map(i =>
      ("g", i.toLong, 1L, if (i <= 2400) None else Some(i.toLong)))
    val df = rows.toDF("g", "v", "cnt", "vv").repartition(7)
    def run(local: Boolean) = SizeRoute.forceRoute(local) {
      RankCorr.cumFromCountsWith(df, "v", Some("vv"), Nil)
        .collect()
        .map(r => r.getLong(1) ->
          (r.getLong(3), Option(r.getDecimal(4)).map(_.longValue)))
        .toMap
    }
    val local = run(true)
    val dist = run(false)
    assert(local == dist)
    // ground truth: null until v=2401, then the running sum
    assert(local(2400L)._2.isEmpty)
    assert(local(2401L)._2.contains(2401L))
    assert(local(4000L)._2.contains((2401L to 4000L).sum))
  }

  test("r18: a non-integral (double) valCol routes distributed even " +
      "under the cap — local exactness is only promised for " +
      "integral/decimal values — and the integers still agree") {
    val rows = (1 to 30).map(i => ("g", i.toLong, 1L, i * 0.5))
    val df = rows.toDF("g", "v", "cnt", "vv")
    val out = SizeRoute.forceRoute(true) {
      RankCorr.cumFromCountsWith(df, "v", Some("vv"), Nil)
    }
    // route witness: the distributed machinery ends in a window pass;
    // the local route would come back as one parallelized RDD scan
    assert(out.queryExecution.executedPlan.toString.contains("Window"),
      "double valCol must take the distributed route")
    val got = out.collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(got == (1 to 30).map(i => i.toLong -> (i - 1).toLong).toMap)
  }

  test("null VALUES refuse with their own diagnosis, not the " +
      "duplicate-key message (r17 — a failed cast is the common cause)") {
    // one legitimate row + one null-value row: count_distinct ignores
    // the null, so without the dedicated check this would be refused
    // as "not unique" — a wrong diagnosis
    val rows = Seq((Some("g"), Some(1L), 1L), (Some("g"), None, 1L))
      .toDF("g", "v", "cnt")
    val e = SparkTestSession.refusalMessage {
      RankCorr.cumFromCountsWith(rows, "v", None).collect()
    }
    assert(e.contains("null values in v"), e)
    assert(!e.contains("unique"), e)
  }
}
