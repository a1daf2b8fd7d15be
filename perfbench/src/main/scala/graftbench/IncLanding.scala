package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The incremental workload's change stream, generated on the driver
  * from the seed: a base snapshot of `baseRows` inserts per table, then
  * `ticks` small batches. Each tick changes a seeded subset of the
  * tables with `opsPerTick` operations in total: about 30% inserts of
  * new keys, 60% updates and 10% deletes of live keys (hot keys more
  * often). From tick `switchTick` on, batches carry fingerprint B,
  * which adds the `region` column.
  *
  * All folders are landed up front; the manifest written before each
  * tick is what makes that tick's folders visible to the client, as a
  * producer's manifest does.
  */
final class IncLanding(seed: Long, baseRows: Int, val ticks: Int, opsPerTick: Int) {
  import IncLanding._
  import Landing._

  val switchTick: Int = ticks / 2
  def tickTs(k: Int): Long = Ts0 + (k + 1) * TickMs

  /** ops(table)(batch): batch 0 is the base snapshot, batch k+1 is tick k. */
  val ops: Array[Array[Vector[Op]]] = Array.fill(Tables.size, ticks + 1)(Vector.empty[Op])
  /** Tables tick k lands a batch for. */
  val active: Array[Seq[Int]] = new Array(ticks)

  locally {
    val rnd = new java.util.SplittableRandom(seed)
    val live = Array.fill(Tables.size)(new LiveKeys)
    val nextSeq = Array.fill(Tables.size)(1L)
    val nextKey = Array.fill(Tables.size)(baseRows.toLong)
    def row(t: Int, id: Long, op: Int, region: Boolean): Op = {
      val seq = nextSeq(t); nextSeq(t) += 1
      Op(id, f"$seq%016X", op, s"name-${rnd.nextInt(100000)}", math.rint(rnd.nextDouble() * 1e6) / 100,
        Statuses(rnd.nextInt(Statuses.size)), rnd.nextInt(1000),
        if (region) Some(Regions(rnd.nextInt(Regions.size))) else None)
    }
    Tables.indices.foreach { t =>
      ops(t)(0) = (0L until baseRows.toLong).map { id => live(t).add(id); row(t, id, 2, region = false) }.toVector
    }
    (0 until ticks).foreach { k =>
      val chosen = {
        val c = Tables.indices.filter(_ => rnd.nextDouble() < 0.5)
        if (c.nonEmpty) c else Seq(rnd.nextInt(Tables.size))
      }
      active(k) = chosen
      val per = math.max(1, opsPerTick / chosen.size)
      chosen.foreach { t =>
        val region = k >= switchTick
        ops(t)(k + 1) = (0 until per).map { _ =>
          val r = rnd.nextDouble()
          if (r < 0.3 || live(t).size < 2) {
            val id = nextKey(t); nextKey(t) += 1
            live(t).add(id)
            row(t, id, if (r < 0.27) 2 else 0, region)
          } else if (r < 0.9) {
            val u = rnd.nextDouble()
            row(t, live(t).at((u * u * live(t).size).toInt), 4, region)
          } else {
            val id = live(t).at(rnd.nextInt(live(t).size))
            live(t).remove(id)
            row(t, id, 1, region)
          }
        }.toVector
      }
    }
  }

  def opsTotal: Long = ops.map(_.map(_.size.toLong).sum).sum
  def tickOps: Long = ops.map(_.drop(1).map(_.size.toLong).sum).sum

  /** Manifest once batches up to tick `k` are visible (k = -1: base only). */
  def manifestAfter(k: Int): Map[String, Entry] = Tables.indices.map { t =>
    val landed = (0 to k).filter(active(_).contains(t))
    val fps = if (k >= switchTick) Map(FpA -> Ts0, FpB -> tickTs(switchTick)) else Map(FpA -> Ts0)
    Tables(t) -> Entry(landed.lastOption.map(tickTs).getOrElse(Ts0),
      ops(t).take(k + 2).map(_.size.toLong).sum, fps)
  }.toMap

  def landAll(spark: SparkSession, root: Path, scratch: Path): Unit = {
    def frame(region: Boolean, batches: Seq[(Int, Int)]) = {
      val rows = batches.flatMap { case (t, b) =>
        val ts = if (b == 0) Ts0 else tickTs(b - 1)
        ops(t)(b).map { o =>
          val base = Seq(o.id, o.name, o.amount, o.status, o.qty, o.seqval, o.op,
            java.lang.Long.parseLong(o.seqval, 16) * 7, s"tx${o.seqval}", ts, Tables(t))
          Row.fromSeq(if (region) base :+ o.region.orNull else base)
        }
      }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), if (region) SchemaB else SchemaA)
    }
    val all = for (t <- Tables.indices; b <- 0 to ticks if ops(t)(b).nonEmpty) yield (t, b)
    val (a, b) = all.partition { case (_, bt) => bt == 0 || bt - 1 < switchTick }
    land(frame(region = false, a), root, FpA, scratch)
    if (b.nonEmpty) land(frame(region = true, b), root, FpB, scratch)
  }

  /** Expected merged table after every batch up to tick `k`, folded on
    * the driver the way the merged apply defines it: per batch, the
    * latest change of each key by seqval wins; a delete removes the key,
    * anything else stores the row.
    */
  def mergedAfter(t: Int, k: Int): Map[Long, Op] = {
    val state = mutable.HashMap.empty[Long, Op]
    (0 to k + 1).foreach { b =>
      ops(t)(b).groupBy(_.id).foreach { case (id, changes) =>
        val last = changes.maxBy(_.seqval)
        if (last.op == 1) state.remove(id) else state.put(id, last)
      }
    }
    state.toMap
  }

  /** Expected raw log after tick `k`: every change exactly once. */
  def rawAfter(t: Int, k: Int): Set[(Long, String, Int)] =
    (0 to k + 1).flatMap(b => ops(t)(b).map(o => (o.id, o.seqval, o.op))).toSet
}

object IncLanding {
  final case class Op(id: Long, seqval: String, op: Int, name: String, amount: Double,
                      status: String, qty: Int, region: Option[String])

  val Statuses: IndexedSeq[String] = IndexedSeq("open", "bound", "closed", "void")
  val Regions: IndexedSeq[String] = IndexedSeq("emea", "amer", "apac")

  val SchemaA: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType), StructField("amount", DoubleType),
    StructField("status", StringType), StructField("qty", IntegerType),
    StructField("gwcbi___seqval_hex", StringType), StructField("gwcbi___operation", IntegerType),
    StructField("gwcbi___lsn", LongType), StructField("gwcbi___tx_id", StringType),
    StructField("__ts", LongType), StructField("__tbl", StringType)))
  val SchemaB: StructType = SchemaA.add(StructField("region", StringType))

  /** Live keys with O(1) random pick and removal. */
  final class LiveKeys {
    private val keys = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    def size: Int = keys.size
    def at(i: Int): Long = keys(math.min(i, keys.size - 1))
    def add(k: Long): Unit = if (!pos.contains(k)) { pos(k) = keys.size; keys += k }
    def remove(k: Long): Unit = pos.remove(k).foreach { i =>
      val last = keys.remove(keys.size - 1)
      if (i < keys.size) { keys(i) = last; pos(last) = i }
    }
  }
}
