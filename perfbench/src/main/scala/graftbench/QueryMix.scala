package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** A corpus shaped like the contract's test tables (the columns and
  * value ranges the queries read), generated by Spark from a fixed
  * seed at `scale` times the sf0.1 row counts.
  */
object QueryCorpus {
  val Seed = 42L
  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window", "index", "plan")

  private def u(tag: Int, k: Int, id: Column = col("id")): Column =
    shiftrightunsigned(xxhash64(lit(Seed), lit(tag), id, lit(k)), 11).cast("double") * lit(math.pow(2, -53))

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*), (floor(x * values.size) + 1).cast("int"))

  def generate(spark: SparkSession, dir: Path, scale: Double): Unit = {
    def n(base: Long): Long = math.max(20L, math.round(base * scale))
    val nOrders = n(150000); val nCust = n(15000); val nParts = n(20000); val nSupp = n(1000)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def range(rows: Long) = spark.range(0, rows, 1, 4)

    write("lineitem", range(n(600000)).select(
      floor(u(1, 1) * nOrders).cast("long").as("l_orderkey"),
      floor(u(1, 2) * nParts).cast("long").as("l_partkey"),
      floor(u(1, 3) * nSupp).cast("long").as("l_suppkey"),
      (floor(u(1, 4) * 7) + 1).cast("int").as("l_linenumber"),
      (floor(u(1, 5) * 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u(1, 6) * 104100, 2).as("l_extendedprice"),
      (floor(u(1, 7) * 11) / 100).as("l_discount"),
      (floor(u(1, 8) * 9) / 100).as("l_tax"),
      pick(Seq("A", "N", "R"), u(1, 9)).as("l_returnflag"),
      pick(Seq("O", "F"), u(1, 10)).as("l_linestatus"),
      timestamp_seconds(lit(788745600L) + floor(u(1, 11) * 2500) * 86400).as("l_shipdate")))
    write("orders", range(nOrders).select(
      col("id").as("o_orderkey"),
      floor(u(2, 1) * nCust).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u(2, 2)).as("o_orderstatus"),
      round(lit(1000.0) + u(2, 3) * 499000, 2).as("o_totalprice"),
      timestamp_seconds(lit(788659200L) + floor(u(2, 4) * 2404) * 86400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), u(2, 5)).as("o_orderpriority")))
    write("customer", range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      floor(u(3, 1) * 25).cast("int").as("c_nationkey"),
      round(u(3, 2) * 10999 - 999, 2).as("c_acctbal"),
      pick(Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"), u(3, 3)).as("c_mktsegment")))
    write("events", range(n(100000)).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + floor(u(4, 1) * 2592000000000L).cast("long")).as("ts"),
      floor(u(4, 2) * n(1500)).cast("long").as("user_id"),
      pick(Seq("signup", "click", "error", "view", "purchase"), u(4, 3)).as("event_type"),
      round(u(4, 4) * 560, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(4, 5) * 100).cast("long").cast("string"), lit("}")).as("props")))
    val words = array(Vocab.map(lit): _*)
    // the last tenth of the documents copy an earlier one with one word
    // changed, so the set-similarity join has pairs to find
    val nDocs = n(5000)
    val cut = nDocs - nDocs / 10
    val src = when(col("id") >= cut, col("id") - cut).otherwise(col("id"))
    write("documents", range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), (floor(u(5, 1, src) * 91) + 10).cast("int")),
        i => element_at(words, (pmod(xxhash64(lit(Seed), when(i === 5, col("id")).otherwise(src), i),
          lit(Vocab.size.toLong)) + 1).cast("int")))).as("text"),
      pick(Seq("en", "en", "en", "en", "en", "es", "fr", "de", "zh"), u(5, 2)).as("lang"),
      concat(lit("src"), floor(u(5, 3) * 20).cast("long").cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // clustered vectors: ten labels, each a random centre plus noise
    write("embeddings", spark.range(0, 2000, 1, 4).select(col("id"), floor(u(6, 1) * 10).cast("int").as("label"))
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), i =>
          ((u(7, 0, xxhash64(col("label"), i)) - 0.5) + (u(6, 2, xxhash64(col("id"), i)) - 0.5) * 0.4)
            .cast("float")).as("embedding"),
        col("label")))
  }
}

/** `query_mix`: one pass over nine contract queries in seed order,
  * each built with its `SparkEntry.queries` function and materialized
  * in full to the `noop` sink. The write also yields the result's row
  * count and order-independent hash (an observation on the same
  * execution), which the oracle compares with the committed values.
  */
final class QueryMix(ctx: Ctx) extends Workload {
  import QueryMix._

  private val spark = ctx.spark
  private val scale = if (ctx.tiny) TinyScale else FullScale
  private val corpus = ctx.work.resolve("corpus")
  private val order = new scala.util.Random(ctx.seed).shuffle(Names)
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var rows = 0L

  def inputRows: Long = rows

  def prepare(): Unit = {
    Landing.deleteTree(corpus)
    QueryCorpus.generate(spark, ctx.dir("corpus"), scale)
    rows = Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .map(t => spark.read.parquet(corpus.resolve(s"$t.parquet").toString).count()).sum
  }

  /** Every query once over the corpus, all nine at a time: JIT, codegen
    * and the queries' first-use set-up, in about the time of one pass.
    */
  def warmUp(): Unit = {
    import scala.collection.parallel.CollectionConverters._
    order.par.foreach { q =>
      try materialize(SparkEntry.queries(q)(spark, corpus.toString), new Observation())
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $q failed: ${e.getMessage}") }
    }
    resetState()
  }

  def reset(): Unit = results.clear()

  private def materialize(df: DataFrame, obs: Observation): Unit =
    Fingerprint.observed(df, obs).write.format("noop").mode("overwrite").save()

  /** Between queries, as graft's bench does: drop cached plans,
    * persisted RDDs and loaded state stores (untimed).
    */
  private def resetState(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  def pass(tr: Tracer): Pass = {
    results.clear()
    val fn = SparkEntry.queries
    val lat = order.flatMap { q =>
      val obs = new Observation()
      val t = try {
        val (_, s) = Stats.seconds {
          val df = tr.span(s"queries.$q.build") { fn(q)(spark, corpus.toString) }
          tr.span(s"queries.$q.exec") { materialize(df, obs) }
        }
        results(q) = Fingerprint.read(obs)
        Some(s)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] query $q failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
      resetState()
      t
    }
    Pass(lat.sum, lat, Names.size, Names.size - lat.size)
  }

  def verify(): Checks = {
    val expected = if (ctx.tiny) ExpectedTiny else ExpectedFull
    val bad = Names.count { q =>
      val ok = (results.get(q), expected.get(q)) match {
        case (Some((n, h)), Some((en, eh))) => n == en && eh.forall(_ == h)
        case _ => false
      }
      if (!ok) System.err.println(s"[perfbench] query_mix: $q gave ${results.get(q)}, expected ${expected.get(q)}")
      !ok
    }
    Checks(Names.size, bad)
  }

  def layers(tr: Tracer): Map[String, Double] = {
    val spans = tr.spans
    val all = tr.ledger.countersOf(Some(spans))
    Names.flatMap { q =>
      val build = spans.filter(_.name == s"queries.$q.build")
      val exec = spans.filter(_.name == s"queries.$q.exec")
      val mine = build ++ exec
      val jobs = tr.ledger.jobsOf(Some(mine))
      val wall = mine.map(_.seconds).sum
      val busy = Tracer.covered(jobs.map(j => (j.startMs, j.endMs))) / 1000.0
      Seq(
        s"queries.$q.build_s" -> build.map(_.seconds).sum,
        s"queries.$q.exec_s" -> exec.map(_.seconds).sum,
        s"queries.$q.jobs" -> jobs.size.toDouble,
        s"queries.$q.driver_gap_s" -> math.max(0.0, wall - busy),
        s"queries.$q.shuffle_bytes" -> tr.ledger.countersOf(Some(mine)).shuffleWriteBytes.toDouble)
    }.toMap ++ Map(
      "sources.rows" -> all.inputRecords.toDouble,
      "sources.input_bytes" -> all.inputBytes.toDouble)
  }
}

object QueryMix {
  val Names: Seq[String] = Seq("q1_pricing_summary", "q114_ewma", "q97_basket_pairs", "graph_pagerank",
    "q121_dbscan", "q165_jonckheere", "text_setsim_join", "ann_ivf", "q_stream_sessionize")

  val FullScale = 0.02
  val TinyScale = 0.005

  /** Row count and hash per query on the corpus at each scale, as this
    * tree computes them; all nine results are deterministic, so every
    * hash is checked (a hash of None would check the row count only).
    */
  val ExpectedFull: Map[String, (Long, Option[Long])] = Map(
    "q1_pricing_summary" -> (6L, Some(10893083969L)),
    "q114_ewma" -> (2000L, Some(4297717016799L)),
    "q97_basket_pairs" -> (20L, Some(51614166893L)),
    "graph_pagerank" -> (100L, Some(211926270953L)),
    "q121_dbscan" -> (1L, Some(1058027927L)),
    "q165_jonckheere" -> (8L, Some(20331492300L)),
    "text_setsim_join" -> (9L, Some(24867325925L)),
    "ann_ivf" -> (100L, Some(224106819204L)),
    "q_stream_sessionize" -> (1912L, Some(4125948460097L)))
  val ExpectedTiny: Map[String, (Long, Option[Long])] = Map(
    "q1_pricing_summary" -> (6L, Some(13573116856L)),
    "q114_ewma" -> (500L, Some(1051711413799L)),
    "q97_basket_pairs" -> (20L, Some(44328982013L)),
    "graph_pagerank" -> (95L, Some(211259603804L)),
    "q121_dbscan" -> (1L, Some(1288762869L)),
    "q165_jonckheere" -> (7L, Some(19139541075L)),
    "text_setsim_join" -> (1L, Some(677267421L)),
    "ann_ivf" -> (100L, Some(224106819204L)),
    "q_stream_sessionize" -> (493L, Some(1040764112977L)))
}
