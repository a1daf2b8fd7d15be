package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import graft.cdc.{CdcColumns, CdcMerge}
import graft.config.{GraftConfig, JdbcConnection, OutputLocation, OutputSettings, SavepointsLocation,
  SourceLocation}
import graft.sinks.JdbcTableManager

/** State shared by the two CDC workloads: the per-pass bookkeeping a
  * traced pass leaves for its probes.
  */
abstract class CdcWorkload(ctx: Ctx) extends Workload {
  protected val reads = new ConcurrentLinkedQueue[TracedClient.Read]()
  protected val sinks = new TracedClient.SinkCounters
  protected var runNo = 0

  /** One client run, untraced (graft's `run`) or traced (decomposed). */
  protected def clientRun(cfg: GraftConfig, tr: Tracer, merged: Boolean): (Seq[TableOutcome], Double) = {
    runNo += 1
    Stats.seconds {
      if (tr.enabled) new TracedClient(ctx.spark, cfg, tr, runNo).run(merged, reads, sinks)
      else ClientRun.run(ctx.spark, cfg, merged)
    }
  }

  /** Failed operations of one run: a table with new data that came back
    * skipped or without a new savepoint, or a table missing from the
    * result; an idle table that did not come back skipped.
    */
  protected def failures(out: Seq[TableOutcome], withData: Set[String]): Int = {
    val byName = out.map(o => o.table -> o).toMap
    Landing.Tables.count { t =>
      byName.get(t) match {
        case None => withData.contains(t)
        case Some(o) if withData.contains(t) =>
          val bad = o.skipped || o.newSavepoint.isEmpty
          if (bad) System.err.println(s"[perfbench] table '$t' had data but came back $o")
          bad
        case Some(o) => !o.skipped
      }
    }
  }

  protected def mergeProbe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame

  def layers(tr: Tracer): Map[String, Double] = {
    val rs = reads.asScala.toSeq
    TracedClient.layers(tr, rs, sinks, TracedClient.probe(ctx.spark, rs, mergeProbe), Landing.Tables)
  }
}

/** `cdc_cold`: a cold catch-up, one `GraftClient.run(merged = true)` to
  * the parquet file sink from empty savepoints and an empty output
  * directory, over every folder of the landing zone.
  */
final class CdcCold(ctx: Ctx) extends CdcWorkload(ctx) {
  private val landing =
    if (ctx.tiny) new ColdLanding(ctx.spark, ctx.seed, folders = 4, rowsPerFolder = 500)
    else new ColdLanding(ctx.spark, ctx.seed, folders = 10, rowsPerFolder = CdcCold.RowsPerFolder)
  private val lz = ctx.work.resolve("cold-landing")
  private var out: Path = _

  def inputRows: Long = landing.rowsTotal
  override def passes: Int = if (ctx.tiny) 1 else math.max(1, math.round(ctx.seconds / 3.5).toInt)

  def prepare(): Unit = {
    Landing.deleteTree(lz)
    landing.landAll(lz, ctx.dir("scratch"))
  }

  /** One untimed catch-up over the landing zone. */
  def warmUp(): Unit = catchUp(lz, new Tracer(ctx.spark, enabled = false))

  def reset(): Unit = ()

  protected def mergeProbe = (df: org.apache.spark.sql.DataFrame) =>
    CdcColumns.dropAllInternal(CdcMerge.applyOperations(df, Seq("id"), Seq(CdcColumns.SeqValCol)),
      keepSeqVal = true)

  /** One cold run over `zone` into a fresh output directory. */
  private def catchUp(zone: Path, tr: Tracer): (Seq[TableOutcome], Double) = {
    if (out != null) Landing.deleteTree(out.getParent)
    val base = Files.createTempDirectory(ctx.dir("cold-out"), "pass")
    out = Files.createDirectories(base.resolve("out"))
    val sp = Files.createDirectories(base.resolve("savepoints"))
    val cfg = GraftConfig(SourceLocation(zone.toString, zone.resolve("manifest.json").toString),
      OutputLocation(out.toString), SavepointsLocation(sp.toString), OutputSettings())
    clientRun(cfg, tr, merged = true)
  }

  def pass(tr: Tracer): Pass = {
    val (res, s) = catchUp(lz, tr)
    val failed = failures(res, Landing.Tables.toSet)
    Pass(s, if (failed == 0) Seq(s) else Nil, Landing.Tables.size, failed)
  }

  def verify(): Checks = {
    val failed = Landing.Tables.indices.par.count { t =>
      val expected = landing.expectedState(t)
      val path = landing.outputPath(out, Landing.Tables(t))
      val ok = Files.isDirectory(path) && {
        val actual = ctx.spark.read.parquet(path.toString)
        actual.columns.sorted.sameElements(expected.columns.sorted) &&
          Fingerprint.of(actual) == Fingerprint.of(expected)
      }
      if (!ok) System.err.println(s"[perfbench] cdc_cold: ${Landing.Tables(t)} differs from the oracle")
      !ok
    }
    Checks(Landing.Tables.size, failed)
  }
}

object CdcCold {
  /** 4 tables x 10 folders x this many rows per cold pass. */
  val RowsPerFolder: Int = 15000
}

/** `cdc_incremental`: raw and merged export to two embedded Derby
  * databases. Set-up loads a base snapshot and runs the warm-up ticks;
  * the timed pass is a sequence of ticks, each making one new manifest
  * visible (untimed) and timing one `GraftClient.run()`, which also
  * polls the idle tables.
  */
final class CdcIncremental(ctx: Ctx) extends CdcWorkload(ctx) {
  private val warmTicks = if (ctx.tiny) 1 else 2
  private val timedTicks = if (ctx.tiny) 4 else 4 * ctx.seconds
  private val landing =
    if (ctx.tiny) new IncLanding(ctx.seed, baseRows = 200, ticks = warmTicks + timedTicks, opsPerTick = 100)
    else new IncLanding(ctx.seed, baseRows = 1000, ticks = warmTicks + timedTicks, opsPerTick = 1500)
  private val lz = ctx.work.resolve("inc-landing")
  private var generation = 0
  private var cfg: GraftConfig = _
  private var setupFailures = 0

  def inputRows: Long = (warmTicks until landing.ticks).map(k =>
    landing.active(k).map(t => landing.ops(t)(k + 1).size.toLong).sum).sum

  protected def mergeProbe = (df: org.apache.spark.sql.DataFrame) =>
    CdcMerge.latestByKey(df, Seq("id"), Seq(CdcColumns.SeqValCol))

  private def conn(db: Path) = JdbcConnection(jdbcUrl = s"jdbc:derby:$db;create=true",
    jdbcUsername = "app", jdbcPassword = "bench", jdbcSchema = "APP")

  /** Fresh landing zone, fresh databases, base snapshot and warm-up ticks. */
  def prepare(): Unit = {
    if (cfg != null) {
      cfg.jdbcConnectionRaw.foreach(IncDerby.shutdown)
      cfg.jdbcConnectionMerged.foreach(IncDerby.shutdown)
    }
    Landing.deleteTree(ctx.work.resolve("inc"))
    generation += 1
    val root = ctx.dir("inc")
    Landing.deleteTree(lz)
    landing.landAll(ctx.spark, lz, ctx.dir("scratch"))
    val sp = Files.createDirectories(root.resolve("savepoints"))
    cfg = GraftConfig(SourceLocation(lz.toString, lz.resolve("manifest.json").toString),
      OutputLocation(root.resolve("out").toString), SavepointsLocation(sp.toString),
      OutputSettings(exportTarget = "jdbc", saveIntoJdbcRaw = true, saveIntoJdbcMerged = true),
      jdbcConnectionRaw = Some(conn(root.resolve(s"raw-db-$generation"))),
      jdbcConnectionMerged = Some(conn(root.resolve(s"merged-db-$generation"))))
    val disabled = new Tracer(ctx.spark, enabled = false)
    setupFailures = (-1 until warmTicks).map { k =>
      Landing.writeManifest(lz, landing.manifestAfter(k))
      failures(clientRun(cfg, disabled, merged = false)._1, withData(k))
    }.sum
  }

  private def withData(k: Int): Set[String] =
    if (k < 0) Landing.Tables.toSet else landing.active(k).map(Landing.Tables).toSet

  /** The base load and warm-up ticks in `prepare` are the warm-up. */
  def warmUp(): Unit = ()

  def reset(): Unit = prepare()

  def pass(tr: Tracer): Pass = {
    var attempted = 0
    var failed = 0
    val lat = (warmTicks until landing.ticks).flatMap { k =>
      Landing.writeManifest(lz, landing.manifestAfter(k))
      val (res, s) = clientRun(cfg, tr, merged = false)
      val f = failures(res, withData(k))
      attempted += withData(k).size
      failed += f
      if (f == 0) Some(s) else None
    }
    Pass(lat.sum, lat, attempted, failed)
  }

  /** Raw tables hold exactly the generated changes; merged tables equal
    * the driver-side fold of every batch.
    */
  def verify(): Checks = {
    val last = landing.ticks - 1
    val bad = Landing.Tables.indices.map { t =>
      val table = Landing.Tables(t)
      val raw = IncDerby.rawKeys(cfg.jdbcConnectionRaw.get, table)
      val rawOk = raw.size == raw.toSet.size && raw.toSet == landing.rawAfter(t, last)
      val merged = IncDerby.mergedRows(cfg.jdbcConnectionMerged.get, table)
      val expected = landing.mergedAfter(t, last)
      val mergedOk = merged.size == expected.size && merged.forall { case (id, row) =>
        expected.get(id).exists(o => row == IncDerby.stored(o))
      }
      if (!rawOk) System.err.println(s"[perfbench] cdc_incremental: raw $table differs from the generated log")
      if (!mergedOk) System.err.println(s"[perfbench] cdc_incremental: merged $table differs from the fold")
      Seq(rawOk, mergedOk).count(!_)
    }.sum
    Checks(2 * Landing.Tables.size + 1, bad + (if (setupFailures > 0) 1 else 0))
  }
}

/** Reading the Derby targets back for the oracle. */
object IncDerby {
  type Stored = (String, Double, String, Int, String, Option[String])

  def stored(o: IncLanding.Op): Stored = (o.name, o.amount, o.status, o.qty, o.seqval, o.region)

  def rawKeys(c: JdbcConnection, table: String): Seq[(Long, String, Int)] =
    query(c, s"""SELECT "id", "gwcbi___seqval_hex", "gwcbi___operation" FROM ${c.jdbcSchema}.$table""") { rs =>
      (rs.getLong(1), rs.getString(2), rs.getInt(3))
    }

  def mergedRows(c: JdbcConnection, table: String): Map[Long, Stored] = {
    val cols = JdbcTableManager.withConnection(c) { conn =>
      JdbcTableManager.tableSchema(conn, c.jdbcSchema, table).map(_.fieldNames.toSet).getOrElse(Set.empty)
    }
    val region = if (cols.contains("region")) "\"region\"" else "CAST(NULL AS VARCHAR(8))"
    val rows = query(c, s"""SELECT "id", "name", "amount", "status", "qty", "gwcbi___seqval_hex", $region """ +
      s"FROM ${c.jdbcSchema}.$table") { rs =>
      rs.getLong(1) -> ((rs.getString(2), rs.getDouble(3), rs.getString(4), rs.getInt(5), rs.getString(6),
        Option(rs.getString(7))): Stored)
    }
    rows.toMap
  }

  private def query[A](c: JdbcConnection, sql: String)(f: java.sql.ResultSet => A): Seq[A] =
    JdbcTableManager.withConnection(c) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(sql)
        val b = Seq.newBuilder[A]
        while (rs.next()) b += f(rs)
        b.result()
      } finally st.close()
    }

  /** Close an embedded database so its directory can be removed. */
  def shutdown(c: JdbcConnection): Unit = {
    val url = c.jdbcUrl.replace(";create=true", ";shutdown=true")
    try java.sql.DriverManager.getConnection(url).close()
    catch { case _: java.sql.SQLException => () } // Derby reports a clean shutdown as an exception
  }
}
