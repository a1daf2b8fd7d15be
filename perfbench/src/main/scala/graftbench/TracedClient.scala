package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcColumns, CdcMerge, Manifest, ManifestEntry, Savepoints}
import graft.client.GraftClient
import graft.config.GraftConfig
import graft.sinks.{FileSink, JdbcDdl, JdbcMergedApply, JdbcSink, JdbcTableManager}
import graft.sources.CdcBatchReader

/** How one table came out of one client run. */
final case class TableOutcome(table: String, skipped: Boolean, newSavepoint: Option[String])

object ClientRun {
  /** The untraced path: graft's own `GraftClient.run`. */
  def run(spark: SparkSession, cfg: GraftConfig, merged: Boolean): Seq[TableOutcome] =
    new GraftClient(spark, cfg).run(merged = merged)
      .map(r => TableOutcome(r.tableName, r.skipped, r.newSavepoint))
}

/** The traced path: `GraftClient.run` decomposed into the same public
  * module calls in the same order (savepoints, manifest, then per
  * table in parallel: savepoint lookup, listing, `readTable`, merge,
  * sink, savepoint commit), each inside a span. The oracles check its
  * output exactly like that of the untraced path.
  */
final class TracedClient(spark: SparkSession, cfg: GraftConfig, tr: Tracer, runNo: Int) {
  import TracedClient._

  private val Key = Seq("id")
  private val Seq1 = Seq(CdcColumns.SeqValCol)

  def run(merged: Boolean, reads: ConcurrentLinkedQueue[Read], sinks: SinkCounters): Seq[TableOutcome] = {
    val savepoints = tr.span("cdc.savepoint_read") { new Savepoints(cfg.savepointsLocation.path) }
    val manifest = tr.span("cdc.manifest") {
      Manifest.filterTables(Manifest.fromFile(cfg.sourceLocation.manifestPath),
        cfg.outputSettings.tablesToInclude)
    }
    val parent = tr.current
    manifest.toSeq.par.map { case (t, entry) =>
      scala.util.Try(table(savepoints, t, entry, merged, parent, reads, sinks)) match {
        case scala.util.Success(o) => o
        case scala.util.Failure(e) =>
          System.err.println(s"[perfbench] traced table '$t' failed: ${e.getMessage}")
          TableOutcome(t, skipped = true, None)
      }
    }.seq.toSeq
  }

  private def table(sp: Savepoints, t: String, entry: ManifestEntry, merged: Boolean,
                    parent: Option[Span], reads: ConcurrentLinkedQueue[Read],
                    sinks: SinkCounters): TableOutcome =
    tr.span(s"client.table.$t", parent) {
      val savepoint = tr.span("cdc.savepoint_read") { sp.getAsLong(t) }
      val listed = tr.span("sources.list") { CdcBatchReader.listBatches(t, entry, savepoint) }
      tr.span("sources.plan") { CdcBatchReader.readTable(spark, t, entry, savepoint) } match {
        case None => TableOutcome(t, skipped = true, None)
        case Some(batch) =>
          reads.add(Read(runNo, t, entry, savepoint, listed.flatMap(_.paths)))
          val ts = entry.lastSuccessfulWriteTimestamp
          if (cfg.outputSettings.exportTarget.toLowerCase.startsWith("jdbc")) {
            val ok = jdbc(t, batch, sp, ts, sinks)
            if (ok) {
              tr.span("cdc.savepoint_write") {
                sp.write(t, ts); sp.remove(s"$t@raw"); sp.remove(s"$t@merged")
              }
              TableOutcome(t, skipped = false, Some(ts))
            } else TableOutcome(t, skipped = false, None)
          } else {
            val obs = Observation()
            val out = tr.span("cdc.merge_plan") {
              (if (merged) CdcColumns.dropAllInternal(CdcMerge.applyOperations(batch, Key, Seq1),
                keepSeqVal = true) else batch).observe(obs, count(lit(1)).as("rows"))
            }
            val fingerprint = entry.schemaHistory.keys.toSeq.sorted.mkString("+")
            tr.span("sinks.file") {
              FileSink.writeParquet(out, FileSink.Layout(cfg.outputLocation.path, t, fingerprint, None))
            }
            tr.span("cdc.savepoint_write") { sp.write(t, ts) }
            TableOutcome(t, skipped = false, Some(ts))
          }
      }
    }

  /** Raw append then merged apply, as `GraftClient` does on a table
    * with no catch-up watermarks. False when a target was bypassed.
    */
  private def jdbc(t: String, batch: DataFrame, sp: Savepoints, ts: String,
                   sinks: SinkCounters): Boolean = {
    val os = cfg.outputSettings
    var bypassed = false
    if (os.saveIntoJdbcRaw) cfg.jdbcConnectionRaw.foreach { conn =>
      val raw = JdbcSink.rawFrame(batch)
      tr.span("sinks.jdbc_ensure") {
        JdbcTableManager.ensureTable(conn, raw.schema, t, JdbcDdl.Raw, Key, cfg.largeTextFieldSet)
      } match {
        case JdbcTableManager.Bypassed(_) => bypassed = true
        case action =>
          sinks.ddl(action)
          val obs = Observation()
          tr.span("sinks.jdbc_raw") {
            JdbcSink.writeRaw(batch.observe(obs, count(lit(1)).as("rows")), conn, t, os.jdbcBatchSize)
          }
          sinks.rawRows.addAndGet(rows(obs))
          tr.span("cdc.savepoint_write") { sp.write(s"$t@raw", ts) }
      }
    }
    if (os.saveIntoJdbcMerged) cfg.jdbcConnectionMerged.foreach { conn =>
      val keep = Set(CdcColumns.OperationCol, CdcColumns.SeqValCol)
      val mergedIn = JdbcSink.rawFrame(batch).drop(batch.columns.filter { c =>
        val lc = c.toLowerCase
        (lc.startsWith(CdcColumns.InternalPrefix) || lc.startsWith(CdcColumns.ClientPrefix)) &&
          !keep.contains(lc)
      }.toIndexedSeq: _*)
      val stored = StructType(mergedIn.schema.fields.filterNot(_.name == CdcColumns.OperationCol))
      tr.span("sinks.jdbc_ensure") {
        JdbcTableManager.ensureTable(conn, stored, t, JdbcDdl.Merged, Key, cfg.largeTextFieldSet)
      } match {
        case JdbcTableManager.Bypassed(_) => bypassed = true
        case action =>
          sinks.ddl(action)
          val obs = Observation()
          tr.span("sinks.jdbc_merged") {
            JdbcMergedApply(mergedIn.observe(obs, count(lit(1)).as("rows")), conn, t, Key,
              seqCol = CdcColumns.SeqValCol, batchSize = os.jdbcBatchSize.toInt)
          }
          sinks.mergedRows.addAndGet(rows(obs))
          tr.span("cdc.savepoint_write") { sp.write(s"$t@merged", ts) }
      }
    }
    !bypassed
  }
}

object TracedClient {
  /** One table batch a traced run read, kept for the probes. */
  final case class Read(runNo: Int, table: String, entry: ManifestEntry,
                        savepoint: Option[Long], paths: Seq[String])

  final class SinkCounters {
    val ddlStmts = new AtomicLong(0)
    val rawRows = new AtomicLong(0)
    val mergedRows = new AtomicLong(0)

    /** A created table counts its CREATE and primary key; an evolved
      * one each ALTER.
      */
    def ddl(a: JdbcTableManager.Action): Unit = a match {
      case JdbcTableManager.Created => ddlStmts.addAndGet(2)
      case JdbcTableManager.Evolved(stmts) => ddlStmts.addAndGet(stmts.size)
      case _ => ()
    }
  }

  def rows(obs: Observation): Long = obs.get.get("rows") match {
    case Some(n: Number) => n.longValue()
    case _ => 0L
  }

  /** Differential probes over the batches a traced run read: each batch
    * is read again and materialized to the `noop` sink twice, as
    * scanned and as merged. Batches of one client run are probed in
    * parallel, as the run processed them. Returns (scan s, merge s,
    * rows in, rows out), times summed over batches.
    */
  def probe(spark: SparkSession, reads: Seq[Read],
            merge: DataFrame => DataFrame): (Double, Double, Long, Long) = {
    val per = reads.groupBy(_.runNo).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
      rs.par.map { r =>
        val batch = CdcBatchReader.readTable(spark, r.table, r.entry, r.savepoint)
          .getOrElse(throw new IllegalStateException(s"probe found no batch for ${r.table}"))
        def noop(df: DataFrame): (Long, Double) = {
          val obs = Observation()
          val (_, s) = Stats.seconds {
            df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
          }
          (rows(obs), s)
        }
        val (in, scanS) = noop(batch)
        val (out, mergeS) = noop(merge(batch))
        (scanS, mergeS, in, out)
      }.seq
    }
    (per.map(_._1).sum, per.map(_._2).sum, per.map(_._3).sum, per.map(_._4).sum)
  }

  /** The sources, cdc, sinks and client figures of a traced CDC pass. */
  def layers(tr: Tracer, reads: Seq[Read], sinks: SinkCounters, probed: (Double, Double, Long, Long),
             tables: Seq[String]): Map[String, Double] = {
    val spans = tr.spans
    def named(n: String): Seq[Span] = spans.filter(_.name == n)
    def secs(n: String): Double = named(n).map(_.seconds).sum
    val (scanS, mergeS, rowsIn, rowsOut) = probed
    val read = tr.ledger.countersOf(Some(spans))
    val fileWrite = tr.ledger.countersOf(Some(named("sinks.file")))
    val mergeShuffle = tr.ledger.countersOf(Some(named("sinks.file") ++ named("sinks.jdbc_merged")))
    val perTable = tables.map(t => t -> secs(s"client.table.$t"))
    val nonZero = perTable.map(_._2).filter(_ > 0)
    val fileSpans = named("sinks.file")
    Map(
      "sources.list_s" -> secs("sources.list"),
      "sources.plan_s" -> secs("sources.plan"),
      "sources.scan_s" -> scanS,
      "sources.rows" -> read.inputRecords.toDouble,
      "sources.files" -> Landing.parquetFiles(reads.flatMap(_.paths)).toDouble,
      "sources.input_bytes" -> read.inputBytes.toDouble,
      "cdc.manifest_s" -> secs("cdc.manifest"),
      "cdc.savepoint_read_s" -> secs("cdc.savepoint_read"),
      "cdc.savepoint_write_s" -> secs("cdc.savepoint_write"),
      "cdc.merge_self_s" -> (mergeS - scanS),
      "cdc.merge_shuffle_bytes" -> mergeShuffle.shuffleWriteBytes.toDouble,
      "cdc.merge_rows_in" -> rowsIn.toDouble,
      "cdc.merge_rows_out" -> rowsOut.toDouble,
      "cdc.merge_keep_ratio" -> (if (rowsIn > 0) rowsOut.toDouble / rowsIn else 0.0),
      "sinks.file_self_s" -> (if (fileSpans.isEmpty) 0.0 else fileSpans.map(_.seconds).sum - mergeS),
      "sinks.file_bytes" -> fileWrite.outputBytes.toDouble,
      "sinks.write_amp" -> (if (fileSpans.isEmpty || fileWrite.inputBytes == 0) 0.0
        else fileWrite.outputBytes.toDouble / fileWrite.inputBytes),
      "sinks.jdbc_ensure_s" -> secs("sinks.jdbc_ensure"),
      "sinks.jdbc_ddl_stmts" -> sinks.ddlStmts.get.toDouble,
      "sinks.jdbc_raw_s" -> secs("sinks.jdbc_raw"),
      "sinks.jdbc_raw_rows" -> sinks.rawRows.get.toDouble,
      "sinks.jdbc_merged_s" -> secs("sinks.jdbc_merged"),
      "sinks.jdbc_merged_rows" -> sinks.mergedRows.get.toDouble,
      "client.straggler_ratio" -> (if (nonZero.isEmpty) 0.0 else nonZero.max / Stats.median(nonZero))
    ) ++ perTable.map { case (t, s) => s"client.table_s.$t" -> s }
  }
}
