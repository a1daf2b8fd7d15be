package graft.client

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.parallel.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcColumns, CdcMerge, Manifest, Savepoints}
import graft.config.{GraftConfig, JdbcConnection}
import graft.sinks.{FileSink, JdbcDdl, JdbcMergedApply, JdbcSink, JdbcTableManager,
  ObjectStoreClient, SchemaDoc, StorageLayout}
import graft.sources.CdcBatchReader

/** The end-to-end client run loop — graft's equivalent of the
  * reference's TableReader.run (cda-client TableReader.scala:81-216)
  * + CloudDataAccessClient:
  *
  *  1. read manifest, filter to included tables;
  *  2. per table: compute unprocessed batches from the savepoint,
  *     read them (internal columns managed, schemas unified);
  *  3. write to the configured file sink (csv/parquet/json) in the
  *     table/fingerprint/timestamp layout with a schema sidecar,
  *     optionally merged to latest-state first — or to the live JDBC
  *     targets, raw append and merged apply;
  *  4. commit the savepoint.
  *
  * Tables are processed concurrently (the reference uses `.par`,
  * TableReader.scala:191) — each table's Spark job parallelizes
  * internally as well, so the driver-side pool just keeps the
  * scheduler fed. Within a table the two JDBC targets overlap too:
  * each keeps its own watermark (`table@raw`, `table@merged`), so the
  * merged apply runs on its own thread while the raw append runs on
  * the table's thread, and the table savepoint is committed only after
  * both have finished.
  */
class GraftClient(spark: SparkSession, cfg: GraftConfig,
                  store: Option[ObjectStoreClient] = None) {

  case class TableResult(tableName: String, rowsWritten: Long,
                         outputPath: String, newSavepoint: Option[String],
                         skipped: Boolean = false)

  private val savepoints = new Savepoints(cfg.savepointsLocation.path)

  /** Output destination: local directory or `s3://` object-store
    * layout (scheme-dispatched like the reference,
    * FileBasedOutputWriter.scala:193-198). Spark data writes go to
    * `storage.dataPrefix` (s3a-fixed for object stores); the schema
    * sidecar goes through the layout's own write path.
    */
  val storage: StorageLayout = StorageLayout.forPath(cfg.outputLocation.path, store)

  /** Merge policy applied before file writes when the caller wants
    * state rather than the raw log.
    */
  def mergeIfRequested(df: DataFrame, merged: Boolean,
                       keyCols: Seq[String], seqCols: Seq[String]): DataFrame =
    if (merged) CdcColumns.dropAllInternal(
      CdcMerge.applyOperations(df, keyCols, seqCols), keepSeqVal = true)
    else df

  def runTable(tableName: String, entry: graft.cdc.ManifestEntry,
               merged: Boolean = false,
               keyCols: Seq[String] = Seq("id"),
               seqCols: Seq[String] = Seq(CdcColumns.SeqValCol)): TableResult = {
    val savepoint = savepoints.getAsLong(tableName)
    CdcBatchReader.readTable(spark, tableName, entry, savepoint) match {
      case None =>
        TableResult(tableName, 0L, "", None, skipped = true)
      case Some(batch) =>
        // CDC sources always carry seqval_hex, but a plain snapshot
        // batch may not: fall back to the batch-folder provenance
        // column (monotone per batch) so merged mode still orders.
        val usableSeq = {
          val present = seqCols.filter(batch.columns.contains)
          if (present.nonEmpty) present else Seq(CdcColumns.TimestampFolderCol)
        }
        if (cfg.outputSettings.exportTarget.toLowerCase.startsWith("jdbc")) {
          val outcome = writeJdbc(tableName, batch, keyCols, usableSeq,
            entry.lastSuccessfulWriteTimestamp)
          if (outcome.paths.isEmpty) {
            // every enabled target gate-bypassed: warn-and-skip like
            // the reference — savepoint untouched so the batch
            // re-applies once the schema gate clears
            TableResult(tableName, 0L, "", None, skipped = true)
          } else if (outcome.anyBypassed) {
            // partial bypass: hold the TABLE savepoint back so the
            // bypassed target still sees this batch later; targets
            // that DID write advanced their own watermark, so the
            // replay run skips them (no raw double-append, no PK
            // crash) and only retries the bypassed one
            TableResult(tableName, outcome.rows, outcome.paths.mkString(","), None)
          } else {
            val newSp = entry.lastSuccessfulWriteTimestamp
            savepoints.write(tableName, newSp)
            // fully caught up: retire the catch-up watermarks so the
            // savepoints file holds only table entries again (and a
            // manual table-savepoint reset forces a true re-export)
            savepoints.remove(s"$tableName@raw")
            savepoints.remove(s"$tableName@merged")
            TableResult(tableName, outcome.rows, outcome.paths.mkString(","), Some(newSp))
          }
        } else {
          // rows written are harvested from the write job itself via
          // an observed count — no re-execution, no persist
          val obs = Observation()
          val path = {
            val out = mergeIfRequested(batch, merged, keyCols, usableSeq)
              .observe(obs, count(lit(1)).as("rows"))
            val fingerprint = entry.schemaHistory.keys.toSeq.sorted.mkString("+")
            val ts = if (cfg.outputSettings.saveIntoTimestampDirectory)
              Some(entry.lastSuccessfulWriteTimestamp) else None
            val layout = FileSink.Layout(storage.dataPrefix, tableName, fingerprint, ts)
            cfg.outputSettings.fileFormat.toLowerCase match {
              case "csv" =>
                val p = FileSink.writeCsv(out, layout,
                  header = cfg.outputSettings.includeColumnNames,
                  singleFile = cfg.outputSettings.saveAsSingleFile)
                storage.writeSchemaText(tableName, fingerprint, ts,
                  SchemaDoc.schemaYamlString(out))
                p
              case "json" => FileSink.writeJson(out, layout, cfg.outputSettings.saveAsSingleFile)
              case _ => FileSink.writeParquet(out, layout, cfg.outputSettings.saveAsSingleFile)
            }
          }
          val rows = observedRows(obs)
          val newSp = entry.lastSuccessfulWriteTimestamp
          savepoints.write(tableName, newSp)
          TableResult(tableName, rows, path, Some(newSp))
        }
    }
  }

  private def observedRows(obs: Observation): Long = obs.get("rows") match {
    case n: Long => n
    case n: Number => n.longValue()
  }

  /** `rows` = observed input rows of the first write this run
    * actually executed, raw before merged (post-watermark-filter, so
    * replay runs report only what they really applied); 0 when
    * nothing ran.
    */
  private case class JdbcOutcome(paths: Seq[String], anyBypassed: Boolean, rows: Long)

  /** One target's part of a run: `path` unless bypassed, `rows` only
    * when it wrote.
    */
  private case class TargetOutcome(path: Option[String], bypassed: Boolean, rows: Option[Long])

  /** Live JDBC export: ensure target tables (create / gate-evolve),
    * then raw append and/or incremental merged apply — the reference's
    * writeJdbcRaw/writeJdbcMerged flow (JdbcOutputWriter.scala:285-497)
    * with the merge staying distributed. The targets share nothing but
    * the batch, so the merged target runs on its own thread while raw
    * runs on the table's thread. Both finish before the outcome is
    * combined, so a target that throws fails the table only after the
    * other has finished and committed its own watermark.
    */
  private def writeJdbc(tableName: String, batch: DataFrame,
                        keyCols: Seq[String], usableSeq: Seq[String],
                        batchTs: String): JdbcOutcome = {
    val os = cfg.outputSettings
    def write(ddl: JdbcDdl.WriteType, conn: JdbcConnection) =
      Try(writeTarget(ddl, conn, tableName, batch, keyCols, usableSeq, batchTs))
    // merged runs on a thread of its own, started here so it inherits
    // this table thread's Spark local properties, and is joined rather
    // than awaited: `run`'s `.par` puts tables on the global pool, where
    // a blocking await lets the pool add workers that start more tables
    var mergedDone: Try[TargetOutcome] = Failure(new IllegalStateException(
      s"'$tableName' merged jdbc target did not finish"))
    val merged = cfg.jdbcConnectionMerged.filter(_ => os.saveIntoJdbcMerged).map { c =>
      val t = new Thread(() => mergedDone = write(JdbcDdl.Merged, c), s"graft-merged-$tableName")
      t.start()
      t
    }
    val rawDone = cfg.jdbcConnectionRaw.filter(_ => os.saveIntoJdbcRaw).map(write(JdbcDdl.Raw, _))
    merged.foreach(_.join())
    val done = (rawDone ++ merged.map(_ => mergedDone)).map(_.get).toSeq
    JdbcOutcome(done.flatMap(_.path), done.exists(_.bypassed), done.flatMap(_.rows).headOption.getOrElse(0L))
  }

  /** One JDBC target, raw or merged. A gate Bypass skips the batch for
    * that target, like the reference's warn-and-skip; the caller holds
    * the TABLE savepoint back so a bypassed target is never silently
    * starved. Each target keeps its OWN watermark (`table@raw` /
    * `table@merged`): on the replay run a target that already applied
    * this batch is skipped outright — a raw append is never repeated
    * (its PK would reject the duplicate rows and wedge the table), and
    * the merged apply isn't re-run needlessly even though its seqval
    * guard would tolerate it.
    */
  private def writeTarget(ddl: JdbcDdl.WriteType, conn: JdbcConnection, tableName: String,
                          batch: DataFrame, keyCols: Seq[String], usableSeq: Seq[String],
                          batchTs: String): TargetOutcome = {
    val os = cfg.outputSettings
    val kind = if (ddl == JdbcDdl.Raw) "raw" else "merged"
    val dest = s"${conn.jdbcUrl}/${conn.jdbcSchema}.$tableName"
    val mark = s"$tableName@$kind"
    val watermark = Try(savepoints.getAsLong(mark)).toOption.flatten
    if (watermark.exists(_ >= Try(batchTs.toLong).getOrElse(Long.MaxValue)))
      TargetOutcome(Some(dest), bypassed = false, rows = None)
    else {
      // rows this target has NOT applied yet: the batch re-read after a
      // held-back savepoint may span folders a target already wrote, so
      // each target filters to folders past its own watermark
      val fresh = watermark match {
        case Some(w) if batch.columns.contains(CdcColumns.TimestampFolderCol) =>
          batch.filter(col(CdcColumns.TimestampFolderCol).cast("long") > w)
        case _ => batch
      }
      val (input, stored, apply) = ddl match {
        case JdbcDdl.Raw =>
          (fresh, JdbcSink.rawFrame(fresh).schema,
            (df: DataFrame) => JdbcSink.writeRaw(df, conn, tableName, os.jdbcBatchSize))
        case JdbcDdl.Merged =>
          // merged tables keep business columns + the seqval watermark and
          // the op marker drives the apply (dropped before storage)
          val keep = Set(CdcColumns.OperationCol, CdcColumns.SeqValCol) ++ usableSeq
          val mergedIn = JdbcSink.rawFrame(fresh).drop(batch.columns.filter { c =>
            val lc = c.toLowerCase
            (lc.startsWith(CdcColumns.InternalPrefix) || lc.startsWith(CdcColumns.ClientPrefix)) &&
              !keep.contains(lc)
          }.toIndexedSeq: _*)
          (mergedIn, StructType(mergedIn.schema.fields.filterNot(_.name == CdcColumns.OperationCol)),
            (df: DataFrame) => JdbcMergedApply(df, conn, tableName, keyCols,
              seqCol = usableSeq.head, batchSize = os.jdbcBatchSize.toInt))
      }
      JdbcTableManager.ensureTable(conn, stored, tableName, ddl, keyCols, cfg.largeTextFieldSet) match {
        case JdbcTableManager.Bypassed(reasons) =>
          System.err.println(s"[graft] '$tableName' $kind jdbc batch bypassed: ${reasons.mkString("; ")}")
          TargetOutcome(None, bypassed = true, rows = None)
        case _ =>
          // observed on the FILTERED frame, so a replay run reports
          // only what it actually applied
          val obs = Observation()
          apply(input.observe(obs, count(lit(1)).as("rows")))
          savepoints.write(mark, batchTs)
          TargetOutcome(Some(dest), bypassed = false, rows = Some(observedRows(obs)))
      }
    }
  }

  /** Run all (included) tables; returns per-table results. */
  def run(singleTableName: String = "", merged: Boolean = false): Seq[TableResult] = {
    val include = if (singleTableName.nonEmpty) singleTableName
      else cfg.outputSettings.tablesToInclude
    val manifest = Manifest.filterTables(
      Manifest.fromFile(cfg.sourceLocation.manifestPath), include)
    val done = new AtomicInteger(0)
    val results = manifest.toSeq.par.map { case (tableName, entry) =>
      val r = Try(runTable(tableName, entry, merged)) match {
        case scala.util.Success(res) => res
        case scala.util.Failure(e) =>
          // the reference logs and continues on per-table failure
          // (TableReader.scala:199-206)
          System.err.println(s"[graft] table '$tableName' FAILED: ${e.getMessage}")
          TableResult(tableName, 0L, "", None, skipped = true)
      }
      done.incrementAndGet()
      r
    }.seq
    results
  }
}
