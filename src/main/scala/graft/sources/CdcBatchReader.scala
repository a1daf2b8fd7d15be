package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.cdc.{CdcColumns, Manifest, ManifestEntry, SchemaEvolution}
import graft.sinks.LocalFiles

/** Incremental reader over the reference's data layout
  * (cda-client TableReader.scala:370-433):
  *
  * {{{ <base>/<table>/<schemaFingerprint>/<timestampFolder>/<files>.parquet }}}
  *
  * Scale design: all timestamp folders of one fingerprint are read by
  * a SINGLE `spark.read.parquet(paths: _*)` scan (one file index, one
  * scan node, full pushdown) instead of the reference's
  * one-DataFrame-per-folder union (TableReader.scala:496-517); the
  * provenance timestamp-folder column is recovered from the file path
  * at zero cost. Fingerprints with different schemas are then merged
  * with a name-based union resolved at plan time.
  *
  * A fingerprint names exactly one schema, so the scan is given that
  * schema up front. It is read on the driver from ONE footer (the
  * first data file of the fingerprint's first timestamp folder that
  * holds one) and converted by Spark's own
  * `ParquetFileFormat.readSchemaFromFooter` with the session's
  * converter settings, so it equals what inference returns, without
  * the schema-inference Spark job a bare `spark.read.parquet` launches
  * per read. A fingerprint with no data file keeps the bare read, so
  * its error stays Spark's.
  */
object CdcBatchReader {

  case class FingerprintBatch(fingerprint: String, timestampFolders: Seq[Long], paths: Seq[String])

  /** List unprocessed (fingerprint, timestampFolder) batches for a
    * table: timestamp > savepoint, timestamp <= manifest's last safe
    * write (TableReader.scala:399-416).
    */
  def listBatches(tableName: String,
                  entry: ManifestEntry,
                  savepoint: Option[Long]): Seq[FingerprintBatch] = {
    val base = Paths.get(entry.dataFilesPath)
    val lastSafe = entry.lastSafeTimestamp
    val after = savepoint.getOrElse(-1L)
    Manifest.fingerprintsWithUnprocessedRecords(entry, savepoint).flatMap { fp =>
      val fpDir = base.resolve(fp)
      if (!Files.isDirectory(fpDir)) None
      else {
        val tsDirs = LocalFiles.children(fpDir)
          .filter(Files.isDirectory(_))
          .flatMap(p => scala.util.Try(p.getFileName.toString.toLong).toOption.map(_ -> p))
          .filter { case (ts, _) => ts > after && ts <= lastSafe }
          .sortBy(_._1)
        if (tsDirs.isEmpty) None
        else Some(FingerprintBatch(fp, tsDirs.map(_._1), tsDirs.map(_._2.toString)))
      }
    }
  }

  /** Read every unprocessed batch of a table into one DataFrame with
    * provenance columns, internal columns managed, schemas unified
    * across fingerprints. Returns None when there is nothing new.
    */
  def readTable(spark: SparkSession,
                tableName: String,
                entry: ManifestEntry,
                savepoint: Option[Long]): Option[DataFrame] = {
    val batches = listBatches(tableName, entry, savepoint)
    if (batches.isEmpty) None
    else Some(SchemaEvolution.unionEvolved(batches.map { b =>
      val df = footerSchema(spark, b).fold(spark.read)(spark.read.schema).parquet(b.paths: _*)
      CdcColumns.dropInternal(df)
        .withColumn(CdcColumns.FingerprintCol, lit(b.fingerprint))
        .withColumn(CdcColumns.TimestampFolderCol,
          regexp_extract(input_file_name(), "/(\\d+)/[^/]+$", 1))
    }))
  }

  /** The fingerprint's schema from the footer of its first data file,
    * or None when no timestamp folder holds one. Data files are what
    * Spark's file index lists: regular files not named `_*` or `.*`.
    */
  private def footerSchema(spark: SparkSession, b: FingerprintBatch): Option[StructType] =
    b.paths.iterator.flatMap { dir =>
      LocalFiles.children(Paths.get(dir)).filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }.sortBy(_.getFileName.toString).headOption
    }.nextOption().map { file =>
      val path = new HadoopPath(file.toUri)
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(path, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(path, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }

  /** Highest timestamp folder read — the next savepoint value
    * (TableReader.scala:279).
    */
  def maxTimestamp(batches: Seq[FingerprintBatch]): Option[Long] =
    batches.flatMap(_.timestampFolders).maxOption
}
