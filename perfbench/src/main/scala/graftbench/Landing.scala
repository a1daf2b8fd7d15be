package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A CDC landing zone in the reference layout,
  * `<root>/<table>/<fingerprint>/<timestampFolder>/` holding parquet files, with
  * the manifest that says which folders are safe to read.
  *
  * Every table carries `id`, business columns, `gwcbi___seqval_hex`
  * (zero-padded hex, unique and rising per table),
  * `gwcbi___operation` and producer columns the client drops. The
  * second fingerprint adds the `region` column.
  */
object Landing {
  val Tables: Seq[String] = Seq("policy", "claim", "contact", "invoice")
  val FpA = "fp01"
  val FpB = "fp02"
  val Ts0: Long = 1700000000000L
  val TickMs: Long = 60000L

  final case class Entry(lastTs: Long, records: Long, fingerprints: Map[String, Long])

  def writeManifest(root: Path, entries: Map[String, Entry]): Unit = {
    val body = entries.toSeq.sortBy(_._1).map { case (t, e) =>
      val hist = e.fingerprints.toSeq.sortBy(_._2)
        .map { case (fp, ts) => s"${Json.str(fp)}: ${Json.str(ts.toString)}" }.mkString("{", ", ", "}")
      s"""${Json.str(t)}: {"lastSuccessfulWriteTimestamp": ${Json.str(e.lastTs.toString)}, """ +
        s""""totalProcessedRecordsCount": ${e.records}, """ +
        s""""dataFilesPath": ${Json.str(root.resolve(t).toAbsolutePath.toString)}, "schemaHistory": $hist}"""
    }.mkString("{\n", ",\n", "\n}\n")
    val tmp = root.resolve("manifest.json.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, root.resolve("manifest.json"), java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write `df` (carrying `__tbl` and `__ts`) as one folder per
    * (table, timestamp) under fingerprint `fp`.
    */
  def land(df: DataFrame, root: Path, fp: String, scratch: Path): Unit = {
    val tmp = scratch.resolve(s"landing-$fp")
    deleteTree(tmp)
    df.repartition(col("__tbl"), col("__ts")).write.partitionBy("__tbl", "__ts").parquet(tmp.toString)
    listDirs(tmp).foreach { tblDir =>
      val table = tblDir.getFileName.toString.stripPrefix("__tbl=")
      listDirs(tblDir).foreach { tsDir =>
        val target = root.resolve(table).resolve(fp).resolve(tsDir.getFileName.toString.stripPrefix("__ts="))
        Files.createDirectories(target.getParent)
        Files.move(tsDir, target)
      }
    }
    deleteTree(tmp)
  }

  def listDirs(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.filter(Files.isDirectory(_)).toSeq.sortBy(_.toString) finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def parquetFiles(dirs: Seq[String]): Int = dirs.map { d =>
    val s = Files.list(java.nio.file.Paths.get(d))
    try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
  }.sum
}

/** The cold catch-up landing zone, generated by Spark from the seed:
  * per table `folders` timestamp folders of `rowsPerFolder` rows, the
  * first half under fingerprint A and the rest under B. Keys are
  * skewed (a few hot ids take many changes) and the operation mix is
  * about 30% inserts, 60% updates and 10% deletes.
  */
final class ColdLanding(spark: SparkSession, seed: Long, val folders: Int, val rowsPerFolder: Int) {
  import Landing._

  val keysPerTable: Long = math.max(100L, folders.toLong * rowsPerFolder / 5)
  def rowsTotal: Long = Tables.size.toLong * folders * rowsPerFolder
  private val firstB = folders / 2

  private def u(t: Int, k: Int): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(t), col("n"), lit(k)), 11).cast("double") * lit(math.pow(2, -53))

  /** Change rows of table `t` for folders [from, until). */
  def changes(t: Int, from: Int, until: Int, withRegion: Boolean): DataFrame = {
    val n0 = from.toLong * rowsPerFolder
    val base = spark.range(n0, until.toLong * rowsPerFolder, 1, 4).withColumnRenamed("id", "n")
    val opU = u(t, 2)
    val df = base.select(
      col("n"),
      floor(lit(keysPerTable.toDouble) * pow(u(t, 1), lit(2.0))).cast("long").as("id"),
      concat(lit("name-"), floor(u(t, 3) * 100000).cast("long").cast("string")).as("name"),
      round(u(t, 4) * 10000, 2).as("amount"),
      element_at(array(lit("open"), lit("bound"), lit("closed"), lit("void")),
        (floor(u(t, 5) * 4) + 1).cast("int")).as("status"),
      floor(u(t, 6) * 1000).cast("int").as("qty"),
      timestamp_seconds(lit(1600000000L) + floor(u(t, 7) * 100000000L)).as("updated_at"),
      lpad(hex(col("n") + 1), 16, "0").as("gwcbi___seqval_hex"),
      when(opU < 0.27, 2).when(opU < 0.30, 0).when(opU < 0.90, 4).otherwise(1).cast("int")
        .as("gwcbi___operation"),
      (col("n") * 7).as("gwcbi___lsn"),
      concat(lit("tx"), (col("n") / 10).cast("long").cast("string")).as("gwcbi___tx_id"),
      (lit(Ts0) + (col("n") / rowsPerFolder).cast("long") * TickMs).as("__ts"),
      lit(Tables(t)).as("__tbl"))
    val withR = if (withRegion) df.withColumn("region",
      element_at(array(lit("emea"), lit("amer"), lit("apac")), (floor(u(t, 8) * 3) + 1).cast("int")))
      else df
    withR.drop("n")
  }

  def landAll(root: Path, scratch: Path): Unit = {
    val a = Tables.indices.map(t => changes(t, 0, firstB, withRegion = false)).reduce(_ union _)
    val b = Tables.indices.map(t => changes(t, firstB, folders, withRegion = true)).reduce(_ union _)
    land(a, root, FpA, scratch)
    land(b, root, FpB, scratch)
    writeManifest(root, Tables.map { t =>
      t -> Entry(Ts0 + (folders - 1) * TickMs, folders.toLong * rowsPerFolder,
        Map(FpA -> Ts0, FpB -> (Ts0 + firstB * TickMs)))
    }.toMap)
  }

  /** Latest state of table `t`, computed without graft: latest
    * non-delete change per key by seqval, minus every key deleted
    * anywhere in the log.
    */
  def expectedState(t: Int): DataFrame = {
    val log = changes(t, 0, firstB, withRegion = false)
      .unionByName(changes(t, firstB, folders, withRegion = true), allowMissingColumns = true)
      .drop("__ts", "__tbl", "gwcbi___lsn", "gwcbi___tx_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("gwcbi___seqval_hex").desc)
    val latest = log.filter(col("gwcbi___operation") =!= 1)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn", "gwcbi___operation")
    val deleted = log.filter(col("gwcbi___operation") === 1).select("id").distinct()
    latest.join(deleted, Seq("id"), "left_anti")
  }

  def outputPath(out: Path, table: String): Path = out.resolve(table).resolve(s"$FpA+$FpB")
}
