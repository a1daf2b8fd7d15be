package graft

import java.math.BigDecimal
import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcColumns, ManifestEntry, Savepoints}
import graft.client.GraftClient
import graft.config.GraftConfig
import graft.sources.CdcBatchReader

/** One incremental client tick: the footer-schema read (no Spark job
  * per fingerprint), the directory listing that closes its streams,
  * the crash-safe savepoint commit, and the overlapped raw and merged
  * JDBC targets failing independently.
  */
class ClientTickSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  /** Two fingerprints of one table. fpA (folders 100, 200) is written
    * by parquet-hadoop directly, so its footer carries REQUIRED columns
    * and no Spark schema; fpB (folder 300) is written by Spark and
    * adds `region`. Both hold a nested struct, a decimal and a
    * timestamp.
    */
  private def landing(): ManifestEntry = {
    val base = Files.createTempDirectory("tick").resolve("t")
    val fpA = MessageTypeParser.parseMessageType(
      """message fpA {
        |  required int64 id;
        |  required int32 gwcbi___operation;
        |  required binary gwcbi___seqval_hex (STRING);
        |  optional int64 ts (TIMESTAMP(MICROS,true));
        |  optional int64 amount (DECIMAL(18,4));
        |  optional group nested { required int32 a; optional binary b (STRING); }
        |}""".stripMargin)
    for ((folder, ids) <- Seq("100" -> (1L to 3L), "200" -> (4L to 5L))) {
      val file = base.resolve(s"fpA/$folder/part-0.parquet")
      Files.createDirectories(file.getParent)
      val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new HadoopPath(file.toUri), new Configuration())).withType(fpA).build()
      val groups = new SimpleGroupFactory(fpA)
      try ids.foreach { id =>
        val g = groups.newGroup().append("id", id).append("gwcbi___operation", 2)
          .append("gwcbi___seqval_hex", f"$id%02x").append("ts", id * 1000000L).append("amount", id * 12345L)
        g.addGroup("nested").append("a", id.toInt).append("b", s"n$id")
        w.write(g)
      } finally w.close()
    }
    Seq((6L, 4, "06", new Timestamp(6000L), new BigDecimal("6.0000"), (6, "n6"), "eu"))
      .toDF("id", "gwcbi___operation", "gwcbi___seqval_hex", "ts", "amount", "nested", "region")
      .select(col("id"), col("gwcbi___operation"), col("gwcbi___seqval_hex"), col("ts"),
        col("amount").cast("decimal(18,4)"),
        col("nested").cast("struct<a:int,b:string>"), col("region"))
      .write.parquet(base.resolve("fpB/300").toString)
    ManifestEntry("300", 0L, base.toString, Map("fpA" -> "100", "fpB" -> "300"))
  }

  /** Jobs started while `f` runs. A marker job run after `f` and seen
    * by the listener drains the asynchronous listener bus, since
    * events reach a listener in order.
    */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val marker = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("tick.marker") != null)) marker.incrementAndGet()
        else jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = f
      val seen = jobs.get()
      spark.sparkContext.setLocalProperty("tick.marker", "1")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("tick.marker", null)
      val deadline = System.nanoTime() + 30000000000L
      while (marker.get() == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marker.get() == 1, "listener bus did not drain")
      assert(jobs.get() == seen, "a job started while the marker ran")
      (out, seen)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("readTable takes each fingerprint's schema from its footer: no Spark job, inferred schema, same rows") {
    val entry = landing()
    val batches = CdcBatchReader.listBatches("t", entry, None)
    assert(batches.map(_.fingerprint) == Seq("fpA", "fpB"))
    val (read, jobs) = jobsDuring(CdcBatchReader.readTable(spark, "t", entry, None).get)
    assert(jobs == 0, s"readTable launched $jobs Spark jobs")

    // each fingerprint read alone carries exactly the inferred schema
    for (b <- batches) {
      val fpEntry = entry.copy(schemaHistory = entry.schemaHistory.filter(_._1 == b.fingerprint))
      val one = CdcBatchReader.readTable(spark, "t", fpEntry, None).get
        .drop(CdcColumns.FingerprintCol, CdcColumns.TimestampFolderCol).schema
      val inferred = spark.read.parquet(b.paths: _*).schema
      assert(one == inferred, s"${b.fingerprint}: ${one.treeString} vs ${inferred.treeString}")
    }
    assert(read.schema("amount").dataType.simpleString == "decimal(18,4)")
    assert(read.schema("nested").dataType.simpleString == "struct<a:int,b:string>")
    assert(read.schema("ts").dataType.simpleString == "timestamp")

    // rows equal a read with Spark's own inference
    val expected = batches.map { b =>
      spark.read.parquet(b.paths: _*).select(col("id"), col("ts"), col("amount"),
        col("nested.a"), col("nested.b"))
    }.reduce(_ union _)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))
    assert(rows(read.select(col("id"), col("ts"), col("amount"), col("nested.a"), col("nested.b"))) ==
      rows(expected))
    assert(read.select(CdcColumns.TimestampFolderCol).as[String].collect().sorted.toSeq ==
      Seq("100", "100", "100", "200", "200", "300"))
    assert(read.filter(col("id") === 6L).select("region").as[String].collect().toSeq == Seq("eu"))
  }

  test("listBatches closes its directory streams: the open-fd count does not grow over 200 calls") {
    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs /proc/self/fd")
    def open(): Int = { val s = Files.list(fds); try s.count().toInt finally s.close() }
    val entry = landing()
    CdcBatchReader.listBatches("t", entry, None)
    val before = open()
    (1 to 200).foreach(_ => CdcBatchReader.listBatches("t", entry, None))
    val grown = open() - before
    assert(grown < 50, s"$grown more open fds after 200 listBatches calls")
  }

  test("savepoints commit through a temp file: a stale temp file is ignored and the map round-trips") {
    val dir = Files.createTempDirectory("sp")
    Files.write(dir.resolve("savepoints.json.tmp"), "{ not json".getBytes("UTF-8"))
    val sp = new Savepoints(dir.toString)
    assert(sp.snapshot.isEmpty)
    sp.write("t", "100")
    sp.write("t@raw", "200")
    // the two targets of a table commit from two threads
    val threads = Seq("raw", "merged").map { kind =>
      new Thread(() => (1 to 50).foreach(i => sp.write(s"u$i@$kind", i.toString)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    sp.remove("t@raw")
    val reread = new Savepoints(dir.toString)
    assert(reread.snapshot == sp.snapshot)
    assert(reread.snapshot.size == 101 && reread.get("t").contains("100") && reread.get("t@raw").isEmpty)
    assert(reread.get("u50@merged").contains("50"))
    assert(!Files.exists(dir.resolve("savepoints.json.tmp")), "the temp file is renamed away")
  }

  test("jdbc targets fail independently: raw throws, merged commits its watermark; rerun appends raw once") {
    val work = Files.createTempDirectory("ticktargets")
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", work.toString) // derby.log stays out of the repo
    val url = s"jdbc:derby:$work/db;create=true"
    def exec(sqls: String*): Unit = {
      val c = DriverManager.getConnection(url)
      try { val st = c.createStatement(); try sqls.foreach(st.execute) finally st.close() }
      finally c.close()
    }
    def read(schema: String): DataFrame =
      spark.read.format("jdbc").option("url", url).option("dbtable", s"$schema.t3").load()
    Seq((1L, 2, "01", "alpha"), (2L, 2, "02", "beta"), (3L, 2, "03", "gamma"))
      .toDF("id", "gwcbi___operation", "gwcbi___seqval_hex", "v")
      .write.parquet(s"$work/cdc/t3/fpA/100")
    Files.write(work.resolve("cdc/manifest.json"),
      s"""{"t3": {"lastSuccessfulWriteTimestamp": "100",
         |  "dataFilesPath": "$work/cdc/t3", "schemaHistory": {"fpA": "100"}}}""".stripMargin.getBytes)
    // a raw table the gate accepts (same types) but whose v is too
    // narrow for the batch, so the raw append throws
    exec("CREATE SCHEMA RAWT", "CREATE SCHEMA MERGEDT",
      "CREATE TABLE RAWT.t3 (\"id\" BIGINT, \"gwcbi___operation\" INTEGER, " +
        "\"gwcbi___seqval_hex\" VARCHAR(64), \"v\" VARCHAR(1), " +
        "\"gwcdac__fingerprintfolder\" VARCHAR(64), \"gwcdac__timestampfolder\" VARCHAR(64))")
    val cfg = GraftConfig.fromYaml(
      s"""sourceLocation: {baseDir: $work/cdc, manifestPath: $work/cdc/manifest.json}
         |outputLocation: {path: $work/out}
         |savepointsLocation: {path: $work/sp}
         |outputSettings:
         |  exportTarget: jdbc
         |  saveIntoJdbcRaw: true
         |  saveIntoJdbcMerged: true
         |jdbcConnectionRaw: {jdbcUrl: "$url", jdbcSchema: RAWT}
         |jdbcConnectionMerged: {jdbcUrl: "$url", jdbcSchema: MERGEDT}
         |""".stripMargin)
    Files.createDirectories(work.resolve("sp"))
    def sp = new Savepoints(s"$work/sp")

    val r1 = new GraftClient(spark, cfg).run().head
    assert(r1.skipped && r1.newSavepoint.isEmpty, "a throwing target fails the table")
    assert(sp.getAsLong("t3").isEmpty && sp.getAsLong("t3@raw").isEmpty)
    assert(sp.getAsLong("t3@merged").contains(100L), "merged finished and committed its watermark")
    assert(read("MERGEDT").count() == 3 && read("RAWT").count() == 0)

    // a merged re-apply would re-insert this row: its absence after the
    // rerun shows merged was not applied twice
    exec("DELETE FROM MERGEDT.t3 WHERE \"id\" = 2")
    exec("DROP TABLE RAWT.t3")
    val r2 = new GraftClient(spark, cfg).run().head
    assert(!r2.skipped && r2.newSavepoint.contains("100") && r2.rowsWritten == 3)
    assert(read("RAWT").count() == 3, "raw appended exactly once")
    assert(read("MERGEDT").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L),
      "merged must not be re-applied")
    assert(sp.snapshot.keySet == Set("t3"), "catch-up watermarks retire once both targets are current")
  }
}
