package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.sinks._

class SinksConfigSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // ---------------- Compaction ----------------

  test("compaction collapses small files, preserves rows and partition pruning") {
    import graft.sinks.Compaction
    // flat dir: 20 tiny files -> 1
    val flat = Files.createTempDirectory("compact_flat").toString + "/t"
    val df = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    df.repartition(20).write.parquet(flat)
    val s1 = Compaction.compact(spark, flat, maxRecordsPerFile = 1000)
    assert(s1.filesBefore == 20 && s1.filesAfter == 1)
    assert(s1.rowsBefore == 200 && s1.rowsAfter == 200)
    assert(spark.read.parquet(flat).as[(Long, String)].collect().toSet ==
      (1 to 200).map(i => (i.toLong, s"v$i")).toSet)

    // partitioned dir: many files per partition -> one per partition,
    // hive layout (and so partition pruning) preserved
    val part = Files.createTempDirectory("compact_part").toString + "/t"
    val pdf = (1 to 300).map(i => (i.toLong, i % 3, s"v$i")).toDF("id", "p", "v")
    pdf.repartition(10).write.partitionBy("p").parquet(part)
    val s2 = Compaction.compact(spark, part, maxRecordsPerFile = 1000, Seq("p"))
    assert(s2.rowsBefore == 300 && s2.rowsAfter == 300)
    assert(s2.filesAfter <= 3 && s2.filesAfter < s2.filesBefore)
    assert(new java.io.File(s"$part/p=1").isDirectory)
    val pruned = spark.read.parquet(part).filter($"p" === 1)
    assert(pruned.count() == 100)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(p"),
      "pruning lost after compaction")

    // oversized flat data splits on maxRecordsPerFile
    val s3 = Compaction.compact(spark, flat, maxRecordsPerFile = 80)
    assert(s3.filesAfter == 3 && s3.rowsAfter == 200)
  }

  // ---------------- FileSink ----------------

  test("csv sink flattens structs to json and binary to base64, writes header") {
    val dir = Files.createTempDirectory("csv").toString
    val df = Seq((1L, "hello")).toDF("id", "t")
      .withColumn("s", struct(lit(7).as("a"), lit("x").as("b")))
      .withColumn("bin", encode($"t", "UTF-8"))
    val layout = FileSink.Layout(dir, "tbl", "fp1", Some("100"))
    val path = FileSink.writeCsv(df, layout, header = true, singleFile = true)
    assert(path == s"$dir/tbl/fp1/100")
    val files = Files.list(Paths.get(path)).iterator()
    val csvs = new scala.collection.mutable.ArrayBuffer[String]
    while (files.hasNext) { val f = files.next(); if (f.toString.endsWith(".csv")) csvs += f.toString }
    assert(csvs.size == 1, "singleFile should produce one csv")
    val lines = new String(Files.readAllBytes(Paths.get(csvs.head)), "UTF-8").trim.split("\n")
    assert(lines.head == "id,t,s,bin")
    assert(lines(1).contains("{\\\"a\\\":7,\\\"b\\\":\\\"x\\\"}"))
    assert(lines(1).contains(java.util.Base64.getEncoder.encodeToString("hello".getBytes)))
  }

  test("parquet sink round-trips with timestamp-dir layout") {
    val dir = Files.createTempDirectory("pq").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val p = FileSink.writeParquet(df, FileSink.Layout(dir, "t", "fp", None))
    assert(p == s"$dir/t/fp")
    assert(spark.read.parquet(p).count() == 2)
  }

  test("json sink writes readable lines") {
    val dir = Files.createTempDirectory("js").toString
    val p = FileSink.writeJson(Seq((1L, "a")).toDF("id", "v"),
      FileSink.Layout(dir, "t", "fp"), singleFile = true)
    assert(spark.read.json(p).select("id", "v").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("schema.yaml sidecar lists name/type/nullability") {
    val dir = Files.createTempDirectory("sch").toString
    val df = Seq((1L, "a")).toDF("id", "v")
    val p = SchemaDoc.writeSchemaYaml(df, dir)
    val yaml = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
    assert(yaml.contains("name: \"id\"") || yaml.contains("name: id"))
    assert(yaml.contains("bigint"))
    assert(yaml.contains("string"))
  }

  test("bucketed tables join without any exchange") {
    // warehouse dir is a static conf; managed tables land in the
    // default ./spark-warehouse (dropped + gitignored)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Seq("b_orders", "b_lineitem").foreach { t =>
      val loc = Paths.get("spark-warehouse", t)
      if (Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        Files.walk(loc).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select($"l_orderkey".as("o_orderkey"), $"l_quantity")
    BucketedTables.writeBucketed(o, "b_orders", "o_orderkey", 8)
    BucketedTables.writeBucketed(l, "b_lineitem", "o_orderkey", 8)
    // tables are tiny, so force the non-broadcast path to show the
    // bucketed sort-merge shape (at scale this is the default)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = BucketedTables.coLocatedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE b_orders"); spark.sql("DROP TABLE b_lineitem")
    }
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("pp").toString
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val p = FileSink.writeParquetPartitioned(o,
      FileSink.Layout(dir, "orders", "fp"), Seq("o_orderstatus"),
      compression = "zstd", maxRecordsPerFile = 500)
    assert(Files.isDirectory(Paths.get(s"$p/o_orderstatus=O")))
    // codec reaches the files (zstd is the size-tuned default at scale)
    val part = Files.list(Paths.get(s"$p/o_orderstatus=O")).iterator()
    var sawZstd = false
    while (part.hasNext) { if (part.next().toString.endsWith(".zstd.parquet")) sawZstd = true }
    assert(sawZstd, "expected .zstd.parquet part files")
    val pruned = spark.read.parquet(p).filter($"o_orderstatus" === "O")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(o_orderstatus"), scan)
    assert(pruned.count() > 0)
  }

  // ---------------- JdbcDdl ----------------

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = true),
    StructField("gwcbi___operation", IntegerType, nullable = true),
    StructField("gwcbi___seqval_hex", StringType, nullable = true),
    StructField("content", StringType, nullable = true),
    StructField("amount", DecimalType(18, 2), nullable = true),
    StructField("created", TimestampType, nullable = true),
    StructField("blob", BinaryType, nullable = true)))

  test("create DDL: alphabetic columns, platform types, forced not-null keys") {
    val ddl = JdbcDdl.createTableDdl(JdbcDdl.SqlServer, schema, "dbo.policy", JdbcDdl.Raw)
    assert(ddl.startsWith("CREATE TABLE dbo.policy ("))
    // alphabetic order
    val idx = Seq("\"amount\"", "\"blob\"", "\"content\"", "\"created\"",
      "\"gwcbi___operation\"", "\"gwcbi___seqval_hex\"", "\"id\"").map(ddl.indexOf)
    assert(idx == idx.sorted && idx.forall(_ >= 0))
    assert(ddl.contains("\"id\" BIGINT NOT NULL"))
    assert(ddl.contains("\"gwcbi___operation\" INTEGER NOT NULL"))
    assert(ddl.contains("\"content\" VARCHAR(1333)"))
    assert(ddl.contains("\"created\" DATETIME2"))
    assert(ddl.contains("\"blob\" VARBINARY(max)"))
    assert(ddl.contains("\"amount\" DECIMAL(18,2)"))
  }

  test("large-text override and platform variants") {
    val large = Set("policy.content")
    val ss = JdbcDdl.columnDefinition(JdbcDdl.SqlServer, "dbo.policy", "content", StringType, nullable = true, large)
    val pg = JdbcDdl.columnDefinition(JdbcDdl.Postgres, "dbo.policy", "content", StringType, nullable = true, large)
    val ora = JdbcDdl.columnDefinition(JdbcDdl.OracleDb, "dbo.policy", "content", StringType, nullable = true, large)
    assert(ss.contains("VARCHAR(max)") && pg.endsWith("VARCHAR") && ora.contains("VARCHAR2(32767)"))
    assert(JdbcDdl.columnDefinition(JdbcDdl.OracleDb, "s.t", "n", DecimalType(10, 0), nullable = true)
      .contains("NUMBER(10)"))
  }

  test("alter-add generates one statement per new column") {
    val existing = StructType(schema.fields.take(4))
    val stmts = JdbcDdl.alterAddColumnsDdl(JdbcDdl.Postgres, existing, schema, "public.policy")
    assert(stmts.size == 3)
    assert(stmts.forall(_.startsWith("ALTER TABLE public.policy ADD ")))
    assert(stmts.exists(_.contains("\"amount\" DECIMAL(18,2)")))
  }

  test("primary key and index DDL per write type") {
    assert(JdbcDdl.primaryKeyDdl("dbo.policy", JdbcDdl.Raw) ==
      """ALTER TABLE dbo.policy ADD CONSTRAINT policy_pk PRIMARY KEY ("id", "gwcbi___seqval_hex", "gwcbi___operation")""")
    assert(JdbcDdl.primaryKeyDdl("dbo.policy", JdbcDdl.Merged) ==
      """ALTER TABLE dbo.policy ADD CONSTRAINT policy_pk PRIMARY KEY ("id")""")
    assert(JdbcDdl.secondaryIndexDdl("dbo.pctl_state").get.contains("\"typecode\""))
    assert(JdbcDdl.secondaryIndexDdl("dbo.policy").get.contains("\"publicid\""))
  }

  test("platform detection from url") {
    assert(JdbcDdl.platformForUrl("jdbc:postgresql://h/db") == JdbcDdl.Postgres)
    assert(JdbcDdl.platformForUrl("jdbc:sqlserver://h;db=x") == JdbcDdl.SqlServer)
    assert(JdbcDdl.platformForUrl("jdbc:oracle:thin:@//h:1521/x") == JdbcDdl.OracleDb)
    assertThrows[IllegalArgumentException](JdbcDdl.platformForUrl("jdbc:mysql://h/db"))
  }

  test("schema gate: consistent / evolve / bypass decisions") {
    import org.apache.spark.sql.types._
    val existing = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val addsCol = StructType(existing.fields :+ StructField("score", DoubleType))
    val typeChange = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    val dropsCol = StructType(Seq(StructField("id", LongType)))

    assert(SchemaGate.check(existing, existing, JdbcDdl.Postgres, "public.t") == SchemaGate.Consistent)
    SchemaGate.check(existing, addsCol, JdbcDdl.Postgres, "public.t") match {
      case SchemaGate.Evolve(stmts) =>
        assert(stmts == Seq("ALTER TABLE public.t ADD \"score\" DOUBLE PRECISION"))
      case other => fail(s"expected Evolve, got $other")
    }
    SchemaGate.check(existing, typeChange, JdbcDdl.Postgres, "public.t") match {
      case SchemaGate.Bypass(reasons) => assert(reasons.exists(_.contains("type changed")))
      case other => fail(s"expected Bypass, got $other")
    }
    SchemaGate.check(existing, dropsCol, JdbcDdl.Postgres, "public.t") match {
      case SchemaGate.Bypass(reasons) => assert(reasons.exists(_.contains("missing from incoming")))
      case other => fail(s"expected Bypass, got $other")
    }
  }

  // ---------------- JdbcSink frames ----------------

  test("jdbc sink frames: raw fixes columns, merged applies ops and drops internals") {
    val df = Seq(
      (1L, 2, "01", "a", "keep", "g1"),
      (1L, 4, "02", "b", "keep", "g1"),
      (2L, 2, "03", "c", "keep", "g1"),
      (2L, 1, "04", "c", "keep", "g1"))
      .toDF("id", "gwcbi___operation", "gwcbi___seqval_hex", "v", "interval", "gwcbi___lsn")
    val raw = JdbcSink.rawFrame(df)
    assert(raw.columns.contains("interval_") && !raw.columns.contains("interval"))
    val merged = JdbcSink.mergedFrame(df, Seq("id"), Seq("gwcbi___seqval_hex"))
    assert(merged.columns.toSet == Set("id", "gwcbi___seqval_hex", "v", "interval_"))
    val rows = merged.select("id", "v").as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "b"))
    // writer is fully configured without touching a database
    val w = JdbcSink.writer(raw, JdbcConnection("jdbc:postgresql://h/db", "u", "p", "public"), "t")
    assert(w != null)
  }

  // ---------------- GraftConfig ----------------

  val goodYaml: String =
    """sourceLocation:
      |  baseDir: /data/cdc
      |  manifestPath: /data/cdc/manifest.json
      |outputLocation:
      |  path: /out
      |savepointsLocation:
      |  path: /sp
      |outputSettings:
      |  tablesToInclude: taccount, tnote
      |  exportTarget: file
      |  fileFormat: csv
      |  includeColumnNames: true
      |  saveAsSingleFile: true
      |  largeTextFields: cc_note.body, pc_datachange.gosu
      |performanceTuning:
      |  numberOfJobsInParallelMaxCount: 12
      |sparkTuning:
      |  maxResultSize: 4g
      |""".stripMargin

  test("yaml config parses with defaults and typed fields") {
    val cfg = GraftConfig.fromYaml(goodYaml)
    assert(cfg.sourceLocation.baseDir == "/data/cdc")
    assert(cfg.outputSettings.fileFormat == "csv")
    assert(cfg.outputSettings.saveAsSingleFile)
    assert(!cfg.outputSettings.saveIntoTimestampDirectory) // default
    assert(cfg.largeTextFieldSet == Set("cc_note.body", "pc_datachange.gosu"))
    assert(cfg.performanceTuning.numberOfJobsInParallelMaxCount == 12)
    assert(cfg.performanceTuning.numberOfThreadsPerJob == 4) // default
    assert(cfg.sparkTuning.maxResultSize == "4g")
    assert(cfg.jdbcConnectionRaw.isEmpty)
  }

  test("config validation rejects bad targets/formats/missing sections") {
    assertThrows[InvalidConfigException](
      GraftConfig.fromYaml(goodYaml.replace("exportTarget: file", "exportTarget: kafka")))
    assertThrows[InvalidConfigException](
      GraftConfig.fromYaml(goodYaml.replace("fileFormat: csv", "fileFormat: xml")))
    assertThrows[InvalidConfigException](
      GraftConfig.fromYaml(goodYaml.replace("sourceLocation:", "sourceLocationX:")))
    // jdbc raw without a connection section
    val jdbcYaml = goodYaml
      .replace("exportTarget: file", "exportTarget: jdbc")
      .replace("saveAsSingleFile: true", "saveIntoJdbcRaw: true")
    assertThrows[InvalidConfigException](GraftConfig.fromYaml(jdbcYaml))
  }

  test("config validation rejects jdbc save modes other than append on either connection") {
    def withConn(section: String, mode: Option[String]): String =
      goodYaml + s"""$section:
         |  jdbcUrl: "jdbc:derby:memory:x"
         |  jdbcSchema: APP
         |""".stripMargin + mode.fold("")(m => s"  jdbcSaveMode: $m\n")
    for (section <- Seq("jdbcConnectionRaw", "jdbcConnectionMerged")) {
      val default = GraftConfig.fromYaml(withConn(section, None))
      assert((default.jdbcConnectionRaw ++ default.jdbcConnectionMerged).map(_.jdbcSaveMode) == Seq("append"))
      GraftConfig.fromYaml(withConn(section, Some("append")))
      GraftConfig.fromYaml(withConn(section, Some("APPEND")))
      for (mode <- Seq("ignore", "errorifexists", "overwrite", "upsert")) {
        val e = intercept[InvalidConfigException](GraftConfig.fromYaml(withConn(section, Some(mode))))
        assert(e.getMessage == s"$section.jdbcSaveMode must be append: got '$mode'")
      }
    }
  }
}
