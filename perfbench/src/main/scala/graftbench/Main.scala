package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cpus <n> [--tiny]`.
  *
  * Prints an environment line, then as its last line the result:
  * `{"correct", "attempted", "failed", "metrics"}` with every
  * end-to-end metric (untraced run) or every per-layer metric (traced
  * run).
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "rows_per_s" -> "1/s", "batch_s_p50" -> "s",
    "batch_s_p75" -> "s", "mix_geomean_s" -> "s", "retained_heap_mb" -> "MiB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.list_s" -> "s", "sources.plan_s" -> "s", "sources.scan_s" -> "s",
    "sources.rows" -> "count", "sources.files" -> "count", "sources.input_bytes" -> "bytes",
    "cdc.manifest_s" -> "s", "cdc.savepoint_read_s" -> "s", "cdc.savepoint_write_s" -> "s",
    "cdc.merge_self_s" -> "s", "cdc.merge_shuffle_bytes" -> "bytes", "cdc.merge_rows_in" -> "count",
    "cdc.merge_rows_out" -> "count", "cdc.merge_keep_ratio" -> "ratio",
    "sinks.file_self_s" -> "s", "sinks.file_bytes" -> "bytes", "sinks.write_amp" -> "ratio",
    "sinks.jdbc_ensure_s" -> "s", "sinks.jdbc_ddl_stmts" -> "count", "sinks.jdbc_raw_s" -> "s",
    "sinks.jdbc_raw_rows" -> "count", "sinks.jdbc_merged_s" -> "s", "sinks.jdbc_merged_rows" -> "count"
  ) ++ Landing.Tables.map(t => s"client.table_s.$t" -> "s") ++ Seq(
    "client.straggler_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count", "spark.job_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.shuffle_write_bytes" -> "bytes", "spark.gc_s" -> "s"
  ) ++ QueryMix.Names.flatMap(q => Seq(
    s"queries.$q.build_s" -> "s", s"queries.$q.exec_s" -> "s", s"queries.$q.jobs" -> "count",
    s"queries.$q.driver_gap_s" -> "s", s"queries.$q.shuffle_bytes" -> "bytes")) ++ Seq(
    "trace_overhead_frac" -> "ratio", "trace.run_s" -> "s", "trace.untraced_run_s" -> "s",
    "trace.spans" -> "count", "trace.unattributed_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val cpus = args.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val tiny = argv.contains("--tiny")
    val work = Files.createDirectories(Paths.get(args("work")).toAbsolutePath)

    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, work, seed, seconds, tiny)
    val wl: Workload = workload match {
      case "cdc_cold" => new CdcCold(ctx)
      case "cdc_incremental" => new CdcIncremental(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val prepS = (1 to SetupReps).map(_ => Stats.seconds(wl.prepare())._2)
    val (_, warmS) = Stats.seconds(wl.warmUp())
    val setupS = sessionS + Stats.median(prepS) + warmS

    val (metrics, attempted, failed, samples) =
      if (trace) traced(spark, wl) else untraced(spark, wl, setupS)

    println(Json(Map("env" -> (env(spark, workload, seed, seconds, cpus, tiny, trace) ++ Map(
      "setup_parts_s" -> Map("session" -> sessionS, "prepare" -> prepS, "warm_up" -> warmS),
      "samples" -> samples)))))
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(
        metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }: _*))
    println(Json(result))
    System.out.flush()
    spark.stop()
  }

  /** Repetitions of the inputs' set-up; `setup_s` takes the median. One,
    * because each further set-up adds about 4 s to every run.
    */
  val SetupReps = 1

  type Metrics = Seq[(String, (Double, String))]

  private def untraced(spark: SparkSession, wl: Workload, setupS: Double): (Metrics, Int, Int, Map[String, Any]) = {
    val off = new Tracer(spark, enabled = false)
    val passes = (1 to wl.passes).map(_ => wl.pass(off))
    val heap = retainedHeapMb()
    val checks = wl.verify()
    val lat = passes.flatMap(_.latencies)
    val runS = Stats.median(passes.map(_.runS))
    val values = Map(
      "setup_s" -> setupS,
      "run_s" -> runS,
      "rows_per_s" -> wl.inputRows / runS,
      "batch_s_p50" -> (if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.5)),
      "batch_s_p75" -> (if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.75)),
      "mix_geomean_s" -> (if (lat.isEmpty) 0.0 else Stats.geomean(lat)),
      "retained_heap_mb" -> heap)
    (EndToEnd.map { case (k, u) => k -> (values(k), u) },
      passes.map(_.attempted).sum + checks.attempted, passes.map(_.failed).sum + checks.failed,
      Map("passes" -> passes.size, "operations" -> lat.size, "setup_reps" -> SetupReps))
  }

  /** A traced pass between two untraced passes of the same work, so JIT
    * warming over the run skews the overhead baseline less; per-layer
    * figures come from the traced pass.
    */
  private def traced(spark: SparkSession, wl: Workload): (Metrics, Int, Int, Map[String, Any]) = {
    val off = new Tracer(spark, enabled = false)
    val before = wl.pass(off)
    wl.reset()
    val tr = new Tracer(spark, enabled = true)
    val gc0 = gcSeconds()
    val w0 = tr.nowMs
    val pass = wl.pass(tr)
    val w1 = tr.nowMs
    val gcS = gcSeconds() - gc0
    tr.drain()
    val spans = tr.spans
    val jobs = tr.ledger.jobsOf(None).filter(j => j.startMs >= w0 && j.startMs <= w1)
    val jobS = Tracer.covered(jobs.map(j => (j.startMs, math.min(j.endMs, w1)))) / 1000.0
    val counters = tr.ledger.countersOf(Some(spans))
    val checks = wl.verify()
    val layer = wl.layers(tr)
    tr.close()
    wl.reset()
    val after = wl.pass(off)
    val plainS = (before.runS + after.runS) / 2
    val values = Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> counters.stages.toDouble,
      "spark.tasks" -> counters.tasks.toDouble,
      "spark.job_s" -> jobS,
      "spark.driver_gap_s" -> math.max(0.0, pass.runS - jobS),
      "spark.shuffle_write_bytes" -> counters.shuffleWriteBytes.toDouble,
      "spark.gc_s" -> gcS,
      "trace_overhead_frac" -> (pass.runS / plainS - 1),
      "trace.run_s" -> pass.runS,
      "trace.untraced_run_s" -> plainS,
      "trace.spans" -> spans.size.toDouble,
      "trace.unattributed_s" -> math.max(0.0,
        pass.runS - Tracer.covered(spans.map(s => (s.startMs, s.endMs))) / 1000.0)
    ) ++ layer
    (PerLayer.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) },
      Seq(before, pass, after).map(_.attempted).sum + checks.attempted,
      Seq(before, pass, after).map(_.failed).sum + checks.failed,
      Map("passes" -> 3, "traced_operations" -> pass.latencies.size, "setup_reps" -> SetupReps,
        "untraced_run_s" -> Seq(before.runS, after.runS)))
  }

  private def session(cpus: Int, work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.appStateStore.asyncTracking.enable", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap in use after full collections, in MiB. */
  private def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def env(spark: SparkSession, workload: String, seed: Long, seconds: Int, cpus: Int,
                  tiny: Boolean, trace: Boolean): Map[String, Any] = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val memBytes = os match {
      case m: com.sun.management.OperatingSystemMXBean => m.getTotalMemorySize
      case _ => -1L
    }
    Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace, "tiny" -> tiny,
      "cpus" -> cpus, "host_cpus" -> Runtime.getRuntime.availableProcessors(),
      "memory_bytes" -> memBytes, "driver_heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version, "os" -> s"${os.getName} ${os.getVersion} ${os.getArch}")
  }
}
