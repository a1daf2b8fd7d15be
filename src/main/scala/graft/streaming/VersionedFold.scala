package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.TableVersions

/** The snapshot-fold protocol every state-table streaming operator
  * shares: the state is a [[TableVersions]] chain, and each
  * microbatch folds the previous committed snapshot and the batch into
  * the next one.
  *
  * One fold step, in order:
  *   - replay guard: foreachBatch is at-least-once (a crash between
  *     our commit and the engine's commit-log write redelivers the
  *     microbatch), so each committed version carries its producing
  *     batch id and a batch id at or below the committed one is a
  *     no-op. Folds that are replay-safe by algebra, and batch-mode
  *     callers, pass no batch id and always apply;
  *   - previous snapshot: the step sees the current committed version
  *     (None before the first commit) while the next one is pending;
  *   - commit: the step's named tables and small aside files are
  *     staged into the pending version, tagged with the batch id, and
  *     published atomically — a step that throws leaves the committed
  *     snapshot and tag untouched and its staging dir removed;
  *   - prune: the newest four versions stay readable for in-flight
  *     readers.
  */
object VersionedFold {

  /** Committed versions retained after each fold. */
  private val Keep = 4

  /** One committed version of a fold's state. */
  final case class Snapshot(spark: SparkSession, dir: Path) {
    def table(name: String): DataFrame =
      spark.read.parquet(new Path(dir, name).toString)

    def aside(name: String): Option[String] = TableVersions.readSmall(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(dir, name))
  }

  /** What one step publishes: named parquet tables and small aside
    * files (scalars such as a remaining budget).
    */
  final class Staged private (val tables: Seq[(String, DataFrame)],
                              val asides: Seq[(String, String)]) {
    def withAside(name: String, body: String): Staged =
      new Staged(tables, asides :+ (name -> body))
  }

  object Staged {
    def apply(tables: (String, DataFrame)*): Staged = new Staged(tables, Nil)
  }

  /** Fold one microbatch into the state at `dir` (see the object doc
    * for the protocol). `step` maps the previous snapshot to the next
    * state.
    */
  def apply(spark: SparkSession, dir: String, batchId: Option[Long])
           (step: Option[Snapshot] => Staged): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = TableVersions.current(fs, root)
      .map(v => Snapshot(spark, TableVersions.dataDir(root, v)))
    val committedId = prev.flatMap(p => TableVersions.readBatchTag(fs, p.dir))
    if (batchId.exists(id => committedId.exists(id <= _))) return
    val pending = TableVersions.begin(fs, root)
    val sc = spark.sparkContext
    val tag = s"graft-fold${pending.dir.getName}"
    sc.addJobTag(tag)
    try {
      val staged = step(prev)
      // each table under its own SUBDIR: a parquet write over the
      // pending dir itself would wipe the writer-token fence
      staged.tables.foreach { case (name, df) =>
        df.write.parquet(new Path(pending.dir, name).toString)
      }
      staged.asides.foreach { case (name, body) =>
        TableVersions.writeSmall(fs, new Path(pending.dir, name), body)
      }
      batchId.foreach(TableVersions.writeBatchTag(fs, pending.dir, _))
      TableVersions.commit(fs, root, pending)
    } catch {
      case e: Throwable =>
        // a failed write's cancelled tasks can still be unwinding —
        // re-creating attempt dirs under the staging dir — after the
        // action throws: let them end before removing it
        awaitTasks(sc, tag)
        fs.delete(pending.dir, true)
        throw e
    } finally sc.removeJobTag(tag)
    TableVersions.prune(fs, root, Keep)
  }

  /** Wait (at most 30 s) until no task of a job tagged `tag` runs. */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    def running = st.getJobIdsForTag(tag).iterator.flatMap(st.getJobInfo)
      .flatMap(_.stageIds).flatMap(st.getStageInfo)
      .exists(_.numActiveTasks > 0)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** The current committed snapshot; throws before the first commit. */
  def snapshot(spark: SparkSession, dir: String): Snapshot = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = TableVersions.current(fs, root).getOrElse(
      throw new IllegalStateException(
        s"VersionedFold($dir): no committed snapshot yet"))
    Snapshot(spark, TableVersions.dataDir(root, v))
  }

  /** One table of the current committed snapshot. */
  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    snapshot(spark, dir).table(table)
}
