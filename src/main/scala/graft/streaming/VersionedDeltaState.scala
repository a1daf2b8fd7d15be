package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.TableVersions

/** Versioned append-only delta state for streaming dedup operators —
  * the [[TableVersions]] fenced-snapshot-chain form of the per-batch
  * `_SUCCESS`-scanned state dirs StreamLineDedup / StreamNearDedup
  * used before, unified with the protocol [[BucketedCdcState]]
  * already uses.
  *
  * Layout: the state root is a TableVersions chain. Each committed
  * version directory holds
  *
  *   - `seg/` — parquet written by that commit (a batch's delta, or a
  *     consolidation's merged segment; optionally hive-partitioned so
  *     readers can partition-prune),
  *   - `_SEGMENTS` — one version number per line: the versions whose
  *     `seg/` directories together form the state AS OF this commit,
  *   - the committing batch id ([[TableVersions.writeBatchTag]]: the
  *     replay anchor tag, same discipline as [[BucketedCdcState]]).
  *
  * Why a chain instead of `_SUCCESS`-scanned per-batch dirs: commits
  * become atomic (rename + marker — no half-visible directory states
  * to filter), zombie writers are fenced structurally (a writer that
  * lost a failover race can never scribble into its successor's
  * files; its late commit fails version-taken), and replay anchoring
  * is explicit (a re-run of batch N resolves the newest version
  * tagged < N, so it can never dedup a batch against its own first
  * attempt's state).
  *
  * The segment list is how reads stay bounded: a batch's commit
  * appends its own `seg/` to the ANCHOR's list (not the newest
  * commit's — a replaced first attempt drops out of the chain), and
  * [[consolidate]] commits one merged segment whose list is just
  * itself, so state reads union O(compactEvery) directories on a
  * long-lived stream. Superseded versions become unreferenced and are
  * reclaimed by [[prune]].
  */
object VersionedDeltaState {

  private val SegmentsFile = "_SEGMENTS"

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def segDir(rootPath: Path, version: Long): Path =
    new Path(TableVersions.dataDir(rootPath, version), "seg")

  private def readTag(fs: FileSystem, rootPath: Path, v: Long): Option[Long] =
    TableVersions.readBatchTag(fs, TableVersions.dataDir(rootPath, v))

  private def readSegments(fs: FileSystem, rootPath: Path, v: Long): Seq[Long] =
    TableVersions.readSmall(fs,
      new Path(TableVersions.dataDir(rootPath, v), SegmentsFile))
      .map(_.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSeq)
      .getOrElse(Nil)

  /** Newest committed version whose tag is strictly below `beforeTag`
    * — the replay anchor.
    */
  private def anchor(fs: FileSystem, rootPath: Path,
                     beforeTag: Long): Option[Long] =
    TableVersions.committedVersions(fs, rootPath)
      .filter(v => readTag(fs, rootPath, v).exists(_ < beforeTag))
      .lastOption

  /** The segment list as of the newest commit tagged before
    * `beforeTag`; Nil before the first such commit. Exposed for specs
    * (the read-cost bound IS this list's length).
    */
  def segmentsBefore(spark: SparkSession, root: String,
                     beforeTag: Long): Seq[Long] = {
    val (fs, rootPath) = fsOf(spark, root)
    anchor(fs, rootPath, beforeTag)
      .map(v => readSegments(fs, rootPath, v)).getOrElse(Nil)
  }

  /** State as of the newest commit tagged before `beforeTag` (the
    * union of its segments); None when there is no such commit or it
    * has no data. Each segment is read as its own scan, so a
    * partition-column filter applied by the caller prunes every
    * segment's file listing.
    */
  def stateBefore(spark: SparkSession, root: String,
                  beforeTag: Long): Option[DataFrame] = {
    val (fs, rootPath) = fsOf(spark, root)
    val segs = anchor(fs, rootPath, beforeTag)
      .map(v => readSegments(fs, rootPath, v)).getOrElse(Nil)
    if (segs.isEmpty) None
    else Some(segs.map(v => spark.read.parquet(segDir(rootPath, v).toString))
      .reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The ANCHOR version directory for batch `beforeTag` — where a
    * fold reads its aside payloads (running counts, sufficient-
    * statistic tables committed next to the segment delta via
    * [[append]]'s `aside` hook), so a replayed batch re-derives its
    * state from exactly the pre-batch snapshot its first attempt saw.
    */
  def versionDirBefore(spark: SparkSession, root: String,
                       beforeTag: Long): Option[Path] = {
    val (fs, rootPath) = fsOf(spark, root)
    anchor(fs, rootPath, beforeTag)
      .map(v => TableVersions.dataDir(rootPath, v))
  }

  /** The newest committed version directory — where READERS (reports,
    * counters) pick up the current aside payloads.
    */
  def currentVersionDir(spark: SparkSession, root: String): Option[Path] = {
    val (fs, rootPath) = fsOf(spark, root)
    TableVersions.committedVersions(fs, rootPath).lastOption
      .map(v => TableVersions.dataDir(rootPath, v))
  }

  /** State as of the NEWEST commit (the union of its segments) — the
    * reader-side companion to [[stateBefore]].
    */
  def stateCurrent(spark: SparkSession, root: String): Option[DataFrame] = {
    val (fs, rootPath) = fsOf(spark, root)
    val segs = TableVersions.committedVersions(fs, rootPath).lastOption
      .map(v => readSegments(fs, rootPath, v)).getOrElse(Nil)
    if (segs.isEmpty) None
    else Some(segs.map(v => spark.read.parquet(segDir(rootPath, v).toString))
      .reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** Commit one batch's delta: the new version's segment list is the
    * ANCHOR's list plus (if the delta has rows) the new version
    * itself. A replayed batch anchors to the same pre-batch snapshot
    * its first attempt saw, so its commit supersedes — not stacks on —
    * the first attempt's.
    */
  def append(spark: SparkSession, root: String, delta: DataFrame,
             tag: Long, partitionCols: Seq[String] = Nil,
             aside: Path => Unit = _ => ()): Unit = {
    val (fs, rootPath) = fsOf(spark, root)
    val prior = anchor(fs, rootPath, tag)
      .map(v => readSegments(fs, rootPath, v)).getOrElse(Nil)
    val pending = TableVersions.begin(fs, rootPath)
    val seg = new Path(pending.dir, "seg")
    val writer = delta.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(seg.toString)
    // aside payloads (running counts, sufficient-statistic tables)
    // land in the SAME pending dir so they commit atomically with the
    // delta and replay-anchor with it
    aside(pending.dir)
    // zero-row delta: carry the anchor's list forward instead of
    // growing it with an empty segment every idle batch. A
    // non-partitioned write of an empty frame still emits a
    // schema-only part file, so probe the (small, just-written) delta
    // for an actual row — one footer read, not a data scan.
    val segs =
      if (BatchDirs.hasParquetFile(fs, seg) &&
          !spark.read.parquet(seg.toString).isEmpty) prior :+ pending.version
      else prior
    TableVersions.writeSmall(fs, new Path(pending.dir, SegmentsFile),
      segs.mkString("", "\n", "\n"))
    TableVersions.writeBatchTag(fs, pending.dir, tag)
    TableVersions.commit(fs, rootPath, pending)
  }

  /** Merge the segments visible to batch `upTo` into ONE segment and
    * commit it (tagged `upTo - 1`, so batch `upTo` and its replays
    * anchor to it). A replayed consolidation anchors to its own first
    * attempt, sees a single-segment list, and no-ops. `merge` maps the
    * unioned segments to what the merged segment should hold (e.g.
    * `_.distinct()` for a hash set).
    */
  def consolidate(spark: SparkSession, root: String, upTo: Long,
                  merge: DataFrame => DataFrame = identity,
                  partitionCols: Seq[String] = Nil,
                  carry: (Path, Path) => Unit = (_, _) => ()): Unit = {
    val (fs, rootPath) = fsOf(spark, root)
    val anchorV = anchor(fs, rootPath, upTo)
    val segs = anchorV
      .map(v => readSegments(fs, rootPath, v)).getOrElse(Nil)
    if (segs.size <= 1) return
    val merged = merge(
      segs.map(v => spark.read.parquet(segDir(rootPath, v).toString))
        .reduce(_.unionByName(_, allowMissingColumns = true)))
    val pending = TableVersions.begin(fs, rootPath)
    val writer = merged.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(new Path(pending.dir, "seg").toString)
    // aside payloads survive compaction: the anchor's are carried
    // into the merged commit (it becomes the next batches' anchor)
    anchorV.foreach(v =>
      carry(TableVersions.dataDir(rootPath, v), pending.dir))
    TableVersions.writeSmall(fs, new Path(pending.dir, SegmentsFile),
      s"${pending.version}\n")
    TableVersions.writeBatchTag(fs, pending.dir, upTo - 1)
    TableVersions.commit(fs, rootPath, pending)
  }

  /** Drop version directories no longer referenced: a version survives
    * while it is one of the newest `keepHistory` commits, a replay
    * anchor (tagged within one batch of the newest tag), or a segment
    * any of those commits' lists reference. Same reference-aware shape
    * as [[BucketedCdcState.prune]].
    */
  def prune(spark: SparkSession, root: String, keepHistory: Int = 2): Unit = {
    val (fs, rootPath) = fsOf(spark, root)
    val versions = TableVersions.committedVersions(fs, rootPath)
    if (versions.isEmpty) return
    val tags = versions.map(v => v -> readTag(fs, rootPath, v)).toMap
    val maxTag = tags.values.flatten.reduceOption(_ max _)
    val anchorKeep = maxTag match {
      case Some(m) => versions.filter(v => tags(v).exists(_ >= m - 1)).toSet
      case None    => Set.empty[Long]
    }
    val window = versions.takeRight(keepHistory).toSet ++ anchorKeep
    val referenced = window.flatMap(v => readSegments(fs, rootPath, v))
    versions.filterNot(window.contains)
      .filterNot(referenced.contains)
      .foreach(v => fs.delete(TableVersions.dataDir(rootPath, v), true))
  }
}
