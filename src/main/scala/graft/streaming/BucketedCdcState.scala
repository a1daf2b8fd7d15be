package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.CdcMerge
import graft.sinks.TableVersions

/** Incremental, hash-bucketed file state for a continuously-merged CDC
  * table — the scale fix for the naive "re-merge everything per
  * micro-batch" design: per-batch I/O must be O(|touched state| +
  * |batch|), never O(|total state|), or a 1 GB micro-batch against
  * 100 TB of merged state triggers a 100 TB rewrite.
  *
  * Layout: the state root is a [[TableVersions]] snapshot chain. Each
  * committed version directory holds
  *
  *   - `buckets/__bucket=<b>/` — the FULL current data of every bucket
  *     rewritten by that commit (hive layout; the bucket id is
  *     `pmod(xxhash64(key), numBuckets)`), and
  *   - `_BUCKET_MAP` — one line per LIVE bucket, `<bucket>,<version>`,
  *     naming the version directory that holds the bucket's current
  *     data.
  *
  * A micro-batch therefore (1) computes which buckets its keys hash
  * into, (2) reads ONLY those buckets' current data, (3) latest-wins
  * merges them with the batch (tombstones retained, reference
  * semantics JdbcOutputWriter.scala:342-497), (4) writes the merged
  * buckets into the next version directory, and (5) commits a bucket
  * map that redirects just the touched buckets — every other bucket's
  * files are physically untouched, still served from the older
  * version directory they were last written to.
  *
  * Replay safety: the commit marker is the atomic visibility point.
  * A crash before commit leaves the current version unchanged, and
  * re-running the batch re-merges it against that same state —
  * latest-wins is idempotent, so the replay converges to the identical
  * table. Do NOT prune with [[TableVersions.prune]] directly (old
  * versions can still hold live buckets); use [[prune]] here, which
  * keeps every version the current bucket map references.
  */
object BucketedCdcState {

  private val BucketCol = "__bucket"
  private val MapFile = "_BUCKET_MAP"

  def bucketOf(keyCols: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong)).cast("int")

  private def fsOf(spark: SparkSession, root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ---------------- bucket map ----------------

  private def writeBucketMap(fs: FileSystem, versionDir: Path,
                             map: Map[Int, Long]): Unit = {
    val out = fs.create(new Path(versionDir, MapFile), true)
    out.write(map.toSeq.sorted.map { case (b, v) => s"$b,$v" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
  }

  private def readBucketMap(fs: FileSystem, versionDir: Path): Map[Int, Long] = {
    val body = TableVersions.readSmall(fs, new Path(versionDir, MapFile))
      .getOrElse(throw new java.io.IOException(
        s"unreadable bucket map in committed version dir $versionDir"))
    body.split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
      val Array(b, v) = line.split(",")
      b.toInt -> v.toLong
    }.toMap
  }

  /** Current bucket → version map; empty before the first commit. */
  def bucketMap(spark: SparkSession, root: String): Map[Int, Long] = {
    val (fs, rootPath) = fsOf(spark, root)
    TableVersions.current(fs, rootPath) match {
      case Some(v) => readBucketMap(fs, TableVersions.dataDir(rootPath, v))
      case None    => Map.empty
    }
  }

  private def bucketPath(rootPath: Path, version: Long, bucket: Int): Path =
    new Path(TableVersions.dataDir(rootPath, version), s"buckets/$BucketCol=$bucket")

  // ---------------- reads ----------------

  /** Data of the given buckets at the current commit. Buckets are
    * grouped by owning version and each group read as one parquet
    * scan; groups union by name so schema evolution across commits is
    * tolerated (later commits may carry added columns).
    */
  private def readBuckets(spark: SparkSession, root: String,
                          map: Map[Int, Long], buckets: Set[Int]): Option[DataFrame] = {
    val (_, rootPath) = fsOf(spark, root)
    val live = map.filter { case (b, _) => buckets.contains(b) }
    if (live.isEmpty) return None
    val groups = live.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, bs) =>
      spark.read.parquet(bs.keys.toSeq.sorted.map(b =>
        bucketPath(rootPath, v, b).toString): _*)
    }
    Some(groups.reduce((a, b) => a.unionByName(b, allowMissingColumns = true)))
  }

  /** Full current state (tombstones included); None before the first
    * commit.
    */
  def state(spark: SparkSession, root: String): Option[DataFrame] = {
    val map = bucketMap(spark, root)
    if (map.isEmpty) None else readBuckets(spark, root, map, map.keySet)
  }

  /** Current state of the given buckets only — the incremental read
    * for consumers that, like [[applyBatch]] itself, touch a known
    * bucket subset per micro-batch (e.g. [[StreamGapFill]]). None
    * before the first commit or when none of the buckets are live.
    */
  def statePartial(spark: SparkSession, root: String,
                   buckets: Set[Int]): Option[DataFrame] = {
    val map = bucketMap(spark, root)
    if (map.isEmpty) None else readBuckets(spark, root, map, buckets)
  }

  // ---------------- write path ----------------

  /** Newest committed version whose batch tag is strictly below
    * `beforeTag`. The replay anchor: a re-run of batch N must see the
    * state AS OF batch N-1, not the state its own first attempt
    * already committed.
    *
    * Fails fast on a MIXED root: untagged commits (legacy
    * [[applyBatch]] calls without a tag) can never be an anchor, so
    * silently skipping them would anchor a replay past real state and
    * corrupt quietly. Tag-anchored readers and untagged writers must
    * not share a root.
    */
  private def versionBefore(fs: FileSystem, rootPath: Path,
                            beforeTag: Long): Option[Long] = {
    val tagged = TableVersions.committedVersions(fs, rootPath)
      .map(v => v ->
        TableVersions.readBatchTag(fs, TableVersions.dataDir(rootPath, v)))
    val untagged = tagged.collect { case (v, None) => v }
    require(untagged.isEmpty,
      s"BucketedCdcState: $rootPath holds committed versions without a " +
        s"batch tag (v${untagged.mkString(", v")}); tag-anchored reads " +
        "(statePartialBefore) cannot see that state and would silently " +
        "anchor past it — write this root exclusively with tagged " +
        "applyBatch calls, or read it with state()/statePartial()")
    tagged.collect { case (v, Some(t)) if t < beforeTag => v }.lastOption
  }

  /** Like [[statePartial]], but as of the newest commit TAGGED before
    * `beforeTag` — None when no such commit exists.
    */
  def statePartialBefore(spark: SparkSession, root: String,
                         buckets: Set[Int], beforeTag: Long): Option[DataFrame] = {
    val (fs, rootPath) = fsOf(spark, root)
    versionBefore(fs, rootPath, beforeTag).flatMap { v =>
      val map = readBucketMap(fs, TableVersions.dataDir(rootPath, v))
      readBuckets(spark, root, map, buckets)
    }
  }

  /** Merge one CDC micro-batch into the state. Only the buckets the
    * batch's keys hash into are read and rewritten. `tag` stamps the
    * committed version with the caller's batch id so replays can
    * anchor reads to the pre-batch snapshot ([[statePartialBefore]]);
    * re-merging under the same tag converges (latest-wins) and
    * produces a second version with the same tag — readers take the
    * newest match, so convergence is unaffected.
    *
    * `bucketCols` (default: `keyCols`) lets the merge key be FINER
    * than the placement key — e.g. [[StreamGapFill]] merges per
    * (series key, day) but buckets by series key alone, so one key's
    * whole history stays co-bucketed and a batch's touched-bucket set
    * is still computable from its keys. Must be a subset of `keyCols`
    * so every row of a merge key lands in one bucket.
    *
    * `postMerge` runs on the merged bucket data before the write —
    * the hook for state-retention policies (e.g. trimming points
    * older than a lateness horizon). It must be per-key-local and
    * idempotent on its own output, or replay convergence breaks.
    */
  def applyBatch(batch: DataFrame, root: String,
                 keyCols: Seq[String], seqCols: Seq[String],
                 numBuckets: Int, tag: Option[Long] = None,
                 bucketCols: Seq[String] = Nil,
                 postMerge: DataFrame => DataFrame = identity): Unit = {
    val spark = batch.sparkSession
    val (fs, rootPath) = fsOf(spark, root)
    val bcols = if (bucketCols.nonEmpty) bucketCols else keyCols
    require(bcols.forall(keyCols.contains),
      s"bucketCols (${bcols.mkString(",")}) must be a subset of " +
        s"keyCols (${keyCols.mkString(",")})")
    // persisted once: the touched-bucket collect and the merge union
    // would otherwise each rescan the micro-batch source
    val bucketed = batch.withColumn(BucketCol, bucketOf(bcols, numBuckets))
      .persist()
    try {
      // bucket ids only — at most numBuckets values, never data rows
      val touched = bucketed.select(BucketCol).distinct()
        .collect().map(_.getInt(0)).toSet
      if (touched.isEmpty) return

      val map = bucketMap(spark, root)
      val prev = readBuckets(spark, root, map, touched)
        .map(_.withColumn(BucketCol, bucketOf(bcols, numBuckets)))
      val input = prev match {
        case Some(p) => p.unionByName(bucketed, allowMissingColumns = true)
        case None    => bucketed
      }
      // the bucket column rides through the merge inside the payload
      // (it is a key-derived function, identical on every row of a
      // key), so no per-row re-hash after the aggregate
      val merged = postMerge(CdcMerge.latestByKey(input, keyCols, seqCols))

      val pending = TableVersions.begin(fs, rootPath)
      merged
        .repartition(col(BucketCol))
        .write.mode("overwrite")
        .partitionBy(BucketCol)
        .parquet(new Path(pending.dir, "buckets").toString)
      writeBucketMap(fs, pending.dir,
        map ++ touched.map(_ -> pending.version))
      tag.foreach(TableVersions.writeBatchTag(fs, pending.dir, _))
      TableVersions.commit(fs, rootPath, pending)
    } finally bucketed.unpersist()
  }

  /** Drop version directories no longer referenced. The in-flight
    * reader window is the newest `keepHistory` COMMITS: a reader may
    * have resolved any of those versions, and what it reads is the
    * data its version's bucket MAP points to — so a version survives
    * while any of the newest `keepHistory` maps references it (not
    * merely while its own directory is recent).
    */
  def prune(spark: SparkSession, root: String, keepHistory: Int = 2): Unit = {
    val (fs, rootPath) = fsOf(spark, root)
    val versions = TableVersions.committedVersions(fs, rootPath)
    if (versions.isEmpty) return
    // tagged versions within one batch of the newest tag stay: they
    // are the replay anchors of statePartialBefore (a re-run of batch
    // N reads the newest version tagged < N, however many times N
    // itself has committed)
    val tags = versions.map(v => v ->
      TableVersions.readBatchTag(fs, TableVersions.dataDir(rootPath, v))).toMap
    val maxTag = tags.values.flatten.reduceOption(_ max _)
    val anchorKeep = maxTag match {
      case Some(m) => versions.filter(v => tags(v).exists(_ >= m - 1)).toSet
      case None    => Set.empty[Long]
    }
    val window = versions.takeRight(keepHistory).toSet ++ anchorKeep
    val referenced = window.flatMap(v =>
      readBucketMap(fs, TableVersions.dataDir(rootPath, v)).values)
    versions.filterNot(window.contains)
      .filterNot(referenced.contains)
      .foreach(v => fs.delete(TableVersions.dataDir(rootPath, v), true))
  }
}
