package graft.sinks

import java.util.UUID

import scala.util.Try

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** Lock-free snapshot-chain commits for versioned table directories —
  * the minimal form of the pointer-file pattern table formats use
  * (Iceberg's version-hint, Delta's _last_checkpoint): data for
  * version `n` is staged under a writer-private directory, atomically
  * renamed to `root/v<n>/` at commit, made visible by a commit
  * marker, and a best-effort `VERSION` hint file is swapped in for
  * cheap lookup.
  *
  * Readers resolve the current version from the committed markers
  * (authoritative — the hint is advisory), so a crash before commit
  * leaves only an invisible staging directory (reclaimed later) and a
  * crash between marker and hint is harmless. Racing readers always
  * see a complete committed directory; old versions stay readable
  * until [[prune]] — callers retain enough history to cover in-flight
  * reads.
  *
  * Writers are expected to be SINGLE at a time (one compaction job,
  * one streaming driver), and the staging layout makes failover safe
  * STRUCTURALLY: each writer stages into its own token-named
  * directory (`.v<n>-<token>`), so a zombie writer that lost a
  * takeover race can never scribble into the successor's files — the
  * worst it can do is win the commit rename with its OWN complete,
  * consistent directory, after which the loser's commit fails with a
  * clear version-taken error.
  *
  * Shared by [[Compaction.compactVersioned]] (lock-free swap),
  * [[graft.streaming.VersionedFold]] (the streaming snapshot folds),
  * [[graft.streaming.VersionedDeltaState]] (dedup delta segments) and
  * [[graft.streaming.BucketedCdcState]] (incremental bucketed state).
  * The streaming three stamp each version with its producing batch id
  * through [[writeBatchTag]] / [[readBatchTag]].
  */
object TableVersions {

  private val HintFile = "VERSION"
  private val Marker = "_GRAFT_COMMITTED"
  private val WriterToken = "_GRAFT_WRITER"
  private val BatchTag = "_GRAFT_BATCH"
  private val DirPattern = "^v(\\d+)$".r
  private val StagingPattern = "^\\.v(\\d+)-.+$".r

  /** A reserved, not-yet-committed version. `dir` is this writer's
    * PRIVATE staging directory (token-named): write the version's
    * data into it, then [[commit]] renames it into place atomically.
    */
  case class Pending(version: Long, dir: Path, token: String)

  def dataDir(root: Path, version: Long): Path = new Path(root, s"v$version")

  private def isCommitted(fs: FileSystem, root: Path, v: Long): Boolean =
    fs.exists(new Path(dataDir(root, v), Marker))

  /** All committed versions, ascending. */
  def committedVersions(fs: FileSystem, root: Path): Seq[Long] = {
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case DirPattern(n) => Some(n.toLong)
        case _             => None
      })
      .filter(v => isCommitted(fs, root, v))
      .sorted
  }

  /** Latest committed version; None before the first commit. The
    * marker scan is authoritative — the VERSION hint may lag by one
    * commit after a crash and is only ever written after the marker.
    */
  def current(fs: FileSystem, root: Path): Option[Long] =
    committedVersions(fs, root).lastOption

  /** Reserve the next version: one past the last COMMITTED version.
    * Data is staged in a fresh token-named private directory — other
    * writers' staging dirs are never touched (a live zombie keeps
    * writing harmlessly into its own dir). Staging leftovers for
    * already-committed versions are provably dead and reclaimed here.
    */
  def begin(fs: FileSystem, root: Path): Pending = {
    fs.mkdirs(root)
    val cur = current(fs, root).getOrElse(-1L)
    // dead staging dirs: their version is already committed, so their
    // writer either won (dir renamed away) or can never win
    fs.listStatus(root).toSeq.filter(_.isDirectory).foreach { s =>
      s.getPath.getName match {
        case StagingPattern(n) if n.toLong <= cur => fs.delete(s.getPath, true)
        case _                                    => ()
      }
    }
    val v = cur + 1
    val token = UUID.randomUUID().toString
    val dir = new Path(root, s".v$v-$token")
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, WriterToken), false)
    out.write(token.getBytes("UTF-8"))
    out.close()
    Pending(v, dir, token)
  }

  /** Publish a reserved version: atomically rename OUR staging
    * directory to `v<n>` (the structural fence — only our own
    * complete data can land there; a concurrent writer that committed
    * the same version first makes this fail with version-taken), then
    * write the commit marker (the visibility point), then refresh the
    * advisory hint.
    */
  def commit(fs: FileSystem, root: Path, pending: Pending): Unit = {
    require(fs.exists(pending.dir),
      s"commit of v${pending.version}: staging dir ${pending.dir} is gone " +
        "(version already committed and reclaimed, or never begun)")
    val target = dataDir(root, pending.version)
    if (fs.exists(target)) {
      require(!isCommitted(fs, root, pending.version),
        s"commit of v${pending.version}: already committed by another writer; " +
          "re-run against the new current version")
      // uncommitted leftover target (pre-staging layout or partial
      // rename): invisible to readers, safe to clear
      fs.delete(target, true)
    }
    require(fs.rename(pending.dir, target),
      s"commit of v${pending.version}: rename ${pending.dir} -> $target failed")
    val out = fs.create(new Path(target, Marker), true)
    out.close()
    writeHint(fs, root, pending.version)
  }

  private def writeHint(fs: FileSystem, root: Path, v: Long): Unit = {
    val tmp = new Path(root, s".$HintFile.tmp")
    val hint = new Path(root, HintFile)
    val out = fs.create(tmp, true)
    out.write(v.toString.getBytes("UTF-8"))
    out.close()
    try {
      val fc = FileContext.getFileContext(root.toUri, fs.getConf)
      fc.rename(tmp, hint, Options.Rename.OVERWRITE)
    } catch {
      case _: Exception => // hint is advisory; markers stay authoritative
        fs.delete(tmp, true)
    }
  }

  /** Full small-file read — Hadoop streams may short-read, so loop to
    * EOF (these files are a few bytes). None on any failure.
    */
  private[graft] def readSmall(fs: FileSystem, p: Path): Option[String] = Try {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val bytes = new Array[Byte](256)
      var n = in.read(bytes)
      while (n >= 0) {
        buf.write(bytes, 0, n)
        n = in.read(bytes)
      }
      new String(buf.toByteArray, "UTF-8").trim
    } finally in.close()
  }.toOption

  /** Full small-file write (metadata files staged INSIDE a pending
    * version dir — they become visible atomically with the commit
    * rename, so no tmp+rename of their own is needed).
    */
  private[graft] def writeSmall(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** The batch id a version directory was tagged with; None when it
    * is untagged (batch-mode writes) or the tag is unreadable.
    */
  def readBatchTag(fs: FileSystem, versionDir: Path): Option[Long] =
    readSmall(fs, new Path(versionDir, BatchTag))
      .flatMap(s => Try(s.toLong).toOption)

  /** Tag a PENDING version directory with its producing batch id — the
    * tag becomes visible atomically with the commit rename.
    */
  def writeBatchTag(fs: FileSystem, versionDir: Path, batchId: Long): Unit =
    writeSmall(fs, new Path(versionDir, BatchTag), batchId.toString)

  /** Read the advisory hint (diagnostics / external tooling). Corrupt
    * or partial hints degrade to None — the hint is never
    * authoritative.
    */
  def hint(fs: FileSystem, root: Path): Option[Long] =
    readSmall(fs, new Path(root, HintFile))
      .flatMap(s => Try(s.toLong).toOption)

  /** Delete all but the newest `keep` committed versions. Callers
    * size `keep` to cover the longest in-flight read (a version is
    * only unsafe to delete while a reader resolved it before the
    * newer commit). Roots whose versions REFERENCE older versions'
    * data (e.g. bucketed CDC state) must use their own
    * reference-aware prune instead.
    */
  def prune(fs: FileSystem, root: Path, keep: Int): Unit = {
    require(keep >= 1, "must keep at least the current version")
    val vs = committedVersions(fs, root)
    vs.dropRight(keep).foreach(v => fs.delete(dataDir(root, v), true))
  }
}
