package graft.sinks

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** Local directory walks that close their directory streams. An
  * unclosed `Files.list` / `Files.walk` holds its file descriptors
  * until a GC happens to finalize it, so a long-running poller that
  * lists on every run ends in EMFILE.
  */
private[graft] object LocalFiles {

  /** A directory's direct entries. */
  def children(dir: Path): Seq[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  /** `dir` and everything below it, parents before children. */
  def tree(dir: Path): Seq[Path] =
    Using.resource(Files.walk(dir))(_.iterator().asScala.toList)

  /** Delete `p` and everything below it; no-op when absent. */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) tree(p).reverseIterator.foreach(Files.deleteIfExists)
}
