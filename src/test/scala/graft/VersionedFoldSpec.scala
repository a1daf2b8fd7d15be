package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.TableVersions
import graft.streaming.{StreamRfm, VersionedFold}

/** The one snapshot-fold protocol behind the streaming state-table
  * operators ([[VersionedFold]]): replay guard, commit atomicity
  * under a failing step, read isolation from a pending commit, prune
  * retention and the uniform no-snapshot refusal — plus a source lint
  * pinning that the Stream* folds go through it.
  */
class VersionedFoldSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("vfold").toString + "/state"

  private def rootFs(dir: String) = {
    val root = new Path(dir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def versions(dir: String): Seq[Long] = {
    val (fs, root) = rootFs(dir)
    TableVersions.committedVersions(fs, root)
  }

  private def committedTag(dir: String): Option[Long] = {
    val (fs, root) = rootFs(dir)
    TableVersions.current(fs, root)
      .flatMap(v => TableVersions.readBatchTag(fs, TableVersions.dataDir(root, v)))
  }

  private def stagingDirs(dir: String): Seq[String] = {
    val (fs, root) = rootFs(dir)
    fs.listStatus(root).toSeq.map(_.getPath.getName).filter(_.startsWith(".v"))
  }

  private def values(dir: String): Seq[Long] =
    VersionedFold.read(spark, dir, "t").as[Long].collect().toSeq.sorted

  /** Fold that appends `xs` to table `t`. */
  private def append(dir: String, id: Option[Long], xs: Long*): Unit =
    VersionedFold(spark, dir, id) { prev =>
      val delta = xs.toDF("x")
      VersionedFold.Staged("t" -> prev.fold(delta)(_.table("t").unionByName(delta)))
    }

  test("a replayed batchId is a no-op: the step never runs, no version is added") {
    val dir = newDir()
    append(dir, Some(0L), 1L)
    append(dir, Some(1L), 2L)
    val before = versions(dir)
    var ran = false
    Seq(0L, 1L).foreach { id =>
      VersionedFold(spark, dir, Some(id)) { _ =>
        ran = true
        VersionedFold.Staged("t" -> Seq(99L).toDF("x"))
      }
    }
    assert(!ran)
    assert(versions(dir) === before)
    assert(values(dir) === Seq(1L, 2L))
    assert(committedTag(dir).contains(1L))
    // no batchId (batch mode) always applies
    append(dir, None, 3L)
    assert(values(dir) === Seq(1L, 2L, 3L))
  }

  test("a step that throws after staging data leaves snapshot and tag unchanged; the retry applies once") {
    val dir = newDir()
    append(dir, Some(0L), 1L)
    val before = versions(dir)
    val boom: DataFrame = spark.range(1).select(
      when(col("id") >= 0, raise_error(lit("boom")).cast("long"))
        .otherwise(col("id")).as("x"))
    val e = intercept[Throwable] {
      VersionedFold(spark, dir, Some(1L)) { prev =>
        // "t" is staged in full before "u" fails mid-write
        VersionedFold.Staged(
          "t" -> prev.get.table("t").unionByName(Seq(2L).toDF("x")),
          "u" -> boom)
      }
    }
    assert(SparkTestSession.refusalMessage(throw e).contains("boom"))
    assert(versions(dir) === before)
    assert(committedTag(dir).contains(0L))
    assert(values(dir) === Seq(1L))
    assert(stagingDirs(dir).isEmpty, "the failed attempt's staging dir is removed")
    append(dir, Some(1L), 2L)
    append(dir, Some(1L), 2L) // redelivered after the successful retry
    assert(values(dir) === Seq(1L, 2L))
    assert(versions(dir).size === before.size + 1)
    assert(committedTag(dir).contains(1L))
  }

  test("a read inside the step, while the commit is pending, sees the prior complete snapshot") {
    val dir = newDir()
    append(dir, Some(0L), 1L, 2L)
    var seen: Seq[Long] = Nil
    var pending: Seq[String] = Nil
    VersionedFold(spark, dir, Some(1L)) { prev =>
      pending = stagingDirs(dir)
      seen = values(dir)
      VersionedFold.Staged("t" -> prev.get.table("t").unionByName(Seq(3L).toDF("x")))
    }
    assert(pending.size === 1, "the next version is staged while the step runs")
    assert(seen === Seq(1L, 2L))
    assert(values(dir) === Seq(1L, 2L, 3L))
  }

  test("prune keeps exactly the newest four versions") {
    val dir = newDir()
    (0L to 6L).foreach(id => append(dir, Some(id), id))
    assert(versions(dir) === Seq(3L, 4L, 5L, 6L))
    assert(values(dir) === (0L to 6L))
  }

  test("a read before the first commit throws one uniform error naming the dir") {
    val dir = newDir()
    Seq[() => Any](
      () => VersionedFold.read(spark, dir, "t"),
      () => VersionedFold.snapshot(spark, dir),
      () => StreamRfm.state(spark, dir)).foreach { read =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage === s"VersionedFold($dir): no committed snapshot yet")
    }
  }

  test("lint: Stream* folds commit only through VersionedFold") {
    val src = Paths.get(sys.props("user.dir"), "src/main/scala/graft/streaming")
    val files = Files.list(src).iterator().asScala.toSeq
      .filter(_.getFileName.toString.matches("Stream.*\\.scala"))
    assert(files.size >= 21, s"no Stream*.scala sources under $src")
    val banned = Seq(
      """TableVersions\.(begin|commit|prune)\b""".r,
      """"(batch|_batchid|_GRAFT_BATCH)"""".r)
    val hits = for {
      f <- files
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      if banned.exists(_.findFirstIn(line).nonEmpty)
    } yield s"${f.getFileName}:${n + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
