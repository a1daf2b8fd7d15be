package graft.cdc

import java.nio.file.{Files, Paths, Path, StandardCopyOption}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Per-table incremental-read checkpoints.
  *
  * Same contract as the reference's SavepointsProcessor
  * (cda-client SavepointsProcessor.scala): a `savepoints.json` map of
  * table → last-processed timestamp-folder, read at startup, upserted
  * after each successful table write. Local filesystem only (object
  * stores are out of scope in this environment); writes are
  * synchronized like the reference's, since a table's raw and merged
  * JDBC targets commit their watermarks from two threads. Each commit
  * writes a sibling temp file and atomically renames it over
  * `savepoints.json`, so a crash mid-write leaves the previous map
  * readable, never a truncated file.
  */
class Savepoints(directoryPath: String) {

  private val mapper = new ObjectMapper()
  val savepointsFilePath: Path = Paths.get(directoryPath, "savepoints.json")

  require(Files.isDirectory(Paths.get(directoryPath)),
    s"Savepoints path $directoryPath doesn't exist or isn't a directory")

  private val data: TrieMap[String, String] = {
    val m = TrieMap.empty[String, String]
    if (Files.exists(savepointsFilePath)) {
      val json = new String(Files.readAllBytes(savepointsFilePath), "UTF-8")
      val parsed = mapper.readValue(json, classOf[java.util.Map[String, String]])
      m ++= parsed.asScala
    }
    m
  }

  def get(tableName: String): Option[String] = data.get(tableName)

  def getAsLong(tableName: String): Option[Long] = get(tableName).map(_.toLong)

  def write(tableName: String, newSavepoint: String): Unit = synchronized {
    data.put(tableName, newSavepoint)
    flush()
  }

  /** Drop an entry (no-op when absent) — used to retire per-target
    * catch-up watermarks once a table is fully caught up.
    */
  def remove(tableName: String): Unit = synchronized {
    if (data.remove(tableName).isDefined) flush()
  }

  private def flush(): Unit = {
    val json = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(new java.util.TreeMap[String, String](data.toMap.asJava))
    val tmp = savepointsFilePath.resolveSibling("savepoints.json.tmp")
    Files.write(tmp, json.getBytes("UTF-8"))
    Files.move(tmp, savepointsFilePath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def snapshot: Map[String, String] = data.toMap
}
