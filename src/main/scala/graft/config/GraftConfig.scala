package graft.config

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** graft's client configuration — the same surface as the reference's
  * config.yaml (cda-client config/ClientConfigReader.scala,
  * sample.config.yaml) re-modeled as immutable case classes with
  * upfront validation.
  */
final case class SourceLocation(baseDir: String, manifestPath: String)

final case class OutputLocation(path: String)

final case class SavepointsLocation(path: String)

final case class OutputSettings(tablesToInclude: String = "",
                                exportTarget: String = "file",
                                fileFormat: String = "parquet",
                                includeColumnNames: Boolean = true,
                                saveAsSingleFile: Boolean = false,
                                saveIntoTimestampDirectory: Boolean = false,
                                largeTextFields: String = "",
                                jdbcBatchSize: Long = 5000L,
                                saveIntoJdbcRaw: Boolean = false,
                                saveIntoJdbcMerged: Boolean = false)

final case class JdbcConnection(jdbcUrl: String = "",
                                jdbcUsername: String = "",
                                jdbcPassword: String = "",
                                jdbcSchema: String = "",
                                jdbcSaveMode: String = "append",
                                jdbcApplyLatestUpdatesOnly: Boolean = true)

final case class PerformanceTuning(numberOfJobsInParallelMaxCount: Int = 8,
                                   numberOfThreadsPerJob: Int = 4,
                                   sparkMaster: String = "local")

final case class SparkTuning(maxResultSize: String = "0",
                             driverMemory: String = "",
                             executorMemory: String = "")

final case class GraftConfig(sourceLocation: SourceLocation,
                             outputLocation: OutputLocation,
                             savepointsLocation: SavepointsLocation,
                             outputSettings: OutputSettings = OutputSettings(),
                             jdbcConnectionRaw: Option[JdbcConnection] = None,
                             jdbcConnectionMerged: Option[JdbcConnection] = None,
                             performanceTuning: PerformanceTuning = PerformanceTuning(),
                             sparkTuning: SparkTuning = SparkTuning()) {

  /** Parsed large-text field set ("table.column" entries). */
  def largeTextFieldSet: Set[String] =
    Option(outputSettings.largeTextFields).getOrElse("")
      .replace(" ", "").split(",").filter(_.nonEmpty).toSet
}

/** Config validation failure (reference: ConfigParameterExceptions). */
final case class InvalidConfigException(message: String)
  extends IllegalArgumentException(message)

object GraftConfig {

  val ValidExportTargets: Set[String] = Set("file", "jdbc", "jdbc_v2")
  val ValidFileFormats: Set[String] = Set("csv", "parquet", "json")

  /** Parse + validate a YAML config (same shape as the reference's
    * config.yaml).
    */
  def fromYaml(yaml: String): GraftConfig = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val root = mapper.readTree(yaml)

    def str(n: JsonNode, field: String, default: String = null): String = {
      val v = Option(n).flatMap(x => Option(x.get(field))).map(_.asText())
      v.orElse(Option(default)).getOrElse(
        throw InvalidConfigException(s"Missing required config field: $field"))
    }
    def bool(n: JsonNode, field: String, default: Boolean): Boolean =
      Option(n).flatMap(x => Option(x.get(field))).map(_.asBoolean()).getOrElse(default)
    def long(n: JsonNode, field: String, default: Long): Long =
      Option(n).flatMap(x => Option(x.get(field))).map(_.asLong()).getOrElse(default)
    def int(n: JsonNode, field: String, default: Int): Int =
      Option(n).flatMap(x => Option(x.get(field))).map(_.asInt()).getOrElse(default)

    val src = Option(root.get("sourceLocation")).getOrElse(
      throw InvalidConfigException("Missing required config section: sourceLocation"))
    val out = Option(root.get("outputLocation")).getOrElse(
      throw InvalidConfigException("Missing required config section: outputLocation"))
    val sp = Option(root.get("savepointsLocation")).getOrElse(
      throw InvalidConfigException("Missing required config section: savepointsLocation"))
    val os = root.get("outputSettings")

    def jdbcConn(section: String): Option[JdbcConnection] =
      Option(root.get(section)).map { j =>
        JdbcConnection(
          jdbcUrl = str(j, "jdbcUrl", ""),
          jdbcUsername = str(j, "jdbcUsername", ""),
          jdbcPassword = str(j, "jdbcPassword", ""),
          jdbcSchema = str(j, "jdbcSchema", ""),
          jdbcSaveMode = str(j, "jdbcSaveMode", "append"),
          jdbcApplyLatestUpdatesOnly = bool(j, "jdbcApplyLatestUpdatesOnly", default = true))
      }

    val cfg = GraftConfig(
      sourceLocation = SourceLocation(str(src, "baseDir"), str(src, "manifestPath")),
      outputLocation = OutputLocation(str(out, "path")),
      savepointsLocation = SavepointsLocation(str(sp, "path")),
      outputSettings = OutputSettings(
        tablesToInclude = str(os, "tablesToInclude", ""),
        exportTarget = str(os, "exportTarget", "file"),
        fileFormat = str(os, "fileFormat", "parquet"),
        includeColumnNames = bool(os, "includeColumnNames", default = true),
        saveAsSingleFile = bool(os, "saveAsSingleFile", default = false),
        saveIntoTimestampDirectory = bool(os, "saveIntoTimestampDirectory", default = false),
        largeTextFields = str(os, "largeTextFields", ""),
        jdbcBatchSize = long(os, "jdbcBatchSize", 5000L),
        saveIntoJdbcRaw = bool(os, "saveIntoJdbcRaw", default = false),
        saveIntoJdbcMerged = bool(os, "saveIntoJdbcMerged", default = false)),
      jdbcConnectionRaw = jdbcConn("jdbcConnectionRaw"),
      jdbcConnectionMerged = jdbcConn("jdbcConnectionMerged"),
      performanceTuning = {
        val p = root.get("performanceTuning")
        PerformanceTuning(
          int(p, "numberOfJobsInParallelMaxCount", 8),
          int(p, "numberOfThreadsPerJob", 4),
          str(p, "sparkMaster", "local"))
      },
      sparkTuning = {
        val t = root.get("sparkTuning")
        SparkTuning(str(t, "maxResultSize", "0"),
          str(t, "driverMemory", ""), str(t, "executorMemory", ""))
      })
    validate(cfg)
    cfg
  }

  /** Cross-field validation (reference ClientConfigReader rules). */
  def validate(cfg: GraftConfig): Unit = {
    val os = cfg.outputSettings
    if (!ValidExportTargets.contains(os.exportTarget))
      throw InvalidConfigException(
        s"exportTarget must be one of ${ValidExportTargets.mkString(", ")}: got '${os.exportTarget}'")
    if (os.exportTarget == "file" && !ValidFileFormats.contains(os.fileFormat.toLowerCase))
      throw InvalidConfigException(
        s"fileFormat must be one of ${ValidFileFormats.mkString(", ")}: got '${os.fileFormat}'")
    if (os.exportTarget == "jdbc" && !os.saveIntoJdbcRaw && !os.saveIntoJdbcMerged)
      throw InvalidConfigException(
        "exportTarget jdbc needs saveIntoJdbcRaw and/or saveIntoJdbcMerged — " +
          "with neither, every batch would be skipped silently")
    if (os.exportTarget == "jdbc" && os.saveIntoJdbcRaw && cfg.jdbcConnectionRaw.isEmpty)
      throw InvalidConfigException("saveIntoJdbcRaw requires jdbcConnectionRaw")
    if (os.exportTarget == "jdbc" && os.saveIntoJdbcMerged && cfg.jdbcConnectionMerged.isEmpty)
      throw InvalidConfigException("saveIntoJdbcMerged requires jdbcConnectionMerged")
    if (os.jdbcBatchSize <= 0)
      throw InvalidConfigException(s"jdbcBatchSize must be positive: got ${os.jdbcBatchSize}")
    // the client creates each target table (with its key and index)
    // before every write, so only append can be honoured: ignore would
    // write nothing yet advance the savepoint, errorifexists fails
    // every run, and overwrite recreates the table without its key
    for ((section, Some(c)) <- Seq("jdbcConnectionRaw" -> cfg.jdbcConnectionRaw,
                                   "jdbcConnectionMerged" -> cfg.jdbcConnectionMerged)
         if !c.jdbcSaveMode.equalsIgnoreCase("append"))
      throw InvalidConfigException(s"$section.jdbcSaveMode must be append: got '${c.jdbcSaveMode}'")
  }
}
