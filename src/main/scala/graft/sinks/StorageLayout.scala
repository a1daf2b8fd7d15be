package graft.sinks

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{Files, Path, Paths}

/** Storage-layout abstraction over the output destination — the pure
  * logic of the reference's writer split
  * (cda-client FileBasedOutputWriter.scala:190-199 scheme dispatch,
  * LocalFilesystemOutputWriter.scala, S3OutputWriter.scala) behind one
  * trait, so the object-store path semantics are spec-testable in a
  * zero-egress environment with a local fake:
  *
  *  - URI parsing (bucket/key — the reference's AmazonS3URI);
  *  - s3:// → s3a:// for the Spark/Hadoop DATA write
  *    (S3OutputWriter.scala:33-40), while API-level operations (the
  *    schema sidecar putObject) use the raw bucket+key
  *    (S3OutputWriter.scala:43-53);
  *  - the shared folder shape `prefix/table/fingerprint[/timestamp]`
  *    (FileBasedOutputWriter.scala:78-86);
  *  - validate(): local → output must be an existing directory;
  *    object store → bucket must exist and the prefix must not be an
  *    existing OBJECT (S3OutputWriter.scala:18-30).
  */
sealed trait StorageLayout {

  /** Throws when the destination cannot be written. */
  def validate(): Unit

  /** Prefix the Spark data write targets (scheme already fixed up). */
  def dataPrefix: String

  /** `prefix/table/fingerprint[/timestamp]` under the data prefix. */
  final def folderFor(tableName: String, fingerprint: String,
                      timestamp: Option[String] = None): String = {
    val base = s"$dataPrefix/$tableName/$fingerprint"
    timestamp.map(t => s"$base/$t").getOrElse(base)
  }

  /** Write the schema sidecar for a table folder; returns its
    * path/key.
    */
  def writeSchemaText(tableName: String, fingerprint: String,
                      timestamp: Option[String], yaml: String): String
}

final case class LocalLayout(outputPath: String) extends StorageLayout {
  override def validate(): Unit =
    if (!Files.isDirectory(Paths.get(outputPath)))
      throw new IOException(s"$outputPath is either not a local directory or doesn't exist")

  override def dataPrefix: String = outputPath

  override def writeSchemaText(tableName: String, fingerprint: String,
                               timestamp: Option[String], yaml: String): String = {
    val dir = Paths.get(folderFor(tableName, fingerprint, timestamp))
    Files.createDirectories(dir)
    val p = dir.resolve(SchemaDoc.SchemaFileName)
    Files.write(p, yaml.getBytes("UTF-8"))
    p.toString
  }
}

final case class ObjectStoreLayout(outputUri: String,
                                   client: ObjectStoreClient) extends StorageLayout {
  val uri: ObjectUri = ObjectUri.parse(outputUri)

  override def validate(): Unit = {
    if (!client.bucketExists(uri.bucket))
      throw new FileNotFoundException(s"S3 bucket ${uri.bucket} does not exist")
    if (uri.key.nonEmpty && client.objectExists(uri.bucket, uri.key))
      throw new IOException(s"S3 output destination $outputUri already exists and is a file")
  }

  /** Hadoop writes through the s3a connector, not the s3 one. */
  // anchored to the full scheme so an s3a:// uri passes through
  // unchanged (a bare "^s3" rewrite would mangle it to s3aa://)
  override def dataPrefix: String = outputUri.replaceFirst("^s3://", "s3a://")

  /** Sidecar goes through the object API with the raw KEY prefix. */
  override def writeSchemaText(tableName: String, fingerprint: String,
                               timestamp: Option[String], yaml: String): String = {
    val base = if (uri.key.isEmpty) tableName else s"${uri.key}/$tableName"
    val withFp = s"$base/$fingerprint"
    val folder = timestamp.map(t => s"$withFp/$t").getOrElse(withFp)
    val key = s"$folder/${SchemaDoc.SchemaFileName}"
    client.putObject(uri.bucket, key, yaml)
    key
  }

  /** AWSUtils.S3Utils surface (reference AWSUtils.scala:12-28) for
    * manifest/savepoint reads against full `s3://` paths.
    */
  def fileAsString(fullUri: String): String = {
    val u = ObjectUri.parse(fullUri)
    client.getObjectAsString(u.bucket, u.key)
  }
  def fileExists(fullUri: String): Boolean = {
    val u = ObjectUri.parse(fullUri)
    client.objectExists(u.bucket, u.key)
  }
  def pathExists(fullUri: String): Boolean = {
    val u = ObjectUri.parse(fullUri)
    client.keyCount(u.bucket, u.key) > 0
  }
}

object StorageLayout {
  /** Scheme dispatch (FileBasedOutputWriter.scala:193-198): `s3://`
    * or `s3a://` → object-store layout (requires a client), anything
    * else → local. Dispatches on the PARSED scheme, not a string
    * prefix, so `s3a://` does not fall through to the local layout.
    */
  def forPath(outputPath: String, client: Option[ObjectStoreClient] = None): StorageLayout = {
    // unparseable-as-URI strings (e.g. local paths with spaces) are
    // local paths, not object URIs
    val scheme = scala.util.Try(Option(new java.net.URI(outputPath).getScheme))
      .toOption.flatten.getOrElse("")
    if (scheme == "s3" || scheme == "s3a")
      ObjectStoreLayout(outputPath, client.getOrElse(
        throw new IllegalArgumentException(
          s"object-store output '$outputPath' needs an ObjectStoreClient")))
    else LocalLayout(outputPath)
  }
}

/** Bucket/key pair of an object URI (the reference's AmazonS3URI). */
final case class ObjectUri(bucket: String, key: String)

object ObjectUri {
  def parse(uri: String): ObjectUri = {
    val u = new java.net.URI(uri)
    require(u.getScheme == "s3" || u.getScheme == "s3a", s"not an s3 uri: $uri")
    val bucket = Option(u.getAuthority).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(s"no bucket in uri: $uri"))
    ObjectUri(bucket, Option(u.getPath).map(_.stripPrefix("/")).getOrElse(""))
  }
}

/** Minimal object-store client the layout logic needs. Production
  * would back this with an S3 SDK; tests use [[LocalFsObjectStore]].
  */
trait ObjectStoreClient {
  def bucketExists(bucket: String): Boolean
  def objectExists(bucket: String, key: String): Boolean
  def putObject(bucket: String, key: String, content: String): Unit
  def getObjectAsString(bucket: String, key: String): String
  /** Number of keys under a string prefix (listObjectsV2 semantics:
    * key-string prefix, NOT directory listing).
    */
  def keyCount(bucket: String, prefix: String): Int
}

/** Filesystem-backed fake: buckets are directories under `root`,
  * objects are files. Mirrors the S3 behaviors the layout relies on —
  * put into a missing bucket fails, prefixes are string prefixes.
  */
final class LocalFsObjectStore(root: Path) extends ObjectStoreClient {
  private def bucketDir(b: String): Path = root.resolve(b)

  override def bucketExists(bucket: String): Boolean =
    Files.isDirectory(bucketDir(bucket))

  override def objectExists(bucket: String, key: String): Boolean =
    key.nonEmpty && Files.isRegularFile(bucketDir(bucket).resolve(key))

  override def putObject(bucket: String, key: String, content: String): Unit = {
    if (!bucketExists(bucket))
      throw new FileNotFoundException(s"bucket $bucket does not exist")
    val p = bucketDir(bucket).resolve(key)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes("UTF-8"))
  }

  override def getObjectAsString(bucket: String, key: String): String =
    new String(Files.readAllBytes(bucketDir(bucket).resolve(key)), "UTF-8")

  override def keyCount(bucket: String, prefix: String): Int = {
    val dir = bucketDir(bucket)
    if (!Files.isDirectory(dir)) 0
    else LocalFiles.tree(dir)
      .filter(Files.isRegularFile(_))
      .count(p => dir.relativize(p).toString.startsWith(prefix)).toInt
  }
}
