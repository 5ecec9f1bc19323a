package graft

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode,
  ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem,
  Options, Path}
import org.apache.spark.sql.SparkSession

/** Every small state file the engine keeps beside its Parquet data: the
  * cache's sync state and restore-check floor, the stream-pack ledger,
  * the vector index's pointer and building marker, the sink-compaction
  * manifests and lease, the stream-identity marker and the export rename
  * plan. One reader and one publish recipe, over the Hadoop FS of the
  * path's scheme, so a directory given as a URI keeps its state where
  * Spark keeps its data.
  *
  * Two layers: raw ([[read]], [[publish]]) and JSON ([[readJson]],
  * [[publishJson]]) on top of it. The Hadoop conf is the active
  * session's (a default conf without one), so a caller needs no session.
  */
object ControlFile {

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private val tmpSeq = new AtomicLong()

  // a checksummed FS (the local one) is unwrapped to its raw FS: control
  // files are replaced whole, and a `.crc` sidecar would make a file
  // written by any other tool unreadable
  private def fsOf(path: Path): FileSystem = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sessionState.newHadoopConf())
    path.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }
  }

  /** The file as UTF-8 text; None when it does not exist. */
  def read(path: Path): Option[String] =
    try {
      val in = fsOf(path).open(path)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Replace the file at `path` with `bytes`: write a tmp file beside it,
    * then rename it over the target, so a reader sees the old file or
    * the new one, never a torn one. The tmp name is unique per write
    * (pid + counter), starts with `.` and ends in `.tmp`, so neither a
    * `*.json` listing nor Spark's Parquet listing sees it. A store whose
    * plain rename refuses an existing target replaces through
    * FileContext's OVERWRITE rename. A failed publish deletes its tmp
    * and throws.
    */
  def publish(path: Path, bytes: Array[Byte]): Unit =
    publish(fsOf(path), path, bytes)

  private[graft] def publish(fs: FileSystem, path: Path,
      bytes: Array[Byte]): Unit = {
    val target = fs.makeQualified(path)
    val tmp = new Path(target.getParent, s".${target.getName}." +
      s"${ProcessHandle.current().pid()}-${tmpSeq.incrementAndGet()}.tmp")
    try {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (!fs.rename(tmp, target))
        FileContext.getFileContext(fs.getUri, fs.getConf)
          .rename(tmp, target, Options.Rename.OVERWRITE)
    } catch {
      case NonFatal(e) =>
        try fs.delete(tmp, false) catch { case NonFatal(_) => () }
        throw new IOException(s"could not publish control file $path", e)
    }
  }

  /** Remove the file if it exists. */
  def delete(path: Path): Unit = { fsOf(path).delete(path, false); () }

  /** The file parsed as one JSON value; None when it does not exist. An
    * empty, truncated or otherwise unparseable body fails, naming the
    * file.
    */
  def readJson(path: Path): Option[Json] = read(path).map { text =>
    val node =
      try mapper.readTree(text)
      catch {
        case e: JsonProcessingException =>
          throw unparseable(path, e.getOriginalMessage)
      }
    if (node == null || node.isMissingNode)
      throw unparseable(path, "empty body")
    new Json(path, node)
  }

  /** [[publish]] `value` (Scala maps, sequences and scalars) as JSON. */
  def publishJson(path: Path, value: Any): Unit =
    publish(path, mapper.writeValueAsBytes(value))

  private def unparseable(path: Path, why: String) =
    new IllegalStateException(s"unparseable control file $path: $why")

  /** One parsed JSON value of the file at `path`. A required field that is
    * absent or of the wrong type fails, naming the file; the `opt`
    * accessors return None only for an absent field.
    */
  final class Json(path: Path, node: JsonNode) {
    def long(key: String): Long =
      optLong(key).getOrElse(fail(s"no field '$key'"))
    def optLong(key: String): Option[Long] =
      field(key)(n => n.isIntegralNumber && n.canConvertToLong)(_.longValue)
    def str(key: String): String =
      optStr(key).getOrElse(fail(s"no field '$key'"))
    def optStr(key: String): Option[String] =
      field(key)(_.isTextual)(_.textValue)

    /** The members of an object, in file order. */
    def entries: Seq[(String, Json)] =
      if (!node.isObject) fail(s"not an object: $node")
      else node.properties().asScala.toSeq
        .map(e => e.getKey -> new Json(path, e.getValue))

    /** The elements of an array of strings. */
    def strings: Seq[String] =
      if (!node.isArray || !node.elements().asScala.forall(_.isTextual))
        fail(s"not an array of strings: $node")
      else node.elements().asScala.map(_.textValue).toSeq

    def fail(why: String): Nothing = throw unparseable(path, why)

    private def field[T](key: String)(ok: JsonNode => Boolean)(
        get: JsonNode => T): Option[T] =
      Option(node.get(key))
        .map(n => if (ok(n)) get(n) else fail(s"field '$key' is $n"))
  }
}
