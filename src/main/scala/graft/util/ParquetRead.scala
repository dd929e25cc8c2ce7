package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileVisitOption, Files, Paths, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import java.security.MessageDigest
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** `spark.read.parquet` that infers each schema once per file content.
  *
  * Read without a schema, parquet has Spark infer one, and the inference
  * is a Spark job (`mergeSchemasInParallel`) even for a single file. Here
  * the inferred `StructType` is memoized under a key of
  *   - the qualified paths, in call order;
  *   - (path, size, mtime in ns, `fileKey`) of every regular file under
  *     them ([[listing]]);
  *   - the session's explicitly set `*parquet*` SQL confs plus
  *     `spark.sql.caseSensitive`, which decide how the footers map to
  *     Spark types (`nanosAsLong`, `inferTimestampNTZ`, ...).
  *
  * A hit returns `spark.read.schema(s).parquet(paths)`: still a new
  * DataFrame over a new file listing, only without the inference job. A
  * miss is the plain read, whose schema is then kept; a read that throws
  * keeps nothing. Spark makes file-source schemas nullable on both paths,
  * so the two give the same schema. Paths with a non-`file:` scheme or
  * glob characters, and paths that cannot be listed (a missing one
  * included), take the plain read every time, so they fail as before.
  */
object ParquetRead {
  private[graft] val Cap = 256

  private val memo = new java.util.LinkedHashMap[String, StructType](
      64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, StructType]): Boolean = size() > Cap
  }

  def read(spark: SparkSession, paths: String*): DataFrame =
    keyOf(spark, paths) match {
      case None => spark.read.parquet(paths: _*)
      case Some(k) =>
        memo.synchronized(Option(memo.get(k))) match {
          case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
          case None =>
            val df = spark.read.parquet(paths: _*)
            memo.synchronized(memo.put(k, df.schema))
            df
        }
    }

  private[graft] def memoSize: Int = memo.synchronized(memo.size)

  /** `(path, size, mtime in ns, fileKey)` of every regular file under
    * `roots` (a root may itself be a file), one line each, sorted by path
    * within a root; symlinks are followed. `fileKey` (device and inode on
    * Linux) and the nanosecond mtime tell apart a same-length rewrite
    * that a millisecond `lastModified` cannot. None if a root is missing
    * or unreadable.
    */
  private[graft] def listing(roots: Seq[JPath]): Option[String] =
    try {
      val sb = new StringBuilder
      roots.foreach { root =>
        val files = Using.resource(
          Files.walk(root, FileVisitOption.FOLLOW_LINKS))(
          _.iterator.asScala.filter(Files.isRegularFile(_)).toVector)
        files.sortBy(_.toString).foreach { f =>
          val a = Files.readAttributes(f, classOf[BasicFileAttributes])
          sb.append(f).append('\t').append(a.size).append('\t')
            .append(a.lastModifiedTime.to(TimeUnit.NANOSECONDS))
            .append('\t').append(a.fileKey).append('\n')
        }
      }
      Some(sb.toString)
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException => None
    }

  /** The local path behind a scheme-less or `file:` path string, as Spark
    * resolves it (`hadoop.fs.Path`, relative to the working directory);
    * None for another scheme or a glob.
    */
  private def localPath(p: String): Option[JPath] =
    if (p.exists("{}[]*?\\".contains(_))) None
    else Try(new org.apache.hadoop.fs.Path(p).toUri).toOption
      .filter(u => u.getScheme == null || u.getScheme == "file")
      .map(u => Paths.get(u.getPath).toAbsolutePath.normalize)

  private def keyOf(spark: SparkSession, paths: Seq[String]): Option[String] = {
    val local = paths.map(localPath)
    if (local.isEmpty || local.exists(_.isEmpty)) return None
    val roots = local.flatten
    listing(roots).map { files =>
      val caseSensitive = "spark.sql.caseSensitive"
      val confs = spark.conf.getAll.toSeq
        .filter(_._1.toLowerCase.contains("parquet")).sorted :+
        (caseSensitive -> spark.conf.get(caseSensitive))
      val md = MessageDigest.getInstance("SHA-256")
      md.update(roots.mkString("\n").getBytes(UTF_8))
      md.update(0.toByte)
      md.update(files.getBytes(UTF_8))
      md.update(0.toByte)
      md.update(confs.map { case (k, v) => s"$k=$v" }.mkString("\n")
        .getBytes(UTF_8))
      md.digest().map(b => f"$b%02x").mkString
    }
  }
}
