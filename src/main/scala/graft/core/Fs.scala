package graft.core

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader

/** The engine's one storage access path: every catalog, lineage, zarr,
  * h5ad and artifact byte goes through the Hadoop FileSystem a path's
  * URI names, so the same code serves a local directory, a `file:` URI
  * and an object store.
  *
  * One Configuration per JVM: on the driver, Spark's
  * `hadoopConfiguration` (so `spark.hadoop.*` settings reach every
  * access); in executor tasks, where no session is visible, one built
  * once (constructing a Configuration parses XML resources, a cost that
  * must not recur per chunk object). Hadoop's own cache then shares one
  * FileSystem instance per scheme and authority.
  */
object Fs {
  private lazy val taskConf = new Configuration()

  def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(taskConf)(_.sparkContext.hadoopConfiguration)

  def fileSystem(path: String): FileSystem = new Path(path).getFileSystem(conf)

  /** A path with its file system's scheme and authority filled in. */
  def qualify(path: String): Path = fileSystem(path).makeQualified(new Path(path))

  /** The whole object; None when absent. */
  def read(path: String): Option[Array[Byte]] = {
    val p = new Path(path)
    val fs = fileSystem(path)
    try {
      val out = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, out) finally in.close()
      Some(out)
    } catch { case _: FileNotFoundException => None }
  }

  /** Positioned read of `[pos, pos + len)`, without fetching the rest. */
  def readRange(path: String, pos: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    val in = fileSystem(path).open(new Path(path))
    try in.readFully(pos, out) finally in.close()
    out
  }

  def exists(path: String): Boolean = fileSystem(path).exists(new Path(path))

  /** Byte length of an object; None when absent. */
  def length(path: String): Option[Long] =
    try Some(fileSystem(path).getFileStatus(new Path(path)).getLen)
    catch { case _: FileNotFoundException => None }

  /** Create or overwrite an object (parent directories included). */
  def write(path: String, bytes: Array[Byte]): Unit = {
    val out = fileSystem(path).create(new Path(path), true)
    try out.write(bytes) finally out.close()
  }

  /** Replace an object so that a reader sees the old or the new bytes,
    * never a torn mix. On a local (checksummed) file system: write
    * `<path>.tmp` through the raw file system, drop the target's stale
    * `.crc` and rename the temp file over the target, so the switch is
    * one rename(2) and leaves no sidecar; a rename that reports failure
    * throws. On any other store: one overwriting create, which an object
    * store commits as a single atomic PUT (HDFS and S3A refuse to rename
    * onto an existing object, and an object-store rename is a copy).
    */
  def replace(path: String, bytes: Array[Byte]): Unit = fileSystem(path) match {
    case local: ChecksumFileSystem =>
      val p = new Path(path)
      val tmp = new Path(p.getParent, p.getName + ".tmp")
      val raw = local.getRawFileSystem
      raw.delete(local.getChecksumFile(p), false)
      val out = raw.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (!raw.rename(tmp, p)) throw new IOException(s"could not rename $tmp to $p")
    case _ => write(path, bytes)
  }

  /** Direct children of a directory; empty when it is absent. */
  def list(path: String): Seq[FileStatus] =
    try fileSystem(path).listStatus(new Path(path)).toSeq
    catch { case _: FileNotFoundException => Nil }

  /** Every file under `path`, recursively. */
  def files(path: String): Seq[FileStatus] = {
    val it = fileSystem(path).listFiles(new Path(path), true)
    val b = Seq.newBuilder[FileStatus]
    while (it.hasNext) { val st = it.next(); if (st.isFile) b += st }
    b.result()
  }

  /** Delete a file or a directory tree; false when nothing was there. */
  def delete(path: String): Boolean = fileSystem(path).delete(new Path(path), true)

  /** Move `from` to `to`, creating `to`'s parent; a failed rename throws. */
  def rename(from: String, to: String): Unit = {
    val fs = fileSystem(from)
    val dst = new Path(to)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(new Path(from), dst)) throw new IOException(s"could not rename $from to $to")
  }

  /** The files a Spark parquet read of `path` lists: every leaf under it
    * except names Spark skips (a leading `_` outside partition
    * directories, a leading `.`, `._COPYING_`), the `_metadata` and
    * `_common_metadata` summaries kept. Empty when `path` is absent.
    */
  def parquetLeaves(path: String): Seq[FileStatus] = {
    def hidden(name: String) =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") || name.endsWith("._COPYING_")) &&
        !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
    list(path).filterNot(st => hidden(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) parquetLeaves(st.getPath.toString) else Seq(st))
  }

  /** A parquet file's footer, read with Spark's reader; `rowGroups =
    * false` skips the row-group metadata.
    */
  def footer(st: FileStatus, rowGroups: Boolean): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
      if (rowGroups) ParquetMetadataConverter.NO_FILTER else ParquetMetadataConverter.SKIP_ROW_GROUPS)
}
