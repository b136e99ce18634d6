package graft.core

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}

/** The local disk under the `norename:` scheme, with the rename contract
  * of HDFS and S3A: a rename onto an existing file returns false and
  * leaves both files as they were.
  */
class NoRenameOverFs extends RawLocalFileSystem {
  override def getUri: URI = NoRenameOverFs.Uri
  override def getScheme: String = NoRenameOverFs.Scheme
  override def rename(src: Path, dst: Path): Boolean = !exists(dst) && super.rename(src, dst)
}

object NoRenameOverFs {
  val Scheme = "norename"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** Bind the scheme in `conf` (e.g. `Fs.conf`). */
  def register(conf: Configuration): Unit =
    conf.setClass(s"fs.$Scheme.impl", classOf[NoRenameOverFs], classOf[FileSystem])
}
