package graft.core

import java.io.InputStream
import java.security.MessageDigest
import org.apache.hadoop.fs.{FileSystem, Path}

/** Content hashing for idempotent artifact creation.
  *
  * The reference records an md5-family content hash per artifact
  * (`lamindb/models/artifact.py:384-505`, `_hash_type` at `:1580`) and uses
  * it to short-circuit duplicate ingestion. We hash through the Hadoop
  * FileSystem API so the same code path works for local files and object
  * stores on a real cluster.
  */
object Hashing {

  // table-lookup hex: "%02x".format(b) re-parses the format string
  // (regex + Formatter) per byte — measurable on per-row hash paths
  private val HexChars = "0123456789abcdef".toCharArray
  def toHex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      out(i * 2) = HexChars(v >>> 4)
      out(i * 2 + 1) = HexChars(v & 0xf)
      i += 1
    }
    new String(out)
  }

  def md5Hex(bytes: Array[Byte]): String =
    toHex(MessageDigest.getInstance("MD5").digest(bytes))

  def md5String(s: String): String = md5Hex(s.getBytes("UTF-8"))

  def md5Stream(in: InputStream): String = {
    val md = MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](1 << 16)
    try {
      var n = in.read(buf)
      while (n >= 0) { if (n > 0) md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    toHex(md.digest())
  }

  /** md5 of a single file's bytes. */
  def hashFile(fs: FileSystem, path: Path): String = md5Stream(fs.open(path))

  /** Directory hash = md5 of the sorted member hashes concatenated — the
    * reference's dir hash is similarly an order-independent digest of member
    * digests (`hash_dir`, implemented in lamindb-setup).
    * Returns (hash, nFiles, totalSize).
    */
  def hashDir(dir: String): (String, Long, Long) = {
    val fs = Fs.fileSystem(dir)
    val statuses = Fs.files(dir)
    val files = statuses.map(_.getPath)
    // member files hash CONCURRENTLY (driver-side md5 is the serial tail
    // of every multi-slot artifact registration); the combine is over the
    // SORTED member digests, so the result is byte-identical to the
    // sequential walk regardless of completion order
    val hashes =
      if (files.lengthCompare(1) <= 0) files.map(p => md5Stream(fs.open(p)))
      else Par.results(files.map(p => () => md5Stream(fs.open(p))))
    (md5String(hashes.sorted.mkString), files.size.toLong, statuses.map(_.getLen).sum)
  }

  /** Stat + hash one path (file or dir). Returns (hash, hashType, nFiles, size). */
  def stat(pathStr: String): (String, String, Long, Long) = {
    val fs = Fs.fileSystem(pathStr)
    val p = new Path(pathStr)
    val st = fs.getFileStatus(p)
    if (st.isDirectory) {
      val (h, n, s) = hashDir(pathStr)
      (h, "md5-d", n, s)
    } else (hashFile(fs, p), "md5", 1L, st.getLen)
  }
}
