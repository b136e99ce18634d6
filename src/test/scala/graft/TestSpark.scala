package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Current snapshot version of a catalog table, read from the root's
    * `_manifest.json` (0 when the table was never written).
    */
  def manifestVersion(root: String, table: String): Int = {
    val path = java.nio.file.Paths.get(root, "_manifest.json")
    if (!java.nio.file.Files.exists(path)) 0
    else ("\"" + table + "\"\\s*:\\s*(\\d+)").r
      .findFirstMatchIn(java.nio.file.Files.readString(path)).fold(0)(_.group(1).toInt)
  }
}
