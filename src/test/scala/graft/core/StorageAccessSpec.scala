package graft.core

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Storage access is decided in one module: engine code (every package
  * under `src/main/scala/graft` except the `tools` and `queries` drivers
  * and the top-level mains) reaches bytes only through [[Fs]]. The one
  * exemption is the h5ad writer's seekable `RandomAccessFile`.
  */
class StorageAccessSpec extends AnyFunSuite {
  private val base = new File("src/main/scala/graft")
  private val forbidden = Seq("java.nio.file", "new Configuration()", "getFileSystem(", "RandomAccessFile")
  private val exempt = Map("core/Fs.scala" -> forbidden.toSet, "h5/AnnH5Writer.scala" -> Set("RandomAccessFile"))

  private def sources(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(sources) else Seq(f).filter(_.getName.endsWith(".scala"))

  test("only core/Fs.scala opens storage: no java.nio.file, new Configuration() or getFileSystem( elsewhere") {
    assert(base.isDirectory, s"${base.getAbsolutePath} not found")
    val engine = base.listFiles().toSeq.filter(d => d.isDirectory && !Set("tools", "queries")(d.getName))
      .flatMap(sources)
    assert(engine.exists(_.getName == "Catalog.scala"))
    val hits = for {
      f <- engine
      rel = base.toPath.relativize(f.toPath).toString
      (line, i) <- { val src = Source.fromFile(f, "UTF-8"); try src.getLines().toList finally src.close() }.zipWithIndex
      pattern <- forbidden
      if line.contains(pattern) && !exempt.getOrElse(rel, Set.empty[String])(pattern)
    } yield s"$rel:${i + 1}: $pattern"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("Fs.replace overwrites on a store that refuses rename-over, leaving no temp object") {
    NoRenameOverFs.register(Fs.conf)
    val dir = java.nio.file.Files.createTempDirectory("graft_norename").toString
    val a = s"${NoRenameOverFs.Scheme}:$dir/a"
    val b = s"${NoRenameOverFs.Scheme}:$dir/b"
    Fs.write(a, Array[Byte](1))
    Fs.write(b, Array[Byte](2))
    assert(!Fs.fileSystem(a).rename(new org.apache.hadoop.fs.Path(a), new org.apache.hadoop.fs.Path(b)))
    Fs.replace(b, Array[Byte](3))
    Fs.replace(b, Array[Byte](4, 5))
    assert(Fs.read(b).map(_.toSeq).contains(Seq[Byte](4, 5)))
    assert(Fs.list(s"${NoRenameOverFs.Scheme}:$dir").map(_.getPath.getName).sorted == Seq("a", "b"))
  }
}
