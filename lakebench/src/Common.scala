package lakebench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded random source. Every input and every operation sequence of the
  * benchmark is drawn from one of these, so a seed fixes them exactly.
  * `SplittableRandom` gives the same stream on every JVM.
  */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo)
  def double(): Double = r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  def base62(n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += Rng.Alphabet.charAt(r.nextInt(62)); i += 1 }
    sb.result()
  }
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
  /** `k` distinct values of `0 until n` drawn with `draw`. */
  def distinct(k: Int, draw: => Int): IndexedSeq[Int] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += draw
    seen.toIndexedSeq
  }
}

object Rng {
  val Alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

  /** Independent sub-stream seed for (seed, stream name). */
  def derive(seed: Long, stream: String): Long = {
    var h = seed * 0x9E3779B97F4A7C15L
    stream.foreach { c => h = (h ^ c) * 0xBF58476D1CE4E5B9L; h ^= h >>> 31 }
    h
  }

  def apply(seed: Long, stream: String): Rng = new Rng(derive(seed, stream))
}

/** Zipf(s) ranks over `0 until n` (rank 0 most frequent). */
final class Zipf(n: Int, s: Double = 1.1) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }
  def sample(r: Rng): Int = {
    val u = r.double()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Fixed pseudo-word vocabulary (independent of the run seed). */
object Vocab {
  private val onsets = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
  private val nuclei = Seq("a", "e", "i", "o", "u")
  private val codas = Seq("", "n", "r", "s", "x")
  val words: IndexedSeq[String] = {
    val syll = for { o <- onsets; n <- nuclei; c <- codas } yield o + n + c
    val r = new Rng(1234567L)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < 3000) out += (0 until r.between(2, 4)).map(_ => r.pick(syll.toIndexedSeq)).mkString
    out.toIndexedSeq
  }
}

/** SHA-256 over a canonical text rendering of inputs and operations. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
  def add(x: Any): Unit = add(String.valueOf(x))
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

/** Minimal JSON rendering for the raw result file. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c    => sb += c
    }
    sb += '"'
    sb.result()
  }

  def apply(v: Any): String = v match {
    case null               => "null"
    case s: String          => str(s)
    case b: Boolean         => b.toString
    case d: Double          => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float           => apply(f.toDouble)
    case n: Int             => n.toString
    case n: Long            => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]    => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_]       => xs.map(apply).mkString("[", ",", "]")
    case other              => str(other.toString)
  }
}

/** File-system accounting: bytes under a directory tree. */
object Disk {
  def bytes(root: String): Long = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def delete(root: String): Unit = {
    val p = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
  }

  /** Peak resident set size of this process (`VmHWM`), in KiB. */
  def vmHwmKb(): Long =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}
