package graft.core

import java.security.SecureRandom
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, length, lit}

/** Base62 universal IDs and version suffixes.
  *
  * Semantics follow the reference (`lamindb/base/uids.py`,
  * `lamindb/models/_is_versioned.py:195-246`): the alphabet is digits, then
  * UPPERCASE, then lowercase (`0-9 < A-Z < a-z`), so comparisons of version
  * suffixes must be done on the decoded integer, never on locale-collated
  * strings (the reference documents the Postgres `Z < a` collation trap).
  */
object Base62 {
  val Alphabet: String =
    "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
  private val index: Map[Char, Int] = Alphabet.zipWithIndex.toMap

  /** Decode a base62 string to a Long. Throws on non-alphabet chars. */
  def decode(s: String): Long =
    s.foldLeft(0L) { (acc, c) =>
      acc * 62 + index.getOrElse(
        c,
        throw new IllegalArgumentException(s"non-base62 char '$c' in '$s'"))
    }

  /** Encode a non-negative Long in base62, left-padded to `width`. */
  def encode(n: Long, width: Int = 0): String = {
    require(n >= 0, s"cannot base62-encode negative $n")
    val sb = new StringBuilder
    var v = n
    if (v == 0) sb.append('0')
    while (v > 0) { sb.append(Alphabet((v % 62).toInt)); v /= 62 }
    val raw = sb.reverseContents().toString
    if (raw.length >= width) raw
    else ("0" * (width - raw.length)) + raw
  }

  /** Increment a fixed-width base62 string (e.g. "0000" -> "0001",
    * "000z" -> "0010"). Mirrors `increment_base62`.
    */
  def increment(s: String): String = encode(decode(s) + 1, s.length)

  private val secure = new SecureRandom()

  /** Random base62 uid of length n (cryptographic randomness, like
    * `secrets.choice` in the reference).
    */
  def random(n: Int): String = randomWith(n, secure)

  /** Random base62 uid from a caller-supplied RNG — used by the catalog to
    * make uid generation deterministic under a fixed seed (tests/verify).
    */
  def randomWith(n: Int, rng: java.util.Random): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Alphabet(rng.nextInt(62))); i += 1 }
    sb.toString
  }

  /** 20-char artifact uid; 16-char stem + "0000" for versioned families. */
  def base62_20(rng: java.util.Random = secure): String = randomWith(20, rng)
  def base62_16(rng: java.util.Random = secure): String = randomWith(16, rng)
  def base62_12(rng: java.util.Random = secure): String = randomWith(12, rng)
  def base62_8(rng: java.util.Random = secure): String = randomWith(8, rng)
}

/** Versioned-uid derivation (reference `_is_versioned.py:215-246`): a
  * versioned uid is a 16-char random stem + 4-char base62 version suffix.
  */
object Versioning {
  val StemLen = 16
  val SuffixLen = 4

  def stem(uid: String): String = uid.dropRight(SuffixLen)
  /** `stem` as a Column expression over a uid column. */
  def stem(uid: Column): Column = uid.substr(lit(1), length(uid) - SuffixLen)
  /** Rows of `uid`'s version family: the `uid` column shares its stem. */
  def sameFamily(uid: String): Column = col("uid").startsWith(stem(uid))
  def suffix(uid: String): String = uid.takeRight(SuffixLen)
  def suffixValue(uid: String): Long = Base62.decode(suffix(uid))

  /** New uid for a fresh family: random stem + "0000". */
  def createUid(rng: java.util.Random): String =
    Base62.randomWith(StemLen, rng) + "0000"

  /** New uid revising an existing family: same stem, increment of the
    * family-wide max suffix (computed by base62 decode, NOT string order).
    */
  def nextUidInFamily(familyUids: Seq[String]): String = {
    require(familyUids.nonEmpty, "empty version family")
    val maxUid = familyUids.maxBy(suffixValue)
    stem(maxUid) + Base62.increment(suffix(maxUid))
  }

  /** Semantic version-tag bump (`bump_version`, `_is_versioned.py:135-177`):
    * "MAJOR" or "MAJOR.MINOR" strings; major bump resets minor. Behavior on
    * non-numeric tags: "error" throws, "ignore" returns "?".
    */
  def bumpVersion(version: String, bumpType: String = "minor",
                  behavior: String = "error"): String =
    try {
      val parts = version.split("\\.")
      val major = parts(0).toInt
      val minor = if (parts.length > 1) parts(1).toInt else 0
      bumpType match {
        case "major" => s"${major + 1}"
        case "minor" => s"$major.${minor + 1}"
        case other   => throw new IllegalArgumentException(s"bump_type must be 'major' or 'minor', got $other")
      }
    } catch {
      case _: NumberFormatException =>
        if (behavior == "ignore") "?"
        else throw new IllegalArgumentException(
          s"Cannot auto-increment non-integer castable version '$version', please provide manually")
    }
}
