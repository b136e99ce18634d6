package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression,
  UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst overlapping character n-grams: the hot primitive of
  * language-ID and trigram fingerprinting.
  *
  * The `transform(sequence(1, length-n+1), i => substr(i, n))`
  * composition this replaces evaluates through `HigherOrderFunction`'s
  * interpreted path (higher-order functions are CodegenFallback) AND is
  * O(len²) in characters: every `substr(i, n)` re-scans the UTF-8 bytes
  * from position 0 to find character i, because UTF-8 is variable-width.
  * Invisible on short strings; at corpus scale the sf10 tier measured
  * langid 2.5× per-doc slower than sf1.0 purely because the word-remap
  * suffixes made documents 1.14× longer (squared by the rescans) on top
  * of the interpreted dispatch.
  *
  * This expression walks the bytes ONCE, recording each character's byte
  * offset, then slices n-grams directly — O(len) regardless of charset —
  * and stays inside whole-stage codegen via a static call. Semantics are
  * identical to the composition it replaces, including the short-string
  * contract: a string of fewer than n characters yields the one-element
  * array of the whole string.
  *
  * (Lives under `org.apache.spark.sql` because `AbstractDataType` and the
  * Column↔Expression bridge are `private[sql]` — the standard extension
  * placement, no Spark internals are modified.)
  */
case class CharNGrams(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(s: Any): Any =
    CharNGrams.compute(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = org.apache.spark.sql.graft.CharNGrams.compute($s, $n);")

  override protected def withNewChildInternal(newChild: Expression): CharNGrams =
    copy(child = newChild)

  override def prettyName: String = "graft_char_ngrams"
}

object CharNGrams {
  /** One pass over the bytes: char-start offsets, then direct slices. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes // copies only when the string is an offset view
    val nBytes = bytes.length
    // byte offset of each character start, plus the end sentinel
    var numChars = 0
    var off = 0
    val charOff = new Array[Int](nBytes + 1)
    while (off < nBytes) {
      charOff(numChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      numChars += 1
    }
    charOff(numChars) = nBytes
    if (numChars < n) return new GenericArrayData(Array[Any](s))
    val count = numChars - n + 1
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      val lo = charOff(i)
      out(i) = UTF8String.fromBytes(bytes, lo, charOff(i + n) - lo)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column wrapper. */
  def charNGrams(c: Column, n: Int): Column =
    ExpressionUtils.column(CharNGrams(ExpressionUtils.expression(c), n))
}

/** Native Catalyst simhash (Manku et al., WWW'07): the `words` signature
  * words of one document, computed from its token array in one pass.
  *
  * Each token hashes to `words` words of `wordBits` bits and votes +1 on
  * every set bit and -1 on every clear one; a signature bit is set when
  * its vote is positive, `2·count − nTokens > 0`. The fingerprint is a
  * pure function of one row, so a static loop over W·wordBits `int`
  * counters computes it: no explode, no shuffle, no aggregate.
  *
  * Word hashes, bit for bit those of Spark's own expressions:
  *  - xxhash64 words: word 0 is `xxhash64(tok)` (seed 42); word 1 is
  *    `xxhash64(1L, tok)`, i.e. the token bytes re-hashed under the seed
  *    `XXH64.hashLong(1L, 42L)`. A null token hashes to the seed, as
  *    `xxhash64` skips nulls.
  *  - md5 words: the big-endian longs of digest bytes 0–7 and 8–15, each
  *    `>>> 4` — the 60 bits of hex chars 1–15 and 17–31 of `md5(tok)`.
  *    A null token votes as all-clear bits (`md5(null)` is null).
  *
  * A null token array yields null; an empty one (which `TextOps.tokens`
  * never yields: splitting any string gives at least one token) yields
  * all-clear words.
  */
case class SimhashWords(child: Expression, words: Int, wordBits: Int, md5Words: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(words == 1 || words == 2, s"words must be 1 or 2, got $words")
  require(wordBits >= 1 && wordBits <= (if (md5Words) 60 else 64), s"bad word width $wordBits")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(tokens: Any): Any =
    SimhashWords.compute(tokens.asInstanceOf[ArrayData], words, wordBits, md5Words)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = org.apache.spark.sql.graft.SimhashWords.compute($t, $words, $wordBits, $md5Words);")

  override protected def withNewChildInternal(newChild: Expression): SimhashWords =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash_words"
}

object SimhashWords {
  /** Seed of the second xxhash64 word: `xxhash64(1L, tok)` folds the salt first. */
  private val Word1Seed = XXH64.hashLong(1L, 42L)

  def compute(tokens: ArrayData, words: Int, wordBits: Int, md5Words: Boolean): ArrayData = {
    val n = tokens.numElements()
    val counts = new Array[Int](words * wordBits)
    val md5 = if (md5Words) java.security.MessageDigest.getInstance("MD5") else null
    var i = 0
    while (i < n) {
      val tok = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      val digest =
        if (md5 == null || tok == null) null else java.nio.ByteBuffer.wrap(md5.digest(tok.getBytes))
      var w = 0
      while (w < words) {
        val h =
          if (md5 != null) { if (digest == null) 0L else digest.getLong(8 * w) >>> 4 }
          else {
            val seed = if (w == 0) 42L else Word1Seed
            if (tok == null) seed else XXH64.hashUTF8String(tok, seed)
          }
        val off = w * wordBits
        var b = 0
        while (b < wordBits) {
          counts(off + b) += ((h >>> b) & 1L).toInt
          b += 1
        }
        w += 1
      }
      i += 1
    }
    val sig = new Array[Long](words)
    var bit = 0
    while (bit < counts.length) {
      if (2 * counts(bit) - n > 0) sig(bit / wordBits) |= 1L << (bit % wordBits)
      bit += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Column wrapper. */
  def simhashWords(tokens: Column, words: Int, wordBits: Int, md5Words: Boolean): Column =
    ExpressionUtils.column(SimhashWords(ExpressionUtils.expression(tokens), words, wordBits, md5Words))
}
