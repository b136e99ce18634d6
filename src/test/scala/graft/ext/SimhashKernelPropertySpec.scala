package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SimhashWords
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Differential property test of the per-row simhash kernel behind
  * `Dedup.simhashSignature` against a driver-side model, on all four
  * signature families.
  *
  * 240 documents, drawn from a fixed seed, hold 0 to 200 tokens from a
  * vocabulary with multi-byte unicode, a non-breaking space (not `\s`, so
  * part of a token) and case variants, joined by mixed whitespace before,
  * between and after the tokens. Spark's `trim` strips spaces only, so a
  * leading tab or newline yields an empty first token, and a
  * whitespace-only text yields empty tokens only. Some texts are null.
  *
  * The model takes every token's hashes from Spark's own `xxhash64(tok)`,
  * `xxhash64(1L, tok)` and `md5(tok)` columns (the md5 words are hex
  * chars 1–15 and 17–31) and votes on the driver: a bit is set when more
  * than half of the document's tokens set it. A null text has no row.
  */
class SimhashKernelPropertySpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import Dedup.SimhashFamily._

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val families = Seq(Fast64, Portable60, Fast128, Portable120)

  private val vocab = Seq("alpha", "Alpha", "beta", "gamma", "x", "42", "naïve", "straße",
    "日本語", "Ελληνικά", "🙂", "emoji🙂mix", "a b", "don't", "end.")
  private val separators = Seq(" ", "  ", "\t", "\n", " \n", "\r\n", "\f", "\u000b")

  private val genText: Gen[Option[String]] = {
    val ws = Gen.listOfN(3, Gen.oneOf(separators)).map(_.mkString.take(3))
    val text = for {
      n <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.choose(1, 5), 6 -> Gen.choose(6, 200))
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
      seps <- Gen.listOfN(n + 1, Gen.frequency(4 -> Gen.const(" "), 1 -> ws))
      lead <- Gen.oneOf("", "", " ", "\n", "\t ", "  ")
    } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString + seps.last
    Gen.frequency(1 -> Gen.const(None), 19 -> text.map(Some(_)))
  }

  private val docs: Seq[(Long, String)] = {
    val seeds = Iterator.iterate(Seed(20261019L))(_.next)
    (0L until 240L).map(i => i -> genText.pureApply(Gen.Parameters.default, seeds.next()).orNull)
  }

  /** Executor-side rows: the kernel runs in whole-stage codegen. */
  private lazy val corpus: DataFrame = spark.sparkContext.parallelize(docs, 4).toDF("doc_id", "text")
  /** A local relation: the optimizer folds the kernel through its interpreted `eval`. */
  private lazy val local: DataFrame = docs.toDF("doc_id", "text")

  /** id -> the document's token hashes (h0, h1, md5 hex), from Spark's expressions. */
  private lazy val tokenHashes: Map[Long, Seq[(Long, Long, String)]] =
    corpus.select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"), xxhash64(col("tok")), xxhash64(lit(1L), col("tok")), md5(col("tok")))
      .as[(Long, Int, Long, Long, String)].collect().toSeq
      .groupBy(_._1).map { case (id, ts) => id -> ts.sortBy(_._2).map(t => (t._3, t._4, t._5)) }

  private def model(fam: Dedup.SimhashFamily, hashes: Seq[(Long, Long, String)]): Seq[Long] =
    (0 until fam.words).map { w =>
      val words = hashes.map { case (h0, h1, m) =>
        if (fam.md5Words) java.lang.Long.parseLong(m.substring(16 * w, 16 * w + 15), 16)
        else if (w == 0) h0 else h1
      }
      (0 until fam.wordBits).foldLeft(0L) { (sig, b) =>
        if (2 * words.count(h => (h >>> b & 1L) == 1L) > words.size) sig | (1L << b) else sig
      }
    }

  private def signatures(fam: Dedup.SimhashFamily, df: DataFrame): Seq[(Long, Seq[Long])] =
    Dedup.simhashSignature(fam, df, "doc_id", "text").collect().toSeq
      .map(r => r.getLong(0) -> (1 to fam.words).map(r.getLong))

  test("cases cover null and empty texts, empty tokens, unicode and long documents") {
    val texts = docs.map(_._2)
    assert(docs.size >= 200)
    assert(texts.count(_ == null) >= 3)
    assert(texts.exists(t => t != null && t.trim.isEmpty))
    assert(texts.exists(t => t != null && t.startsWith("\n") && t.trim.nonEmpty))
    assert(tokenHashes.size === texts.count(_ != null))
    val emptyTokenMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert(tokenHashes.values.exists(_.exists(_._3 == emptyTokenMd5)))
    assert(texts.exists(t => t != null && t.exists(_ > 0x7f)))
    assert(tokenHashes.values.map(_.size).max >= 150)
  }

  families.foreach { fam =>
    test(s"$fam: the kernel equals the driver-side vote on every case, generated and interpreted") {
      Seq(corpus, local).foreach { df =>
        val got = signatures(fam, df)
        assert(got.map(_._1).sorted === docs.filter(_._2 != null).map(_._1))
        got.foreach { case (id, sig) => assert(sig === model(fam, tokenHashes(id)), docs(id.toInt)) }
      }
    }
  }

  test("the signature frame is one narrow projection: no Exchange, no Generate, one kernel") {
    // `corpus` is already as wide as the session's parallelism, so the md5
    // families' spread (`Par.spreadForCpu`) leaves it as it is
    assert(corpus.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    families.foreach { fam =>
      val plan = Dedup.simhashSignature(fam, corpus, "doc_id", "text").queryExecution.executedPlan
      assert(collect(plan) { case e: Exchange => e }.isEmpty, s"$fam\n$plan")
      assert(collect(plan) { case g: GenerateExec => g }.isEmpty, s"$fam\n$plan")
      val kernels = collect(plan) { case p => p.expressions.flatMap(_.collect { case k: SimhashWords => k }) }
      assert(kernels.flatten.size === 1, s"$fam evaluates the kernel once per row\n$plan")
    }
  }

  test("rows sharing an id are not merged: one signature row per input row") {
    // simhashCandidates* require unique ids; this pins what a repeated id gives
    val a = "alpha beta gamma delta"
    val b = "wholly different tokens here"
    val dup = Seq((7L, a), (7L, b)).toDF("doc_id", "text")
    val single = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    families.foreach { fam =>
      val got = signatures(fam, dup)
      assert(got.map(_._1) === Seq(7L, 7L))
      assert(got.map(_._2).toSet === signatures(fam, single).map(_._2).toSet)
    }
  }
}
