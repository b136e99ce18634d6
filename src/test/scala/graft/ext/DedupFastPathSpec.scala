package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Verification for the xxhash64 "fast path" dedup variants, whose hash
  * family DuckDB cannot replay, plus tier-1 golden pins for the portable
  * simhash families:
  *
  *  - MinHash: at the d05 operating point (8 bands x 2 rows, verify
  *    threshold 0.8) band recall for admissible pairs is ~1, so the
  *    verified pair set must be IDENTICAL across hash families — asserted
  *    here fast-vs-portable; the driver oracle leans on this.
  *  - SimHash: the 64-bit xxhash signature (and so the hamming values)
  *    is family-specific, so the output is pinned by a golden snapshot
  *    (checked-in fixture, sf0.001) plus a planted-near-dup recall
  *    contract; the portable md5 families get the same pin. Regenerate
  *    all four via `graft.tools.GenFixture` after INTENDED simhash changes.
  */
class DedupFastPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def corpus = graft.queries.TextQueries.corpusWithNearDups(spark, TestSpark.sf0001)

  test("minhash fast path == portable path at the verified operating point") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fast = pairs(Dedup.minhashPairs(corpus, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.8))
    val portable = pairs(Dedup.minhashPairsPortable(corpus, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.8))
    assert(fast === portable) // pairs AND verified jaccard values
    assert(fast.nonEmpty)
  }

  // One golden row per simhash family: (label, kernel, fixture, hamming
  // cut). The two-word families double the guaranteed-recall radius, hence
  // hamming <= 12 (vs 6). The xxhash64 rows are the d06/d34 bench entries'
  // only correctness pin (DuckDB cannot replay the hash); the md5 rows pin
  // d10/d28 in tier-1 as well as in the DuckDB compare.
  private val goldenRows: Seq[(String, (DataFrame, String, String) => DataFrame, String, Int)] = Seq(
    ("simhash fast path", Dedup.simhashCandidates(_, _, _), "d06_simhash_sf0001", 6),
    ("simhash128 fast path", Dedup.simhash128Candidates(_, _, _), "d34_simhash128_sf0001", 12),
    ("simhash portable path", Dedup.simhashCandidatesPortable(_, _, _),
      "d10_simhash_portable_sf0001", 6),
    ("simhash128 portable path", Dedup.simhash128CandidatesPortable(_, _, _),
      "d28_simhash128_portable_sf0001", 12))

  goldenRows.foreach { case (label, kernel, fixture, cut) =>
    test(s"$label matches the golden snapshot; planted dups recalled") {
      val got = kernel(corpus, "doc_id", "text")
        .filter(col("hamming") <= cut)
        .select("id_a", "id_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toLong)).toSet
      val src = scala.io.Source.fromInputStream(getClass.getResourceAsStream(s"/$fixture.csv"))
      val want = try src.getLines().drop(1).map { l =>
        val Array(a, b, h) = l.split(","); (a.toLong, b.toLong, h.toLong)
      }.toSet finally src.close()
      assert(got === want)
      // contract: banding + hamming cutoff keep >= 85% of the planted
      // near-dup pairs (first-token-dropped mutations of every 7th doc)
      val planted = got.count { case (a, b, _) => b == a + graft.queries.TextQueries.DupOffset }
      val plantedTotal = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
        .filter(col("doc_id") % 7 === 0).count()
      assert(planted >= (plantedTotal * 85) / 100, s"$planted of $plantedTotal planted pairs")
    }
  }

  test("simhash signature pipeline materializes the input once (persisted self-join)") {
    // the band self-join reads the signature frame on both sides; without
    // the persist each side re-runs tokenize -> 64-vote aggregation from
    // the source, so every input row would be read twice. Count source
    // reads with an accumulator threaded through the input RDD.
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, s"token$i alpha beta gamma delta epsilon tail${i % 40}"))
    val acc = spark.sparkContext.longAccumulator("source-reads")
    val src = spark.sparkContext.parallelize(rows, 4)
      .map { r => acc.add(1); r }.toDF("doc_id", "text")
    Dedup.simhashCandidates(src, "doc_id", "text").count()
    assert(acc.value === 200L, s"expected one source pass, saw ${acc.value} row-reads")
  }
}
