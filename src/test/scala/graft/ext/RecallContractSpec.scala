package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark
import graft.queries.TextQueries.DupOffset
import graft.tools.EmbRecallContract

/** Per-commit pins of the planted-duplicate contracts at the sf0.001
  * fixture (500 docs, 500 vecs).
  *
  * e11 banded LSH: the same run/check core as the `EmbRecallContract`
  * scale tool (sf1.0/sf10, SCALING.md), so a change to
  * `Similarity.lshBandBits` or the band planning cannot silently degrade
  * recall between probe runs. The hard assertions (exact-dup fraction ==
  * 1.0, below-threshold leakage == 0) are scale-independent, and the
  * boundary levels still sit inside the closed-form envelope at the
  * small-n tolerance max(0.08, 5σ).
  *
  * Gram dedup (`Dedup.substringSpans`): the recall and cost sides of
  * `Dedup.gramDfCap`. A cap is also the largest duplicate cluster the
  * operator can see, so clusters sized off the adaptive cap must be
  * recalled in full; a block planted past a fixed cap must be dropped,
  * and `pairBudget` must keep it at one span per non-canonical copy
  * (SCALING.md records the same protocols at sf1.0-sf1,000).
  */
class RecallContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    .select(col("doc_id").cast("long").as("doc_id"), col("text"))

  test("e11 recall contract holds at the sf0.001 fixture") {
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val res = EmbRecallContract.run(spark, emb)
    assert(res.nBases == 50)
    // adaptive width at this corpus (500 + 250 plants): 2^w >= 16*750
    assert(res.bandBits == graft.ext.Similarity.lshBandBits(res.nCorpus))
    EmbRecallContract.check(res) // throws with the violated level if broken
    // the contract rows are real measurements, not vacuous zeros
    val exact = res.rows.find(_.cosine == 1.0).get
    assert(exact.observed == 1.0)
    assert(res.rows.filter(r => r.above && r.cosine < 1.0)
      .forall(r => r.closedForm > 0.05 && r.closedForm < 0.999))
  }

  test("plant-id stride clears the id space (degenerate-fixture guards)") {
    import spark.implicits._
    // 10 vectors: nBases floors at 1 (used to divide by zero — ADVICE)
    val tiny = (0L until 10L).map(i =>
      (i, Array.tabulate(64)(d => math.sin(i * 3.7 + d).toFloat))).toDF("vec_id", "embedding")
    val res = EmbRecallContract.run(spark, tiny, maxBases = 1000)
    assert(res.nBases == 1)
    EmbRecallContract.check(res)
    // an id space reaching the plant offset must be rejected, not corrupt counts
    val off = graft.queries.TextQueries.DupOffset
    val clash = Seq((off + 1L, Array.fill(64)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](EmbRecallContract.run(spark, clash))
    assert(e.getMessage.contains("plant offset"))
  }

  test("gram dedup recalls planted clusters of half the adaptive cap") {
    import spark.implicits._
    val n = docs.count()
    assert(n == 500)
    val nClusters = 4
    val k = math.max(10L, Dedup.gramDfCap(n) / 2)
    // cluster c: the c-th lowest-id doc of at least 20 tokens, plus k verbatim copies
    val bases = docs.filter(size(TextOps.tokens(col("text"))) >= 20)
      .orderBy("doc_id").limit(nClusters).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(bases.length == nClusters)
    def copyId(c: Int, j: Long): Long = DupOffset + c * 1000000L + j
    val plants = bases.indices.flatMap(c => (0L until k).map(j => (copyId(c, j), bases(c)._2)))
      .toDF("doc_id", "text")
    val members = bases.indices.flatMap(c =>
      (bases(c)._1 +: (0L until k).map(copyId(c, _))).map(_ -> c)).toDF("id", "cluster")

    val spans = Dedup.substringSpans(docs.unionByName(plants), "doc_id", "text")
    val intraCluster = spans
      .join(members.toDF("doc_a", "c_a"), "doc_a")
      .join(members.toDF("doc_b", "c_b"), "doc_b")
      .filter(col("c_a") === col("c_b"))
      .select("doc_a", "doc_b").distinct().count()
    // a cluster of k + 1 identical docs holds (k + 1)k/2 pairs
    assert(intraCluster == nClusters * (k + 1) * k / 2)
  }

  test("gram dedup drops a block past a fixed cap; pairBudget keeps it linear") {
    import spark.implicits._
    // 80 copies of one 30-token block: its 18 13-grams each sit at df 80
    val k = 80L
    val block = (1 to 30).map(i => s"licensetoken$i").mkString(" ")
    val corpus = docs.unionByName((0L until k).map(j => (DupOffset + j, block)).toDF("doc_id", "text"))
    // the adaptive cap sits at its floor here, so the caps are explicit
    assert(Dedup.gramDfCap(docs.count() + k) == 50L)
    def plantPairSpans(maxGramDf: Long, pairBudget: Option[Long] = None): Long =
      Dedup.substringSpans(corpus, "doc_id", "text", maxGramDf = Some(maxGramDf), pairBudget = pairBudget)
        .filter(col("doc_a") >= DupOffset && col("doc_b") >= DupOffset).count()

    // one span per pair of copies
    assert(plantPairSpans(80L) == k * (k - 1) / 2)
    // under a cap below the block's df none of it is seen
    assert(plantPairSpans(50L) == 0L)
    // over the budget each copy pairs only with the canonical one
    assert(plantPairSpans(80L, pairBudget = Some(64L)) == k - 1)
  }
}
