package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Planted-cluster recall contract for the gram-join dedup family
  * (d24 `substringSpans`) — the d06 golden pattern applied to the
  * mechanism a DuckDB oracle cannot see at sf10 (candidate explosion
  * makes the replaying oracle intractable there): with a FIXED gram-df
  * cap, recall silently decays as the corpus grows, because the cap is
  * also the largest duplicate-cluster size the operator can see.
  *
  * Protocol: plant 4 duplicate clusters of size cap/2 (PROPORTIONAL to
  * the corpus via `gramDfCap`, not a constant) — each cluster is one
  * real document plus k verbatim copies under collision-free ids
  * (`TextQueries.DupOffset` space). Contract: the adaptive default
  * recalls EVERY intra-cluster pair as a full-length span, at every
  * tier. The legacy fixed cap 50 is run alongside as evidence: at sf10
  * (cluster size 250+) it recalls ZERO of them — the decay this
  * contract exists to gate.
  *
  * Run at sf1.0 and sf10; one JSON line per run, recorded in SCALING.md.
  */
object RecallContract {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-local/sf1.0"
    val spark = graft.core.Session.local(32)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val nDocs = docs.count()
    val nClusters = 4
    // size the plants off the post-plant corpus cap (the plants
    // themselves grow n only negligibly, but be exact: iterate once)
    def capFor(extra: Long) = graft.ext.Dedup.gramDfCap(nDocs + extra)
    var k = (capFor(0L) / 2L).max(10L)
    k = (capFor(nClusters * k) / 2L).max(10L)

    // deterministic bases: the 4 lowest-id docs with >= 20 tokens
    val bases = docs
      .filter(size(graft.ext.TextOps.tokens(col("text"))) >= 20)
      .orderBy("doc_id").limit(nClusters).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    require(bases.length == nClusters, s"need $nClusters base docs")

    val dup = graft.queries.TextQueries.DupOffset
    import spark.implicits._
    val plants = bases.zipWithIndex.flatMap { case ((_, text), c) =>
      (0L until k).map(j => (dup + c * 1000000L + j, text))
    }.toSeq.toDF("doc_id", "text")
    val corpus = docs.unionByName(plants)
    val nCorpus = nDocs + nClusters * k
    val cap = graft.ext.Dedup.gramDfCap(nCorpus)

    // cluster membership: base id + its k copies
    def members(c: Int): Set[Long] =
      Set(bases(c)._1) ++ (0L until k).map(j => dup + c * 1000000L + j)
    val allMembers = (0 until nClusters).flatMap(members).toSet
    val memberCol = allMembers.toSeq

    def recalledPairs(spans: DataFrame): Long = spans
      .filter(col("doc_a").isin(memberCol: _*) && col("doc_b").isin(memberCol: _*))
      .select("doc_a", "doc_b").distinct().count()

    // a cluster of k+1 identical docs yields (k+1)k/2 full-length pairs
    val expected = nClusters.toLong * ((k + 1) * k / 2)

    val t0 = System.nanoTime()
    val adaptive = recalledPairs(
      graft.ext.Dedup.substringSpans(corpus, "doc_id", "text"))
    val tAdaptive = (System.nanoTime() - t0) / 1e9
    val legacy = recalledPairs(
      graft.ext.Dedup.substringSpans(corpus, "doc_id", "text", maxGramDf = Some(50L)))

    println(s"""{"sf_dir":"$sfDir","n_docs":$nDocs,"n_corpus":$nCorpus,""" +
      s""""cap":$cap,"cluster_size":${k + 1},"expected_pairs":$expected,""" +
      s""""recalled_adaptive":$adaptive,"recalled_fixed50":$legacy,""" +
      f""""secs_adaptive":$tAdaptive%.1f}""")
    require(adaptive == expected,
      s"RECALL CONTRACT VIOLATED: $adaptive of $expected planted pairs recalled")
    spark.stop()
  }
}
