package graft.tools

import org.apache.spark.sql.functions._

/** Regenerate the four simhash golden-snapshot fixtures (sf0.001) after
  * any INTENDED simhash change — d06/d34 (xxhash64 families) and d10/d28
  * (portable md5 families): candidate pairs at the family's hamming
  * cutoff plus planted/background composition stats printed for the
  * contract assertions.
  */
object GenFixture {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local(32)
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.queries.TextQueries.corpusWithNearDups(spark, dir)
    val nPlantedTotal = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 7 === 0).count()

    def snapshot(name: String, pairs: org.apache.spark.sql.DataFrame): Unit = {
      val out = pairs.orderBy("id_a", "id_b")
        .select("id_a", "id_b", "hamming")
        .collect()
      val planted = out.count(r =>
        r.getLong(1) == r.getLong(0) + graft.queries.TextQueries.DupOffset)
      val w = new java.io.PrintWriter(s"src/test/resources/$name.csv")
      w.println("id_a,id_b,hamming")
      out.foreach(r => w.println(s"${r.getLong(0)},${r.getLong(1)},${r.get(2)}"))
      w.close()
      println(s"$name: pairs=${out.length} plantedTotal=$nPlantedTotal recalled=$planted")
    }

    snapshot("d06_simhash_sf0001",
      graft.ext.Dedup.simhashCandidates(corpus, "doc_id", "text")
        .filter(col("hamming") <= 6))
    snapshot("d10_simhash_portable_sf0001",
      graft.ext.Dedup.simhashCandidatesPortable(corpus, "doc_id", "text")
        .filter(col("hamming") <= 6))
    snapshot("d28_simhash128_portable_sf0001",
      graft.ext.Dedup.simhash128CandidatesPortable(corpus, "doc_id", "text")
        .filter(col("hamming") <= 12))
    snapshot("d34_simhash128_sf0001",
      graft.ext.Dedup.simhash128Candidates(corpus, "doc_id", "text")
        .filter(col("hamming") <= 12))
    spark.stop()
  }
}
