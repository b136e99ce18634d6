package graft.tools

import org.apache.spark.sql.functions._
import graft.artifact.{AnnBridge, ArtifactStore}
import graft.catalog.Catalog

/** Ad-hoc ingest-path profiler for the AnnData bridge. */
object ProfAnn {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local(32)
    def t[A](label: String)(f: => A): A = {
      val s = System.nanoTime(); val r = f
      println(f"$label%-28s ${(System.nanoTime() - s) / 1e9}%.3f s"); r
    }
    val ds = graft.queries.AnnQueries.buildDataset(spark, dir)
    t("warm (docs count)")(spark.read.parquet(s"$dir/documents.parquet").count())
    val root = java.nio.file.Files.createTempDirectory("profann").toString
    val cat = t("catalog init")(Catalog.deterministic(spark, root))
    val store = new ArtifactStore(cat)
    t("nObs count")(ds.nObs)
    t("write obs")(ds.obs.write.parquet(s"$root/p_obs"))
    t("write var")(ds.vars.write.parquet(s"$root/p_var"))
    t("write X")(ds.x.write.parquet(s"$root/p_x"))
    t("write obsm")(ds.obsm("X_emb").write.parquet(s"$root/p_obsm"))
    t("hash stat")(graft.core.Hashing.stat(s"$root/p_x"))
    val art = t("full ingest")(AnnBridge.ingest(store, ds, "sc/prof.anndata", root))
    val ds2 = t("open")(AnnBridge.open(store, art("uid").toString))
    t("a01 agg")(ds2.subsetObs(col("lang") === "en" && col("n_chars") >= 500)
      .perVarStats.collect())
    t("a02 wide")(ds2.subsetObs(col("source") === "src3").subsetVars(col("var_id") < 8)
      .xWide().collect())
    spark.stop()
  }
}
