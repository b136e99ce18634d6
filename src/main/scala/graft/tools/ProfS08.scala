package graft.tools

import org.apache.spark.sql.functions._

/** Phase timing for the streaming MuData entries (s06/s08 shape): fixture
  * writes vs stream triggers vs reopen+aggregate — measured before
  * touching anything (guide §1), since the entry is a chain of many
  * small jobs and the wall could live anywhere.
  */
object ProfS08 {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.local(32)
    graft.core.Session.warm(spark)

    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val cooRna = docs.select(col("doc_id"), col("lang"))
      .crossJoin(spark.range(4).select(col("id").as("k")))
      .select(concat(lit("d"), col("doc_id")).as("obs_name"), col("lang"),
        ((col("doc_id") * 5 + col("k")) % 12).as("var_id"),
        ((col("doc_id") + col("k") * 2) % 9 * 0.5).as("value"))
    val stage = java.nio.file.Files.createTempDirectory("prof_s08").toString
    val mu = s"$stage/mu.zarr"

    time("stage parquet write") {
      cooRna.repartitionByRange(3, col("obs_name")).write
        .mode("overwrite").parquet(s"$stage/src")
    }
    val srcRows = time("source distinct collect") {
      docs.select("source").distinct().collect()
    }
    val srcNames = srcRows.map(_.getString(0)).sortWith { (a, b) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    }
    val adtObs = spark.createDataFrame(
      srcNames.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toSeq)
      .toDF("obs_id", "obs_name")
    val adtVars = spark.range(4).select(col("id").as("var_id"),
      concat(lit("p"), col("id")).as("var_name"))
    val adtX = adtObs
      .select(col("obs_id"), substring(col("obs_name"), 4, 10).cast("int").as("sfx"))
      .crossJoin(spark.range(4).select(col("id").as("k")))
      .select(col("obs_id"), col("k").as("var_id"),
        ((col("sfx") * 3 + col("k")) % 5 * 1.0).as("value"))
    time("writeMu adt") {
      graft.zarr.AnnZarrWriter.writeMu(
        Map("adt" -> graft.artifact.AnnDataset(adtObs, adtVars, adtX)), mu)
    }
    time("write empty rna") {
      graft.zarr.AnnZarrWriter.write(graft.artifact.AnnDataset(
        spark.range(0).select(col("id").as("obs_id"),
          concat(lit("d"), col("id")).as("obs_name"), lit("xx").as("lang")),
        spark.range(12).select(col("id").as("var_id"),
          concat(lit("g"), col("id")).as("var_name")),
        spark.range(0).select(col("id").as("obs_id"), col("id").as("var_id"),
          col("id").cast("double").as("value"))), s"$mu/mod/rna", chunkElems = 512)
    }
    val q = time("stream 3 triggers") {
      val q = graft.streaming.ZarrStreamSink.streamAppendZarr(
        spark.readStream.schema(cooRna.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$stage/src"),
        s"$mu/mod/rna", Seq("lang"), s"$stage/ckpt")
      try q.processAllAvailable() finally q.stop()
      q
    }
    time("patch consolidation") {
      graft.zarr.ZarrStore.patchConsolidatedSubtree(mu, "mod/rna")
    }
    time("openMu + aggregate") {
      val mods = graft.zarr.AnnZarr.openMu(spark, mu)
      mods.toSeq.sortBy(_._1).map { case (m, ds) =>
        ds.x.agg(count(lit(1)).as("nnz"),
            sum(col("value")).cast("double").as("sum_value"))
          .select(lit(m).as("modality"), lit(ds.obs.count()).as("n_obs"),
            col("nnz"), col("sum_value"))
      }.reduce(_ unionByName _).orderBy("modality")
        .queryExecution.toRdd.count()
    }
    spark.stop()
  }
}
