package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Third-decade spot probe: times the CORPUS-scale dedup/ANN operators
  * end-to-end on an sf100 doc-family tier — documents + embeddings only,
  * generated by `GenScale <sf10> <out> 10 documents,embeddings` (the
  * probes read nothing else, so the tier skips a 600M-row lineitem the
  * q/b families would need).
  *
  * Why this exists: SCALING.md's constants-and-countdowns table CLAIMS
  * sf100 is clean for every adaptive rule (simhash band plans inside
  * their ceilings, gram cap scale-invariant, budget linear). This tool
  * executes that claim — each operator runs once, cold, at 5.7M docs /
  * 2.2M embeddings, and reports wall + output size + the plan the
  * adaptive rule actually picked. Single-shot cold numbers (no warm run,
  * no median): at 2–10 min per op the JIT share is noise and the point
  * is the ASYMPTOTE against the sf10 floors, not a tight floor.
  *
  * Round 16 adds the RELATIONAL and STREAMING legs (round-15 verdict ask
  * #3 — those planes had never run a third decade): `q01`/`q21`/`b05`/
  * `b06` run the production query bodies verbatim against an sf100
  * relational tier (`GenScale <sf10> <out> 10
  * lineitem,orders,customer,nation,region` — 600M lineitem rows), and
  * `s06_append` executes the zarr stream-sink's O(batch)-per-trigger
  * claim directly: the SAME fixed 10k-obs microbatch appended to a 4M-nnz
  * and a 40M-nnz store (store build untimed), walls compared — if the
  * per-trigger cost scaled with the store, the second wall would be ~10×.
  *
  * Usage: ScaleProbe <sfDir> [ops, comma-separated; default `DefaultOps`]
  * Prints one JSON line; `ScaleProbeSpec` smoke-runs the default ops on
  * the sf0.001 fixture.
  */
object ScaleProbe {
  /** The documents/embeddings ops, run when none are named. */
  val DefaultOps: Set[String] = Set("minhash", "simhash", "simhash128", "spans_budget",
    "emb_lsh", "emb_lsh_banded", "gram_stats", "cc")

  def main(args: Array[String]): Unit = {
    val ops = if (args.length > 1) args(1).split(',').map(_.trim).toSet else DefaultOps
    val spark = graft.core.Session.local(32)
    try println(run(spark, args(0), ops))
    finally spark.stop()
  }

  /** Runs `ops` once each against the tier at `sfDir` and returns the
    * JSON line: the adaptive plans picked at this n (when the tier has
    * documents) and, under `ops`, each op's seconds and output rows.
    */
  def run(spark: SparkSession, sfDir: String, ops: Set[String]): String = {
    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    var gramMaxDf = ""
    def timed(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      val secs = (System.nanoTime() - t0) / 1e9
      results += f""""$name":{"secs":$secs%.1f,"rows":$n}"""
      // free anything an operator left behind before the next one starts
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.err.println(f"[probe] $name: $secs%.1f s, $n rows")
    }

    lazy val corpus = graft.queries.TextQueries.corpusWithNearDups(spark, sfDir)
    lazy val nCorpus = corpus.count()

    if (ops("minhash"))
      timed("minhash_portable_d09") {
        graft.ext.Dedup.minhashPairsPortable(corpus, "doc_id", "text",
          k = 16, bands = 4, threshold = 0.4).count()
      }
    if (ops("simhash"))
      timed("simhash_portable_d10") {
        graft.ext.Dedup.simhashCandidatesPortable(corpus, "doc_id", "text")
          .filter(col("hamming") <= 6).count()
      }
    if (ops("simhash128"))
      timed("simhash128_portable_d28") {
        graft.ext.Dedup.simhash128CandidatesPortable(corpus, "doc_id", "text")
          .filter(col("hamming") <= 12).count()
      }
    if (ops("spans_budget"))
      timed("substring_spans_budget_d26") {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        graft.ext.Dedup.substringSpans(docs, "doc_id", "text",
          pairBudget = Some(64L)).count()
      }
    if (ops("cc"))
      timed("dup_clusters_cc_d17") {
        // the d17 chain structure at this decade: 5M docs, ~714k + 357k
        // planted chain edges, transitive resolution via pointer-jump CC
        val dup = graft.queries.TextQueries.DupOffset
        val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
        val m1 = docs.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + dup).as("doc_id"))
        val m2 = docs.filter(col("doc_id") % 14 === 0)
          .select((col("doc_id") + 2 * dup).as("doc_id"))
        val corpus2 = docs.unionByName(m1).unionByName(m2)
        val pairs = docs.filter(col("doc_id") % 7 === 0)
          .select(col("doc_id").as("id_a"), (col("doc_id") + dup).as("id_b"))
          .unionByName(docs.filter(col("doc_id") % 14 === 0)
            .select((col("doc_id") + dup).as("id_a"), (col("doc_id") + 2 * dup).as("id_b")))
        graft.ext.Dedup.resolveDuplicates(corpus2, pairs, "doc_id")
          .filter(col("is_canonical") === false).count()
      }
    if (ops("gram_stats"))
      timed("gram_df_stats") {
        // the countdown table's "natural-corpus df maxima" claim, measured
        // at this decade: max 13-gram document frequency and the exact
        // candidate count the adaptive cap admits (sum df(df-1)/2)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select("doc_id", "text")
        val cap = graft.ext.Dedup.gramDfCap(docs.count())
        val gramDf = docs
          .select(graft.ext.TextOps.tokens(col("text")).as("tk"))
          .filter(size(col("tk")) >= 13)
          .select(posexplode(transform(
            sequence(lit(0), size(col("tk")) - 13),
            i => md5(concat_ws(" ", slice(col("tk"), i + 1, lit(13))))))
            .as(Seq("pos", "gh")))
          .groupBy("gh").agg(count(lit(1)).as("df"))
        val r = gramDf.agg(max("df").as("max_df"),
          sum(when(col("df") <= cap, col("df") * (col("df") - 1)).otherwise(0L)).as("c2"))
          .head()
        gramMaxDf = s""""gram_max_df":${r.getLong(0)},"""
        r.getLong(1) / 2 // rows = exact candidate count under the cap
      }
    if (ops("emb_lsh"))
      timed("embedding_dedup_lsh_e05") {
        val dup = graft.queries.TextQueries.DupOffset
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
        val perturbed = emb.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + dup).as("vec_id"),
            concat(array(element_at(col("e"), 1) + 0.1), slice(col("e"), 2, 63)).as("e"))
        graft.ext.Dedup.embeddingCosinePairsLSH(emb.unionByName(perturbed), "vec_id", "e",
          dim = 64, nBits = 8, threshold = 0.95).count()
      }
    if (ops("emb_lsh_banded"))
      timed("embedding_dedup_lsh_banded_e11_adaptive") {
        // the scale-true replacement measured against e05's quadratic
        // fixed-bucket form above: adaptive per-band width (lshBandBits)
        val dup = graft.queries.TextQueries.DupOffset
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
        val perturbed = emb.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + dup).as("vec_id"),
            concat(array(element_at(col("e"), 1) + 0.1), slice(col("e"), 2, 63)).as("e"))
        graft.ext.Dedup.embeddingCosinePairsLSHBanded(emb.unionByName(perturbed),
          "vec_id", "e", dim = 64, threshold = 0.95).count()
      }

    // ---- relational leg (sf100 = 600M lineitem rows): the production
    // query bodies verbatim — no probe-special plan
    if (ops("q01"))
      timed("q01_tpch_agg") {
        graft.queries.CoreQueries.queries("q01_tpch_agg")(spark, sfDir)
          .queryExecution.toRdd.count()
      }
    if (ops("q21"))
      timed("q21_join_agg_revenue") {
        graft.queries.ScaleQueries.queries("q21_join_agg_revenue")(spark, sfDir)
          .queryExecution.toRdd.count()
      }
    // collect(), not count(): a bare count() on the aggregate lets
    // Catalyst PRUNE the aggregate expressions (the row count doesn't
    // need them) — the first probe run measured 2.8 s for an "exact
    // stats" pass over 600M rows, i.e. nothing. Same bodies as the
    // bench entries.
    if (ops("b05"))
      timed("b05_lineitem_stats_exact") {
        graft.ext.Sketches.lineitemStatsExact(
          spark.read.parquet(s"$sfDir/lineitem.parquet")).collect().length.toLong
      }
    if (ops("b06"))
      timed("b06_lineitem_stats_approx") {
        graft.ext.Sketches.lineitemStatsApprox(
          spark.read.parquet(s"$sfDir/lineitem.parquet")).collect().length.toLong
      }

    // ---- streaming leg: the zarr stream sink's O(batch)/trigger claim,
    // executed — same 10k-obs microbatch against a 4M-nnz then a 40M-nnz
    // store; only the streaming append is timed (store build = fixture)
    if (ops("s06_append")) {
      def appendWall(nObs: Long): Double = {
        val stage = java.nio.file.Files.createTempDirectory("probe_s06").toString
        val store = s"$stage/grow.zarr"
        val obs = spark.range(nObs).select(col("id").as("obs_id"),
          concat(lit("c"), col("id")).as("obs_name"),
          (col("id") % 5).cast("string").as("lang"))
        val vars = spark.range(16).select(col("id").as("var_id"),
          concat(lit("g"), col("id")).as("var_name"))
        val x = spark.range(nObs).select(col("id").as("obs_id"))
          .crossJoin(spark.range(4).select(col("id").as("k")))
          .select(col("obs_id"),
            ((col("obs_id") * 7 + col("k") * 3) % 16).as("var_id"),
            ((col("obs_id") + col("k")) % 9 * 0.5).as("value"))
        graft.zarr.AnnZarrWriter.write(
          graft.artifact.AnnDataset(obs, vars, x), store, chunkElems = 65536)
        val batch = spark.range(nObs, nObs + 10000)
          .crossJoin(spark.range(4).select(col("id").as("k")))
          .select(concat(lit("c"), col("id")).as("obs_name"),
            (col("id") % 5).cast("string").as("lang"),
            ((col("id") * 7 + col("k") * 3) % 16).as("var_id"),
            ((col("id") + col("k")) % 9 * 0.5).as("value"))
        batch.coalesce(1).write.mode("overwrite").parquet(s"$stage/src")
        val q = graft.streaming.ZarrStreamSink.streamAppendZarr(
          spark.readStream.schema(batch.schema).option("maxFilesPerTrigger", 1)
            .parquet(s"$stage/src"),
          store, Seq("lang"), s"$stage/ckpt")
        val t0 = System.nanoTime()
        try q.processAllAvailable() finally q.stop()
        (System.nanoTime() - t0) / 1e9
      }
      // first append in the JVM pays streaming first-use cost (classload
      // + state-store init — measured 7.3 vs 3.3 s when the small store
      // went first), so: one warmup append (discarded), then the two
      // measured appends — warm-vs-warm is the store-size comparison
      appendWall(100000L)
      val wallSmall = appendWall(1000000L)
      val wallBig = appendWall(10000000L)
      results += f""""s06_append":{"wall_4m_store":$wallSmall%.1f,""" +
        f""""wall_40m_store":$wallBig%.1f,"ratio":${wallBig / wallSmall}%.2f}"""
      System.err.println(f"[probe] s06_append: $wallSmall%.1f s vs $wallBig%.1f s " +
        f"(x10 store ratio ${wallBig / wallSmall}%.2f)")
    }

    // the plans the adaptive rules picked at this n (for the record) —
    // only when the tier HAS a documents table (the relational/streaming
    // legs run against a lineitem-family-only tier)
    val hasDocs = new java.io.File(s"$sfDir/documents.parquet").exists
    val planFields = if (hasDocs) {
      val (b60, w60) = graft.ext.Dedup.simhashBandPlan(nCorpus, 60, 15, 30)
      val (b120, w120) = graft.ext.Dedup.simhash128BandPlan(nCorpus, wordBits = 60)
      val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
      val cap = graft.ext.Dedup.gramDfCap(nDocs)
      s""""n_corpus":$nCorpus,"n_docs":$nDocs,""" +
        s""""plan60":"${b60}x$w60","plan120":"${b120}x$w120","gram_cap":$cap,"""
    } else ""
    s"""{"sf_dir":"$sfDir",""" + planFields + gramMaxDf +
      results.mkString("\"ops\":{", ",", "}}")
  }
}
