package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round benchmark: times every SparkEntry query plus the catalog-op
  * families from BASELINE.md (bulk hash-dedup ingest, deep lineage BFS,
  * schema validation), printing ONE JSON line for the driver.
  */
object Bench {
  /** Parse per-entry baseline medians from BASELINE.md's measured table
    * (`| entry | median | floor |` rows). Entry cells start lowercase
    * (a01_…, q21_…, x00_…), which excludes the prose tables above it.
    * Decoded as UTF-8 via `new String` (replaces malformed sequences):
    * the doc's prose contains multibyte chars and the bench JVM runs
    * without a UTF-8 default charset, so a charset-sensitive reader
    * throws MalformedInputException mid-suite (round-15 run-1 crash).
    *
    * The FIRST occurrence of an entry wins: BASELINE.md keeps the newest
    * measured table at the TOP with older rounds' tables preserved below
    * it, and most entries appear in several. The original `toMap` kept
    * the LAST (= oldest) row, so the round-15 retry pass silently
    * governed against round-10 numbers wherever both tables had the
    * entry — found round 16, pinned in BenchGovernanceSpec.
    */
  private[graft] def parseBaselineMedians(path: String): Map[String, Double] =
    parseBaselineRows(path).map { case (k, (med, _)) => k -> med }

  /** Median AND floor columns of the measured table, first occurrence
    * wins (same row-selection semantics as `parseBaselineMedians`, which
    * derives from this). The floor feeds `governRow`.
    */
  private[graft] def parseBaselineRows(path: String): Map[String, (Double, Double)] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val R = """\|\s*([a-z]\w+)\s*\|\s*([0-9.]+)\s*\|\s*([0-9.]+)\s*\|""".r
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      text.linesIterator.collect { case R(n, med, fl) => n -> (med.toDouble, fl.toDouble) }
        .foldLeft(Map.empty[String, (Double, Double)]) { case (m, (k, v)) =>
          if (m.contains(k)) m else m + (k -> v)
        }
    }
  }

  /** Governance value of a BASELINE row: `min(median, 1.5*floor)`.
    * Round-17 ADVICE: rows from the r17 wrong-side sweep were measured
    * under an acknowledged 1.05-1.9x degraded host ("judge against the
    * FLOOR column"), but feeding their inflated medians into
    * `isContended` loosens the retry guard on a future healthy box. On
    * healthy-epoch rows the observed median/floor spread is <= ~1.4x,
    * so the 1.5x cap leaves them untouched and trims exactly the rows
    * whose median embeds more host noise than a healthy run could.
    */
  private[graft] def governRow(med: Double, floor: Double): Double =
    if (floor > 0) math.min(med, 1.5 * floor) else med

  /** Piecewise-linear host factor at a workload position, interpolated
    * between the bracketing calibration probes (round-17 verdict ask #1:
    * two calibration points 170 entries apart cannot localize a mid-run
    * host speed-class change — BENCH_r17 went 1.12x at entry 1 to 2.04x
    * at entry 172 and which families paid was unknowable from the
    * artifact). Probes are (position, measured/row) pairs; positions
    * outside the probe span clamp to the nearest probe; no probes = 1.0
    * (an unnormalized run).
    */
  private[graft] def interpolateHostFactor(probes: Seq[(Int, Double)], pos: Int): Double = {
    val s = probes.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) 1.0
    else if (pos <= s.head._1) s.head._2
    else if (pos >= s.last._1) s.last._2
    else {
      val ((p0, f0), (p1, f1)) = s.zip(s.tail)
        .find { case ((a, _), (b, _)) => pos >= a && pos <= b }.get
      if (p1 == p0) f0 else f0 + (f1 - f0) * (pos - p0).toDouble / (p1 - p0)
    }
  }

  /** Fixed-cost calibration workload: 64M xxhash64 in 8 fixed partitions,
    * reduced by bit_xor — NOT sum, which overflows a long essentially
    * surely over uniform 64-bit hashes and is a task failure under
    * Spark 4's ANSI default (the round-15 run-1 artifact recorded both
    * calibration entries as -1). XOR is closed over Long, same scan cost.
    */
  private[graft] def calibrationHash(spark: org.apache.spark.sql.SparkSession): Long =
    spark.range(0, 64000000L, 1, 8)
      .select(org.apache.spark.sql.functions.expr("bit_xor(xxhash64(id))").as("h"))
      .collect()(0).getLong(0)

  /** Contention flag for the end-of-suite retry pass: an entry is
    * re-measured when its median lands >2x its baseline row (with an
    * absolute guard so sub-100 ms entries don't retry on noise) or —
    * baseline or not — >2x its own in-run floor plus 0.2 s (the three
    * same-session runs disagreeing is itself the contention signature
    * the round-14 artifact showed).
    *
    * The absolute term SCALES with the baseline (`max(0.15, 0.5·b)`,
    * round-15 verdict): the original constant 0.25 s let a sustained
    * 2.5x drift on a 0.4-s entry hide under it — b12's 0.404 s in-suite
    * median vs its (anomalous) 0.16 s row missed the retry by 6 ms.
    */
  private[graft] def isContended(baseline: Option[Double], med: Double, mn: Double): Boolean =
    med > 0 && (baseline.exists(b => med > 2 * b && med > b + math.max(0.15, 0.5 * b)) ||
      med > 2 * mn + 0.2)

  /** Run-level contamination verdict for the artifact (round-16 verdict
    * ask #1): BENCH_r16 measured 2.00× baseline because the HOST
    * degraded ~2× mid-suite — the suite-start calibration was clean
    * (0.954) but the END-of-suite calibration ran at 2.1× its row and 16
    * entries retried, yet the JSON line carried no machine-readable flag,
    * so a consumer reading the artifact alone saw "2× regression" where
    * the data said "sick host". The flag fires when EITHER calibration
    * entry (suite start x00 or suite end x99, first-pass median over its
    * BASELINE.md row) exceeds 1.5× — the box changed speed class during
    * or before the run — or when more than 5% of WORKLOAD entries were
    * flagged contended (counted before the take(16) retry-budget cap and
    * excluding calibration rows, so the criterion stays satisfiable as
    * the suite grows — r17 ADVICE; pervasive within-run contention is
    * the round-14 signature). A contaminated artifact's totals must not be
    * judged against BASELINE.md rows measured on a healthy box.
    */
  private[graft] def isContaminated(calibStart: Option[Double], calibEnd: Option[Double],
      nRetried: Int, nEntries: Int): Boolean =
    calibStart.exists(_ > 1.5) || calibEnd.exists(_ > 1.5) ||
      (nEntries > 0 && nRetried > 0.05 * nEntries)

  /** Drift severity for ranking the bounded retry budget: ratio to the
    * baseline row where one exists, else to the entry's own in-run floor.
    * The r17 full-suite artifact showed why ordering matters — a
    * degraded-start box flags most of the suite, and a suite-order
    * `take(16)` spent every retry on the a-family while b04 sat at 7×
    * its row un-retried.
    */
  private[graft] def retrySeverity(baseline: Option[Double], med: Double, mn: Double): Double =
    baseline.filter(_ > 0).map(med / _).getOrElse(if (mn > 0) med / mn else 1.0)

  /** Workload position whose host factor normalizes an entry's KEPT
    * measurement: the first-pass position normally, the last probe's
    * position when the kept median came from the end-of-suite retry
    * pass (retries run after x99, so the end factor is the one in
    * effect when the number was actually measured).
    */
  private[graft] def measurementPosition(firstPassPos: Int, keptRetry: Boolean,
      lastProbePos: Int): Int =
    if (keptRetry) lastProbePos else firstPassPos

  /** The JSON-line `queries` subset. Contract: entries may be ADDED but
    * never removed or renamed — every name that has appeared in a
    * driver-captured BENCH artifact's `queries` map must keep appearing
    * (the r17 artifact carried exactly these 57; a mid-r18 edit dropped
    * six to make byte room for the normalization fields, which violated
    * the contract — the room comes from moving `fam` and the derivable
    * normalization fields to BENCH_DETAIL.json instead). Byte budget is
    * pinned by the worst-case `formatLine` simulation in
    * BenchGovernanceSpec: the driver captures a ~2 KB stdout tail and a
    * head-truncated line parses as null.
    */
  private[graft] val headlineEntries: Seq[String] = Seq(
    "q01_tpch_agg", "q05_m2m_semi_join", "q09_search_rank",
    "q10_is_latest_window", "q19_window_tumbling", "q21_join_agg_revenue",
    "q22_salted_join", "q26_asof_join", "q27_range_join", "q31_get_ladder",
    "q32_include_annotation", "b01_ingest_1k_dedup", "b02_bfs_10_levels",
    "b05_lineitem_stats_exact", "b07_cc_190k_edges", "b08_new_docs_bloom",
    "b10_skewed_dups", "b11_h5ad_native_scan", "b12_zarr_native_scan",
    "b13_zarr_sharded_scan", "a19_zarr_v3_scan", "a23_zarr_v3_sink_roundtrip",
    "a24_zarr_append", "a28_zarr_v3_append", "a29_zarr_dense_append",
    "a31_zarr_aux_append", "a33_spatial_zarr_sink",
    "a20_spatial_table", "c01_validate",
    "c04_cat_violations", "d01_exact_dedup", "d02_token_stats",
    "d05_minhash_lsh", "d06_simhash", "d07_langid", "d09_minhash_portable",
    "d10_simhash_portable", "d34_simhash128", "d11_pii_detect", "d17_dup_clusters",
    "d23_dsir_topk", "d24_substring_spans", "e01_knn_cosine",
    "e03_embedding_dedup", "e05_embedding_dedup_lsh", "e09_bm25_topk",
    "l01_label_weights", "m01_multimodal_decode", "m03_resize_roundtrip",
    "a03_anndata_append", "a05_h5ad_x_colsum", "a10_h5ad_dsv2_scan",
    "a12_zarr_native_scan", "s01_stream_window", "s04_stream_dedup",
    "x00_calibration", "x99_calibration")

  /** The printed JSON line, factored so BenchGovernanceSpec can pin the
    * worst-case byte length under the driver's ~2 KB stdout-tail capture
    * (a head-truncated line parses as null — worse than any field loss).
    */
  private[graft] def formatLine(total: String, nEntries: Int, qs: String,
      nRetried: Int, drift: String, detail: String, sfDir: String): String =
    s"""{"metric":"total","value":$total,"unit":"sec","n_entries":$nEntries,""" +
      s""""queries":$qs,"n_retried":$nRetried,""" + drift +
      s""""detail":"$detail","sf":"$sfDir"}"""

  /** Single source of truth for the retry-keep rule (r18 ADVICE: the
    * predicate was duplicated at the median-keep and the
    * normalization-position sites and could silently diverge): a retry
    * replaces the first-pass number ONLY when it is a valid measurement
    * (>0) and strictly faster than the first pass.
    */
  private[graft] def keepsRetry(first: (Double, Double), retry: (Double, Double)): Boolean =
    retry._1 > 0 && retry._1 < first._1

  /** Committed 20000x256 native-HDF5 bench fixture (tools/gen_h5ad.py). */
  private def h5adBenchFixture: String =
    Seq("fixtures/h5ad/bench.h5ad", "/root/repo/fixtures/h5ad/bench.h5ad")
      .find(p => new java.io.File(p).exists)
      .getOrElse(sys.error("bench.h5ad fixture missing; run tools/gen_h5ad.py"))

  /** b12 store: 20000x256, 25% density, closed-form values — written
    * once per process through the executor-parallel zarr sink (data
    * prep, untimed like the other warmup fixtures).
    */
  private val zarrBench = new java.util.concurrent.atomic.AtomicReference[String]()
  private def zarrBenchStore(spark: SparkSession): String = synchronized {
    Option(zarrBench.get).getOrElse {
      val p = java.nio.file.Files.createTempDirectory("graft_zbench").toString + "/bench.zarr"
      val x = spark.range(20000).select(col("id").as("obs_id"))
        .crossJoin(spark.range(256).select(col("id").as("var_id")))
        .filter((col("obs_id") + col("var_id")) % 4 === 0)
        .withColumn("value", (col("obs_id") * 7 + col("var_id") * 13) % 101 * 0.5)
      val obs = spark.range(20000).select(col("id").as("obs_id"),
        concat(lit("c"), col("id")).as("obs_name"))
      val vars = spark.range(256).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name"))
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs, vars, x), p, chunkElems = 65536)
      zarrBench.set(p)
      p
    }
  }

  /** b13 store: b12's closed forms written v3-SHARDED (4096-elem inner
    * chunks, 16 per shard).
    */
  private val zarrShardedBench = new java.util.concurrent.atomic.AtomicReference[String]()
  private def zarrShardedBenchStore(spark: SparkSession): String = synchronized {
    Option(zarrShardedBench.get).getOrElse {
      val p = java.nio.file.Files.createTempDirectory("graft_zbench3").toString + "/bench3.zarr"
      val x = spark.range(20000).select(col("id").as("obs_id"))
        .crossJoin(spark.range(256).select(col("id").as("var_id")))
        .filter((col("obs_id") + col("var_id")) % 4 === 0)
        .withColumn("value", (col("obs_id") * 7 + col("var_id") * 13) % 101 * 0.5)
      val obs = spark.range(20000).select(col("id").as("obs_id"),
        concat(lit("c"), col("id")).as("obs_name"))
      val vars = spark.range(256).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name"))
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs, vars, x), p, chunkElems = 4096,
        v3 = true, shardFactor = 16)
      zarrShardedBench.set(p)
      p
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    graft.core.Session.warm(spark)
    // parquet-reader warm-up on the suite's own tier
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).collect()

    // AnnData-bridge setup: a01/a02 query a bridge artifact; the one-off
    // ingest (4 parquet writes + dir hash) is data preparation, not the
    // measured query — build it up front like the streaming warmup
    try graft.queries.AnnQueries.ingestedDataset(spark, sfDir)
    catch { case _: Throwable => () }

    // b08/b09 steady-state fixtures (1M-key corpus table + bloom) are
    // amortized across nightly batches in a real pipeline — build them in
    // the warmup region so the timed entries measure per-batch cost only
    initNewDocsKeys(spark)

    // Everything persisted up to here (the 1M-key corpus cache, bridge
    // ingest) is a deliberate steady-state fixture; everything persisted
    // AFTER this point is an entry's leftover.
    val fixtureRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

    // Round-11 verdict: entries leaked checkpointed/persisted RDDs into
    // the shared JVM (b07's CC rounds especially) and later entries paid
    // the accumulated block-manager pressure — in-suite medians drifted
    // 3-8x above the fresh-JVM protocol on b07/m03/d10. Sweep each
    // entry's leftovers (keeping the warmup-region fixture caches) so
    // every entry starts from the clean state a fresh JVM would give it.
    def isolate(): Unit = {
      // Dataset-level caches left registered by an entry make EVERY later
      // query pay cacheManager plan-matching against them (useCachedData
      // canonicalizes the new plan against each cached one — the round-11
      // d10 in-suite drift: its 60-column aggregate plan is the largest,
      // so it paid the most). Fixtures use RDD-level checkpoints, which
      // clearCache does not touch.
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!fixtureRddIds(id)) rdd.unpersist(blocking = true)
      }
      System.gc()
    }

    def time(body: => Any): Double = {
      val t0 = System.nanoTime()
      try body catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // One-shot stopwatch numbers on a 32-thread shared box produce 3-8x
    // phantom outliers (scheduler/GC interference); each entry runs 3x in
    // the same warmed session and reports the median, with the min kept
    // alongside as the interference-free floor. One UNTIMED warm run
    // precedes the timed ones: the first execution of a heavy plan pays
    // whole-stage-codegen compilation (measured ~5s on the 64-vote
    // simhash aggregate — round-6 verdict), which is JIT cost, not plan
    // cost, and was polluting run 1 of the median.
    def median3(body: => Any): (Double, Double) = {
      try {
        if (time(body) < 0) return (-1.0, -1.0) // plan-warm (codegen compile)
        val runs = Seq.fill(3)(time(body))
        if (runs.exists(_ < 0)) (-1.0, -1.0)
        else (runs.sorted.apply(1), runs.min)
      } finally isolate()
    }

    // toRdd.count() evaluates the query's full output schema per row but
    // never collects: a bare Dataset.count() lets Catalyst prune every
    // unreferenced projection (hollowing out e.g. codec/decode entries),
    // while collect() would bottleneck on driver materialization.
    // d07 is benched separately below: its queries-map form retrains the
    // langid profiles per call, but a steady-state pipeline trains once
    // and classifies per corpus — the bench times the per-corpus cost
    // Optional debug filter: SPARK_GRAFT_BENCH_ONLY=a,b runs only those
    // entries (fixtures still build) — for isolating one entry's timing
    // without the 150-entry suite around it.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))

    // langid model trained ONCE in the (untimed) fixture region, like the
    // AnnData ingest and the b08 corpus table
    val langDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val langProfiles = graft.ext.TextOps.trainProfiles(
      langDocs.filter(col("doc_id") % 5 < 2), "text", "lang")

    val queryBodies: Seq[(String, () => Any)] =
      (SparkEntry.queries - "d07_langid").toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> (() => fn(spark, sfDir).queryExecution.toRdd.count(): Any)
      }

    // catalog-op families (BASELINE.md): not oracle-queries, timed here
    // (bodies as thunks so the SPARK_GRAFT_BENCH_ONLY filter can skip
    // entries without evaluating them)
    val catalogBodies: Seq[(String, () => Any)] = Seq(
      "b01_ingest_1k_dedup" -> (() => benchIngest(spark)),
      "b02_bfs_10_levels" -> (() => benchBfs(spark)),
      "b03_schema_validate_lineitem" -> (() => benchValidate(spark, sfDir)),
      "b04_stream_sink" -> (() => benchStreamSink(spark)),
      // the xxhash64 simhash fast path: correctness is pinned by a golden
      // snapshot + recall-contract spec (DedupFastPathSpec) — its 64-bit
      // signature isn't DuckDB-replayable, so it's benched, not oracled
      "d06_simhash" -> (() => {
        val corpus = graft.queries.TextQueries.corpusWithNearDups(spark, sfDir)
        graft.ext.Dedup.simhashCandidates(corpus, "doc_id", "text")
          .filter(col("hamming") <= 6).queryExecution.toRdd.count()
      }),
      // the 128-bit xxhash64 fast path (d28 oracles the portable twin):
      // golden-pinned like d06 (DedupFastPathSpec snapshot + planted
      // recall contract), benched here since its signature family isn't
      // DuckDB-replayable
      "d34_simhash128" -> (() => {
        val corpus = graft.queries.TextQueries.corpusWithNearDups(spark, sfDir)
        graft.ext.Dedup.simhash128Candidates(corpus, "doc_id", "text")
          .filter(col("hamming") <= 12).queryExecution.toRdd.count()
      }),
      // exact-vs-approx distinct/quantile pair on the largest table: the
      // approx tier (HLL++ + approx_percentile, constant per-group state)
      // is the 100 TB path; the exact pair is what q25-family oracles run
      "b05_lineitem_stats_exact" -> (() => {
        graft.ext.Sketches.lineitemStatsExact(
          spark.read.parquet(s"$sfDir/lineitem.parquet")).collect()
      }),
      "b06_lineitem_stats_approx" -> (() => {
        graft.ext.Sketches.lineitemStatsApprox(
          spark.read.parquet(s"$sfDir/lineitem.parquet")).collect()
      }),
      // iterative connected components at meaningful edge count (the
      // driver queries only see ~1k-edge pair sets): 190k chain edges,
      // 10k components of diameter 20 — converges in ~log2(20) rounds
      // thanks to the pointer jump
      "b07_cc_190k_edges" -> (() => benchCC(spark)),
      // incremental-ingest dedup pair, steady state: a prebuilt corpus
      // key table (the registry hash column) + reusable bloom. b08
      // bloom-routes so wide batch rows NEVER shuffle (2 map passes,
      // broadcast joins only); b09 is the plain anti-join shuffling the
      // wide batch. On one box shuffle is memory-speed, so b09 wins the
      // stopwatch here — the pair pins parity + the constant factor; the
      // b08 plan is the one that survives a networked 1000-executor
      // shuffle of multi-KB rows
      "b08_new_docs_bloom" -> (() => benchNewDocs(spark, useBloom = true)),
      "b09_new_docs_anti" -> (() => benchNewDocs(spark, useBloom = false)),
      // classification-only langid (model from the warmup region): the
      // per-corpus steady-state cost — map-only trigram extraction +
      // literal-profile argmax + the accuracy join
      "d07_langid" -> (() => {
        graft.ext.TextOps.classify(langDocs, "doc_id", "text", langProfiles)
          .join(langDocs.select(col("doc_id"), col("lang").as("actual_lang")), "doc_id")
          .select(col("doc_id"), col("predicted_lang"), col("actual_lang"),
            (col("predicted_lang") === col("actual_lang")).as("correct"))
          .queryExecution.toRdd.count()
      }),
      // skew stress: ONE pathological 50k-duplicate cluster. The clique
      // path (all bucket-local pairs) would enumerate 1.25B candidate
      // pairs here; the star-edge path stays linear and the CC resolution
      // must still produce one component for the cluster
      "b10_skewed_dups" -> (() => benchSkewedDups(spark, sfDir)),
      // native HDF5 throughput: 20000x256 f8 X (40 shuffle+deflate
      // chunks, 40MB raw) parsed in the JVM and scanned executor-side via
      // the DSv2 source — chunk inflation parallelizes across tasks,
      // per-var sums
      "b11_h5ad_native_scan" -> (() => {
        spark.read.format("h5ad").load(h5adBenchFixture)
          .groupBy("var_id").agg(sum(col("value")))
          .queryExecution.toRdd.count()
      }),
      // native zarr throughput, same logical shape as b11: a 20000x256
      // csr store (~1.28M nnz, zlib chunk objects) written ONCE in the
      // warmup region by the executor-parallel sink, then scanned via
      // the DSv2 source — chunk decode parallelizes across tasks
      "b12_zarr_native_scan" -> (() => {
        spark.read.format("zarr").load(zarrBenchStore(spark))
          .groupBy("var_id").agg(sum(col("value")))
          .queryExecution.toRdd.count()
      }),
      // v3 SHARDED flavor of b12: same 1.28M-nnz logical store, but csr
      // slots are sharding_indexed shard objects (16x fewer store
      // objects; reads stay inner-chunk ranged GETs + a cached index)
      "b13_zarr_sharded_scan" -> (() => {
        spark.read.format("zarr").load(zarrShardedBenchStore(spark))
          .groupBy("var_id").agg(sum(col("value")))
          .queryExecution.toRdd.count()
      }))
    // BENCH governance (round-14 verdict: the published artifact was box-
    // contended — d06 median 6.36 s vs 1.16 isolated — and would have
    // misgoverned the next round if trusted). Two guards:
    //  1. a fixed-cost CPU-bound CALIBRATION entry (64M xxhash64 in 8
    //     fixed partitions — independent of SF and of the cpus setting's
    //     task sizing) measured at suite START and END: its drift vs its
    //     own baseline row flags a contaminated run inside the artifact;
    //  2. an end-of-suite RETRY pass: any entry whose median lands >2x
    //     its BASELINE.md row (sf0.1 only) or >2x its own in-run floor
    //     gets one more median3 after the suite's transient load is gone,
    //     and the artifact keeps the better pair plus a "retried" map
    //     recording both measurements. Not a fresh JVM, but it removes
    //     exactly the co-running-entry contention that r14 measured
    //     (within-JVM end-of-suite re-runs matched the judge's isolated
    //     fresh-JVM numbers to ~1.2x on every flagged entry).
    val calibBody: () => Any = () => {
      val h = calibrationHash(spark)
      require(h != 0L, "calibration hash degenerate")
    }
    val calibrate = only.isEmpty // skip in BENCH_ONLY debug runs

    // Mid-suite calibration probes x25/x50/x75 (round-17 verdict ask #1):
    // the same fixed-cost body as x00/x99, interleaved at the workload's
    // quarter positions, so a mid-run host speed-class change is
    // LOCALIZED by the artifact itself (five points instead of two) and
    // the per-entry host factor can be interpolated between them for the
    // normalized totals below. Excluded from the workload total like
    // x00/x99 (everything x-prefixed is instrumentation).
    val workload: Seq[(String, () => Any)] =
      (queryBodies ++ catalogBodies).filter(e => wanted(e._1))
    val allBodies: Seq[(String, () => Any)] =
      if (!calibrate) workload
      else {
        val n = workload.size
        val (q1, q2, q3) = (n / 4, n / 2, 3 * n / 4)
        Seq("x00_calibration" -> calibBody) ++ workload.take(q1) ++
          Seq("x25_calibration" -> calibBody) ++ workload.slice(q1, q2) ++
          Seq("x50_calibration" -> calibBody) ++ workload.slice(q2, q3) ++
          Seq("x75_calibration" -> calibBody) ++ workload.drop(q3) ++
          Seq("x99_calibration" -> calibBody)
      }
    val bodyByName = allBodies.toMap
    val firstPass: Seq[(String, (Double, Double))] =
      allBodies.map { case (n, body) => n -> median3(body()) }

    // sf0.1 baseline rows from the BASELINE.md measured table. Governance
    // (retry guard, severity ranking, normalized totals) reads the
    // governRow value min(median, 1.5*floor): the r17 sweep's medians
    // carry acknowledged host noise and would loosen the guard raw.
    val baselineRows: Map[String, (Double, Double)] =
      if (!sfDir.stripSuffix("/").endsWith("sf0.1")) Map.empty
      else parseBaselineRows(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE_MD", "/root/repo/BASELINE.md"))
    val baselineMed: Map[String, Double] =
      baselineRows.map { case (k, (m, _)) => k -> m }
    val baselineGov: Map[String, Double] =
      baselineRows.map { case (k, (m, f)) => k -> governRow(m, f) }
    // Retry budget goes to the WORST offenders, not the alphabetically
    // first: the r17 full-suite artifact flagged most of the suite on a
    // degraded-start box and take(16) in suite order spent every retry
    // on the a-family while b04 sat at 7x its row un-retried. Rank by
    // drift severity (ratio to baseline row where one exists, else to
    // the entry's own floor) so a contended run re-measures the entries
    // whose numbers are most wrong.
    val contended: Seq[(String, Double)] = firstPass.collect {
      case (n, (med, mn)) if isContended(baselineGov.get(n), med, mn) =>
        (n, retrySeverity(baselineGov.get(n), med, mn))
    }
    // the retry-fraction contamination criterion counts every contended
    // WORKLOAD entry, before the take(16) budget cap and excluding the
    // x-prefixed calibration rows — the capped, mixed-scope count made
    // the >5% criterion unsatisfiable past 320 entries (r17 ADVICE)
    val nContendedWorkload = contended.count(!_._1.startsWith("x"))
    // calibration rows never enter the retry budget: their retried
    // medians feed nothing (calibPoints/calibDrift deliberately read the
    // FIRST pass), so on a degraded box they would only displace
    // genuinely drifted workload entries from the 16 slots — the exact
    // failure the severity ranking exists to prevent (r18 review)
    val retryNames = contended.filterNot(_._1.startsWith("x"))
      .sortBy(-_._2).map(_._1).take(16)
    val retryTimes: Map[String, (Double, Double)] =
      retryNames.map(n => n -> median3(bodyByName(n)())).toMap

    val retriedLog = retryNames.flatMap { n =>
      retryTimes.get(n).map(r => n -> (firstPass.toMap.apply(n), r))
    }
    // calib_drift: the suite-START calibration's FIRST-PASS median over
    // its baseline row — a run-level contention self-flag (round 16: a
    // co-tenant steal episode inflated two full-suite runs 1.6–2.8×
    // while the end-of-suite retries looked healthy; the first-pass x00
    // ratio was 2.1–2.4 both times and is the cheapest honest marker).
    // ~1.0 = trustworthy box; >2 = read the artifact with suspicion.
    val calibDrift: Option[Double] = for {
      first <- firstPass.toMap.get("x00_calibration").map(_._1)
      b <- baselineMed.get("x00_calibration") if b > 0 && first > 0
    } yield first / b
    // calib_drift_end: the suite-END calibration's first-pass median over
    // its row. x00 alone misses the round-16 failure mode — the box was
    // healthy at suite start (x00 0.954) and degraded ~2× MID-run (x99
    // 2.1×); bracketing with both calibrations makes a mid-run speed-class
    // change visible in the artifact itself.
    val calibDriftEnd: Option[Double] = for {
      first <- firstPass.toMap.get("x99_calibration").map(_._1)
      b <- baselineMed.get("x99_calibration") if b > 0 && first > 0
    } yield first / b
    val all: Map[String, (Double, Double)] = firstPass.toMap.map { case (n, first) =>
      n -> retryTimes.get(n).filter(keepsRetry(first, _)).getOrElse(first)
    }
    // The driver captures a bounded ~2 KB tail of stdout (BENCH_r09.json:
    // even round-9's 3-decimal full-map line, ~3.2 KB, arrived mid-line
    // with "parsed": null — the complete per-entry map can never fit).
    // The printed line therefore carries the total and the 57-entry
    // headline subset (headlineEntries, contract-frozen); per-family
    // sums, complete full-precision medians + interference-free floors
    // go to the committed BENCH_DETAIL.json, which the line points at.
    def r3(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = headlineEntries.flatMap(k => all.get(k).map(v => "\"" + k + "\":" + r3(v._1)))
      .mkString("{", ",", "}")
    val fams = all.toSeq.groupBy(_._1.takeWhile(!_.isDigit)).toSeq.sortBy(_._1)
      .map { case (f, xs) => "\"" + f + "\":" + r3(xs.map(_._2._1).filter(_ > 0).sum) }
      .mkString("{", ",", "}")
    val medians = all.map { case (k, v) => "\"" + k + "\":" + v._1 }.mkString("{", ",", "}")
    val mins = all.map { case (k, v) => "\"" + k + "\":" + v._2 }.mkString("{", ",", "}")
    // retried: first-pass vs retry pair per contention-flagged entry, so
    // the artifact itself shows what was re-measured and why
    val retriedJson = retriedLog.map { case (n, (f, r)) =>
      "\"" + n + "\":{\"first\":" + r3(f._1) + ",\"retry\":" + r3(r._1) + "}"
    }.mkString("{", ",", "}")
    // calibration entries are governance instrumentation, not workload
    val total = all.collect { case (k, v) if !k.startsWith("x") && v._1 > 0 => v._1 }.sum
    // detail default carries the core count (r18 verdict ask #7: the
    // driver's 8-core scaling leg clobbered the 32-core leg's floors —
    // BENCH_DETAIL.json was a single shared path)
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      s"/root/repo/BENCH_DETAIL_${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}.json")
    // nEntries for the retry-fraction criterion excludes the
    // calibration rows — they are instrumentation, not workload
    val workloadN = all.keys.count(!_.startsWith("x"))
    val contaminated =
      isContaminated(calibDrift, calibDriftEnd, nContendedWorkload, workloadN)

    // ---- host-factor normalization (round-17 verdict ask #1) ----
    // Each calibration probe yields a (run position, measured/row)
    // point; mid-suite probes compare against the x99 row (by x25 the
    // JVM is in the same fully-warm state x99's row was measured in —
    // x00's row embeds the colder post-warmup state and only prices
    // x00 itself). Per-entry host factor interpolates between the
    // bracketing probes; normalized_total is what the run's workload
    // total WOULD have been on a baseline-speed box, judgeable against
    // baseline_total (the governRow sum over the same matched entries)
    // even when the run self-flags contaminated.
    val posByName: Map[String, Int] = allBodies.map(_._1).zipWithIndex.toMap
    def calibRowFor(nm: String): Option[Double] =
      if (nm == "x00_calibration") baselineMed.get("x00_calibration")
      else baselineMed.get("x99_calibration")
    val calibPoints: Seq[(String, Int, Double)] = allBodies.map(_._1).collect {
      case nm if nm.startsWith("x") =>
        for {
          m <- firstPass.toMap.get(nm).map(_._1) if m > 0
          b <- calibRowFor(nm) if b > 0
        } yield (nm, posByName(nm), m / b)
    }.flatten
    val probePts = calibPoints.map { case (_, p, f) => (p, f) }
    val matched = all.toSeq.collect {
      case (nm, (med, _)) if !nm.startsWith("x") && med > 0 && baselineGov.contains(nm) =>
        (nm, med, baselineGov(nm))
    }
    // a kept RETRY median was measured in the end-of-suite retry pass,
    // AFTER x99 — normalize it by the host factor where it was MEASURED
    // (the last probe position), not at the entry's first-pass position:
    // on a mid-run-degraded box the first-pass factor is the inflated
    // one, and dividing a healthy retry by it would systematically
    // understate normalized_total (r18 review)
    val keptRetry: Set[String] = firstPass.collect {
      case (n, first) if retryTimes.get(n).exists(keepsRetry(first, _)) => n
    }.toSet
    val lastProbePos = if (probePts.isEmpty) 0 else probePts.map(_._1).max
    val normalizedTotal = matched.map { case (nm, med, _) =>
      med / interpolateHostFactor(probePts,
        measurementPosition(posByName(nm), keptRetry(nm), lastProbePos))
    }.sum
    val baselineTotal = matched.map(_._3).sum
    val hasNorm = matched.nonEmpty && probePts.nonEmpty
    // the full (name, position, factor) probe series plus baseline_total
    // and n_matched go to the detail file; the printed LINE carries only
    // the compact [pos,factor] pairs, normalized_total and the ratio
    // (baseline_total = normalized_total / normalized_ratio is derivable,
    // and every byte on the line competes with the contract-protected
    // `queries` map inside the driver's ~2 KB stdout-tail capture)
    val normFieldsDetail =
      if (!hasNorm) ""
      else calibPoints.map { case (nm, p, f) =>
        "\"" + nm + "\":{\"pos\":" + p + ",\"factor\":" + r3(f) + "}"
      }.mkString("\"calib_points\":{", ",", "},") +
        s""""normalized_total":${r3(normalizedTotal)},""" +
        s""""baseline_total":${r3(baselineTotal)},""" +
        s""""normalized_ratio":${r3(normalizedTotal / baselineTotal)},""" +
        s""""n_matched":${matched.size},"""
    // 2-decimal factors on the LINE only; full r3 series in the detail
    def r2(v: Double): String =
      java.lang.String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val normFieldsLine =
      if (!hasNorm) ""
      else calibPoints.map { case (_, p, f) => "[" + p + "," + r2(f) + "]" }
        .mkString("\"calib_points\":[", ",", "],") +
        s""""normalized_total":${r3(normalizedTotal)},""" +
        s""""normalized_ratio":${r3(normalizedTotal / baselineTotal)},"""

    val driftBase = calibDrift.map(d => s""""calib_drift":${r3(d)},""").getOrElse("") +
      calibDriftEnd.map(d => s""""calib_drift_end":${r3(d)},""").getOrElse("") +
      s""""contaminated":$contaminated,"""
    // n_contended (like fam) is detail-only: every line byte competes
    // with the contract-protected queries map in the ~2 KB tail capture
    val driftField = driftBase + s""""n_contended":$nContendedWorkload,""" + normFieldsDetail
    val driftFieldLine = driftBase + normFieldsLine
    // fam (per-family sums) lives in the detail file since r18: the six
    // restored `queries` entries outrank it for line bytes (the queries
    // map is contract-protected; fam never was)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
      s"""{"metric":"total","value":$total,"unit":"sec","n_entries":${all.size},""" +
        s""""fam":$fams,""" + driftField +
        s""""queries":$medians,"queries_min":$mins,"retried":$retriedJson,"sf":"$sfDir"}""" + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    println(formatLine(r3(total), all.size, qs, retriedLog.size, driftFieldLine,
      java.nio.file.Paths.get(detailPath).getFileName.toString, sfDir))
    spark.stop()
  }

  /** 1k-record bulk registration with hash-dedup lookups: 500 unique
    * contents ingested twice — the second pass must dedup to existing
    * artifacts via the in-catalog hash join, no new rows.
    */
  private def benchIngest(spark: SparkSession): Unit = {
    val root = java.nio.file.Files.createTempDirectory("bench-ingest").toString
    val cat = catalog.Catalog.deterministic(spark, root)
    val store = new artifact.ArtifactStore(cat)
    val storageId = store.ensureStorage(root)
    val entries = (0 until 1000).map { i =>
      store.StatEntry(graft.core.Hashing.md5String(s"content-${i % 500}"),
        "md5", 1024L + i, 1L, s"bulk/file$i.parquet", ".parquet")
    }
    val (n1, d1) = store.registerBatch(entries, storageId)
    require(n1 == 500 && d1 == 500, s"batch1 $n1/$d1")
    cat.flush("artifact")
    // second pass: everything dedups against the catalog
    val (n2, d2) = store.registerBatch(entries, storageId)
    require(n2 == 0 && d2 == 1000, s"batch2 $n2/$d2")
    require(cat.table("artifact").count() == 500)
  }

  /** Steady-state incremental dedup: 1M-key corpus table (built once,
    * cached — the registry hash column) and a 500k-row batch of ~512 B
    * documents with a 10% duplicate rate. Both paths must agree (450k
    * new). The per-batch cost is what's timed; key table and bloom are
    * amortized across nightly batches, exactly as a real pipeline runs.
    */
  private lazy val newDocsKeys = new java.util.concurrent.atomic.AtomicReference[
    (org.apache.spark.sql.DataFrame, Array[Byte])]()

  private def newDocsBatch(spark: SparkSession, lo: Long, hi: Long) =
    spark.range(lo, hi)
      .select(col("id"), repeat(md5(col("id").cast("string")), 16).as("content"))

  /** One-time fixture build (warmup region, NOT timed): materialize the
    * 1M-key corpus table and its bloom sketch.
    */
  private def initNewDocsKeys(spark: SparkSession): Unit =
    if (newDocsKeys.get() == null) {
      // localCheckpoint, NOT a Dataset cache: the fixture must survive
      // the per-entry isolation sweep, which clears the cacheManager
      // (RDD-level checkpoints are exempted by the fixture-id snapshot)
      val keys = newDocsBatch(spark, 0, 1000000).select(md5(col("content")).as("k"))
        .localCheckpoint(true)
      val bloom = graft.ext.Dedup.corpusKeyBloom(keys, "k", 1000000L)
      newDocsKeys.set((keys, bloom))
    }

  private def benchNewDocs(spark: SparkSession, useBloom: Boolean): Unit = {
    initNewDocsKeys(spark)
    val (keys, bloom) = newDocsKeys.get()
    // batch ids 950k..1.45M: the first 50k contents collide with the corpus
    val batch = newDocsBatch(spark, 950000, 1450000)
    val n =
      if (useBloom)
        graft.ext.Dedup.newDocsAgainstKeys(keys, "k", batch, "content", bloom).count()
      else
        batch.join(keys, md5(col("content")) === col("k"), "left_anti").count()
    require(n == 450000, s"expected 450000 new docs, got $n")
  }

  /** 200k nodes in 10k chains of 20: component count and a spot label
    * verify the clustering, not just the timing.
    */
  private[graft] def benchCC(spark: SparkSession): Unit = {
    val edges = spark.range(0, 200000).filter(col("id") % 20 =!= 19)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val cc = graft.ext.Dedup.connectedComponents(edges)
    val n = cc.select("cluster_id").distinct().count()
    require(n == 10000, s"expected 10000 components, got $n")
  }

  private def benchBfs(spark: SparkSession): Unit = {
    // 10-level binary DAG: parent i -> children 2i+1, 2i+2, ~2k nodes
    val nodes = spark.range(0, 2047)
    val edges = nodes.select(col("id").as("child"))
      .filter(col("child") > 0)
      .withColumn("parent", ((col("child") - 1) / 2).cast("long"))
    val start = spark.range(0, 1).select(col("id").as("node"))
    val reached = lineage.Graph.descendants(edges, start, "parent", "child").count()
    require(reached == 2047, s"got $reached")
  }

  /** Streaming ingest: 3 microbatches through the artifact sink, then a
    * redelivered batch that must dedup by content hash.
    */
  private def benchStreamSink(spark: SparkSession): Unit = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bench-sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bench-sink-ckpt").toString
    val cat = catalog.Catalog.deterministic(spark, root)
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = streaming.ArtifactSink.streamToArtifacts(
      source.toDF().toDF("id", "v"), cat, root, "bench/stream", ckpt)
    try {
      (0 until 3).foreach { b =>
        source.addData((0 until 1000).map(i => (b * 1000L + i, s"row$b-$i")): _*)
        q.processAllAvailable()
      }
      require(cat.table("artifact").count() == 3, "3 batch artifacts expected")
    } finally q.stop()
  }

  /** Skew stress: sf corpus + ONE 50k-identical-doc cluster pushed through
    * star-edge candidate generation and CC resolution. The planted cluster
    * must resolve to exactly one component, within a wall-clock ceiling —
    * the clique path would need 1.25B candidate pairs here, so finishing
    * at all (in seconds) is the property under test.
    */
  private[graft] def benchSkewedDups(spark: SparkSession, sfDir: String): Unit = {
    val t0 = System.nanoTime()
    val base = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))
    // cluster ids offset by DupOffset: clear of the real doc-id space at
    // every tier (1M would collide at sf100 — the fixture-constant
    // saturation class the round-13 sf10 oracle gate caught in d17/d18)
    val off = graft.queries.TextQueries.DupOffset
    val cluster = spark.range(50000).select((col("id") + off).as("doc_id"),
      lit("the same boilerplate license header repeated across every corpus mirror").as("text"))
    val edges = graft.ext.Dedup.minhashClusterEdges(
      base.unionByName(cluster), "doc_id", "text", k = 16, bands = 8)
    val cc = graft.ext.Dedup.connectedComponents(edges)
    val planted = cc.filter(col("id") >= off)
      .select("cluster_id").distinct().count()
    require(planted == 1, s"expected 1 planted component, got $planted")
    val secs = (System.nanoTime() - t0) / 1e9
    require(secs < 120.0, f"skewed-dups ceiling exceeded: $secs%.1f s")
  }

  private def benchValidate(spark: SparkSession, sfDir: String): Unit = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val flags = Seq("A", "N", "R")
    import spark.implicits._
    val spec = curate.SchemaSpec(Seq(
      curate.FeatureSpec("l_quantity", "num", nullable = false),
      curate.FeatureSpec("l_extendedprice", "num", nullable = false),
      curate.FeatureSpec("l_returnflag", "cat[ULabel]",
        catRegistry = Some((flags.toDF("name"), "name"))),
      curate.FeatureSpec("l_linestatus", "str")))
    val report = curate.SchemaValidator.validate(li, spec)
    require(report.passed, report.issues.toString)
  }
}
