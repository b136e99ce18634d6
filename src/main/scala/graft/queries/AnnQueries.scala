package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.artifact.{AnnBridge, AnnDataset, ArtifactStore}
import graft.catalog.Catalog

/** AnnData-bridge driver queries: build an AnnData-shaped dataset from the
  * driver tables (documents = obs, embedding dims = vars, exploded
  * embedding = X in COO form), ingest it through the REAL bridge
  * (composite directory artifact, otype=AnnData), reopen it backed, slice
  * it, and aggregate — so the whole obs/var/X round-trip sits under the
  * DuckDB oracle, which recomputes the same result from the base tables.
  */
object AnnQueries {

  /** Deterministic AnnDataset over the driver tables at `dir`. */
  def buildDataset(spark: SparkSession, dir: String): AnnDataset = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val obs = docs.select(col("doc_id").as("obs_id"), col("lang"), col("source"), col("n_chars"))
    val vars = spark.range(64).select(col("id").as("var_id"),
      concat(lit("g"), lpad(col("id").cast("string"), 2, "0")).as("var_name"))
    val x = emb
      .select(col("vec_id").as("obs_id"), posexplode(col("embedding")).as(Seq("var_id", "value")))
      .select(col("obs_id"), col("var_id").cast("long").as("var_id"),
        col("value").cast("double").as("value"))
    AnnDataset(obs, vars, x,
      obsm = Map("X_emb" -> emb.select(col("vec_id").as("obs_id"), col("embedding"))))
  }

  /** Ingest once per (process, sf dir); hash-dedup makes re-runs return
    * the same artifact.
    */
  private val ingested = scala.collection.concurrent.TrieMap.empty[String, AnnDataset]

  def ingestedDataset(spark: SparkSession, dir: String): AnnDataset =
    ingested.getOrElseUpdate(dir, {
      val root = java.nio.file.Files.createTempDirectory("graft_ann").toString
      val cat = Catalog.deterministic(spark, root)
      val store = new ArtifactStore(cat)
      val art = AnnBridge.ingest(store, buildDataset(spark, dir), "sc/bridge.anndata", root)
      AnnBridge.open(store, art("uid").toString)
    })

  /** Committed native-HDF5 fixtures (tools/gen_h5ad.py — closed-form
    * content, so the oracles recompute from range() with no file
    * dependency; a hash match proves the JVM-side HDF5 parse).
    */
  private def h5Fixture(name: String): String =
    Seq(s"fixtures/h5ad/$name", s"/root/repo/fixtures/h5ad/$name")
      .find(p => new java.io.File(p).exists)
      .getOrElse(sys.error(s"h5ad fixture $name not found; run tools/gen_h5ad.py"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // backed obs-slicing: adata[adata.obs.lang == "en" & n_chars >= 500]
    // then a per-var aggregate over the slice (mean-expression shape)
    "a01_anndata_obs_filter" -> ((spark, dir) => {
      val ds = ingestedDataset(spark, dir)
      ds.subsetObs(col("lang") === "en" && col("n_chars") >= 500)
        .perVarStats
        .select(col("var_name"), col("n_obs"),
          round(col("sum_value").cast("double"), 6).as("sum_value"))
        .orderBy("var_name")
    }),

    // var-slicing + dense view: adata[obs.source == "src3", first 8 vars].X
    "a02_anndata_var_slice" -> ((spark, dir) => {
      val ds = ingestedDataset(spark, dir)
      val sliced = ds.subsetObs(col("source") === "src3").subsetVars(col("var_id") < 8)
      sliced.xWide().orderBy("obs_id")
    }),

    // append-with-reindex (the tiledbsoma growth path): ingest docs with
    // doc_id%10<8 as the base store, append the %10>=8 slice — appended
    // obs reindex to sequential ids past the current axis, X follows —
    // then append the SAME slice again, which the registration ledger
    // must turn into a no-op (same version, no double rows)
    "a03_anndata_append" -> ((spark, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_ann_append").toString
      val cat = Catalog.deterministic(spark, root)
      val store = new ArtifactStore(cat)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      def mkDs(base: Boolean): AnnDataset = {
        val keep = (c: org.apache.spark.sql.Column) =>
          if (base) c % 10 < 8 else c % 10 >= 8
        val obs = docs.filter(keep(col("doc_id")))
          .select(col("doc_id").as("obs_id"), col("lang"), col("source"), col("n_chars"))
        val vars = spark.range(64).select(col("id").as("var_id"),
          concat(lit("g"), lpad(col("id").cast("string"), 2, "0")).as("var_name"))
        val x = emb.filter(keep(col("vec_id")))
          .select(col("vec_id").as("obs_id"), posexplode(col("embedding")).as(Seq("var_id", "value")))
          .select(col("obs_id"), col("var_id").cast("long").as("var_id"),
            col("value").cast("double").as("value"))
        AnnDataset(obs, vars, x)
      }
      val art1 = AnnBridge.ingest(store, mkDs(base = true), "sc/grow.anndata", root)
      val slice = mkDs(base = false)
      val art2 = AnnBridge.appendObs(store, art1("uid").toString, slice, root)
      require(art2("uid") != art1("uid"), "append must create a new version")
      val art3 = AnnBridge.appendObs(store, art2("uid").toString, slice, root)
      require(art3("uid") == art2("uid"), "re-appending a registered slice must be a no-op")
      require(cat.table("artifact").count() == 2, "exactly two versions in the family")
      val ds = AnnBridge.open(store, art2("uid").toString)
      ds.obs.join(ds.x.groupBy("obs_id").agg(count(lit(1)).as("n_x")), Seq("obs_id"), "left")
        .withColumn("n_x", coalesce(col("n_x"), lit(0L)))
        .select("obs_id", "lang", "source", "n_chars", "n_x")
        .orderBy("obs_id")
    }),

    // NATIVE h5ad open (no bridge): parse the HDF5 container in the JVM
    // — vlen-string index, categorical codes/categories decode, f8
    // column — and aggregate the obs frame
    "a04_h5ad_obs" -> ((spark, _) => {
      val ds = graft.h5.AnnH5.open(spark, h5Fixture("dense.h5ad"))
      ds.obs.groupBy("cell_type")
        .agg(count(lit(1)).as("n_obs"), sum(col("n_counts")).as("sum_counts"))
        .orderBy("cell_type")
    }),

    // native dense X: executor-side chunk reads (shuffle+deflate inflate
    // per task), var slice via the bridge ops, per-var sums
    "a05_h5ad_x_colsum" -> ((spark, _) => {
      val ds = graft.h5.AnnH5.open(spark, h5Fixture("dense.h5ad"))
      ds.subsetVars(col("highly_variable") === 1).perVarStats
        .select(col("var_name"), col("n_obs"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("var_name")
    }),

    // native csr_matrix X: indptr broadcast, row-range element reads
    "a06_h5ad_csr_rows" -> ((spark, _) => {
      val ds = graft.h5.AnnH5.open(spark, h5Fixture("sparse.h5ad"))
      ds.x.groupBy((col("obs_id") % 10).as("obs_bucket"))
        .agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
        .orderBy("obs_bucket")
    }),

    // native h5ad SINK round-trip: build a closed-form AnnDataset,
    // WRITE it as a real HDF5 file (streamed csr chunks), reopen it
    // through the native reader (whose parse a04-a06 pin byte-exactly),
    // aggregate — the oracle recomputes from range(), so a writer
    // defect anywhere (chunk btree, indptr, heap, frame encode) breaks
    // the hash
    // same logical content as a04 but in the h5py libver="latest"
    // container layout (superblock v3, OHDR v2 object headers, compact
    // link-message groups) — pins the reader's second format tier
    "a09_h5ad_latest_layout" -> ((spark, _) => {
      val ds = graft.h5.AnnH5.open(spark, h5Fixture("latest.h5ad"))
      ds.obs.groupBy("cell_type")
        .agg(count(lit(1)).as("n_obs"), sum(col("n_counts")).as("sum_counts"))
        .orderBy("cell_type")
    }),

    // DataSource V2 surface: spark.read.format("h5ad") — the pushed
    // obs_id bounds prune the chunk grid to the two middle row stripes
    // before any byte is read; Spark re-applies the filter on top
    "a10_h5ad_dsv2_scan" -> ((spark, _) => {
      spark.read.format("graft.h5.datasource.H5adSource")
        .load(h5Fixture("dense.h5ad"))
        .filter(col("obs_id") >= 100 && col("obs_id") < 200)
        .groupBy((col("var_id") % 8).as("var_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .orderBy("var_bucket")
    }),

    // native FCS (flow cytometry) loader: header/TEXT parse + distributed
    // fixed-width event-range reads; per-channel stats vs the closed form
    "a11_fcs_channels" -> ((spark, _) => {
      val fcs = Seq("fixtures/fcs/events.fcs", "/root/repo/fixtures/fcs/events.fcs")
        .find(p => new java.io.File(p).exists)
        .getOrElse(sys.error("fcs fixture missing; run tools/gen_fcs.py"))
      val df = graft.artifact.FcsReader.read(spark, fcs)
      Seq("FSC", "SSC", "FL1", "FL2").map { ch =>
        df.agg(count(lit(1)).as("n_events"), sum(col(ch)).as("sum_value"))
          .select(lit(ch).as("channel"), col("n_events"), col("sum_value"))
      }.reduce(_ unionByName _).orderBy("channel")
    }),

    // native h5mu (MuData): modalities under mod/ are full anndata
    // encodings — both parsed by the same H5 stack, per-modality X sums
    "a08_h5mu_modalities" -> ((spark, _) => {
      val mods = graft.h5.AnnH5.openMu(spark, h5Fixture("mu.h5mu"))
      mods.toSeq.sortBy(_._1).map { case (name, ds) =>
        ds.x.agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
          .select(lit(name).as("modality"), col("nnz"), col("sum_value"))
      }.reduce(_ unionByName _).orderBy("modality")
    }),

    "a07_h5ad_sink_roundtrip" -> ((spark, _) => {
      val path = writtenH5ad(spark)
      val ds = graft.h5.AnnH5.open(spark, path)
      ds.x.join(ds.obs.select("obs_id", "batch"), "obs_id")
        .groupBy("batch")
        .agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
        .orderBy("batch")
    }),

    // uns/varm/obsp/raw read from the committed dense fixture: uns as a
    // driver-side metadata tree (flattened to typed rows), varm/obsp/raw
    // as distributed COO — all closed-form for the oracle
    "a13_h5ad_uns_varm" -> ((spark, _) => {
      slotSummary(spark, graft.h5.AnnH5.open(spark, h5Fixture("dense.h5ad")))
    }),

    // sink round-trip of the NEW slots: write varm + obsp + uns + raw
    // through AnnH5Writer, reopen natively, summarize — a defect in any
    // of the four encoders (or their readers) breaks the hash
    "a14_h5ad_slots_roundtrip" -> ((spark, _) => {
      val path = writtenSlotsH5ad(spark)
      slotSummary(spark, graft.h5.AnnH5.open(spark, path))
    }),

    // NATIVE zarr v2 open (graft.zarr): JSON metadata + blosc/zlib chunk
    // decode in the JVM — obs filter (i8 col), var gate (null-compressor
    // bool), csr X read through split+shuffle-lz4 chunks, per-var stats
    "a12_zarr_native_scan" -> ((spark, _) => {
      val ds = graft.zarr.AnnZarr.open(spark, zarrFixture)
      ds.subsetObs(col("n_genes") < 25)
        .subsetVars(col("highly_variable") === 1)
        .perVarStats
        .select(col("var_name"), col("n_obs"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("var_name")
    }),

    // NATIVE zarr v3 open (same closed forms, v3 store layout): planning
    // from consolidated root zarr.json, sharding_indexed csr X (two
    // ranged GETs per inner chunk), gzip+crc32c obs column in the filter
    "a19_zarr_v3_scan" -> ((spark, _) => {
      val ds = graft.zarr.AnnZarr.open(spark, zarrV3Fixture)
      ds.subsetObs(col("n_genes") < 25 && col("score") > 0.5)
        .subsetVars(col("highly_variable") === 1)
        .perVarStats
        .select(col("var_name"), col("n_obs"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("var_name")
    }),

    // DSv2 dataframe slot: obs read as a TABLE (schema from the encoding,
    // row-range tasks, pushed obs_id bounds pruning ranges) — the
    // executor-side answer to the reference's driver-side axis frames
    "a16_h5ad_dsv2_obs" -> ((spark, _) => {
      spark.read.format("h5ad").option("slot", "obs")
        .load(h5Fixture("dense.h5ad"))
        .filter(col("obs_id") >= 50 && col("obs_id") < 250)
        .groupBy("cell_type")
        .agg(count(lit(1)).as("n_obs"),
          sum(col("n_counts")).as("sum_counts"))
        .orderBy("cell_type")
    }),

    // zarr DataSource V2: spark.read.format("zarr") — pushed obs_id
    // bounds prune csr row ranges before any chunk object is opened
    "a18_zarr_dsv2_scan" -> ((spark, _) => {
      spark.read.format("zarr").load(zarrFixture)
        .filter(col("obs_id") >= 100 && col("obs_id") < 200)
        .groupBy((col("var_id") % 8).as("var_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .orderBy("var_bucket")
    }),

    // SpatialData-on-zarr: the reference accessor's `tables` surface
    // (anndata group under tables/) — obs gate + per-var X stats
    "a20_spatial_table" -> ((spark, _) => {
      val sd = graft.zarr.SpatialZarr.open(spark, spatialFixture)
      sd.tables("table")
        .subsetObs(col("n_spots") < 20)
        .perVarStats
        .select(col("var_name"), col("n_obs"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("var_name")
    }),

    // SpatialData elements beyond the reference surface: NGFF image
    // pyramid levels + labels as chunk-parallel COO, one stats row each
    "a21_spatial_image_stats" -> ((spark, _) => {
      val sd = graft.zarr.SpatialZarr.open(spark, spatialFixture)
      val img = sd.images("cells")
      def agg(slot: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
          .select(lit(slot).as("slot"), col("n"),
            col("sum_value").cast("double").as("sum_value"))
      val perChannel = img.coo(spark).groupBy("c")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(concat(lit("images/cells/c"), col("c")).as("slot"), col("n"),
          col("sum_value").cast("double").as("sum_value"))
      perChannel
        .unionByName(agg("images/cells/l1", img.coo(spark, 1)))
        .unionByName(agg("labels/segmentation",
          sd.labels("segmentation").coo(spark)))
        .orderBy("slot")
    }),

    // SpatialData points element: parquet-native distributed read with
    // the per-gene aggregate a transcript pipeline starts from
    "a22_spatial_points" -> ((spark, _) => {
      val sd = graft.zarr.SpatialZarr.open(spark, spatialFixture)
      sd.points("transcripts")
        .groupBy("gene")
        .agg(count(lit(1)).as("n_points"),
          sum(col("x") + col("y")).cast("double").as("sum_xy"))
        .orderBy("gene")
    }),

    // zarr SINK round-trip: write a closed-form AnnDataset as a zarr v2
    // store — csr data/indices chunk objects written EXECUTOR-SIDE (the
    // no-single-writer sink path HDF5 cannot offer) — reopen through the
    // native reader, aggregate; the oracle recomputes from range()
    "a17_zarr_sink_roundtrip" -> ((spark, _) => {
      val path = writtenZarr(spark)
      val ds = graft.zarr.AnnZarr.open(spark, path)
      ds.x.join(ds.obs.select("obs_id", "batch"), "obs_id")
        .groupBy("batch")
        .agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
        .orderBy("batch")
    }),

    // zarr-native APPEND: write 160 rows, appendRows the other 80 —
    // only boundary + new data/indices chunk objects are written (the
    // incremental-ingest shape HDF5 cannot offer) — reopen, aggregate
    "a24_zarr_append" -> ((spark, _) => {
      val path = appendedZarr(spark)
      val ds = graft.zarr.AnnZarr.open(spark, path)
      ds.x.join(ds.obs.select("obs_id", "batch"), "obs_id")
        .groupBy("batch")
        .agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
        .orderBy("batch")
    }),

    // v3 SHARDED sink round-trip: same closed forms, but the csr slots
    // are sharding_indexed shard objects written executor-parallel
    // (inner chunks + crc32c'd index) — the store-object-count answer
    // at 100 TB — reopened through the format-transparent reader
    "a23_zarr_v3_sink_roundtrip" -> ((spark, _) => {
      val path = writtenZarrV3(spark)
      val ds = graft.zarr.AnnZarr.open(spark, path)
      ds.x.join(ds.obs.select("obs_id", "batch"), "obs_id")
        .groupBy("batch")
        .agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
        .orderBy("batch")
    }),

    // zarr slot surface: uns tree (scalars, a fill_value-padded array
    // whose middle chunk is ABSENT from the store, a memcpy-flag blosc
    // chunk), multi-chunk dense layer, zlib obsm — one typed row each
    "a15_zarr_slots" -> ((spark, _) => {
      import spark.implicits._
      val ds = graft.zarr.AnnZarr.open(spark, zarrFixture)
      val unsDf = graft.h5.AnnH5.flattenUns(ds.uns).toDF("slot", "n", "sum_value")
      def agg(slot: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
          .select(lit(slot).as("slot"), col("n"), col("sum_value"))
      Seq(agg("X", ds.x), agg("layers/log", ds.layers("log")),
        agg("obsm/X_pca", ds.obsm("X_pca")))
        .foldLeft(unsDf)(_ unionByName _).orderBy("slot")
    }),

    // write-side ENCODING parity: obsm/X_pca written as a dense `array`
    // chunk grid (implicit zeros included on re-read — csr would
    // under-count) and obs/cell_type as a `categorical` group (codes +
    // categories), reopened through the native reader — a store a
    // python anndata reader sees with the encodings the reference's
    // write registry would have produced
    "a25_zarr_encoding_roundtrip" -> ((spark, _) => {
      val path = writtenZarrEncoded(spark)
      val ds = graft.zarr.AnnZarr.open(spark, path)
      ds.obsm("X_pca")
        .join(ds.obs.select("obs_id", "cell_type"), "obs_id")
        .groupBy("cell_type")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .orderBy("cell_type")
    }),

    // categorical APPEND: rows carrying an UNSEEN category land via
    // appendRows — categories extend (category-cardinality-sized),
    // codes extend chunk-aligned — then the merged store aggregates by
    // the decoded category strings
    "a26_zarr_categorical_append" -> ((spark, _) => {
      val path = appendedZarrCategorical(spark)
      val ds = graft.zarr.AnnZarr.open(spark, path)
      ds.x.join(ds.obs.select("obs_id", "grade"), "obs_id")
        .groupBy("grade")
        .agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
        .orderBy("grade")
    }),

    // v3 SHARDED append: a24's closed forms on a sharding_indexed store
    // — appendRows re-encodes the boundary SHARD (committed prefix +
    // new gzip'd inner chunks + fresh crc32c index) and emits new whole
    // shards; pre-boundary shards are untouched (spec-pinned mtimes) —
    // the long-running-ingest shape for the object-count-bounded layout
    "a28_zarr_v3_append" -> ((spark, _) => {
      val path = appendedZarrV3(spark)
      val ds = graft.zarr.AnnZarr.open(spark, path)
      ds.x.join(ds.obs.select("obs_id", "batch"), "obs_id")
        .groupBy("batch")
        .agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
        .orderBy("batch")
    }),

    // h5ad write-side ENCODING parity (the HDF5 twin of a25): a dense
    // rank-2 chunked obsm slot + a categorical obs column written into
    // a real .h5ad, reopened through the native reader — the encodings
    // h5py/anndata would have produced, not csr/string degradations
    "a30_h5ad_encoding_roundtrip" -> ((spark, _) => {
      val path = writtenH5adEncoded(spark)
      val ds = graft.h5.AnnH5.open(spark, path)
      ds.obsm("X_pca")
        .join(ds.obs.select("obs_id", "cell_type"), "obs_id")
        .groupBy("cell_type")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .orderBy("cell_type")
    }),

    // DENSE-X append: rows append to a dense `array` chunk grid by
    // chunk-row band — tasks merge the boundary band's existing objects
    // with new elements and write new bands (the streaming-embedding-
    // matrix ingest shape); the reopened FULL grid (implicit zeros
    // included) aggregates per batch
    "a29_zarr_dense_append" -> ((spark, _) => {
      val path = appendedZarrDense(spark)
      val ds = graft.zarr.AnnZarr.open(spark, path)
      ds.x.join(ds.obs.select("obs_id", "batch"), "obs_id")
        .groupBy("batch")
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .orderBy("batch")
    }),

    // STORE MIGRATION: the committed v2 fixture rewritten v3-SHARDED
    // via migrate() — encodings detected from the source (dense slots
    // stay dense, categorical columns stay categorical), reads and
    // writes both executor-parallel — then a12's exact query runs on
    // the MIGRATED store; same oracle, new layout
    "a35_zarr_migrate_v3" -> ((spark, _) => {
      val dst = migratedZarrV3(spark)
      val ds = graft.zarr.AnnZarr.open(spark, dst)
      ds.subsetObs(col("n_genes") < 25)
        .subsetVars(col("highly_variable") === 1)
        .perVarStats
        .select(col("var_name"), col("n_obs"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("var_name")
    }),

    // MuData .h5mu SINK: writeMu lays out mod/rna + mod/adt in ONE real
    // HDF5 file with the MuData root encoding (what mudata-python's
    // write_h5mu produces) — reopened through the native openMu; the
    // write twin of a08's read, same closed forms as a32's zarr flavor
    "a34_mudata_h5mu_sink" -> ((spark, _) => {
      val path = writtenMuH5(spark)
      val mods = graft.h5.AnnH5.openMu(spark, path)
      mods.toSeq.sortBy(_._1).map { case (nm, ds) =>
        ds.x.agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
          .select(lit(nm).as("modality"), col("nnz"), col("sum_value"))
      }.reduce(_ unionByName _).orderBy("modality")
    }),

    // SpatialData-on-zarr SINK: one write() lays out tables/ (anndata,
    // executor-parallel) + points/ (distributed parquet + NGFF attrs) +
    // images//labels/ (NGFF multiscales, stride pyramid, chunk-parallel
    // writes) under spatialdata_attrs — reopened through the native
    // reader, one typed row per element kind
    "a33_spatial_zarr_sink" -> ((spark, _) => {
      val path = writtenSpatialZarr(spark)
      val sd = graft.zarr.SpatialZarr.open(spark, path)
      def row(slot: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
          .select(lit(slot).as("slot"), col("n"), col("sum_value"))
      val t = sd.tables("table")
      Seq(
        row("image_l0", sd.images("cells").coo(spark, 0)),
        row("image_l1", sd.images("cells").coo(spark, 1)),
        row("labels", sd.labels("segmentation").coo(spark, 0)),
        row("points", sd.points("transcripts")
          .select((col("x") + col("y")).as("value"))),
        row("table_x", t.x))
        .reduce(_ unionByName _).orderBy("slot")
    }),

    // MuData-on-zarr SINK: one writeMu call lays out mod/rna + mod/adt
    // with the MuData root encoding (what mudata-python produces),
    // root-consolidated so the whole container reopens in 1-2 metadata
    // GETs — the write twin of a08's h5mu read
    "a32_mudata_zarr_sink" -> ((spark, _) => {
      val path = writtenMuZarr(spark)
      val mods = graft.zarr.AnnZarr.openMu(spark, path)
      mods.toSeq.sortBy(_._1).map { case (nm, ds) =>
        ds.x.agg(count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
          .select(lit(nm).as("modality"), col("nnz"), col("sum_value"))
      }.reduce(_ unionByName _).orderBy("modality")
    }),

    // aux-slot APPEND: a store carrying a csr layer and a dense obsm
    // extends ALL obs-aligned slots with the appended rows (each routed
    // to the same boundary-object strategy as X) — the full-AnnData
    // incremental-ingest shape; aggregates join the layer against the
    // grown obs axis
    "a31_zarr_aux_append" -> ((spark, _) => {
      val path = appendedZarrAux(spark)
      val ds = graft.zarr.AnnZarr.open(spark, path)
      val logAgg = ds.layers("log")
        .join(ds.obs.select("obs_id", "batch"), "obs_id")
        .groupBy("batch")
        .agg(count(lit(1)).as("layer_nnz"),
          sum(col("value")).as("layer_sum"))
      val pcaAgg = ds.obsm("X_pca")
        .join(ds.obs.select("obs_id", "batch"), "obs_id")
        .groupBy("batch")
        .agg(sum(col("value")).as("pca_sum"))
      logAgg.join(pcaAgg, "batch").orderBy("batch")
    }),

    // native multi-member COLLECTION open: three .zarr members (one v3
    // sharded) registered in the catalog, opened as ONE union through
    // ArtifactStore.open with `_source_path` provenance — the
    // ArtifactSet.open analog over native stores instead of parquet
    "a27_collection_union_native" -> ((spark, _) => {
      val coo = collectionUnionZarr(spark)
      coo.withColumn("member",
          regexp_extract(col("_source_path"), "m(\\d)\\.zarr", 1).cast("long"))
        .groupBy("member")
        .agg(countDistinct(col("obs_id")).as("n_obs"),
          count(lit(1)).as("nnz"), sum(col("value")).as("sum_value"))
        .orderBy("member")
    })
  )

  /** The a17 closed forms for global rows [lo, hi): obs with a local
    * `obs_id`, `obs_name` = 'c'||i and `extraObs(i)` (default
    * `batch` = i%6); vars 'g'||j for j < nVars; csr X with mask
    * (i*5+j*3)%7==0 and value ((i*11+j*29)%53)*0.5 — where i is the
    * global row, `lo` + the local `obs_id`.
    */
  private def closedForm(spark: SparkSession, lo: Long, hi: Long, nVars: Int,
                         extraObs: Column => Column = i => (i % 6).cast("long").as("batch"))
      : (DataFrame, DataFrame, DataFrame) = {
    val obs = spark.range(hi - lo).select(col("id").as("obs_id"),
      concat(lit("c"), col("id") + lo).as("obs_name"), extraObs(col("id") + lo))
    val vars = spark.range(nVars).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(hi - lo).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nVars).select(col("id").as("var_id")))
      .filter(((col("obs_id") + lo) * 5 + col("var_id") * 3) % 7 === 0)
      .withColumn("value", ((col("obs_id") + lo) * 11 + col("var_id") * 29) % 53 * 0.5)
    (obs, vars, x)
  }

  /** a17 sink fixture: same closed forms as a07 (240x32, mask
    * (i*5+j*3)%7==0, value ((i*11+j*29)%53)*0.5, batch i%6) but written
    * through the executor-parallel zarr sink, chunked small enough
    * (512 elems) that the csr slots span several chunk objects.
    */
  private def writtenZarr(spark: SparkSession): String =
    written.getOrElseUpdate("zarr", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "rt.zarr").toString
      val (obs, vars, x) = closedForm(spark, 0, 240, 32)
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs, vars, x), p, chunkElems = 512)
      p
    })

  /** a25 fixture: 240 obs, categorical cell_type = 'type_'||(i%5), a
    * DENSE 240x4 obsm/X_pca with mask (i+k)%3==0 value ((i*7+k*5)%17)*0.5
    * (implicit zeros elsewhere), a17's csr X alongside.
    */
  private def writtenZarrEncoded(spark: SparkSession): String =
    written.getOrElseUpdate("zarr_encoded", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "enc.zarr").toString
      val (obs, vars, x) = closedForm(spark, 0, 240, 32,
        i => concat(lit("type_"), i % 5).as("cell_type"))
      val pca = spark.range(240).select(col("id").as("obs_id"))
        .crossJoin(spark.range(4).select(col("id").as("dim_id")))
        .filter((col("obs_id") + col("dim_id")) % 3 === 0)
        .withColumn("value", (col("obs_id") * 7 + col("dim_id") * 5) % 17 * 0.5)
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs, vars, x, obsm = Map("X_pca" -> pca)),
        p, chunkElems = 512,
        denseSlots = Set("obsm/X_pca"),
        categoricalCols = Set("obs/cell_type"))
      p
    })

  /** a26 fixture: a17's closed forms with a categorical `grade` column —
    * 140 rows written ('type_'||(i%5)), 100 rows APPENDED carrying the
    * unseen categories 'late_'||(i%2).
    */
  private def appendedZarrCategorical(spark: SparkSession): String =
    written.getOrElseUpdate("zarr_cat_append", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "cat.zarr").toString
      def slice(lo: Long, hi: Long) = closedForm(spark, lo, hi, 32, i =>
        when(i < 140, concat(lit("type_"), i % 5))
          .otherwise(concat(lit("late_"), i % 2)).as("grade"))
      val (obs0, vars, x0) = slice(0, 140)
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs0, vars, x0), p, chunkElems = 256,
        categoricalCols = Set("obs/grade"))
      val (obs1, _, x1) = slice(140, 240)
      graft.zarr.AnnZarrWriter.appendRows(obs1, x1, p)
      p
    })

  /** a27 fixture: three member stores (member 2 v3-SHARDED), registered
    * as catalog artifacts and opened through [[ArtifactStore.open]] as
    * one union. Member m: 80x16, mask (i*3+j+m)%5==0, value
    * ((i*7+j*11+m*13)%23)*0.5.
    */
  private def collectionUnionZarr(spark: SparkSession): DataFrame = {
    val root = written.getOrElseUpdate("zarr_collection", synchronized {
      val r = LifecycleQueries.TempRoot.dir("graft_coll")
      (0 until 3).foreach { m =>
        val obs = spark.range(80).select(col("id").as("obs_id"),
          concat(lit("c"), col("id")).as("obs_name"))
        val vars = spark.range(16).select(col("id").as("var_id"),
          concat(lit("g"), col("id")).as("var_name"))
        val x = spark.range(80).select(col("id").as("obs_id"))
          .crossJoin(spark.range(16).select(col("id").as("var_id")))
          .filter((col("obs_id") * 3 + col("var_id") + m) % 5 === 0)
          .withColumn("value",
            (col("obs_id") * 7 + col("var_id") * 11 + m * 13) % 23 * 0.5)
        graft.zarr.AnnZarrWriter.write(
          graft.artifact.AnnDataset(obs, vars, x), s"$r/m$m.zarr",
          chunkElems = 128, v3 = m == 2, shardFactor = 4)
      }
      r
    })
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    (0 until 3).foreach(m =>
      store.registerPath(s"$root/m$m.zarr", s"coll/m$m.zarr", root))
    store.open(cat.table("artifact")
      .filter(col("key").startsWith("coll/")))
  }

  /** Committed native-zarr fixture (tools/gen_zarr.py — closed-form
    * content; the oracles recompute from range()).
    */
  private def zarrFixture: String =
    Seq("fixtures/zarr/pbmc.zarr", "/root/repo/fixtures/zarr/pbmc.zarr")
      .find(p => new java.io.File(p).exists)
      .getOrElse(sys.error("zarr fixture missing; run tools/gen_zarr.py"))

  /** a24 fixture: a17's closed forms built in TWO passes — rows 0..159
    * written, rows 160..239 appended via [[graft.zarr.AnnZarrWriter.appendRows]]
    * (local obs ids; values keyed by the GLOBAL row formula).
    */
  private def appendedZarr(spark: SparkSession): String =
    written.getOrElseUpdate("zarr_append", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "grow.zarr").toString
      val (obs0, vars, x0) = closedForm(spark, 0, 160, 32)
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs0, vars, x0), p, chunkElems = 256)
      val (obs1, _, x1) = closedForm(spark, 160, 240, 32)
      graft.zarr.AnnZarrWriter.appendRows(obs1, x1, p)
      p
    })

  /** a28 fixture: a24's two-pass closed forms on a v3 SHARDED store —
    * 160 rows written (64-elem inner chunks, 4 per shard), 80 appended
    * via the format-routed [[graft.zarr.AnnZarrWriter.appendRows]].
    */
  private def appendedZarrV3(spark: SparkSession): String =
    written.getOrElseUpdate("zarr_v3_append", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "grow3.zarr").toString
      val (obs0, vars, x0) = closedForm(spark, 0, 160, 32)
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs0, vars, x0), p, chunkElems = 64,
        v3 = true, shardFactor = 4)
      val (obs1, _, x1) = closedForm(spark, 160, 240, 32)
      graft.zarr.AnnZarrWriter.appendRows(obs1, x1, p)
      p
    })

  /** a30 fixture: a25's closed forms written into a real .h5ad —
    * dense 240x4 obsm/X_pca (rank-2 deflate-chunked dataset),
    * categorical obs/cell_type (codes + categories group).
    */
  private def writtenH5adEncoded(spark: SparkSession): String =
    written.getOrElseUpdate("h5ad_encoded", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "enc.h5ad").toString
      val (obs, vars, x) = closedForm(spark, 0, 240, 32,
        i => concat(lit("type_"), i % 5).as("cell_type"))
      val pca = spark.range(240).select(col("id").as("obs_id"))
        .crossJoin(spark.range(4).select(col("id").as("dim_id")))
        .filter((col("obs_id") + col("dim_id")) % 3 === 0)
        .withColumn("value", (col("obs_id") * 7 + col("dim_id") * 5) % 17 * 0.5)
      graft.h5.AnnH5Writer.write(
        graft.artifact.AnnDataset(obs, vars, x, obsm = Map("X_pca" -> pca)),
        p, chunkElems = 512,
        denseSlots = Set("obsm/X_pca"),
        categoricalCols = Set("obs/cell_type"))
      p
    })

  /** a35 fixture: the committed pbmc.zarr v2 fixture migrated to a
    * v3-sharded store (64-elem inner chunks, 4 per shard).
    */
  private def migratedZarrV3(spark: SparkSession): String =
    written.getOrElseUpdate("zarr_migrated", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "migrated3.zarr").toString
      graft.zarr.AnnZarrWriter.migrate(spark, zarrFixture, p,
        chunkElems = 64, v3 = true, shardFactor = 4)
      p
    })

  /** a34 fixture: a32's two modalities written as a real .h5mu. */
  private def writtenMuH5(spark: SparkSession): String =
    written.getOrElseUpdate("mu_h5", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "mu.h5mu").toString
      def mod(nV: Int, mask: (Column, Column) => Column,
              value: (Column, Column) => Column) = {
        val obs = spark.range(180).select(col("id").as("obs_id"),
          concat(lit("c"), col("id")).as("obs_name"))
        val vars = spark.range(nV).select(col("id").as("var_id"),
          concat(lit("g"), col("id")).as("var_name"))
        val x = spark.range(180).select(col("id").as("obs_id"))
          .crossJoin(spark.range(nV).select(col("id").as("var_id")))
          .filter(mask(col("obs_id"), col("var_id")))
          .withColumn("value", value(col("obs_id"), col("var_id")))
        graft.artifact.AnnDataset(obs, vars, x)
      }
      graft.h5.AnnH5Writer.writeMu(Map(
        "rna" -> mod(24, (i, j) => (i * 3 + j) % 5 === 0,
          (i, j) => (i * 7 + j * 11) % 31 * 0.5),
        "adt" -> mod(8, (_, _) => lit(true),
          (i, j) => (i * 13 + j * 3) % 23 * 0.25)), p, chunkElems = 512)
      p
    })

  /** a33 fixture: a writer-produced SpatialData container — table
    * 100x10 (mask (i+j)%3==0, value ((i*2+j)%7)*0.5), 800 points
    * (x=(p*37%640)*0.25, y=(p*53%480)*0.25, gene g(p%25)), image
    * (2,32,32) u1 value (c*31+y*7+x*3)%256 with a 2-stride level 1,
    * labels (32,32) i4 value (y//8)*4+(x//8).
    */
  private def writtenSpatialZarr(spark: SparkSession): String =
    written.getOrElseUpdate("spatial_zarr", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "sd.zarr").toString
      val obs = spark.range(100).select(col("id").as("obs_id"),
        concat(lit("cell"), col("id")).as("obs_name"))
      val vars = spark.range(10).select(col("id").as("var_id"),
        concat(lit("gene"), col("id")).as("var_name"))
      val x = spark.range(100).select(col("id").as("obs_id"))
        .crossJoin(spark.range(10).select(col("id").as("var_id")))
        .filter((col("obs_id") + col("var_id")) % 3 === 0)
        .withColumn("value", (col("obs_id") * 2 + col("var_id")) % 7 * 0.5)
      val pts = spark.range(800).select(
        (col("id") * 37 % 640 * 0.25).as("x"),
        (col("id") * 53 % 480 * 0.25).as("y"),
        concat(lit("g"), col("id") % 25).as("gene"))
      val img = spark.range(2).select(col("id").as("c"))
        .crossJoin(spark.range(32).select(col("id").as("y")))
        .crossJoin(spark.range(32).select(col("id").as("x")))
        .withColumn("value", (col("c") * 31 + col("y") * 7 + col("x") * 3) % 256)
      val seg = spark.range(32).select(col("id").as("y"))
        .crossJoin(spark.range(32).select(col("id").as("x")))
        .withColumn("value",
          floor(col("y") / 8).cast("long") * 4 + floor(col("x") / 8).cast("long"))
      graft.zarr.SpatialZarrWriter.write(spark, p,
        tables = Map("table" -> graft.artifact.AnnDataset(obs, vars, x)),
        points = Map("transcripts" -> pts),
        images = Map("cells" -> graft.zarr.SpatialZarrWriter.ImageSpec(
          img, Seq("c", "y", "x"), Seq(2L, 32L, 32L), Seq(1, 16, 16),
          dtype = "|u1", levels = 2)),
        labels = Map("segmentation" -> graft.zarr.SpatialZarrWriter.ImageSpec(
          seg, Seq("y", "x"), Seq(32L, 32L), Seq(16, 16), dtype = "<i4")))
      p
    })

  /** a32 fixture: two modalities — rna 180x24, mask (i*3+j)%5==0,
    * value ((i*7+j*11)%31)*0.5; adt 180x8, all cells,
    * value ((i*13+j*3)%23)*0.25 — in one writeMu container.
    */
  private def writtenMuZarr(spark: SparkSession): String =
    written.getOrElseUpdate("mu_zarr", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "mu.zarr").toString
      def mod(nV: Int, mask: (Column, Column) => Column,
              value: (Column, Column) => Column) = {
        val obs = spark.range(180).select(col("id").as("obs_id"),
          concat(lit("c"), col("id")).as("obs_name"))
        val vars = spark.range(nV).select(col("id").as("var_id"),
          concat(lit("g"), col("id")).as("var_name"))
        val x = spark.range(180).select(col("id").as("obs_id"))
          .crossJoin(spark.range(nV).select(col("id").as("var_id")))
          .filter(mask(col("obs_id"), col("var_id")))
          .withColumn("value", value(col("obs_id"), col("var_id")))
        graft.artifact.AnnDataset(obs, vars, x)
      }
      graft.zarr.AnnZarrWriter.writeMu(Map(
        "rna" -> mod(24, (i, j) => (i * 3 + j) % 5 === 0,
          (i, j) => (i * 7 + j * 11) % 31 * 0.5),
        "adt" -> mod(8, (_, _) => lit(true),
          (i, j) => (i * 13 + j * 3) % 23 * 0.25)), p, chunkElems = 512)
      p
    })

  /** a31 fixture: 140 rows written with a csr layers/log (mask
    * (i+j)%4==1, value ((i*5+j*3)%13)*0.25 over 32 vars) and a DENSE
    * 240x4 obsm/X_pca (mask (i+k)%2==0, value ((i*7+k*11)%19)*0.5),
    * then 100 rows appended across ALL slots; batch = i%6.
    */
  private def appendedZarrAux(spark: SparkSession): String =
    written.getOrElseUpdate("zarr_aux_append", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "aux.zarr").toString
      def slice(lo: Long, hi: Long) = {
        val (obs, vars, x) = closedForm(spark, lo, hi, 32)
        val log = spark.range(hi - lo).select(col("id").as("obs_id"))
          .crossJoin(spark.range(32).select(col("id").as("var_id")))
          .filter((col("obs_id") + lo + col("var_id")) % 4 === 1)
          .withColumn("value",
            ((col("obs_id") + lo) * 5 + col("var_id") * 3) % 13 * 0.25)
        val pca = spark.range(hi - lo).select(col("id").as("obs_id"))
          .crossJoin(spark.range(4).select(col("id").as("dim_id")))
          .filter((col("obs_id") + lo + col("dim_id")) % 2 === 0)
          .withColumn("value",
            ((col("obs_id") + lo) * 7 + col("dim_id") * 11) % 19 * 0.5)
        (obs, vars, x, log, pca)
      }
      val (obs0, vars, x0, log0, pca0) = slice(0, 140)
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs0, vars, x0,
          layers = Map("log" -> log0), obsm = Map("X_pca" -> pca0)),
        p, chunkElems = 256, denseSlots = Set("obsm/X_pca"))
      val (obs1, _, x1, log1, pca1) = slice(140, 240)
      graft.zarr.AnnZarrWriter.appendRows(obs1, x1, p,
        newLayers = Map("log" -> log1), newObsm = Map("X_pca" -> pca1))
      p
    })

  /** a29 fixture: a DENSE 240x4 X (mask (i+k)%3==0, value
    * ((i*7+k*5)%17)*0.5, batch i%6) built in TWO passes — 140 rows
    * written via `denseSlots`, 100 rows appended by chunk-row band.
    */
  private def appendedZarrDense(spark: SparkSession): String =
    written.getOrElseUpdate("zarr_dense_append", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "dense.zarr").toString
      def slice(lo: Long, hi: Long) = (
        spark.range(hi - lo).select(col("id").as("obs_id"),
          concat(lit("c"), col("id") + lo).as("obs_name"),
          ((col("id") + lo) % 6).cast("long").as("batch")),
        spark.range(hi - lo).select(col("id").as("obs_id"))
          .crossJoin(spark.range(4).select(col("id").as("var_id")))
          .filter((col("obs_id") + lo + col("var_id")) % 3 === 0)
          .withColumn("value",
            ((col("obs_id") + lo) * 7 + col("var_id") * 5) % 17 * 0.5))
      val vars = spark.range(4).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name"))
      val (obs0, x0) = slice(0, 140)
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs0, vars, x0), p, chunkElems = 256,
        denseSlots = Set("X"))
      val (obs1, x1) = slice(140, 240)
      graft.zarr.AnnZarrWriter.appendRows(obs1, x1, p)
      p
    })

  /** a23 sink fixture: a17's closed forms written as a v3 SHARDED store
    * (128-elem inner chunks, 4 per shard — several shard objects).
    */
  private def writtenZarrV3(spark: SparkSession): String =
    written.getOrElseUpdate("zarr_v3", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "rt3.zarr").toString
      val (obs, vars, x) = closedForm(spark, 0, 240, 32)
      graft.zarr.AnnZarrWriter.write(
        graft.artifact.AnnDataset(obs, vars, x), p, chunkElems = 128,
        v3 = true, shardFactor = 4)
      p
    })

  /** Committed spatialdata fixture (tools/gen_spatial_zarr.py). */
  private def spatialFixture: String =
    Seq("fixtures/zarr/spatial.zarr", "/root/repo/fixtures/zarr/spatial.zarr")
      .find(p => new java.io.File(p).exists)
      .getOrElse(sys.error("spatial fixture missing; run tools/gen_spatial_zarr.py"))

  /** Committed zarr v3 fixture (tools/gen_zarr_v3.py — same closed forms). */
  private def zarrV3Fixture: String =
    Seq("fixtures/zarr/pbmc_v3.zarr", "/root/repo/fixtures/zarr/pbmc_v3.zarr")
      .find(p => new java.io.File(p).exists)
      .getOrElse(sys.error("zarr v3 fixture missing; run tools/gen_zarr_v3.py"))

  /** One typed row per aux slot: uns entries via [[graft.h5.AnnH5.flattenUns]],
    * varm/obsp/raw-X as (count, sum) aggregates, raw/var as a row count.
    */
  private def slotSummary(spark: SparkSession, ds: graft.artifact.AnnDataset): DataFrame = {
    import spark.implicits._
    val unsDf = graft.h5.AnnH5.flattenUns(ds.uns).toDF("slot", "n", "sum_value")
    def agg(slot: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .select(lit(slot).as("slot"), col("n"), col("sum_value"))
    val matrixDfs =
      ds.varm.toSeq.sortBy(_._1).map { case (k, m) => agg(s"varm/$k", m) } ++
        ds.obsp.toSeq.sortBy(_._1).map { case (k, m) => agg(s"obsp/$k", m) } ++
        ds.raw.toSeq.flatMap { r =>
          Seq(agg("raw/X", r.x),
            r.vars.agg(count(lit(1)).as("n"))
              .select(lit("raw/var").as("slot"), col("n"),
                lit(null).cast("double").as("sum_value")))
        }
    matrixDfs.foldLeft(unsDf)(_ unionByName _).orderBy("slot")
  }

  /** a14 sink fixture: every aux slot closed-form —
    * varm.emb[j,k] = ((j*3+k*5)%19)*0.5 (32×4, all cells explicit),
    * obsp.knn mask (i+2j)%41==0, value ((i*2+j)%11)*0.5 (240×240),
    * uns {seed 7, note "hello", weights [0.5,1.0,1.5], opts{lr 0.5, steps 100}},
    * raw: 48 vars ('rg'||j), X mask (i+2j)%9==0, value ((i*13+j*7)%31)*0.5.
    */
  private def writtenSlotsH5ad(spark: SparkSession): String =
    written.getOrElseUpdate("slots", synchronized {
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "slots.h5ad")
      val (obs, vars, x) = closedForm(spark, 0, 240, 32)
      val emb = spark.range(32).select(col("id").as("var_id"))
        .crossJoin(spark.range(4).select(col("id").as("dim_id")))
        .withColumn("value", (col("var_id") * 3 + col("dim_id") * 5) % 19 * 0.5)
      val knn = spark.range(240).select(col("id").as("obs_id"))
        .crossJoin(spark.range(240).select(col("id").as("obs_id_2")))
        .filter((col("obs_id") + col("obs_id_2") * 2) % 41 === 0)
        .withColumn("value", (col("obs_id") * 2 + col("obs_id_2")) % 11 * 0.5)
      val rawVars = spark.range(48).select(col("id").as("var_id"),
        concat(lit("rg"), col("id")).as("var_name"))
      val rawX = spark.range(240).select(col("id").as("obs_id"))
        .crossJoin(spark.range(48).select(col("id").as("var_id")))
        .filter((col("obs_id") + col("var_id") * 2) % 9 === 0)
        .withColumn("value", (col("obs_id") * 13 + col("var_id") * 7) % 31 * 0.5)
      import graft.artifact.UnsValue._
      graft.h5.AnnH5Writer.write(
        graft.artifact.AnnDataset(obs, vars, x,
          varm = Map("emb" -> emb),
          obsp = Map("knn" -> knn),
          uns = Map(
            "seed" -> Scalar(7L),
            "note" -> Scalar("hello"),
            "weights" -> Arr(Seq(0.5, 1.0, 1.5)),
            "opts" -> Mapping(Map("lr" -> Scalar(0.5), "steps" -> Scalar(100L)))),
          raw = Some(graft.artifact.RawSlots(rawVars, rawX))),
        p.toString)
      p.toString
    })

  private val written = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Sink fixture: written once per (process); the a17 closed forms,
    * mirrored by the a07 oracle.
    */
  private def writtenH5ad(spark: SparkSession): String =
    written.getOrElseUpdate("x", synchronized {
      // under the shutdown-cleaned run root like the lifecycle fixtures
      val p = java.nio.file.Paths.get(
        LifecycleQueries.TempRoot.dir("graft_sink"), "rt.h5ad")
      val (obs, vars, x) = closedForm(spark, 0, 240, 32)
      graft.h5.AnnH5Writer.write(
        graft.artifact.AnnDataset(obs, vars, x), p.toString)
      p.toString
    })

  val oracle: Map[String, String] = Map(
    "a01_anndata_obs_filter" ->
      """WITH x AS (
        |  SELECT vec_id AS obs_id, generate_subscripts(embedding, 1) - 1 AS var_id,
        |         unnest(CAST(embedding AS DOUBLE[])) AS value
        |  FROM embeddings),
        |sel AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 500)
        |SELECT 'g' || lpad(CAST(x.var_id AS VARCHAR), 2, '0') AS var_name,
        |       count(*) AS n_obs,
        |       round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE), 6) AS sum_value
        |FROM x JOIN sel ON x.obs_id = sel.doc_id
        |GROUP BY 1 ORDER BY var_name""".stripMargin,

    "a02_anndata_var_slice" -> {
      val cols = (0 until 8).map(i =>
        s"max(CASE WHEN var_id = $i THEN value END) AS g0$i").mkString(", ")
      s"""WITH x AS (
         |  SELECT vec_id AS obs_id, generate_subscripts(embedding, 1) - 1 AS var_id,
         |         unnest(CAST(embedding AS DOUBLE[])) AS value
         |  FROM embeddings),
         |sel AS (SELECT doc_id FROM documents WHERE source = 'src3')
         |SELECT obs_id, $cols
         |FROM x JOIN sel ON x.obs_id = sel.doc_id
         |WHERE var_id < 8 GROUP BY obs_id ORDER BY obs_id""".stripMargin
    },

    "a03_anndata_append" ->
      // replica of the append reindex: appended obs get sequential ids
      // starting at max(base obs_id)+1 in incoming-id order; per-obs X
      // entry counts follow the same mapping; the no-op second append
      // contributes nothing (replayed here by simply not appending twice)
      """WITH base_obs AS (
        |  SELECT doc_id AS obs_id, lang, source, n_chars FROM documents WHERE doc_id % 10 < 8),
        |off AS (SELECT max(obs_id) + 1 AS o FROM base_obs),
        |app_obs AS (
        |  SELECT (SELECT o FROM off) + row_number() OVER (ORDER BY doc_id) - 1 AS obs_id,
        |         lang, source, n_chars, doc_id AS src_id
        |  FROM documents WHERE doc_id % 10 >= 8),
        |base_x AS (
        |  SELECT vec_id AS obs_id, 64 AS n_x FROM embeddings WHERE vec_id % 10 < 8),
        |app_x AS (
        |  SELECT a.obs_id, 64 AS n_x FROM embeddings e JOIN app_obs a ON e.vec_id = a.src_id),
        |obs AS (
        |  SELECT obs_id, lang, source, n_chars FROM base_obs
        |  UNION ALL SELECT obs_id, lang, source, n_chars FROM app_obs),
        |xc AS (SELECT * FROM base_x UNION ALL SELECT * FROM app_x)
        |SELECT obs.obs_id, lang, source, n_chars,
        |       CAST(coalesce(xc.n_x, 0) AS BIGINT) AS n_x
        |FROM obs LEFT JOIN xc USING (obs_id) ORDER BY obs.obs_id""".stripMargin,

    // the h5ad fixtures are closed-form (tools/gen_h5ad.py); the oracle
    // recomputes the same content from range() — any HDF5 parse defect
    // (chunk scatter, heap string, categorical code, csr row mapping)
    // breaks the hash
    "a04_h5ad_obs" ->
      """SELECT 'type_' || (i % 5) AS cell_type,
        |       count(*) AS n_obs,
        |       CAST(sum((i*37 % 1000) + 0.5) AS DOUBLE) AS sum_counts
        |FROM range(300) t(i) GROUP BY 1 ORDER BY 1""".stripMargin,

    "a05_h5ad_x_colsum" ->
      """SELECT 'gene_' || j AS var_name, count(*) AS n_obs,
        |       CAST(sum(((i*31 + j*17) % 97) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(300) t(i), range(40) s(j)
        |WHERE j % 3 = 0 GROUP BY j ORDER BY var_name""".stripMargin,

    "a06_h5ad_csr_rows" ->
      """SELECT i % 10 AS obs_bucket, count(*) AS nnz,
        |       CAST(sum(((i*31 + j*17) % 97) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(300) t(i), range(40) s(j)
        |WHERE (i*7 + j*13) % 5 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    "a07_h5ad_sink_roundtrip" ->
      """SELECT i % 6 AS batch, count(*) AS nnz,
        |       CAST(sum(((i*11 + j*29) % 53) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(32) s(j)
        |WHERE (i*5 + j*3) % 7 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the dense fixture's uns/varm/obsp/raw closed forms (tools/gen_h5ad.py)
    "a13_h5ad_uns_varm" ->
      """WITH rows AS (
        |  SELECT 'uns/n_bins' AS slot, 1::BIGINT AS n, CAST(42.0 AS DOUBLE) AS sum_value
        |  UNION ALL SELECT 'uns/params/alpha', 1, 0.75
        |  UNION ALL SELECT 'uns/params/method:lognorm', 1, NULL
        |  UNION ALL SELECT 'uns/rank_scores', 10,
        |    (SELECT CAST(sum((k*k % 17) * 0.5) AS DOUBLE) FROM range(10) t(k))
        |  UNION ALL SELECT 'uns/version:v1.2.3', 1, NULL
        |  UNION ALL SELECT 'varm/PCs',
        |    (SELECT count(*) FROM range(40) a(j), range(6) b(k)),
        |    (SELECT CAST(sum(((j*13 + k*7) % 41) * 0.5) AS DOUBLE)
        |     FROM range(40) a(j), range(6) b(k))
        |  UNION ALL SELECT 'obsp/connectivities',
        |    (SELECT count(*) FROM range(300) a(i), range(300) b(j)
        |     WHERE (i*3 + j*11) % 97 = 0),
        |    (SELECT CAST(sum(((i + j) % 13) * 0.5) AS DOUBLE)
        |     FROM range(300) a(i), range(300) b(j) WHERE (i*3 + j*11) % 97 = 0)
        |  UNION ALL SELECT 'raw/X',
        |    (SELECT count(*) FROM range(300) a(i), range(50) b(j)
        |     WHERE (i*3 + j*7) % 5 = 0),
        |    (SELECT CAST(sum(((i*7 + j*11) % 23) * 0.5) AS DOUBLE)
        |     FROM range(300) a(i), range(50) b(j) WHERE (i*3 + j*7) % 5 = 0)
        |  UNION ALL SELECT 'raw/var', 50, NULL)
        |SELECT slot, n, sum_value FROM rows ORDER BY slot""".stripMargin,

    // a14 writes the closed-form slots through AnnH5Writer and reopens
    // them natively; the oracle recomputes the same forms from range()
    "a14_h5ad_slots_roundtrip" ->
      """WITH rows AS (
        |  SELECT 'uns/note:hello' AS slot, 1::BIGINT AS n, CAST(NULL AS DOUBLE) AS sum_value
        |  UNION ALL SELECT 'uns/opts/lr', 1, 0.5
        |  UNION ALL SELECT 'uns/opts/steps', 1, 100.0
        |  UNION ALL SELECT 'uns/seed', 1, 7.0
        |  UNION ALL SELECT 'uns/weights', 3, 3.0
        |  UNION ALL SELECT 'varm/emb',
        |    (SELECT count(*) FROM range(32) a(j), range(4) b(k)),
        |    (SELECT CAST(sum(((j*3 + k*5) % 19) * 0.5) AS DOUBLE)
        |     FROM range(32) a(j), range(4) b(k))
        |  UNION ALL SELECT 'obsp/knn',
        |    (SELECT count(*) FROM range(240) a(i), range(240) b(j)
        |     WHERE (i + 2*j) % 41 = 0),
        |    (SELECT CAST(sum(((i*2 + j) % 11) * 0.5) AS DOUBLE)
        |     FROM range(240) a(i), range(240) b(j) WHERE (i + 2*j) % 41 = 0)
        |  UNION ALL SELECT 'raw/X',
        |    (SELECT count(*) FROM range(240) a(i), range(48) b(j)
        |     WHERE (i + 2*j) % 9 = 0),
        |    (SELECT CAST(sum(((i*13 + j*7) % 31) * 0.5) AS DOUBLE)
        |     FROM range(240) a(i), range(48) b(j) WHERE (i + 2*j) % 9 = 0)
        |  UNION ALL SELECT 'raw/var', 48, NULL)
        |SELECT slot, n, sum_value FROM rows ORDER BY slot""".stripMargin,

    "a09_h5ad_latest_layout" ->
      """SELECT 'type_' || (i % 5) AS cell_type,
        |       count(*) AS n_obs,
        |       CAST(sum((i*37 % 1000) + 0.5) AS DOUBLE) AS sum_counts
        |FROM range(300) t(i) GROUP BY 1 ORDER BY 1""".stripMargin,

    "a11_fcs_channels" ->
      // value[e][p] = ((e*7 + p*13) % 101) * 0.25 over 500 events,
      // channel order FSC/SSC/FL1/FL2 = p 0..3
      """WITH ch(channel, p) AS (VALUES
        |  ('FSC', 0), ('SSC', 1), ('FL1', 2), ('FL2', 3))
        |SELECT channel, count(*) AS n_events,
        |       CAST(sum(((e*7 + p*13) % 101) * 0.25) AS DOUBLE) AS sum_value
        |FROM ch, range(500) t(e)
        |GROUP BY channel ORDER BY channel""".stripMargin,

    "a10_h5ad_dsv2_scan" ->
      """SELECT j % 8 AS var_bucket, count(*) AS n,
        |       CAST(sum(((i*31 + j*17) % 97) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(100, 200) t(i), range(40) s(j)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // zarr fixture closed forms (tools/gen_zarr.py): X mask
    // (i*5+j*11)%23==0 value ((i*2+j*13)%19)*0.5, n_genes (i*7)%50,
    // highly_variable j%3==0
    "a12_zarr_native_scan" ->
      """SELECT 'gene' || j AS var_name, count(*) AS n_obs,
        |       CAST(sum(((i*2 + j*13) % 19) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(300) t(i), range(40) s(j)
        |WHERE (i*7) % 50 < 25 AND j % 3 = 0 AND (i*5 + j*11) % 23 = 0
        |GROUP BY j ORDER BY var_name""".stripMargin,

    // v3 fixture: identical closed forms + the crc32c'd score column
    // ((i*3)%11)*0.25 in the obs gate
    "a19_zarr_v3_scan" ->
      """SELECT 'gene' || j AS var_name, count(*) AS n_obs,
        |       CAST(sum(((i*2 + j*13) % 19) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(300) t(i), range(40) s(j)
        |WHERE (i*7) % 50 < 25 AND ((i*3) % 11) * 0.25 > 0.5
        |  AND j % 3 = 0 AND (i*5 + j*11) % 23 = 0
        |GROUP BY j ORDER BY var_name""".stripMargin,

    "a16_h5ad_dsv2_obs" ->
      """SELECT 'type_' || (i % 5) AS cell_type, count(*) AS n_obs,
        |       CAST(sum((i*37 % 1000) + 0.5) AS DOUBLE) AS sum_counts
        |FROM range(50, 250) t(i) GROUP BY 1 ORDER BY 1""".stripMargin,

    "a18_zarr_dsv2_scan" ->
      """SELECT j % 8 AS var_bucket, count(*) AS n,
        |       CAST(sum(((i*2 + j*13) % 19) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(100, 200) t(i), range(40) s(j)
        |WHERE (i*5 + j*11) % 23 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // spatial fixture closed forms (tools/gen_spatial_zarr.py):
    // table X mask (i*3+j*7)%11==0 value ((i+j*5)%13)*0.5, n_spots (i*11)%40
    "a20_spatial_table" ->
      """SELECT 'gene' || j AS var_name, count(*) AS n_obs,
        |       CAST(sum(((i + j*5) % 13) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(150) t(i), range(12) s(j)
        |WHERE (i*11) % 40 < 20 AND (i*3 + j*7) % 11 = 0
        |GROUP BY j ORDER BY var_name""".stripMargin,

    "a21_spatial_image_stats" ->
      """WITH rows AS (
        |  SELECT 'images/cells/c' || c AS slot, count(*) AS n,
        |         CAST(sum((c*31 + y*7 + x*3) % 256) AS DOUBLE) AS sum_value
        |  FROM range(3) a(c), range(64) b(y), range(64) d(x) GROUP BY c
        |  UNION ALL
        |  SELECT 'images/cells/l1', count(*),
        |         CAST(sum((c*31 + 2*y*7 + 2*x*3) % 256) AS DOUBLE)
        |  FROM range(3) a(c), range(32) b(y), range(32) d(x)
        |  UNION ALL
        |  SELECT 'labels/segmentation', count(*),
        |         CAST(sum((y // 8) * 8 + (x // 8)) AS DOUBLE)
        |  FROM range(64) b(y), range(64) d(x))
        |SELECT slot, CAST(n AS BIGINT) AS n, sum_value
        |FROM rows ORDER BY slot""".stripMargin,

    "a22_spatial_points" ->
      """SELECT 'g' || (p % 25) AS gene, count(*) AS n_points,
        |       CAST(sum((p*37 % 640)*0.25 + (p*53 % 480)*0.25) AS DOUBLE)
        |         AS sum_xy
        |FROM range(2000) t(p) GROUP BY 1 ORDER BY 1""".stripMargin,

    // same closed forms as a07, written through the zarr sink instead
    "a17_zarr_sink_roundtrip" ->
      """SELECT i % 6 AS batch, count(*) AS nnz,
        |       CAST(sum(((i*11 + j*29) % 53) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(32) s(j)
        |WHERE (i*5 + j*3) % 7 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // a17 closed forms built write-then-append
    "a24_zarr_append" ->
      """SELECT i % 6 AS batch, count(*) AS nnz,
        |       CAST(sum(((i*11 + j*29) % 53) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(32) s(j)
        |WHERE (i*5 + j*3) % 7 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // a24 closed forms on a v3 sharded store, grown via appendRows
    "a28_zarr_v3_append" ->
      """SELECT i % 6 AS batch, count(*) AS nnz,
        |       CAST(sum(((i*11 + j*29) % 53) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(32) s(j)
        |WHERE (i*5 + j*3) % 7 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // a12's closed forms on the MIGRATED v3 layout
    "a35_zarr_migrate_v3" ->
      """SELECT 'gene' || j AS var_name, count(*) AS n_obs,
        |       CAST(sum(((i*2 + j*13) % 19) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(300) t(i), range(40) s(j)
        |WHERE (i*7) % 50 < 25 AND j % 3 = 0 AND (i*5 + j*11) % 23 = 0
        |GROUP BY j ORDER BY var_name""".stripMargin,

    // same closed forms as a32, .h5mu container
    "a34_mudata_h5mu_sink" ->
      """SELECT 'adt' AS modality, count(*) AS nnz,
        |       CAST(sum(((i*13 + j*3) % 23) * 0.25) AS DOUBLE) AS sum_value
        |FROM range(180) t(i), range(8) s(j)
        |UNION ALL
        |SELECT 'rna', count(*),
        |       CAST(sum(((i*7 + j*11) % 31) * 0.5) AS DOUBLE)
        |FROM range(180) t(i), range(24) s(j)
        |WHERE (i*3 + j) % 5 = 0
        |ORDER BY modality""".stripMargin,

    // writer-produced container: one row per element kind; level 1 is
    // the 2-stride of level 0 (2*y, 2*x)
    "a33_spatial_zarr_sink" ->
      """WITH rows AS (
        |  SELECT 'image_l0' AS slot, count(*) AS n,
        |         CAST(sum((c*31 + y*7 + x*3) % 256) AS DOUBLE) AS sum_value
        |  FROM range(2) a(c), range(32) b(y), range(32) d(x)
        |  UNION ALL
        |  SELECT 'image_l1', count(*),
        |         CAST(sum((c*31 + 2*y*7 + 2*x*3) % 256) AS DOUBLE)
        |  FROM range(2) a(c), range(16) b(y), range(16) d(x)
        |  UNION ALL
        |  SELECT 'labels', count(*),
        |         CAST(sum((y // 8) * 4 + (x // 8)) AS DOUBLE)
        |  FROM range(32) b(y), range(32) d(x)
        |  UNION ALL
        |  SELECT 'points', count(*),
        |         CAST(sum((p*37 % 640)*0.25 + (p*53 % 480)*0.25) AS DOUBLE)
        |  FROM range(800) t(p)
        |  UNION ALL
        |  SELECT 'table_x', count(*),
        |         CAST(sum(((i*2 + j) % 7) * 0.5) AS DOUBLE)
        |  FROM range(100) t(i), range(10) s(j) WHERE (i + j) % 3 = 0)
        |SELECT slot, CAST(n AS BIGINT) AS n, sum_value
        |FROM rows ORDER BY slot""".stripMargin,

    // two modalities in one container, per-modality X aggregates
    "a32_mudata_zarr_sink" ->
      """SELECT 'adt' AS modality, count(*) AS nnz,
        |       CAST(sum(((i*13 + j*3) % 23) * 0.25) AS DOUBLE) AS sum_value
        |FROM range(180) t(i), range(8) s(j)
        |UNION ALL
        |SELECT 'rna', count(*),
        |       CAST(sum(((i*7 + j*11) % 31) * 0.5) AS DOUBLE)
        |FROM range(180) t(i), range(24) s(j)
        |WHERE (i*3 + j) % 5 = 0
        |ORDER BY modality""".stripMargin,

    // all obs-aligned slots grown by append: csr layer (sparse rows)
    // + dense obsm (full grid incl. zeros), joined per batch
    "a31_zarr_aux_append" ->
      """WITH lg AS (
        |  SELECT i % 6 AS batch, count(*) AS layer_nnz,
        |         CAST(sum(((i*5 + j*3) % 13) * 0.25) AS DOUBLE) AS layer_sum
        |  FROM range(240) t(i), range(32) s(j)
        |  WHERE (i + j) % 4 = 1 GROUP BY 1),
        |pc AS (
        |  SELECT i % 6 AS batch,
        |         CAST(sum(CASE WHEN (i + k) % 2 = 0
        |                       THEN ((i*7 + k*11) % 19) * 0.5 ELSE 0 END)
        |           AS DOUBLE) AS pca_sum
        |  FROM range(240) t(i), range(4) s(k) GROUP BY 1)
        |SELECT lg.batch, layer_nnz, layer_sum, pca_sum
        |FROM lg JOIN pc ON lg.batch = pc.batch ORDER BY 1""".stripMargin,

    // the h5ad twin of a25: same closed forms, HDF5 container
    "a30_h5ad_encoding_roundtrip" ->
      """SELECT 'type_' || (i % 5) AS cell_type, count(*) AS n,
        |       CAST(sum(CASE WHEN (i + k) % 3 = 0
        |                     THEN ((i*7 + k*5) % 17) * 0.5 ELSE 0 END)
        |         AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(4) s(k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // dense grid grown by row-band append; full-grid read with zeros
    "a29_zarr_dense_append" ->
      """SELECT i % 6 AS batch, count(*) AS n,
        |       CAST(sum(CASE WHEN (i + k) % 3 = 0
        |                     THEN ((i*7 + k*5) % 17) * 0.5 ELSE 0 END)
        |         AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(4) s(k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // a17 closed forms through the v3 sharded sink
    "a23_zarr_v3_sink_roundtrip" ->
      """SELECT i % 6 AS batch, count(*) AS nnz,
        |       CAST(sum(((i*11 + j*29) % 53) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(32) s(j)
        |WHERE (i*5 + j*3) % 7 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    "a15_zarr_slots" ->
      """WITH rows AS (
        |  SELECT 'X' AS slot,
        |    (SELECT count(*) FROM range(300) a(i), range(40) b(j)
        |     WHERE (i*5 + j*11) % 23 = 0) AS n,
        |    (SELECT CAST(sum(((i*2 + j*13) % 19) * 0.5) AS DOUBLE)
        |     FROM range(300) a(i), range(40) b(j)
        |     WHERE (i*5 + j*11) % 23 = 0) AS sum_value
        |  UNION ALL SELECT 'layers/log',
        |    (SELECT count(*) FROM range(300) a(i), range(40) b(j)),
        |    (SELECT CAST(sum(((i*17 + j*3) % 29) * 0.25) AS DOUBLE)
        |     FROM range(300) a(i), range(40) b(j))
        |  UNION ALL SELECT 'obsm/X_pca',
        |    (SELECT count(*) FROM range(300) a(i), range(5) b(k)),
        |    (SELECT CAST(sum(((i*13 + k*7) % 37) * 0.5) AS DOUBLE)
        |     FROM range(300) a(i), range(5) b(k))
        |  UNION ALL SELECT 'uns/flat', 6,
        |    (SELECT CAST(sum(k * 0.5) AS DOUBLE) FROM range(6) t(k))
        |  UNION ALL SELECT 'uns/method:zheng17', 1, NULL
        |  UNION ALL SELECT 'uns/n_bins', 1, 42.0
        |  UNION ALL SELECT 'uns/rank', 8,
        |    (SELECT CAST(sum(CASE WHEN k < 5 THEN (k*5 % 13) * 0.5
        |                          ELSE 9.0 END) AS DOUBLE) FROM range(8) t(k)))
        |SELECT slot, CAST(n AS BIGINT) AS n, sum_value
        |FROM rows ORDER BY slot""".stripMargin,

    "a08_h5mu_modalities" ->
      """SELECT 'adt' AS modality, count(*) AS nnz,
        |       CAST(sum(((i*19 + j*23) % 89) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(300) t(i), range(10) s(j)
        |UNION ALL
        |SELECT 'rna', count(*),
        |       CAST(sum(((i*31 + j*17) % 97) * 0.5) AS DOUBLE)
        |FROM range(300) t(i), range(40) s(j)
        |ORDER BY modality""".stripMargin,

    // dense obsm reads the FULL 240x4 grid (absent chunks = fill 0),
    // categorical cell_type decodes through codes+categories
    "a25_zarr_encoding_roundtrip" ->
      """SELECT 'type_' || (i % 5) AS cell_type, count(*) AS n,
        |       CAST(sum(CASE WHEN (i + k) % 3 = 0
        |                     THEN ((i*7 + k*5) % 17) * 0.5 ELSE 0 END)
        |         AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(4) s(k)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // rows >= 140 arrive via appendRows with unseen 'late_*' categories
    "a26_zarr_categorical_append" ->
      """SELECT CASE WHEN i < 140 THEN 'type_' || (i % 5)
        |            ELSE 'late_' || (i % 2) END AS grade,
        |       count(*) AS nnz,
        |       CAST(sum(((i*11 + j*29) % 53) * 0.5) AS DOUBLE) AS sum_value
        |FROM range(240) t(i), range(32) s(j)
        |WHERE (i*5 + j*3) % 7 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // three members, one union: member m contributes its own mask/value
    "a27_collection_union_native" ->
      """SELECT m AS member, count(DISTINCT i) AS n_obs, count(*) AS nnz,
        |       CAST(sum(((i*7 + j*11 + m*13) % 23) * 0.5) AS DOUBLE)
        |         AS sum_value
        |FROM range(3) r(m), range(80) t(i), range(16) s(j)
        |WHERE (i*3 + j + m) % 5 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
