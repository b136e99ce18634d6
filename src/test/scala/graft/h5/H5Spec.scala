package graft.h5

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native HDF5/h5ad reader against the committed fixtures.
  *
  * The fixtures (`tools/gen_h5ad.py`, independently written from the
  * public HDF5 spec) carry closed-form content, so every assertion here
  * pins the parse against arithmetic, not against the writer:
  *   obs._index[i] = "cell_i", cell_type = type_(i%5) categorical,
  *   n_counts[i] = (i*37 % 1000) + 0.5, sample[i] = s(i%7),
  *   var: gene_j / mean j*0.25 (f4) / highly_variable (j%3==0) i4,
  *   dense X[i,j] = ((i*31 + j*17) % 97) * 0.5 (chunked 64x16,
  *   shuffle+deflate, edge-clipped), csr mask (i*7+j*13) % 5 == 0.
  */
class H5Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dense = "fixtures/h5ad/dense.h5ad"
  private val sparse = "fixtures/h5ad/sparse.h5ad"
  private val nObs = 300
  private val nVar = 40

  private def xval(i: Int, j: Int): Double = ((i * 31 + j * 17) % 97) * 0.5

  test("file structure: root groups, dims, dtypes, encoding attrs") {
    val f = H5File.open(dense)
    try {
      assert(f.root.children.keySet ==
        Set("X", "obs", "var", "obsm", "layers", "varm", "obsp", "uns", "raw"))
      assert(f.attrString(f.root, "encoding-type").contains("anndata"))
      val x = f.dataset("X")
      assert(x.dims.toSeq == Seq(nObs.toLong, nVar.toLong))
      assert(x.dtype == H5Dtype.FloatPt(8))
      assert(x.filters.map(_.id) == Seq(2, 1)) // shuffle then deflate
      val obs = f.group("obs")
      assert(f.attrString(obs, "encoding-type").contains("dataframe"))
      assert(f.attrStrings(obs, "column-order")
        .contains(Seq("cell_type", "n_counts", "sample")))
      assert(f.attrString(obs, "_index").contains("_index"))
    } finally f.close()
  }

  test("driver-side chunked read decodes every element incl. edge chunks") {
    val f = H5File.open(dense)
    try {
      val ds = f.dataset("X")
      val v = f.decodeDoubles(ds.dtype, f.readRaw(ds))
      assert(v.length == nObs * nVar)
      // spot-check all four chunk-grid corners plus interior
      for ((i, j) <- Seq((0, 0), (63, 15), (64, 16), (299, 39), (256, 32), (150, 20)))
        assert(v(i * nVar + j) == xval(i, j), s"X[$i,$j]")
      // full sweep
      var i = 0
      while (i < nObs) {
        var j = 0
        while (j < nVar) {
          assert(v(i * nVar + j) == xval(i, j)); j += 1
        }
        i += 1
      }
    } finally f.close()
  }

  test("vlen strings resolve through the global heap (multi-collection)") {
    val f = H5File.open(dense)
    try {
      val idx = f.dataset("obs/_index")
      assert(idx.dtype == H5Dtype.VlenStr())
      val names = f.decodeStrings(idx.dtype, f.readRaw(idx))
      assert(names.length == nObs)
      assert(names(0) == "cell_0" && names(299) == "cell_299")
      assert(names.toSeq == (0 until nObs).map(i => s"cell_$i"))
    } finally f.close()
  }

  test("obs dataframe group: index, categorical decode, f8/vlen columns") {
    val obs = AnnH5.open(spark, dense).obs
    assert(obs.columns.toSeq ==
      Seq("obs_id", "obs_name", "cell_type", "n_counts", "sample"))
    val rows = obs.orderBy("obs_id").collect()
    assert(rows.length == nObs)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i)
      assert(r.getString(1) == s"cell_$i")
      assert(r.getString(2) == s"type_${i % 5}")
      assert(r.getDouble(3) == (i * 37 % 1000) + 0.5)
      assert(r.getString(4) == s"s${i % 7}")
    }
  }

  test("var dataframe group: f4 widened to double, i4 to long") {
    val v = AnnH5.open(spark, dense).vars
    val rows = v.orderBy("var_id").collect()
    assert(rows.length == nVar)
    rows.zipWithIndex.foreach { case (r, j) =>
      assert(r.getString(1) == s"gene_$j")
      assert(r.getDouble(2) == j * 0.25)
      assert(r.getLong(3) == (if (j % 3 == 0) 1L else 0L))
    }
  }

  test("distributed dense COO scan equals the closed form") {
    val coo = AnnH5.open(spark, dense).x.collect()
    assert(coo.length == nObs * nVar)
    coo.foreach { r =>
      assert(r.getDouble(2) == xval(r.getLong(0).toInt, r.getLong(1).toInt))
    }
  }

  test("distributed CSR scan: stored entries, row mapping, values") {
    val coo = AnnH5.open(spark, sparse).x.collect()
    val expected = for {
      i <- 0 until nObs; j <- 0 until nVar
      if (i * 7 + j * 13) % 5 == 0
    } yield (i.toLong, j.toLong, xval(i, j))
    assert(coo.length == expected.length)
    val got = coo.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got.toSeq == expected.sorted)
  }

  test("open(): AnnDataset composes with the bridge ops (perVarStats)") {
    val ds = AnnH5.open(spark, dense)
    assert(ds.obs.columns.contains("obs_name"))
    assert(ds.vars.columns.contains("var_name"))
    val stats = ds.perVarStats.orderBy("var_id").collect()
    assert(stats.length == nVar)
    val s0 = stats(0) // var_id, n_obs, sum_value, var_name
    assert(s0.getLong(1) == nObs)
    val expect0 = BigDecimal((0 until nObs).map(i => xval(i, 0)).sum)
    assert(s0.getDecimal(2).compareTo(expect0.bigDecimal) == 0)
  }

  test("bench fixture scans end-to-end (20000x256, 40 chunks)") {
    val n = AnnH5.open(spark, "fixtures/h5ad/bench.h5ad").x.count()
    assert(n == 20000L * 256)
  }

  test("ArtifactStore.open routes .h5ad through the native reader") {
    import graft.artifact.ArtifactStore
    import graft.catalog.Catalog
    val root = java.nio.file.Files.createTempDirectory("graft_h5store").toString
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val abs = new java.io.File(dense).getAbsolutePath
    store.registerBatch(Seq(store.StatEntry(
      "h5fixture", "md5", new java.io.File(dense).length(), 1L,
      "sc/dense.h5ad", ".h5ad", Some(abs))),
      storageId = store.ensureStorage(root))
    val arts = cat.table("artifact").filter(col("suffix") === ".h5ad")
    val coo = store.open(arts)
    assert(coo.columns.toSet == Set("obs_id", "var_id", "value", "_source_path"))
    assert(coo.count() == nObs.toLong * nVar)
  }

  test("ingestH5ad: native file -> bridge artifact round-trip") {
    import graft.artifact.{AnnBridge, ArtifactStore}
    import graft.catalog.Catalog
    val root = java.nio.file.Files.createTempDirectory("graft_h5ing").toString
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val art = AnnBridge.ingestH5ad(store, spark, sparse, "sc/fromh5.anndata", root)
    val reopened = AnnBridge.open(store, art("uid").toString)
    val nnz = (for {
      i <- 0 until nObs; j <- 0 until nVar
      if (i * 7 + j * 13) % 5 == 0
    } yield 1).size
    assert(reopened.x.count() == nnz)
    assert(reopened.obs.count() == nObs)
    assert(reopened.vars.count() == nVar)
  }

  test("obsm/layers slots surface as COO; subsetObs follows them") {
    val ds = AnnH5.open(spark, dense)
    assert(ds.obsm.keySet == Set("X_pca") && ds.layers.keySet == Set("scaled"))
    val pca = ds.obsm("X_pca")
    assert(pca.columns.toSeq == Seq("obs_id", "dim_id", "value"))
    assert(pca.count() == nObs.toLong * 4)
    val v = pca.filter(col("obs_id") === 7 && col("dim_id") === 2)
      .collect().head.getDouble(2)
    assert(v == ((7 * 43 + 2 * 3) % 31) * 0.5)
    val sc = ds.layers("scaled").filter(col("obs_id") === 5 && col("var_id") === 3)
      .collect().head.getDouble(2)
    assert(sc == xval(5, 3) + 0.5)
    // slicing follows aux slots through semi-joins
    val sub = ds.subsetObs(col("cell_type") === "type_1")
    assert(sub.obsm("X_pca").count() == (nObs / 5).toLong * 4)
    assert(sub.layers("scaled").count() == (nObs / 5).toLong * nVar)
  }

  test("libver=latest layout parses identically (OHDR v2, link messages)") {
    val f = H5File.open("fixtures/h5ad/latest.h5ad")
    try {
      assert(f.root.children.keySet == Set("X", "obs", "var"))
      assert(f.attrString(f.root, "encoding-type").contains("anndata"))
      val ds = f.dataset("X")
      val v = f.decodeDoubles(ds.dtype, f.readRaw(ds))
      for ((i, j) <- Seq((0, 0), (64, 16), (299, 39), (150, 20)))
        assert(v(i * nVar + j) == xval(i, j), s"X[$i,$j]")
      val names = f.decodeStrings(H5Dtype.VlenStr(),
        f.readRaw(f.dataset("obs/_index")))
      assert(names(299) == "cell_299")
    } finally f.close()
  }

  test("openMu: h5mu modalities parse as independent AnnDatasets") {
    val mods = AnnH5.openMu(spark, "fixtures/h5ad/mu.h5mu")
    assert(mods.keySet == Set("rna", "adt"))
    assert(mods("rna").vars.count() == 40 && mods("adt").vars.count() == 10)
    assert(mods("rna").obs.count() == nObs)
    // adt X formula differs from rna — spot-check both
    val adt = mods("adt").x.filter(col("obs_id") === 3 && col("var_id") === 2)
      .collect().head.getDouble(2)
    assert(adt == ((3 * 19 + 2 * 23) % 89) * 0.5)
    val rna = mods("rna").x.filter(col("obs_id") === 3 && col("var_id") === 2)
      .collect().head.getDouble(2)
    assert(rna == xval(3, 2))
  }

  test("open() on csr: subsetObs pushes through to the distributed X") {
    val ds = AnnH5.open(spark, sparse)
    val sub = ds.subsetObs(col("cell_type") === "type_0")
    val nnz = sub.x.count()
    val expected = (for {
      i <- 0 until nObs; if i % 5 == 0
      j <- 0 until nVar; if (i * 7 + j * 13) % 5 == 0
    } yield 1).size
    assert(nnz == expected)
  }

  test("uns decodes as a typed tree: scalars, arrays, nested dicts") {
    import graft.artifact.UnsValue._
    val ds = AnnH5.open(spark, dense)
    assert(ds.uns.keySet == Set("version", "n_bins", "params", "rank_scores"))
    assert(ds.uns("version") == Scalar("v1.2.3"))
    assert(ds.uns("n_bins") == Scalar(42L))
    assert(ds.uns("rank_scores") ==
      Arr((0 until 10).map(k => (k * k % 17) * 0.5: Any)))
    ds.uns("params") match {
      case Mapping(items) =>
        assert(items("alpha") == Scalar(0.75) && items("method") == Scalar("lognorm"))
      case other => fail(s"params decoded as $other")
    }
  }

  test("varm/obsp/raw slots: COO shape, closed-form values, subset flow") {
    val ds = AnnH5.open(spark, dense)
    val pcs = ds.varm("PCs")
    assert(pcs.columns.toSeq == Seq("var_id", "dim_id", "value"))
    assert(pcs.count() == nVar.toLong * 6)
    assert(pcs.filter(col("var_id") === 7 && col("dim_id") === 2)
      .collect().head.getDouble(2) == ((7 * 13 + 2 * 7) % 41) * 0.5)
    val conn = ds.obsp("connectivities")
    assert(conn.columns.toSeq == Seq("obs_id", "obs_id_2", "value"))
    val expectedConn = (for {
      i <- 0 until nObs; j <- 0 until nObs; if (i * 3 + j * 11) % 97 == 0
    } yield 1).size
    assert(conn.count() == expectedConn)
    val raw = ds.raw.getOrElse(fail("raw slot missing"))
    assert(raw.vars.count() == 50)
    assert(raw.x.filter(col("obs_id") === 1 && col("var_id") === 1)
      .collect().head.getDouble(2) == ((1 * 7 + 1 * 11) % 23) * 0.5)
    // subsetObs follows obsp on BOTH axes and raw X on obs; subsetVars
    // follows varm and leaves raw untouched
    val subO = ds.subsetObs(col("cell_type") === "type_0") // obs_id % 5 == 0
    val expSub = (for {
      i <- 0 until nObs by 5; j <- 0 until nObs by 5
      if (i * 3 + j * 11) % 97 == 0
    } yield 1).size
    assert(subO.obsp("connectivities").count() == expSub)
    assert(subO.raw.get.vars.count() == 50)
    val subV = ds.subsetVars(col("var_id") < 10)
    assert(subV.varm("PCs").count() == 10L * 6)
    assert(subV.raw.get.x.count() == raw.x.count())
  }

  test("open(): contiguous/compact layouts and i2/i4 elements equal the closed form") {
    // contiguous.h5ad (tools/gen_h5ad.py write_contiguous), 50 x 12
    val (n, m) = (50, 12)
    val ds = AnnH5.open(spark, "fixtures/h5ad/contiguous.h5ad")
    def coo(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def grid(rows: Int, cols: Int)(v: (Int, Int) => Double) =
      (for (i <- 0 until rows; j <- 0 until cols)
        yield (i.toLong, j.toLong, v(i, j))).toSet
    assert(coo(ds.x) == grid(n, m)(xval))
    assert(coo(ds.layers("counts")) ==
      grid(n, m)((i, j) => ((i * 5 + j * 3) % 11) - 5.0))
    assert(coo(ds.layers("sparse")) == (for {
      i <- 0 until n; j <- 0 until m if (i * 7 + j * 13) % 5 == 0
    } yield (i.toLong, j.toLong, ((i + 2 * j) % 9) - 4.0)).toSet)
    val umap = ds.obsm("X_umap")
    assert(umap.columns.toSeq == Seq("obs_id", "dim_id", "value"))
    assert(coo(umap) == grid(n, 2)((i, k) => ((i * 3 + k) % 7) * 0.5))
    assert(ds.obs.orderBy("obs_id").collect().map(_.getString(1)).toSeq ==
      (0 until n).map(i => s"cell_$i"))
    assert(ds.vars.count() == m)
  }

  test("writer round-trips varm/obsp/uns/raw bit-exactly") {
    import graft.artifact.{AnnDataset, RawSlots, UnsValue}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("h5-slots").toString
    val p = s"$dir/rt.h5ad"
    val obs = spark.range(20).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(6).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = Seq((0L, 1L, 2.5), (3L, 2L, 1.0), (19L, 5L, 4.5)).toDF("obs_id", "var_id", "value")
    val emb = Seq((0L, 0L, 1.5), (5L, 1L, 0.5)).toDF("var_id", "dim_id", "value")
    val knn = Seq((0L, 3L, 0.5), (7L, 0L, 2.0)).toDF("obs_id", "obs_id_2", "value")
    val rawVars = spark.range(9).select(col("id").as("var_id"),
      concat(lit("rg"), col("id")).as("var_name"))
    val rawX = Seq((2L, 8L, 3.5)).toDF("obs_id", "var_id", "value")
    val uns = Map[String, UnsValue](
      "k" -> UnsValue.Scalar(5L), "name" -> UnsValue.Scalar("panel"),
      "ws" -> UnsValue.Arr(Seq(0.5, 2.5)),
      "cfg" -> UnsValue.Mapping(Map("rate" -> UnsValue.Scalar(0.25))))
    AnnH5Writer.write(AnnDataset(obs, vars, x,
      varm = Map("emb" -> emb), obsp = Map("knn" -> knn), uns = uns,
      raw = Some(RawSlots(rawVars, rawX))), p)
    val rt = AnnH5.open(spark, p)
    def coo(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(coo(rt.varm("emb")) == coo(emb))
    assert(coo(rt.obsp("knn")) == coo(knn))
    assert(coo(rt.raw.get.x) == coo(rawX))
    assert(rt.raw.get.vars.count() == 9)
    assert(rt.uns == uns)
  }
}
