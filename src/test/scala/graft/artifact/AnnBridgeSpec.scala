package graft.artifact

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Catalog
import graft.core.Versioning
import graft.curate.{FeatureSpec, MuDataset, SchemaSpec}

class AnnBridgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tinyDataset(): AnnDataset = {
    val obs = Seq((0L, "B", 10L), (1L, "T", 20L), (2L, "B", 30L))
      .toDF("obs_id", "cell_type", "depth")
    val vars = Seq((0L, "ENSG01"), (1L, "ENSG02"), (2L, "ENSG03"))
      .toDF("var_id", "var_name")
    // sparse COO: obs 1 has no entry for var 2
    val x = Seq((0L, 0L, 1.0), (0L, 1L, 2.0), (0L, 2L, 3.0),
      (1L, 0L, 4.0), (1L, 1L, 5.0),
      (2L, 0L, 6.0), (2L, 1L, 7.0), (2L, 2L, 8.0))
      .toDF("obs_id", "var_id", "value")
    val obsm = Map("X_pca" -> Seq((0L, Array(0.1, 0.2)), (1L, Array(0.3, 0.4)),
      (2L, Array(0.5, 0.6))).toDF("obs_id", "embedding"))
    AnnDataset(obs, vars, x, obsm = obsm)
  }

  test("ingest -> open round-trips obs/var/X and aux slots; artifact is AnnData-typed") {
    val root = TestSpark.tmpDir("ann")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val art = AnnBridge.ingest(store, tinyDataset(), "sc/tiny.anndata", root,
      validateShape = true)
    assert(art("otype") === "AnnData")
    assert(art("suffix") === ".anndata")
    assert(art("n_observations") === 3L)
    assert(art("n_files").asInstanceOf[Long] >= 4L) // obs, var, X, obsm.X_pca
    // idempotent: identical content returns the same artifact
    val again = AnnBridge.ingest(store, tinyDataset(), "sc/tiny.anndata", root)
    assert(again("uid") === art("uid"))
    assert(cat.table("artifact").count() === 1)

    val ds = AnnBridge.open(store, art("uid").toString)
    assert(ds.shape === ((3L, 3L)))
    assert(ds.x.count() === 8)
    assert(ds.obsm.keySet === Set("X_pca"))
    assert(ds.obs.orderBy("obs_id").select("cell_type").as[String].collect().toSeq ===
      Seq("B", "T", "B"))
  }

  test("AnnData and MuData round-trip under a file:// storage root") {
    val root = TestSpark.tmpDir("ann")
    val store = new ArtifactStore(Catalog.deterministic(spark, root))
    val uriRoot = new java.io.File(root).toURI.toString.stripSuffix("/")
    assert(uriRoot.startsWith("file:/"))

    val art = AnnBridge.ingest(store, tinyDataset(), "sc/uri.anndata", uriRoot)
    assert(store.listSlots(art("uid").toString) === Seq("X", "obs", "obsm.X_pca", "var"))
    val ds = AnnBridge.open(store, art("uid").toString)
    assert(ds.shape === ((3L, 3L)))
    assert(ds.x.count() === 8)
    assert(ds.obsm.keySet === Set("X_pca"))

    val mu = MuDataset(
      global = Map("obs" -> Seq(("c1", "s1"), ("c2", "s2")).toDF("cell_id", "sample")),
      modalities = Map("rna" -> Map(
        "obs" -> Seq(("c1", "T cell"), ("c2", "B cell")).toDF("cell_id", "cell_type"),
        "var" -> Seq(("ENSG01", "ACTB")).toDF("gene_id", "symbol"))))
    val muArt = MuBridge.ingest(store, mu, "multi/uri", uriRoot)
    val back = MuBridge.open(store, muArt("uid").toString)
    assert(back.global.keySet === Set("obs"))
    assert(back.modalities.keySet === Set("rna"))
    assert(back.modalities("rna").keySet === Set("obs", "var"))
    assert(back.modalities("rna")("obs").count() === 2)
  }

  test("obs/var slicing slices X, layers and obsm like the backed accessor") {
    val root = TestSpark.tmpDir("ann")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val art = AnnBridge.ingest(store, tinyDataset(), "sc/tiny2.anndata", root)
    val ds = AnnBridge.open(store, art("uid").toString)

    val bCells = ds.subsetObs(col("cell_type") === "B")
    assert(bCells.nObs === 2)
    assert(bCells.x.count() === 6)                     // only obs 0 and 2 rows
    assert(bCells.obsm("X_pca").count() === 2)         // obsm follows obs slicing
    assert(bCells.nVars === 3)                         // vars untouched

    val sliced = bCells.subsetVars(col("var_name").isin("ENSG01", "ENSG03"))
    assert(sliced.nVars === 2)
    assert(sliced.x.count() === 4)
    // per-var aggregate over the slice
    val stats = sliced.perVarStats.orderBy("var_name")
      .select("var_name", "n_obs").as[(String, Long)].collect().toSeq
    assert(stats === Seq(("ENSG01", 2L), ("ENSG03", 2L)))
    // dense view of the slice: 2 obs x 2 var columns, sparse hole = null
    val wide = sliced.xWide().orderBy("obs_id")
    assert(wide.columns.toSeq === Seq("obs_id", "ENSG01", "ENSG03"))
    assert(wide.count() === 2)
    // misaligned X is rejected when shape validation is on
    val bad = tinyDataset().copy(x = Seq((99L, 0L, 1.0)).toDF("obs_id", "var_id", "value"))
    intercept[IllegalArgumentException](
      AnnBridge.ingest(store, bad, "sc/bad.anndata", root, validateShape = true))
  }

  test("appendObs: obs reindex, var registration by name, ledger no-op, new version") {
    val root = TestSpark.tmpDir("ann")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val art1 = AnnBridge.ingest(store, tinyDataset(), "sc/grow.anndata", root)

    // incoming slice reuses LOCAL obs ids 0..1 (a fresh AnnData always
    // does) and mixes a known var name with a brand-new one
    val slice = AnnDataset(
      obs = Seq((0L, "NK", 40L), (1L, "T", 50L)).toDF("obs_id", "cell_type", "depth"),
      vars = Seq((0L, "ENSG02"), (1L, "ENSG99")).toDF("var_id", "var_name"),
      x = Seq((0L, 0L, 9.0), (0L, 1L, 10.0), (1L, 1L, 11.0))
        .toDF("obs_id", "var_id", "value"),
      obsm = Map("X_pca" -> Seq((0L, Array(0.7, 0.8)), (1L, Array(0.9, 1.0)))
        .toDF("obs_id", "embedding")))

    val art2 = AnnBridge.appendObs(store, art1("uid").toString, slice, root)
    assert(art2("uid") !== art1("uid"))
    assert(Versioning.stem(art2("uid").toString) === Versioning.stem(art1("uid").toString))
    assert(art2("is_latest") === true)
    assert(art2("n_observations") === 5L)
    assert(cat.table("artifact").filter(col("is_latest")).count() === 1)

    val ds = AnnBridge.open(store, art2("uid").toString)
    // obs: base ids 0..2 untouched; appended rows got 3 and 4 (max+1 on)
    val obs = ds.obs.orderBy("obs_id").as[(Long, String, Long)].collect().toSeq
    assert(obs.map(_._1) === Seq(0L, 1L, 2L, 3L, 4L))
    assert(obs.drop(3).map(_._2) === Seq("NK", "T"))
    // vars: ENSG02 reused id 1; ENSG99 minted id 3 (past current max 2)
    val vars = ds.vars.orderBy("var_id").as[(Long, String)].collect().toSeq
    assert(vars === Seq((0L, "ENSG01"), (1L, "ENSG02"), (2L, "ENSG03"), (3L, "ENSG99")))
    // X follows both mappings: slice (0,ENSG02)=9 -> (3,1); (0,ENSG99)=10
    // -> (3,3); (1,ENSG99)=11 -> (4,3)
    val newX = ds.x.filter(col("obs_id") >= 3).orderBy("obs_id", "var_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(newX === Seq((3L, 1L, 9.0), (3L, 3L, 10.0), (4L, 3L, 11.0)))
    assert(ds.obsm("X_pca").count() === 5)

    // re-appending the registered slice resumes as a no-op
    val art3 = AnnBridge.appendObs(store, art2("uid").toString, slice, root)
    assert(art3("uid") === art2("uid"))
    assert(cat.table("artifact").count() === 2)
    // while a genuinely different slice appends as a third version
    val slice2 = slice.copy(obs = Seq((0L, "DC", 60L)).toDF("obs_id", "cell_type", "depth"),
      x = Seq((0L, 0L, 12.0)).toDF("obs_id", "var_id", "value"),
      obsm = Map.empty)
    val art4 = AnnBridge.appendObs(store, art3("uid").toString, slice2, root)
    assert(art4("uid") !== art3("uid"))
    assert(art4("n_observations") === 6L)
    val ds4 = AnnBridge.open(store, art4("uid").toString)
    assert(ds4.obs.agg(max(col("obs_id"))).head.getLong(0) === 5L)
  }

  test("AnnDataCurator slot-wise curation over real bridge slots") {
    val root = TestSpark.tmpDir("ann")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val art = AnnBridge.ingest(store, tinyDataset(), "sc/tiny3.anndata", root)
    val ds = AnnBridge.open(store, art("uid").toString)

    val cellTypes = Seq("B", "T", "NK").toDF("name")
    val genes = Seq("ENSG01", "ENSG02", "ENSG03").toDF("ensembl_gene_id")
    val obsSpec = SchemaSpec(Seq(
      FeatureSpec("cell_type", "cat", nullable = false, catRegistry = Some((cellTypes, "name"))),
      FeatureSpec("depth", "int")))
    // the reference validates the columns of var.T = the var NAMES -> here
    // a categorical membership check of var_name against the gene registry
    val varSpec = SchemaSpec(Seq(
      FeatureSpec("var_name", "cat", nullable = false, catRegistry = Some((genes, "ensembl_gene_id")))))
    val reports = AnnBridge.curate(ds, obsSpec, varSpec)
    assert(graft.curate.SlotsCurator.passed(reports))

    // an unregistered gene id fails the var slot, passes obs
    val mutated = ds.copy(vars = ds.vars.withColumn("var_name",
      when(col("var_id") === 2L, lit("NOT_A_GENE")).otherwise(col("var_name"))))
    val bad = AnnBridge.curate(mutated, obsSpec, varSpec)
    assert(!graft.curate.SlotsCurator.passed(bad))
    assert(bad.find(_.slot == "obs").get.report.passed)
    assert(!bad.find(_.slot == "var").get.report.passed)
  }
}
