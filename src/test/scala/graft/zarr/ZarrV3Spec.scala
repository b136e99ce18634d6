package graft.zarr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Zarr v3 reader + consolidated-metadata contracts against the
  * committed fixture (`tools/gen_zarr_v3.py` — same closed forms as the
  * v2 pbmc.zarr, re-expressed per the public zarr v3 core spec:
  * `zarr.json` nodes, codec pipelines, `c/` chunk keys, and
  * `sharding_indexed` with a crc32c'd (offset, nbytes) index).
  */
class ZarrV3Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val root = "fixtures/zarr/pbmc_v3.zarr"
  private val nObs = 300
  private val nVar = 40

  private def xmask(i: Int, j: Int) = (i * 5 + j * 11) % 23 == 0
  private def xval(i: Int, j: Int) = ((i * 2 + j * 13) % 19) * 0.5

  test("v3 detection + consolidated metadata: whole-store planning costs 2 GETs") {
    ZarrStore.invalidate(root)
    val before = ZarrStore.metaReads(root)
    assert(ZarrStore.format(root) == 3)
    // plan the full tree: node types, attrs, children, array metadata
    assert(ZarrStore.isGroup(root, "") && ZarrStore.isGroup(root, "obs"))
    assert(ZarrStore.isArray(root, "obs/n_genes"))
    assert(ZarrStore.attrString(root, "", "encoding-type").contains("anndata"))
    assert(ZarrStore.attrString(root, "obs/cell_type", "encoding-type")
      .contains("categorical"))
    assert(ZarrStore.children(root, "") ==
      Seq("X", "layers", "obs", "obsm", "uns", "var"))
    assert(ZarrStore.children(root, "obs") ==
      Seq("_index", "cell_type", "n_genes", "score"))
    Seq("X/data", "X/indices", "X/indptr", "layers/log", "obs/score")
      .foreach(a => ZarrStore.openArray(root, a))
    // .zmetadata probe (miss) + zarr.json (carries consolidated_metadata)
    assert(ZarrStore.metaReads(root) - before == 2)
  }

  test("codec pipelines: gzip strings, blosc i8, gzip+crc32c f8, raw bool") {
    val idx = ZarrStore.openArray(root, "obs/_index")
    assert(idx.compressor == "gzip" && idx.vlenUtf8)
    val names = idx.readFlat()
    (0 until nObs).foreach(i => assert(names(i) == s"cell$i"))
    val ng = ZarrStore.openArray(root, "obs/n_genes")
    assert(ng.compressor == "blosc" && ng.dtype == "<i8")
    assert(ng.readFlat() == (0 until nObs).map(i => ((i * 7) % 50).toLong))
    val score = ZarrStore.openArray(root, "obs/score")
    assert(score.codecs == Seq(ZCodec.GzipC, ZCodec.Crc32cC))
    assert(score.readFlat() == (0 until nObs).map(i => ((i * 3) % 11) * 0.25))
    val hv = ZarrStore.openArray(root, "var/highly_variable")
    assert(hv.dtype == "|b1" && hv.compressor == "none")
    assert(hv.readFlat() == (0 until nVar).map(j => if (j % 3 == 0) 1L else 0L))
  }

  test("sharding_indexed: inner-chunk reads, absent index entry -> fill") {
    val data = ZarrStore.openArray(root, "X/data")
    assert(data.compressor == "sharding")
    assert(data.chunks == Seq(128) && data.shard.get.shardShape == Seq(512))
    val expected = (for {
      i <- 0 until nObs; j <- 0 until nVar if xmask(i, j)
    } yield xval(i, j)).toIndexedSeq
    assert(data.readFlat() == expected)
    // ranged CSR slice crossing a shard boundary (elements 500..530)
    val b = java.nio.ByteBuffer.wrap(data.readRange1d(500, math.min(530, expected.size)))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (500 until math.min(530, expected.size)).zipWithIndex.foreach { case (e, k) =>
      assert(b.getDouble(k * 8) == expected(e))
    }
    // uns/rank: shard 10 / inner 5, inner chunk 1 ABSENT (index -1 pair)
    val rank = ZarrStore.openArray(root, "uns/rank").readFlat()
    assert(rank == (0 until 8).map(k => if (k < 5) (k * 5 % 13) * 0.5 else 9.0))
  }

  test("v2-style chunk keys inside a v3 store (obsm/X_pca, gzip)") {
    val pca = ZarrStore.openArray(root, "obsm/X_pca")
    assert(pca.keyPrefix == "" && pca.sep == ".")
    val c0 = pca.readChunk(Seq(0, 0)).get
    val pb = java.nio.ByteBuffer.wrap(c0).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until 100; k <- 0 until 5)
      assert(pb.getDouble((i * 5 + k) * 8) == ((i * 13 + k * 7) % 37) * 0.5)
  }

  test("AnnZarr.open is format-transparent: obs frame + csr X + uns") {
    import graft.artifact.UnsValue._
    val ds = AnnZarr.open(spark, root)
    val rows = ds.obs.orderBy("obs_id").collect()
    assert(rows.length == nObs)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("obs_name") == s"cell$i")
      assert(r.getAs[String]("cell_type") == s"type_${i % 4}")
      assert(r.getAs[Long]("n_genes") == (i * 7) % 50)
    }
    val got = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (for {
      i <- 0 until nObs; j <- 0 until nVar if xmask(i, j)
    } yield (i.toLong, j.toLong, xval(i, j))).toArray
    assert(got.sameElements(expected))
    assert(ds.uns("n_bins") == Scalar(42L))
    assert(ds.uns("method") == Scalar("zheng17"))
    assert(ds.uns("mask") == Arr(Seq(true, false, true, true, false, true)))
  }

  test("sharded dense 2-D layer sums to the closed form") {
    val ds = AnnZarr.open(spark, root)
    val log = ds.layers("log")
    assert(log.count() == nObs.toLong * nVar)
    val total = log.agg(sum("value")).head().getDouble(0)
    val expected = (for (i <- 0 until nObs; j <- 0 until nVar)
      yield ((i * 17 + j * 3) % 29) * 0.25).sum
    assert(math.abs(total - expected) < 1e-6)
  }

  test("v2 consolidated: a written store reopens with ONE metadata GET") {
    val path = java.nio.file.Files.createTempDirectory("zmeta").toString + "/c.zarr"
    val obs = spark.range(40).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"), (col("id") % 3).as("grp"))
    val vars = spark.range(8).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(40).select(col("id").as("obs_id"))
      .crossJoin(spark.range(8).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 3 === 0)
      .withColumn("value", (col("obs_id") * 7 + col("var_id")) % 5 * 1.0)
    graft.zarr.AnnZarrWriter.write(graft.artifact.AnnDataset(obs, vars, x), path)
    ZarrStore.invalidate(path)
    val before = ZarrStore.metaReads(path)
    val ds = AnnZarr.open(spark, path)
    assert(ds.obs.count() == 40)
    assert(ds.x.agg(sum("value")).head().getDouble(0) ==
      (for (i <- 0 until 40; j <- 0 until 8 if (i + j) % 3 == 0)
        yield ((i * 7 + j) % 5).toDouble).sum)
    // the whole obs/var/X planning + axis decode cost ONE metadata GET
    assert(ZarrStore.metaReads(path) - before == 1)
  }
}
