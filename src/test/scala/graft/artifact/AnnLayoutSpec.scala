package graft.artifact

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.h5.{AnnH5, AnnH5Writer, H5File}
import graft.zarr.{AnnZarr, AnnZarrWriter, ZarrStore}

/** One AnnData layout in every container: a dataset holding each slot
  * kind is written through h5ad, zarr v2, zarr v3 sharded and both
  * MuData writers, and every reopened slot must carry the input's values.
  */
class AnnLayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val nObs = 40
  private val nVar = 12
  private val nRawVar = 16

  /** Sparse COO over `rows` × `cols` with the given axis columns; every
    * stored value is nonzero.
    */
  private def coo(rows: Long, cols: Long, axes: (String, String), seed: Int): DataFrame =
    spark.range(rows).select(col("id").as(axes._1))
      .crossJoin(spark.range(cols).select(col("id").as(axes._2)))
      .filter((col(axes._1) * 3 + col(axes._2) * 5 + seed) % 4 === 0)
      .withColumn("value", (col(axes._1) * 7 + col(axes._2) * 11 + seed) % 13 + 0.5)

  /** Every slot kind: a categorical obs column, dense obsm, csr X and
    * layer, varm, obsp, nested uns (Boolean values included), and raw
    * with its own varm.
    */
  private lazy val every: AnnDataset = {
    import UnsValue._
    val obs = spark.range(nObs).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      concat(lit("type_"), col("id") % 3).as("cell_type"),
      (col("id") % 5).as("batch"), (col("id") * 0.25).as("score"))
    val vars = spark.range(nVar).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val pca = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(3).select(col("id").as("dim_id")))
      .withColumn("value", col("obs_id") + col("dim_id") * 0.5 + 1.0) // dense: no zero cell
    val rawVars = spark.range(nRawVar).select(col("id").as("var_id"),
      concat(lit("rg"), col("id")).as("var_name"))
    AnnDataset(obs, vars, coo(nObs, nVar, ("obs_id", "var_id"), 0),
      obsm = Map("X_pca" -> pca),
      layers = Map("counts" -> coo(nObs, nVar, ("obs_id", "var_id"), 1)),
      varm = Map("PCs" -> coo(nVar, 4, ("var_id", "dim_id"), 2)),
      obsp = Map("distances" -> coo(nObs, nObs, ("obs_id", "obs_id_2"), 3)),
      uns = Map("tag" -> Scalar("trial"), "seed" -> Scalar(11L), "lr" -> Scalar(0.25),
        "weights" -> Arr(Seq(0.5, 1.5)), "ids" -> Arr(Seq(3L, 4L)),
        "names" -> Arr(Seq("a", "b")), "flag" -> Scalar(true), "mask" -> Arr(Seq(true, false)),
        "nested" -> Mapping(Map("inner" -> Mapping(Map("k" -> Scalar(2L))),
          "v" -> Arr(Seq(1.0))))),
      raw = Some(RawSlots(rawVars, coo(nObs, nRawVar, ("obs_id", "var_id"), 4),
        Map("PCs" -> coo(nRawVar, 2, ("var_id", "dim_id"), 5)))))
  }

  private val dense = Set("obsm/X_pca")
  private val cats = Set("obs/cell_type")

  /** A container round trip: write, then reopen as (dataset, encoding-type of a slot). */
  private final class Opened(val ds: AnnDataset, val enc: String => Option[String])

  private def h5Enc(p: String, prefix: String)(rel: String): Option[String] = {
    val f = H5File.open(p)
    try f.attrString(f(prefix + rel), "encoding-type") finally f.close()
  }

  private def zarrEnc(p: String, prefix: String)(rel: String): Option[String] =
    ZarrStore.attrString(p, prefix + rel, "encoding-type")

  private def h5ad(ds: AnnDataset): Opened = {
    val p = TestSpark.tmpDir("graft_layout") + "/all.h5ad"
    AnnH5Writer.write(ds, p, chunkElems = 64, denseSlots = dense, categoricalCols = cats)
    new Opened(AnnH5.open(spark, p), h5Enc(p, ""))
  }

  private def zarr(v3: Boolean)(ds: AnnDataset): Opened = {
    val p = TestSpark.tmpDir("graft_layout") + "/all.zarr"
    AnnZarrWriter.write(ds, p, chunkElems = 64, v3 = v3, shardFactor = 4,
      frameChunkLen = 16, denseSlots = dense, categoricalCols = cats)
    new Opened(AnnZarr.open(spark, p), zarrEnc(p, ""))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.toIndexedSeq.map(col): _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  private def assertSame(got: AnnDataset, in: AnnDataset, label: String): Unit = {
    def same(a: DataFrame, b: DataFrame, slot: String): Unit =
      assert(rows(a) == rows(b), s"$label $slot")
    def sameGroup(a: Map[String, DataFrame], b: Map[String, DataFrame], g: String): Unit = {
      assert(a.keySet == b.keySet, s"$label $g keys")
      b.keys.foreach(k => same(a(k), b(k), s"$g/$k"))
    }
    same(got.obs, in.obs, "obs")
    same(got.vars, in.vars, "var")
    same(got.x, in.x, "X")
    sameGroup(got.obsm, in.obsm, "obsm")
    sameGroup(got.layers, in.layers, "layers")
    sameGroup(got.varm, in.varm, "varm")
    sameGroup(got.obsp, in.obsp, "obsp")
    assert(got.uns == in.uns, s"$label uns")
    assert(got.raw.isDefined == in.raw.isDefined, s"$label raw")
    in.raw.foreach { r =>
      same(got.raw.get.vars, r.vars, "raw/var")
      same(got.raw.get.x, r.x, "raw/X")
      sameGroup(got.raw.get.varm, r.varm, "raw/varm")
    }
  }

  /** The walk's encoding decisions reached the container. */
  private def assertEncodings(o: Opened, scoped: Boolean, label: String): Unit = {
    assert(o.enc("").contains("anndata"), label)
    assert(o.enc("obsm/X_pca").contains(if (scoped) "array" else "csr_matrix"), label)
    assert(o.enc("obs/cell_type").contains(if (scoped) "categorical" else "string-array"), label)
    assert(o.enc("X").contains("csr_matrix"), label)
    assert(o.enc("raw").contains("raw"), label)
    assert(o.enc("uns/nested/inner").contains("dict"), label)
  }

  Seq("h5ad" -> h5ad _, "zarr v2" -> zarr(v3 = false) _, "zarr v3 sharded" -> zarr(v3 = true) _)
    .foreach { case (label, write) =>
      test(s"every slot kind round-trips through $label") {
        val o = write(every)
        assertSame(o.ds, every, label)
        assertEncodings(o, scoped = true, label)
      }
    }

  test("every slot kind round-trips through both writeMu containers, scoped per modality") {
    val mods = Map("rna" -> every, "adt" -> every)
    val muDense = dense.map("rna/" + _)
    val muCats = cats.map("rna/" + _)
    val h5 = TestSpark.tmpDir("graft_layout") + "/all.h5mu"
    AnnH5Writer.writeMu(mods, h5, chunkElems = 64, denseSlots = muDense, categoricalCols = muCats)
    val zv2 = TestSpark.tmpDir("graft_layout") + "/all_mu.zarr"
    AnnZarrWriter.writeMu(mods, zv2, chunkElems = 64, frameChunkLen = 16,
      denseSlots = muDense, categoricalCols = muCats)
    Seq("h5mu" -> (AnnH5.openMu(spark, h5), h5Enc(h5, "mod/") _),
      "zarr mu" -> (AnnZarr.openMu(spark, zv2), zarrEnc(zv2, "mod/") _))
      .foreach { case (label, (opened, enc)) =>
        assert(opened.keySet == Set("adt", "rna"), label)
        Seq("rna", "adt").foreach { m =>
          assertSame(opened(m), every, s"$label $m")
          assertEncodings(new Opened(opened(m), rel => enc(s"$m/$rel".stripSuffix("/"))),
            scoped = m == "rna", s"$label $m")
        }
      }
  }

  test("zarr keeps raw.varm on v2 and v3 with equal values") {
    Seq(false, true).foreach { v3 =>
      val p = TestSpark.tmpDir("graft_rawvarm") + "/raw.zarr"
      AnnZarrWriter.write(every, p, chunkElems = 64, v3 = v3, shardFactor = 4)
      val raw = AnnZarr.open(spark, p).raw.get
      assert(raw.varm.keySet == Set("PCs"), s"v3=$v3")
      assert(rows(raw.varm("PCs")) == rows(every.raw.get.varm("PCs")), s"v3=$v3")
    }
  }

  test("Float uns scalars and arrays round-trip as f8 through both containers") {
    import UnsValue._
    val ds = AnnDataset(
      spark.range(2).select(col("id").as("obs_id")),
      spark.range(2).select(col("id").as("var_id")),
      coo(2, 2, ("obs_id", "var_id"), 0),
      uns = Map("f" -> Scalar(1.5f), "fs" -> Arr(Seq(1.5f, 2.5f)),
        "mixed" -> Arr(Seq(1L, 2.5f)), "n" -> Mapping(Map("g" -> Scalar(-0.25f)))))
    val expect = Map("f" -> Scalar(1.5), "fs" -> Arr(Seq(1.5, 2.5)),
      "mixed" -> Arr(Seq(1.0, 2.5)), "n" -> Mapping(Map("g" -> Scalar(-0.25))))
    val h5 = TestSpark.tmpDir("graft_unsf") + "/f.h5ad"
    AnnH5Writer.write(ds, h5)
    assert(AnnH5.open(spark, h5).uns == expect)
    val z = TestSpark.tmpDir("graft_unsf") + "/f.zarr"
    AnnZarrWriter.write(ds, z)
    assert(AnnZarr.open(spark, z).uns == expect)
  }

  test("uns values outside the element encodings are rejected by both containers") {
    import UnsValue._
    val base = AnnDataset(spark.range(1).select(col("id").as("obs_id")),
      spark.range(1).select(col("id").as("var_id")), coo(1, 1, ("obs_id", "var_id"), 3))
    Seq(Scalar(null), Arr(Seq("a", 1L)), Arr(Seq(BigDecimal(1)))).foreach { bad =>
      val ds = base.copy(uns = Map("bad" -> bad))
      intercept[UnsupportedOperationException](
        AnnH5Writer.write(ds, TestSpark.tmpDir("graft_unsbad") + "/b.h5ad"))
      intercept[UnsupportedOperationException](
        AnnZarrWriter.write(ds, TestSpark.tmpDir("graft_unsbad") + "/b.zarr"))
    }
  }

  test("both DSv2 sources reject a missing path the same way") {
    Seq("h5ad", "zarr").foreach { fmt =>
      val e = intercept[IllegalArgumentException](spark.read.format(fmt).load().schema)
      assert(e.getMessage.contains(s"$fmt source requires a path"), fmt)
    }
  }
}
