package graft.zarr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SpatialData-on-zarr open against the committed fixture
  * (`tools/gen_spatial_zarr.py` — closed forms in its header).
  */
class SpatialZarrSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val root = "fixtures/zarr/spatial.zarr"

  test("detection: spatialdata_attrs at root, absent on plain anndata") {
    assert(SpatialZarr.isSpatial(root))
    assert(!SpatialZarr.isSpatial("fixtures/zarr/pbmc.zarr"))
  }

  test("tables surface matches the reference accessor: anndata per key") {
    val sd = SpatialZarr.open(spark, root)
    assert(sd.tables.keySet == Set("table"))
    val t = sd.tables("table")
    val rows = t.obs.orderBy("obs_id").collect()
    assert(rows.length == 150)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("obs_name") == s"cell$i")
      assert(r.getAs[String]("region") == "cells")
      assert(r.getAs[Long]("n_spots") == (i * 11) % 40)
    }
    val x = t.x.agg(sum("value")).head().getDouble(0)
    val expect = (for {
      i <- 0 until 150; j <- 0 until 12 if (i * 3 + j * 7) % 11 == 0
    } yield ((i + j * 5) % 13) * 0.5).sum
    assert(math.abs(x - expect) < 1e-9)
  }

  test("points element: distributed parquet read with the NGFF attrs") {
    val sd = SpatialZarr.open(spark, root)
    val pts = sd.points("transcripts")
    assert(pts.count() == 2000)
    assert(pts.columns.toSet == Set("x", "y", "gene"))
    val perGene = pts.groupBy("gene").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perGene.size == 25 && perGene.values.forall(_ == 80))
    // NGFF points attrs are preserved on the zarr side
    assert(ZarrStore.attrString(root, "points/transcripts", "encoding-type")
      .contains("ngff:points"))
  }

  test("NGFF image pyramid: axes, levels, chunk-parallel COO decode") {
    val sd = SpatialZarr.open(spark, root)
    val img = sd.images("cells")
    assert(img.axes == Seq("c", "y", "x") && img.nLevels == 2)
    assert(img.shape(0) == Seq(3L, 64L, 64L) && img.shape(1) == Seq(3L, 32L, 32L))
    val coo = img.coo(spark)
    assert(coo.queryExecution.optimizedPlan.collectLeaves()
      .exists(_.getClass.getSimpleName.contains("DataSourceV2")),
      s"image level must read through the zarr DSv2 scan:\n${coo.queryExecution.optimizedPlan}")
    assert(coo.columns.toSeq == Seq("c", "y", "x", "value"))
    assert(coo.count() == 3L * 64 * 64)
    assert(coo.rdd.getNumPartitions > 1, "chunk grid must distribute")
    val got = coo.groupBy("c").agg(sum("value").as("s")).orderBy("c").collect()
      .map(_.getDouble(1))
    val expect = (0 until 3).map(c =>
      (for (y <- 0 until 64; x <- 0 until 64)
        yield ((c * 31 + y * 7 + x * 3) % 256).toDouble).sum)
    got.zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
    // a pixel probe through the second pyramid level
    val p = img.coo(spark, 1)
      .filter(col("c") === 2 && col("y") === 5 && col("x") === 9)
      .head().getDouble(3)
    assert(p == (2 * 31 + 2 * 5 * 7 + 2 * 9 * 3) % 256)
  }

  test("curator bridge: tables:key:slot resolves on the NATIVE store") {
    val sd = SpatialZarr.open(spark, root)
    val md = SpatialZarr.toMuDataset(sd)
    val obs = graft.curate.MuDataCurator.resolveSlot(md, "tables:table:obs")
    assert(!obs.transposed && obs.df.count() == 150)
    val varT = graft.curate.MuDataCurator.resolveSlot(md, "tables:table:var.T")
    assert(varT.transposed && varT.df.count() == 12)
    // non-tabular elements keep the reference's explicit rejection
    val e = intercept[IllegalArgumentException] {
      graft.curate.MuDataCurator.resolveSlot(md, "images:cells")
    }
    assert(e.getMessage.contains("non-tabular"))
  }

  test("writer round-trip: tables + points + stride pyramid reopen exactly") {
    val p = TestSpark.tmpDir("graft_sdw") + "/sd.zarr"
    val nO = 60; val nV = 6
    val obs = spark.range(nO).select(col("id").as("obs_id"),
      concat(lit("cell"), col("id")).as("obs_name"),
      (col("id") % 4).as("n_spots"))
    val vars = spark.range(nV).select(col("id").as("var_id"),
      concat(lit("gene"), col("id")).as("var_name"))
    val x = spark.range(nO).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nV).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 3 === 0)
      .withColumn("value", (col("obs_id") * 2 + col("var_id")) % 7 * 0.5)
    val pts = spark.range(500).select(
      (col("id") * 37 % 640 * 0.25).as("x"),
      (col("id") * 53 % 480 * 0.25).as("y"),
      concat(lit("g"), col("id") % 25).as("gene"))
    // (c,y,x) = (2,32,32) image, 2 stride levels, chunks (1,16,16)
    val img = spark.range(2).select(col("id").as("c"))
      .crossJoin(spark.range(32).select(col("id").as("y")))
      .crossJoin(spark.range(32).select(col("id").as("x")))
      .withColumn("value", (col("c") * 31 + col("y") * 7 + col("x") * 3) % 256)
    val seg = spark.range(32).select(col("id").as("y"))
      .crossJoin(spark.range(32).select(col("id").as("x")))
      .withColumn("value",
        floor(col("y") / 8).cast("long") * 4 + floor(col("x") / 8).cast("long"))
    SpatialZarrWriter.write(spark, p,
      tables = Map("table" -> graft.artifact.AnnDataset(obs, vars, x)),
      points = Map("transcripts" -> pts),
      images = Map("cells" -> SpatialZarrWriter.ImageSpec(
        img, Seq("c", "y", "x"), Seq(2L, 32L, 32L), Seq(1, 16, 16),
        dtype = "|u1", levels = 2)),
      labels = Map("segmentation" -> SpatialZarrWriter.ImageSpec(
        seg, Seq("y", "x"), Seq(32L, 32L), Seq(16, 16),
        dtype = "<i4")))
    assert(SpatialZarr.isSpatial(p))
    // whole-container reopen plans from ONE consolidated metadata GET
    ZarrStore.invalidate(p)
    val before = ZarrStore.metaReads(p)
    val sd = SpatialZarr.open(spark, p)
    assert(sd.tables.keySet == Set("table") &&
      sd.points.keySet == Set("transcripts") &&
      sd.images.keySet == Set("cells") && sd.labels.keySet == Set("segmentation"))
    val t = sd.tables("table")
    assert(t.obs.count() == nO)
    assert(t.x.agg(sum("value")).head().getDouble(0) ==
      (for (i <- 0 until nO; j <- 0 until nV if (i + j) % 3 == 0)
        yield (i * 2 + j) % 7 * 0.5).sum)
    assert(sd.points("transcripts").count() == 500)
    val pyr = sd.images("cells")
    assert(pyr.nLevels == 2 && pyr.shape(1) == Seq(2L, 16L, 16L))
    // level 1 is the 2-stride of level 0 — exact closed form
    val l1 = pyr.coo(spark, 1).filter(col("c") === 1 && col("y") === 3 && col("x") === 5)
      .head().getDouble(3)
    assert(l1 == (1 * 31 + 6 * 7 + 10 * 3) % 256)
    val l0sum = pyr.coo(spark, 0).agg(sum("value")).head().getDouble(0)
    assert(l0sum == (for (c <- 0 until 2; y <- 0 until 32; x <- 0 until 32)
      yield ((c * 31 + y * 7 + x * 3) % 256).toDouble).sum)
    val segSum = sd.labels("segmentation").coo(spark, 0)
      .agg(sum("value")).head().getDouble(0)
    assert(segSum == (for (y <- 0 until 32; x <- 0 until 32)
      yield ((y / 8) * 4 + (x / 8)).toDouble).sum)
    assert(ZarrStore.metaReads(p) - before == 1,
      "open must plan from the consolidated root")
  }

  test("pyramid with ODD spatial extents: level shapes are ceil(s/stride)") {
    // 33x33, 3 levels: stride keeps coords divisible by 2^k, so coord 32
    // survives to every level — level shapes must be ceil (17, 9), not
    // floor (16, 8), or the last kept sample lands AT the declared extent
    val p = TestSpark.tmpDir("graft_sdo") + "/odd.zarr"
    val img = spark.range(33).select(col("id").as("y"))
      .crossJoin(spark.range(33).select(col("id").as("x")))
      .withColumn("value", (col("y") * 7 + col("x") * 3) % 256)
    SpatialZarrWriter.write(spark, p,
      images = Map("odd" -> SpatialZarrWriter.ImageSpec(
        img, Seq("y", "x"), Seq(33L, 33L), Seq(16, 16),
        dtype = "|u1", levels = 3)))
    val pyr = SpatialZarr.open(spark, p).images("odd")
    assert(pyr.shape(1) == Seq(17L, 17L) && pyr.shape(2) == Seq(9L, 9L))
    // the corner sample (32,32) survives at every level, value intact
    (1 to 2).foreach { k =>
      val s = 1L << k
      val v = pyr.coo(spark, k)
        .filter(col("y") === 32 / s && col("x") === 32 / s).head().getDouble(2)
      assert(v == (32 * 7 + 32 * 3) % 256, s"level $k corner")
    }
    assert(pyr.coo(spark, 1).count() == 17L * 17)
  }

  test("writeDenseNd rejects out-of-range coordinates (no silent id corruption)") {
    val p = TestSpark.tmpDir("graft_sdr") + "/bad.zarr"
    val img = spark.range(3).select(col("id").as("y"), col("id").as("x"))
      .withColumn("value", lit(1.0))
      .union(spark.range(1).select(lit(40L).as("y"), lit(0L).as("x"), lit(2.0)))
    val ex = intercept[org.apache.spark.SparkException] {
      SpatialZarrWriter.write(spark, p,
        images = Map("bad" -> SpatialZarrWriter.ImageSpec(
          img, Seq("y", "x"), Seq(32L, 32L), Seq(16, 16), dtype = "|u1")))
    }
    assert(ex.getMessage.contains("out of") ||
      Option(ex.getCause).exists(_.getMessage.contains("out of")))
  }

  test("labels element: int decode, block structure") {
    val sd = SpatialZarr.open(spark, root)
    val lab = sd.labels("segmentation")
    assert(lab.axes == Seq("y", "x"))
    val coo = lab.coo(spark)
    assert(coo.select("value").distinct().count() == 64)
    val s = coo.agg(sum("value")).head().getDouble(0)
    val expect = (for (y <- 0 until 64; x <- 0 until 64)
      yield ((y / 8) * 8 + (x / 8)).toDouble).sum
    assert(math.abs(s - expect) < 1e-9)
  }
}
