package graft.zarr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** DataSource V2 surface: spark.read.format("zarr") over the committed
  * fixture (closed forms as in ZarrSpec).
  */
class ZarrSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val root = "fixtures/zarr/pbmc.zarr"
  private val nObs = 300
  private val nVar = 40
  private def xmask(i: Int, j: Int) = (i * 5 + j * 11) % 23 == 0
  private def xval(i: Int, j: Int) = ((i * 2 + j * 13) % 19) * 0.5

  test("csr X equals the closed form") {
    val dsv2 = spark.read.format("zarr").load(root)
    assert(dsv2.columns.toSeq == Seq("obs_id", "var_id", "value"))
    val expected = (for { i <- 0 until nObs; j <- 0 until nVar if xmask(i, j) }
      yield xval(i, j)).sum
    val got = dsv2.agg(sum("value")).collect().head.getDouble(0)
    assert(math.abs(got - expected) < 1e-9)
    assert(dsv2.count() ==
      (for { i <- 0 until nObs; j <- 0 until nVar if xmask(i, j) } yield 1).size)
  }

  test("csr row-range pruning from pushed obs_id bounds") {
    val dsv2 = spark.read.format("zarr").load(root)
    // small store: plan floors at defaultParallelism (no fixed cap)
    assert(dsv2.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val sliced = dsv2.filter(col("obs_id") < 10)
    assert(sliced.rdd.getNumPartitions <= 2,
      s"expected <=2 pruned ranges, got ${sliced.rdd.getNumPartitions}")
    val cnt = sliced.count()
    assert(cnt == (for { i <- 0 until 10; j <- 0 until nVar if xmask(i, j) } yield 1).size)
  }

  test("range planning scales with store rows — no fixed partition cap") {
    // targetRowsPerTask=10 on a 300-row store -> 30 row ranges; the old
    // plan capped at 32 tasks regardless of store size
    val scaled = spark.read.format("zarr")
      .option("targetRowsPerTask", 10).load(root)
    assert(scaled.rdd.getNumPartitions == 30,
      s"got ${scaled.rdd.getNumPartitions}")
    val expected = (for { i <- 0 until nObs; j <- 0 until nVar if xmask(i, j) }
      yield xval(i, j)).sum
    assert(math.abs(scaled.agg(sum("value")).head().getDouble(0) - expected) < 1e-9)
    // frame slots plan through the same sizing
    val obs = spark.read.format("zarr").option("slot", "obs")
      .option("targetRowsPerTask", 50).load(root)
    assert(obs.rdd.getNumPartitions == 6)
    assert(obs.count() == nObs)
  }

  test("DSv2 frame slots over a DISTRIBUTED-written multi-chunk frame") {
    // round-12 writer path: a 300-row obs frame at frameChunkLen 64 is
    // executor-written (5 chunks/column incl. categorical codes); the
    // DSv2 frame reader must serve it with bounds + column pruning, and
    // values must round-trip exactly (incl. 64-bit longs, bools, nulls
    // -> 0 semantics mirrored by the write contract)
    val p = TestSpark.tmpDir("graft_dsvdist") + "/dist.zarr"
    val n = 300
    val big = (1L << 53) + 1
    val obs = spark.range(n).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      (col("id") % 3 === 0).as("flag"),
      (col("id") + big).as("uid64"),
      (col("id") * 0.25).as("score"),
      concat(lit("t"), col("id") % 4).as("cell_type"))
    val vars = spark.range(4).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(n).select(col("id").as("obs_id"),
      (col("id") % 4).as("var_id"), lit(1.0).as("value"))
    AnnZarrWriter.write(graft.artifact.AnnDataset(obs, vars, x), p,
      frameChunkLen = 64, categoricalCols = Set("obs/cell_type"))
    val df = spark.read.format("zarr").option("slot", "obs").load(p)
    // pruned + bounded scan across a chunk boundary
    val sliced = df.filter(col("obs_id") >= 60 && col("obs_id") < 70)
      .select("obs_id", "uid64", "flag", "cell_type")
      .orderBy("obs_id").collect()
    assert(sliced.length == 10)
    sliced.zipWithIndex.foreach { case (r, k) =>
      val i = 60 + k
      // |b1 columns read back as 0/1 longs (the zarr frame contract)
      assert(r.getLong(0) == i && r.getLong(1) == big + i &&
        r.getLong(2) == (if (i % 3 == 0) 1L else 0L) &&
        r.getString(3) == s"t${i % 4}", s"row $i")
    }
    assert(df.count() == n)
  }

  test("csr range task reads only its own indptr/data/indices chunks") {
    // small chunks so indptr spans several chunk objects: 120 rows,
    // frame/indptr chunk 16, X chunk 32
    val p = graft.TestSpark.tmpDir("graft_zsrc") + "/slice.zarr"
    val obs = spark.range(120).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(12).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(120).select(col("id").as("obs_id"))
      .crossJoin(spark.range(12).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 3 === 0)
      .withColumn("value", (col("obs_id") * 2 + col("var_id")) % 7 * 0.5)
    AnnZarrWriter.write(graft.artifact.AnnDataset(obs, vars, x), p,
      chunkElems = 32, frameChunkLen = 16)
    def reads(body: => Unit): Long = {
      val before = ZarrStore.dataReads(p); body; ZarrStore.dataReads(p) - before
    }
    val full = reads {
      spark.read.format("zarr").load(p).agg(sum("value")).head()
    }
    val sliced = reads {
      val r = spark.read.format("zarr").load(p)
        .filter(col("obs_id") >= 110).agg(sum("value")).head().getDouble(0)
      val expect = (for (i <- 110 until 120; j <- 0 until 12 if (i + j) % 3 == 0)
        yield (i * 2 + j) % 7 * 0.5).sum
      assert(math.abs(r - expect) < 1e-9)
    }
    // the tail slice (one 30-row range survives pruning) must not
    // re-decode the whole indptr (8 chunks) or the full data/indices
    // (15 chunks each) per task: ~2 planning boundary reads + ~3
    // indptr slice chunks + ~4+4 data/indices chunks
    assert(sliced < full / 2, s"sliced scan read $sliced of $full chunk objects")
    assert(sliced <= 16, s"tail slice read $sliced chunk objects")
  }

  test("dense slot option: chunk-grid partitions, bound pruning, fill-aware") {
    val log = spark.read.format("zarr").option("slot", "layers/log").load(root)
    // 300x40 at (64,16) chunks = 5x3 grid
    assert(log.rdd.getNumPartitions == 15)
    val cell = log.filter(col("obs_id") === 100 && col("var_id") === 20)
    assert(cell.rdd.getNumPartitions == 1, "point lookup = one chunk object")
    assert(cell.collect().head.getDouble(2) == ((100 * 17 + 20 * 3) % 29) * 0.25)
    // uns/rank is 1-D so not servable here; fill handling is covered by
    // the dense reader's absent-object branch (none absent in layers/log)
    val total = log.agg(sum("value")).collect().head.getDouble(0)
    val expect = (for (i <- 0 until nObs; j <- 0 until nVar)
      yield ((i * 17 + j * 3) % 29) * 0.25).sum
    assert(math.abs(total - expect) < 1e-6)
  }

  test("column pruning reaches the reader") {
    val only = spark.read.format("zarr").option("slot", "obsm/X_pca").load(root)
      .select("value")
    assert(only.columns.toSeq == Seq("value"))
    val s = only.agg(sum("value")).collect().head.getDouble(0)
    val expect = (for (i <- 0 until nObs; k <- 0 until 5)
      yield ((i * 13 + k * 7) % 37) * 0.5).sum
    assert(math.abs(s - expect) < 1e-6)
  }

  test("rank-3 dense slot: axis columns, per-axis chunk pruning (NGFF image)") {
    val sp = "fixtures/zarr/spatial.zarr"
    val img = spark.read.format("zarr")
      .option("slot", "images/cells/0").option("axes", "c,y,x").load(sp)
    assert(img.columns.toSeq == Seq("c", "y", "x", "value"))
    // (3,64,64) at (1,32,32) chunks = 3*2*2 = 12 chunk objects
    assert(img.rdd.getNumPartitions == 12)
    // pushed bounds on EACH axis prune independently: one channel, one
    // y-half, one x-half -> exactly 1 chunk object planned
    val one = img.filter(col("c") === 1 && col("y") < 32 && col("x") >= 32)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 32L * 32)
    val probe = img.filter(col("c") === 2 && col("y") === 33 && col("x") === 7)
      .head().getDouble(3)
    assert(probe == (2 * 31 + 33 * 7 + 7 * 3) % 256)
    val total = img.agg(sum("value")).head().getDouble(0)
    val expect = (for (c <- 0 until 3; y <- 0 until 64; x <- 0 until 64)
      yield ((c * 31 + y * 7 + x * 3) % 256).toDouble).sum
    assert(math.abs(total - expect) < 1e-6)
  }

  test("writer-produced sharded dense store: DSv2 point lookup stays shard-local") {
    val p = graft.TestSpark.tmpDir("graft_zsrc3") + "/dense3.zarr"
    val nR = 96; val nC = 8
    val obs = spark.range(nR).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(nC).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(nR).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nC).select(col("id").as("var_id")))
      .withColumn("value", (col("obs_id") * 5 + col("var_id") * 3) % 11 * 0.5)
    // 8-row bands x4 per shard: 96 rows -> 3 shard objects
    AnnZarrWriter.write(graft.artifact.AnnDataset(obs, vars, x), p,
      chunkElems = 64, v3 = true, shardFactor = 4, denseSlots = Set("X"))
    val dsv2 = spark.read.format("zarr").load(p)
    // pushed bounds prune to ONE inner chunk (= one band of one shard)
    val cell = dsv2.filter(col("obs_id") === 70 && col("var_id") === 3)
    assert(cell.rdd.getNumPartitions == 1, "point lookup = one chunk object")
    assert(cell.head().getDouble(2) == (70 * 5 + 3 * 3) % 11 * 0.5)
    val total = dsv2.agg(sum("value")).head().getDouble(0)
    val expect = (for (i <- 0 until nR; j <- 0 until nC)
      yield ((i * 5 + j * 3) % 11 * 0.5)).sum
    assert(math.abs(total - expect) < 1e-9)
  }

  test("AnnZarr.open routes large axis frames through the DSv2 scan") {
    // every axis frame, whatever its size (120-row obs, 3-row var),
    // reads through the row-range DSv2 plan — no driver decode, no
    // LocalRelation payload in task binaries — and equals the writer's
    // input frame
    val p = TestSpark.tmpDir("graft_rt_route") + "/route.zarr"
    val n = 120
    val obs = spark.range(n).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      (col("id") % 7).as("batch"))
    val vars = spark.range(3).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(n).select(col("id").as("obs_id"),
      (col("id") % 3).as("var_id"), lit(1.0).as("value"))
    AnnZarrWriter.write(graft.artifact.AnnDataset(obs, vars, x), p,
      chunkElems = 64, frameChunkLen = 32)
    val ds = AnnZarr.open(spark, p)
    for ((got, want, key) <- Seq((ds.obs, obs, "obs_id"), (ds.vars, vars, "var_id"))) {
      assert(got.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.getClass.getSimpleName.contains("DataSourceV2")),
        s"$key frame must read through the DSv2 scan:\n${got.queryExecution.optimizedPlan}")
      assert(got.orderBy(key).collect().toSeq == want.orderBy(key).collect().toSeq, key)
    }
    assert(ds.obs.rdd.getNumPartitions > 1, "DSv2 frame scan must parallelize")
  }


  test("format-transparent: same scans over the v3 store (sharded csr X)") {
    val v3 = "fixtures/zarr/pbmc_v3.zarr"
    val dsv2 = spark.read.format("zarr").load(v3)
    val expected = (for { i <- 0 until nObs; j <- 0 until nVar if xmask(i, j) }
      yield xval(i, j)).sum
    assert(math.abs(dsv2.agg(sum("value")).collect().head.getDouble(0) - expected) < 1e-9)
    // pushed bounds still prune csr row ranges on the v3 layout
    val sliced = dsv2.filter(col("obs_id") < 10)
    assert(sliced.rdd.getNumPartitions <= 2)
    assert(sliced.count() ==
      (for { i <- 0 until 10; j <- 0 until nVar if xmask(i, j) } yield 1).size)
    // sharded dense slot: shard objects hold a 4x2 inner grid each
    val log = spark.read.format("zarr").option("slot", "layers/log").load(v3)
    val total = log.agg(sum("value")).collect().head.getDouble(0)
    val expect = (for (i <- 0 until nObs; j <- 0 until nVar)
      yield ((i * 17 + j * 3) % 29) * 0.25).sum
    assert(math.abs(total - expect) < 1e-6)
  }
}
