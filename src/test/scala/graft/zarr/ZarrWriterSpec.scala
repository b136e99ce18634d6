package graft.zarr

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.artifact.{AnnDataset, RawSlots, UnsValue}

/** zarr sink round-trip: the writer's store must parse through the
  * reader whose byte-level decode is pinned by the committed Python
  * fixture (ZarrSpec). Content is closed-form, asserted arithmetically.
  */
class ZarrWriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nObs = 150
  private val nVar = 24

  private def xmask(i: Long, j: Long) = (i * 3 + j * 5) % 7 == 0
  private def xval(i: Long, j: Long) = ((i * 11 + j * 13) % 31) * 0.5

  private def buildDataset(): AnnDataset = {
    val obs = spark.range(nObs).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      (col("id") % 4).as("batch"),
      (col("id") * 3 % 10 * 0.25).as("score"))
    val vars = spark.range(nVar).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nVar).select(col("id").as("var_id")))
      .filter((col("obs_id") * 3 + col("var_id") * 5) % 7 === 0)
      .withColumn("value", (col("obs_id") * 11 + col("var_id") * 13) % 31 * 0.5)
    val pca = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(3).select(col("id").as("dim_id")))
      .withColumn("value", (col("obs_id") + col("dim_id") * 7) % 13 * 0.5)
    import UnsValue._
    AnnDataset(obs, vars, x,
      obsm = Map("X_pca" -> pca),
      uns = Map("seed" -> Scalar(11L), "tag" -> Scalar("trial"),
        "weights" -> Arr(Seq(0.5, 1.5)),
        "nested" -> Mapping(Map("lr" -> Scalar(0.25)))))
  }

  private def writeTemp(chunkElems: Int = 128): String = {
    val p = TestSpark.tmpDir("graft_zw") + "/rt.zarr"
    AnnZarrWriter.write(buildDataset(), p, chunkElems)
    p
  }

  test("open() slots are lazy scans: an action after appendRows sees the new rows") {
    val p = TestSpark.tmpDir("graft_zlazy") + "/lazy.zarr"
    val b = buildDataset()
    AnnZarrWriter.write(AnnDataset(b.obs, b.vars, b.x), p, chunkElems = 128)
    val ds = AnnZarr.open(spark, p)
    val obs1 = spark.range(10).select(col("id").as("obs_id"),
      concat(lit("d"), col("id")).as("obs_name"),
      (col("id") % 4).as("batch"), lit(0.5).as("score"))
    val x1 = spark.range(10).select(col("id").as("obs_id"),
      lit(2L).as("var_id"), lit(1.5).as("value"))
    AnnZarrWriter.appendRows(obs1, x1, p)
    val nnz0 = (for (i <- 0L until nObs; j <- 0L until nVar if xmask(i, j)) yield 1).size
    assert(ds.obs.count() == nObs + 10)
    assert(ds.x.count() == nnz0 + 10)
  }

  test("round-trip: obs/var frames, csr X multi-chunk, exact values") {
    val p = writeTemp(chunkElems = 128) // nnz > 128 -> several chunk objects
    val ds = AnnZarr.open(spark, p)
    val obs = ds.obs.orderBy("obs_id").collect()
    assert(obs.length == nObs)
    obs.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("obs_name") == s"c$i")
      assert(r.getAs[Long]("batch") == i % 4)
      assert(r.getAs[Double]("score") == i * 3 % 10 * 0.25)
    }
    assert(ds.vars.count() == nVar)
    val got = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (for {
      i <- 0L until nObs; j <- 0L until nVar if xmask(i, j)
    } yield (i, j, xval(i, j))).toArray
    assert(got.sameElements(expected))
  }

  test("executor-written chunk grid matches the declared layout") {
    val p = writeTemp(chunkElems = 128)
    val za = ZarrStore.openArray(p, "X/data")
    val nnz = (for { i <- 0L until nObs; j <- 0L until nVar if xmask(i, j) } yield 1).size
    assert(za.shape == Seq(nnz.toLong) && za.chunks == Seq(128))
    val expectChunks = (nnz + 127) / 128
    assert(za.gridCoords.size == expectChunks)
    // every chunk object exists (they were written by executor tasks)
    za.gridCoords.foreach(c => assert(za.readChunk(c).isDefined, s"chunk $c missing"))
  }

  test("obsm + uns round-trip (scalars, arrays, nested mapping)") {
    import UnsValue._
    val ds = AnnZarr.open(spark, writeTemp())
    val pcaSum = ds.obsm("X_pca").agg(sum("value")).head().getDouble(0)
    val expected = (for (i <- 0L until nObs; k <- 0L until 3)
      yield (i + k * 7) % 13 * 0.5).sum
    assert(math.abs(pcaSum - expected) < 1e-6)
    assert(ds.uns("seed") == Scalar(11L))
    assert(ds.uns("tag") == Scalar("trial"))
    assert(ds.uns("weights") == Arr(Seq(0.5, 1.5)))
    assert(ds.uns("nested") == Mapping(Map("lr" -> Scalar(0.25))))
  }

  test("MuData-on-zarr: modalities under mod/ open via openMu") {
    val p = TestSpark.tmpDir("graft_zmu") + "/mu.zarr"
    val rna = buildDataset()
    val adt = AnnDataset(
      spark.range(10).select(col("id").as("obs_id"), concat(lit("c"), col("id")).as("obs_name")),
      spark.range(4).select(col("id").as("var_id"), concat(lit("p"), col("id")).as("var_name")),
      Seq((0L, 1L, 2.5), (3L, 2L, 1.0)).toDF("obs_id", "var_id", "value"))
    AnnZarrWriter.write(rna, s"$p/mod/rna")
    AnnZarrWriter.write(adt, s"$p/mod/adt")
    val mods = AnnZarr.openMu(spark, p)
    assert(mods.keySet == Set("adt", "rna"))
    assert(mods("adt").x.count() == 2)
    assert(mods("rna").obs.count() == nObs)
  }

  test("writeMu: one-call MuData container, root-consolidated reopen") {
    val p = TestSpark.tmpDir("graft_zmu2") + "/mu.zarr"
    val rna = buildDataset()
    val adt = AnnDataset(
      spark.range(10).select(col("id").as("obs_id"), concat(lit("c"), col("id")).as("obs_name")),
      spark.range(4).select(col("id").as("var_id"), concat(lit("p"), col("id")).as("var_name")),
      Seq((0L, 1L, 2.5), (3L, 2L, 1.0)).toDF("obs_id", "var_id", "value"))
    AnnZarrWriter.writeMu(Map("rna" -> rna, "adt" -> adt), p, chunkElems = 128)
    assert(ZarrStore.attrString(p, "", "encoding-type").contains("MuData"))
    // whole-container reopen costs the consolidated-root metadata GETs
    ZarrStore.invalidate(p)
    val before = ZarrStore.metaReads(p)
    val mods = AnnZarr.openMu(spark, p)
    assert(mods.keySet == Set("adt", "rna"))
    assert(mods("adt").x.count() == 2)
    val got = mods("rna").x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (for {
      i <- 0L until nObs; j <- 0L until nVar if xmask(i, j)
    } yield (i, j, xval(i, j))).toArray
    assert(got.sameElements(expected))
    assert(ZarrStore.metaReads(p) - before <= 2,
      "openMu should plan from the root consolidated metadata")
  }

  test("v3 sharded sink: zarr.json nodes, shard objects, one-GET reopen") {
    val p = TestSpark.tmpDir("graft_zw3") + "/rt3.zarr"
    // 32-elem inner chunks x4 per shard -> several shard objects for nnz
    AnnZarrWriter.write(buildDataset(), p, chunkElems = 32, v3 = true,
      shardFactor = 4)
    assert(ZarrStore.format(p) == 3)
    val za = ZarrStore.openArray(p, "X/data")
    assert(za.compressor == "sharding")
    assert(za.chunks == Seq(32) && za.shard.get.shardShape == Seq(128))
    val nnz = (for { i <- 0L until nObs; j <- 0L until nVar if xmask(i, j) } yield 1).size
    // store objects = shards, not inner chunks
    val shardDir = new java.io.File(s"$p/X/data/c")
    // ignore Hadoop local-FS .crc sidecars
    assert(shardDir.listFiles().count(!_.getName.startsWith(".")) == (nnz + 127) / 128)
    // consolidated v3 root: full reopen costs 2 metadata GETs
    ZarrStore.invalidate(p)
    val before = ZarrStore.metaReads(p)
    val ds = AnnZarr.open(spark, p)
    val got = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (for {
      i <- 0L until nObs; j <- 0L until nVar if xmask(i, j)
    } yield (i, j, xval(i, j))).toArray
    assert(got.sameElements(expected))
    assert(ZarrStore.metaReads(p) - before == 2)
    // uns + obsm survive the v3 flavor too
    import UnsValue._
    assert(ds.uns("seed") == Scalar(11L) && ds.uns("tag") == Scalar("trial"))
    val pcaSum = ds.obsm("X_pca").agg(sum("value")).head().getDouble(0)
    val expPca = (for (i <- 0L until nObs; k <- 0L until 3)
      yield (i + k * 7) % 13 * 0.5).sum
    assert(math.abs(pcaSum - expPca) < 1e-6)
  }

  test("appendRows: incremental ingest touches only boundary + new chunks") {
    val p = TestSpark.tmpDir("graft_za") + "/grow.zarr"
    val mk = (lo: Long, hi: Long) => (
      spark.range(hi - lo).select(col("id").as("obs_id"),
        concat(lit("c"), col("id") + lo).as("obs_name"),
        ((col("id") + lo) % 5).as("grp")),
      spark.range(hi - lo).select(col("id").as("obs_id"))
        .crossJoin(spark.range(nVar).select(col("id").as("var_id")))
        .filter(((col("obs_id") + lo) * 3 + col("var_id") * 5) % 7 === 0)
        .withColumn("value",
          ((col("obs_id") + lo) * 11 + col("var_id") * 13) % 31 * 0.5))
    val (obs0, x0) = mk(0, 90)
    val vars = spark.range(nVar).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    AnnZarrWriter.write(AnnDataset(obs0, vars, x0), p, chunkElems = 128)
    val nnz0 = ZarrStore.openArray(p, "X/data").shape.head
    val chunk0 = new java.io.File(s"$p/X/data/0")
    val mtime0 = chunk0.lastModified()
    Thread.sleep(1100) // second-granularity mtimes on some filesystems
    val (obs1, x1) = mk(90, nObs)
    AnnZarrWriter.appendRows(obs1, x1, p)
    // chunk 0 (full before the append) was NOT rewritten
    assert(nnz0 > 128, "fixture must span >1 chunk before the append")
    assert(chunk0.lastModified() == mtime0, "pre-boundary chunk rewritten")
    // the merged store equals a from-scratch write of all 150 rows
    val ds = AnnZarr.open(spark, p)
    val obs = ds.obs.orderBy("obs_id").collect()
    assert(obs.length == nObs)
    obs.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("obs_name") == s"c$i")
      assert(r.getAs[Long]("grp") == i % 5)
    }
    val got = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (for {
      i <- 0L until nObs; j <- 0L until nVar if xmask(i, j)
    } yield (i, j, xval(i, j))).toArray
    assert(got.sameElements(expected))
  }

  test("appendRows is O(batch): obs/indptr chunk-aligned, bounded object writes") {
    val p = TestSpark.tmpDir("graft_zab") + "/grow.zarr"
    val mk = (lo: Long, hi: Long) => (
      spark.range(hi - lo).select(col("id").as("obs_id"),
        concat(lit("c"), col("id") + lo).as("obs_name"),
        ((col("id") + lo) % 5).as("grp")),
      spark.range(hi - lo).select(col("id").as("obs_id"))
        .crossJoin(spark.range(nVar).select(col("id").as("var_id")))
        .filter(((col("obs_id") + lo) * 3 + col("var_id") * 5) % 7 === 0)
        .withColumn("value",
          ((col("obs_id") + lo) * 11 + col("var_id") * 13) % 31 * 0.5))
    val (obs0, x0) = mk(0, 90)
    val vars = spark.range(nVar).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    // small frame chunks so the obs axis spans >1 chunk before the append
    AnnZarrWriter.write(AnnDataset(obs0, vars, x0), p,
      chunkElems = 128, frameChunkLen = 64)
    def files(): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else if (f.getName.startsWith(".crc") ||
            f.getName.endsWith(".crc")) Nil else Seq(f))
      walk(new java.io.File(p)).map(f =>
        f.getPath.stripPrefix(p + "/") -> f.lastModified()).toMap
    }
    val before = files()
    Thread.sleep(1100)
    val (obs1, x1) = mk(90, nObs)
    AnnZarrWriter.appendRows(obs1, x1, p)
    val after = files()
    val touched = after.keySet.filter(k => !before.contains(k) || before(k) != after(k))
    // full pre-boundary chunks are untouched across EVERY array
    Seq("obs/_index/0", "obs/grp/0", "X/indptr/0", "X/data/0", "X/indices/0")
      .foreach(k => assert(!touched.contains(k), s"$k rewritten by append"))
    // what a batch may write: boundary+new chunks per array + metadata
    touched.foreach { k =>
      assert(k.endsWith(".zarray") || k.endsWith(".zattrs") ||
        k.endsWith(".zgroup") || k == ".zmetadata" ||
        k.split('/').last.toIntOption.exists(_ >= 1), s"unexpected write: $k")
    }
    // 5 .zarray + X/.zattrs|.zgroup + .zmetadata + boundary/new chunks
    // (2 per 1-D axis array, 3 per X data/indices) = ~20 objects; the
    // pre-fix code wrote every obs + indptr chunk — O(store)
    assert(touched.size <= 24, s"append wrote ${touched.size} objects: $touched")
    // merged store equals a from-scratch write of all 150 rows
    val ds = AnnZarr.open(spark, p)
    val obs = ds.obs.orderBy("obs_id").collect()
    assert(obs.length == nObs)
    obs.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("obs_name") == s"c$i")
      assert(r.getAs[Long]("grp") == i % 5)
    }
    val got = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (for {
      i <- 0L until nObs; j <- 0L until nVar if xmask(i, j)
    } yield (i, j, xval(i, j))).toArray
    assert(got.sameElements(expected))
  }

  test("appendRows extends obs-aligned aux slots: csr layer + dense obsm") {
    val p = TestSpark.tmpDir("graft_zax") + "/aux.zarr"
    val nV = 8
    def lval(i: Long, j: Long) = ((i * 5 + j * 3) % 13) * 0.25
    def pval(i: Long, k: Long) = ((i * 7 + k * 11) % 19) * 0.5
    val mk = (lo: Long, hi: Long) => {
      val obs = spark.range(hi - lo).select(col("id").as("obs_id"),
        concat(lit("c"), col("id") + lo).as("obs_name"))
      val x = spark.range(hi - lo).select(col("id").as("obs_id"))
        .crossJoin(spark.range(nV).select(col("id").as("var_id")))
        .filter((col("obs_id") + lo + col("var_id")) % 3 === 0)
        .withColumn("value",
          ((col("obs_id") + lo) * 7 + col("var_id") * 5) % 17 * 0.5)
      val log = spark.range(hi - lo).select(col("id").as("obs_id"))
        .crossJoin(spark.range(nV).select(col("id").as("var_id")))
        .filter((col("obs_id") + lo + col("var_id")) % 4 === 1)
        .withColumn("value",
          ((col("obs_id") + lo) * 5 + col("var_id") * 3) % 13 * 0.25)
      val pca = spark.range(hi - lo).select(col("id").as("obs_id"))
        .crossJoin(spark.range(3).select(col("id").as("dim_id")))
        .filter((col("obs_id") + lo + col("dim_id")) % 2 === 0)
        .withColumn("value",
          ((col("obs_id") + lo) * 7 + col("dim_id") * 11) % 19 * 0.5)
      (obs, x, log, pca)
    }
    val vars = spark.range(nV).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val (obs0, x0, log0, pca0) = mk(0, 50)
    AnnZarrWriter.write(AnnDataset(obs0, vars, x0,
      layers = Map("log" -> log0), obsm = Map("X_pca" -> pca0)), p,
      chunkElems = 64, frameChunkLen = 32, denseSlots = Set("obsm/X_pca"))
    val nnz0 = ZarrStore.openArray(p, "X/data").shape.head
    val (obs1, x1, log1, pca1) = mk(50, 90)
    // batch must cover every obs-aligned slot — a missing one refuses
    intercept[IllegalArgumentException] {
      AnnZarrWriter.appendRows(obs1, x1, p, newLayers = Map("log" -> log1))
    }
    AnnZarrWriter.appendRows(obs1, x1, p,
      newLayers = Map("log" -> log1), newObsm = Map("X_pca" -> pca1))
    val ds = AnnZarr.open(spark, p)
    assert(ds.obs.count() == 90)
    // csr layer merged exactly
    val gotLog = ds.layers("log").orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expLog = (for {
      i <- 0L until 90; j <- 0L until nV if (i + j) % 4 == 1
    } yield (i, j, lval(i, j))).toArray
    assert(gotLog.sameElements(expLog))
    // dense obsm reads the FULL 90x3 grid with merged boundary band
    val gotPca = ds.obsm("X_pca").orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(gotPca.length == 90 * 3)
    gotPca.foreach { case (i, k, v) =>
      val expect = if ((i + k) % 2 == 0) pval(i, k) else 0.0
      assert(v == expect, s"pca($i,$k): got $v expected $expect")
    }
    // truncateTo rolls every slot back (aux csr extents via indptr(n0))
    AnnZarrWriter.truncateTo(p, 50, nnz0)
    val back = AnnZarr.open(spark, p)
    assert(back.obs.count() == 50)
    assert(back.layers("log").count() ==
      (for (i <- 0 until 50; j <- 0 until nV if (i + j) % 4 == 1) yield 1).size)
    assert(back.obsm("X_pca").count() == 50 * 3)
  }

  test("truncateTo undoes a half-applied append (crash-recovery contract)") {
    val p = TestSpark.tmpDir("graft_ztr") + "/grow.zarr"
    val obs0 = spark.range(50).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"), (col("id") % 3).as("grp"))
    val x0 = spark.range(50).select(col("id").as("obs_id"))
      .crossJoin(spark.range(8).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 4 === 0)
      .withColumn("value", (col("obs_id") * 2 + col("var_id")) % 5 * 0.5)
    val vars = spark.range(8).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    AnnZarrWriter.write(graft.artifact.AnnDataset(obs0, vars, x0), p,
      chunkElems = 32, frameChunkLen = 16)
    def snap() = {
      val ds = AnnZarr.open(spark, p)
      (ds.obs.orderBy("obs_id").collect().map(_.toString).toSeq,
        ds.x.orderBy("obs_id", "var_id").collect().map(_.toString).toSeq)
    }
    val committed = snap()
    val nnz0 = ZarrStore.openArray(p, "X/data").shape.head
    // an append lands (this plays the half-applied batch)...
    val obs1 = spark.range(20).select(col("id").as("obs_id"),
      concat(lit("d"), col("id")).as("obs_name"), (col("id") % 3).as("grp"))
    val x1 = spark.range(20).select(col("id").as("obs_id"))
      .crossJoin(spark.range(8).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 3 === 0)
      .withColumn("value", lit(9.0))
    AnnZarrWriter.appendRows(obs1, x1, p)
    assert(snap() != committed)
    // ...and truncateTo rolls the store back to the committed extents
    AnnZarrWriter.truncateTo(p, 50, nnz0)
    assert(snap() == committed)
    // the store is still appendable after the rollback
    AnnZarrWriter.appendRows(obs1, x1, p)
    val ds = AnnZarr.open(spark, p)
    assert(ds.obs.count() == 70)
    assert(ds.x.filter(col("value") === 9.0).count() ==
      (for (i <- 0 until 20; j <- 0 until 8 if (i + j) % 3 == 0) yield 1).size)
  }

  test("appendRows on a v3 sharded store: boundary shard re-encoded, O(batch)") {
    val p = TestSpark.tmpDir("graft_za3") + "/grow3.zarr"
    val mk = (lo: Long, hi: Long) => (
      spark.range(hi - lo).select(col("id").as("obs_id"),
        concat(lit("c"), col("id") + lo).as("obs_name"),
        ((col("id") + lo) % 5).as("grp")),
      spark.range(hi - lo).select(col("id").as("obs_id"))
        .crossJoin(spark.range(nVar).select(col("id").as("var_id")))
        .filter(((col("obs_id") + lo) * 3 + col("var_id") * 5) % 7 === 0)
        .withColumn("value",
          ((col("obs_id") + lo) * 11 + col("var_id") * 13) % 31 * 0.5))
    val (obs0, x0) = mk(0, 90)
    val vars = spark.range(nVar).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    // 32-elem inner chunks x4 per shard; small frame chunks so the obs
    // axis spans several chunk objects before the append
    AnnZarrWriter.write(AnnDataset(obs0, vars, x0), p,
      chunkElems = 32, v3 = true, shardFactor = 4, frameChunkLen = 64)
    val nnz0 = ZarrStore.openArray(p, "X/data").shape.head
    assert(nnz0 > 256, "fixture must span >2 full shards before the append")
    def files(): Map[String, Long] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        d.listFiles().toSeq.flatMap(f =>
          if (f.isDirectory) walk(f) else if (f.getName.endsWith(".crc")) Nil
          else Seq(f))
      walk(new java.io.File(p)).map(f =>
        f.getPath.stripPrefix(p + "/") -> f.lastModified()).toMap
    }
    val before = files()
    Thread.sleep(1100)
    val (obs1, x1) = mk(90, nObs)
    AnnZarrWriter.appendRows(obs1, x1, p)
    val after = files()
    val touched = after.keySet.filter(k => !before.contains(k) || before(k) != after(k))
    // pre-boundary SHARD objects and full 1-D chunks are untouched
    Seq("X/data/c/0", "X/data/c/1", "X/indices/c/0", "X/indices/c/1",
      "obs/_index/c/0", "obs/grp/c/0", "X/indptr/c/0")
      .foreach(k => assert(!touched.contains(k), s"$k rewritten by append"))
    // a batch writes: per-node zarr.json + root (consolidated patch) +
    // boundary/new chunk and shard objects — O(batch), never O(store)
    touched.foreach { k =>
      assert(k.endsWith("zarr.json") ||
        k.split('/').last.toIntOption.exists(_ >= 1), s"unexpected write: $k")
    }
    assert(touched.size <= 24, s"append wrote ${touched.size} objects: $touched")
    // merged store equals a from-scratch write of all 150 rows
    val ds = AnnZarr.open(spark, p)
    val obs = ds.obs.orderBy("obs_id").collect()
    assert(obs.length == nObs)
    obs.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("obs_name") == s"c$i")
      assert(r.getAs[Long]("grp") == i % 5)
    }
    val got = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (for {
      i <- 0L until nObs; j <- 0L until nVar if xmask(i, j)
    } yield (i, j, xval(i, j))).toArray
    assert(got.sameElements(expected))
  }

  test("v3 dense slot writes row-banded shards; absent bands read as fill") {
    val p = TestSpark.tmpDir("graft_zds") + "/dense3.zarr"
    val nR = 100; val nC = 8
    val obs = spark.range(nR).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(nC).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    // rows 24..39 contribute NO elements -> two whole inner bands absent
    val x = spark.range(nR).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nC).select(col("id").as("var_id")))
      .filter((col("obs_id") < 24 || col("obs_id") >= 40) &&
        (col("obs_id") + col("var_id")) % 2 === 0)
      .withColumn("value", (col("obs_id") * 3 + col("var_id")) % 11 * 0.5)
    // chunkElems 64, nC 8 -> 8-row bands; shardFactor 4 -> 32-row shards
    AnnZarrWriter.write(AnnDataset(obs, vars, x), p, chunkElems = 64,
      v3 = true, shardFactor = 4, denseSlots = Set("X"))
    val za = ZarrStore.openArray(p, "X")
    assert(za.compressor == "sharding")
    assert(za.chunks == Seq(8, 8) && za.shard.get.shardShape == Seq(32, 8))
    // store objects = row-banded shards: ceil(100/32) = 4
    val objs = new java.io.File(s"$p/X/c").listFiles()
      .flatMap(_.listFiles()).count(!_.getName.endsWith(".crc"))
    assert(objs == 4, s"expected 4 shard objects, got $objs")
    // full grid (implicit zeros + absent bands) round-trips exactly
    val ds = AnnZarr.open(spark, p)
    val got = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == nR * nC)
    got.foreach { case (i, k, v) =>
      val expect = if ((i < 24 || i >= 40) && (i + k) % 2 == 0)
        (i * 3 + k) % 11 * 0.5 else 0.0
      assert(v == expect, s"($i,$k): got $v expected $expect")
    }
  }

  test("appendRows on a dense-X store: row-band merge, pre-boundary bands untouched") {
    val p = TestSpark.tmpDir("graft_zad") + "/dense.zarr"
    val nV = 8
    def dmask(i: Long, k: Long) = (i + k) % 3 == 0
    def dval(i: Long, k: Long) = ((i * 7 + k * 5) % 17) * 0.5
    val mk = (lo: Long, hi: Long) => (
      spark.range(hi - lo).select(col("id").as("obs_id"),
        concat(lit("c"), col("id") + lo).as("obs_name"),
        ((col("id") + lo) % 5).as("grp")),
      spark.range(hi - lo).select(col("id").as("obs_id"))
        .crossJoin(spark.range(nV).select(col("id").as("var_id")))
        .filter((col("obs_id") + lo + col("var_id")) % 3 === 0)
        .withColumn("value",
          ((col("obs_id") + lo) * 7 + col("var_id") * 5) % 17 * 0.5))
    val (obs0, x0) = mk(0, 50)
    val vars = spark.range(nV).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    // chunkElems 64 with 8 cols -> 8-row bands: 50 rows = bands 0..6
    AnnZarrWriter.write(AnnDataset(obs0, vars, x0), p,
      chunkElems = 64, frameChunkLen = 32, denseSlots = Set("X"))
    val za0 = ZarrStore.openArray(p, "X")
    assert(za0.chunks == Seq(8, 8) && za0.shape == Seq(50L, nV.toLong))
    val band0 = new java.io.File(s"$p/X/0.0")
    val m0 = band0.lastModified()
    Thread.sleep(1100)
    val (obs1, x1) = mk(50, 90)
    AnnZarrWriter.appendRows(obs1, x1, p)
    assert(band0.lastModified() == m0, "pre-boundary dense band rewritten")
    // merged grid equals a from-scratch dense write of 90 rows —
    // including implicit zeros and the committed rows of the boundary
    // band (rows 48-49 must survive the band-6 merge)
    val ds = AnnZarr.open(spark, p)
    assert(ds.obs.count() == 90)
    val x = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(x.length == 90 * nV)
    x.foreach { case (i, k, v) =>
      val expect = if (dmask(i, k)) dval(i, k) else 0.0
      assert(v == expect, s"($i,$k): got $v expected $expect")
    }
    // truncateTo rolls the dense store back by rows
    AnnZarrWriter.truncateTo(p, 50, 50)
    val back = AnnZarr.open(spark, p)
    assert(back.obs.count() == 50)
    assert(back.x.count() == 50 * nV)
  }

  test("appendRows on a v3 SHARDED dense store: boundary shard re-encoded") {
    val p = TestSpark.tmpDir("graft_zad3") + "/dense3.zarr"
    val nV = 8
    def dmask(i: Long, k: Long) = (i + k) % 3 == 0
    def dval(i: Long, k: Long) = ((i * 7 + k * 5) % 17) * 0.5
    val mk = (lo: Long, hi: Long) => (
      spark.range(hi - lo).select(col("id").as("obs_id"),
        concat(lit("c"), col("id") + lo).as("obs_name")),
      spark.range(hi - lo).select(col("id").as("obs_id"))
        .crossJoin(spark.range(nV).select(col("id").as("var_id")))
        .filter((col("obs_id") + lo + col("var_id")) % 3 === 0)
        .withColumn("value",
          ((col("obs_id") + lo) * 7 + col("var_id") * 5) % 17 * 0.5))
    val (obs0, x0) = mk(0, 50)
    val vars = spark.range(nV).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    // 8-row bands x4 per shard = 32-row shards; 50 rows -> shards 0, 1
    AnnZarrWriter.write(AnnDataset(obs0, vars, x0), p, chunkElems = 64,
      v3 = true, shardFactor = 4, frameChunkLen = 32, denseSlots = Set("X"))
    val za0 = ZarrStore.openArray(p, "X")
    assert(za0.shard.get.shardShape == Seq(32, 8) && za0.shape == Seq(50L, 8L))
    val shard0 = new java.io.File(s"$p/X/c/0/0")
    val m0 = shard0.lastModified()
    Thread.sleep(1100)
    val (obs1, x1) = mk(50, 90)
    AnnZarrWriter.appendRows(obs1, x1, p)
    // shard 0 (rows 0-31, fully committed) untouched; boundary shard 1
    // (rows 32-63: 32-49 committed, 50-63 new) re-encoded; shard 2 new
    assert(shard0.lastModified() == m0, "pre-boundary dense shard rewritten")
    assert(new java.io.File(s"$p/X/c/2/0").exists)
    val ds = AnnZarr.open(spark, p)
    assert(ds.obs.count() == 90)
    val x = ds.x.orderBy("obs_id", "var_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(x.length == 90 * nV)
    x.foreach { case (i, k, v) =>
      val expect = if (dmask(i, k)) dval(i, k) else 0.0
      assert(v == expect, s"($i,$k): got $v expected $expect")
    }
    // rollback by declared rows, then re-append cleanly
    AnnZarrWriter.truncateTo(p, 50, 50)
    assert(AnnZarr.open(spark, p).x.count() == 50 * nV)
    AnnZarrWriter.appendRows(obs1, x1, p)
    assert(AnnZarr.open(spark, p).x.count() == 90 * nV)
  }

  test("dense append after truncateTo: rolled-back rows do not resurrect") {
    // crash-recovery contract: truncateTo is a COMPLETE undo. Append a
    // dense batch writing 9.0 everywhere, roll it back, then append a
    // DIFFERENT (all-zero-implicit) batch — the boundary-band merge must
    // not resurrect the undone 9.0 cells. Exercises both the v2 chunk
    // branch and the v3 row-sharded branch (band straddling n0).
    val nV = 8
    val vars = spark.range(nV).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    def obsFor(pfx: String, n: Int) = spark.range(n).select(
      col("id").as("obs_id"), concat(lit(pfx), col("id")).as("obs_name"))
    val x0 = spark.range(50).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nV).select(col("id").as("var_id")))
      .withColumn("value", (col("obs_id") + col("var_id")) % 4 * 1.0)
    for ((v3, sf, tag) <- Seq((false, 1, "v2"), (true, 4, "v3s"))) {
      val p = TestSpark.tmpDir(s"graft_ghost$tag") + "/g.zarr"
      AnnZarrWriter.write(AnnDataset(obsFor("c", 50), vars, x0), p,
        chunkElems = 64, v3 = v3, shardFactor = sf,
        frameChunkLen = 32, denseSlots = Set("X"))
      // batch A: rows 50-69, every cell 9.0 — then undo it
      val xa = spark.range(20).select(col("id").as("obs_id"))
        .crossJoin(spark.range(nV).select(col("id").as("var_id")))
        .withColumn("value", lit(9.0))
      AnnZarrWriter.appendRows(obsFor("a", 20), xa, p)
      AnnZarrWriter.truncateTo(p, 50, 50)
      // batch B: rows 50-69 again, but elements ONLY in rows 60+ (var 0)
      // — the boundary band and the first re-grown band get NO elements,
      // so the next append never rewrites their objects: only
      // truncateTo's physical scrub can prevent rolled-back 9.0 cells
      // from resurfacing there
      val xb = spark.range(10, 20).select(col("id").as("obs_id"),
        lit(0L).as("var_id"), lit(1.0).as("value"))
      AnnZarrWriter.appendRows(obsFor("b", 20), xb, p)
      val got = AnnZarr.open(spark, p).x
        .filter(col("obs_id") >= 50).orderBy("obs_id", "var_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.length == 20 * nV, tag)
      got.foreach { case (i, k, v) =>
        val expect = if (i >= 60 && k == 0) 1.0 else 0.0
        assert(v == expect, s"$tag ($i,$k): got $v expected $expect — ghost cell")
      }
      // committed rows are untouched by the scrub
      val keep = AnnZarr.open(spark, p).x.filter(col("obs_id") < 50)
        .orderBy("obs_id", "var_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      keep.foreach { case (i, k, v) =>
        assert(v == (i + k) % 4 * 1.0, s"$tag committed ($i,$k) damaged: $v")
      }
    }
  }

  test("multi-chunk axis frames + indptr write executor-side: no driver collect") {
    // the round-11 write-side asymmetry: writeFrame collected the whole
    // obs frame and writeCsr built a row-sized indptr on the driver.
    // Every frame and indptr now writes through the executor-side
    // extend, so a multi-chunk store must read back identical to a
    // single-chunk one.
    val nO = 300; val nV = 100
    val obs = spark.range(nO).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      (col("id") % 5).as("grp"),
      (col("id") % 3 === 0).as("flag"),
      (col("id") * 0.25).as("score"),
      concat(lit("t"), col("id") % 4).as("cell_type"))
    val vars = spark.range(nV).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(nO).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nV).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 7 === 0)
      .withColumn("value", (col("obs_id") * 3 + col("var_id")) % 11 * 0.5)
    val ds = AnnDataset(obs, vars, x)
    for ((v3, tag) <- Seq(false -> "v2", true -> "v3")) {
      val p = TestSpark.tmpDir(s"graft_dist$tag") + "/dist.zarr"
      // frameChunkLen 64: obs (300), var (100), indptr (301) all multi-chunk
      AnnZarrWriter.write(ds, p, chunkElems = 256, v3 = v3, shardFactor = 4,
        frameChunkLen = 64, categoricalCols = Set("obs/cell_type"))
      // ...and the store reads back identical to a single-chunk write
      val pd = TestSpark.tmpDir(s"graft_driv$tag") + "/driv.zarr"
      AnnZarrWriter.write(ds, pd, chunkElems = 256, v3 = v3, shardFactor = 4,
        frameChunkLen = 1024, categoricalCols = Set("obs/cell_type"))
      def snap(path: String) = {
        val d = AnnZarr.open(spark, path)
        (d.obs.orderBy("obs_id").collect().map(_.toString).toSeq,
          d.vars.orderBy("var_id").collect().map(_.toString).toSeq,
          d.x.orderBy("obs_id", "var_id").collect().map(_.toString).toSeq)
      }
      val (o1, v1, x1) = snap(p)
      val (o2, v2c, x2) = snap(pd)
      assert(o1 == o2 && v1 == v2c && x1 == x2, s"$tag: multi-chunk != single-chunk write")
      // the categorical encoding survived the multi-chunk write
      assert(ZarrStore.attrString(p, "obs/cell_type", "encoding-type")
        .contains("categorical"), tag)
      // the store stays appendable (boundary indptr chunk extends)
      val obs1 = spark.range(20).select(col("id").as("obs_id"),
        concat(lit("d"), col("id")).as("obs_name"), lit(1L).as("grp"),
        lit(false).as("flag"), lit(0.5).as("score"), lit("t0").as("cell_type"))
      val x1b = spark.range(20).select(col("id").as("obs_id"),
        lit(3L).as("var_id"), lit(7.5).as("value"))
      AnnZarrWriter.appendRows(obs1, x1b, p)
      val grown = AnnZarr.open(spark, p)
      assert(grown.obs.count() == nO + 20 &&
        grown.x.filter(col("value") === 7.5).count() == 20, tag)
    }
  }

  test("int64 frame columns keep full 64-bit precision (no Double detour)") {
    // 2^53 + k is not representable as Double for odd k: a Double detour
    // in the column packers would silently land on a neighbor integer.
    // Pin a single-chunk frame (10 rows) and a multi-chunk one (100 rows
    // at frameChunkLen 32).
    val big = (1L << 53) + 1
    for ((n, fcl, tag) <- Seq((10, 65536, "one-chunk"), (100, 32, "multi-chunk"))) {
      val obs = spark.range(n).select(col("id").as("obs_id"),
        concat(lit("c"), col("id")).as("obs_name"),
        (col("id") + big).as("uid64"))
      val vars = spark.range(2).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name"))
      val x = spark.range(n).select(col("id").as("obs_id"),
        lit(0L).as("var_id"), lit(1.0).as("value"))
      val p = TestSpark.tmpDir(s"graft_i64$tag") + "/i64.zarr"
      AnnZarrWriter.write(AnnDataset(obs, vars, x), p, frameChunkLen = fcl)
      val got = AnnZarr.open(spark, p).obs.orderBy("obs_id").collect()
        .map(r => r.getAs[Long]("uid64"))
      (0 until n).foreach(i =>
        assert(got(i) == big + i, s"$tag row $i: ${got(i)} != ${big + i}"))
      // the APPEND path (boundary-chunk rewrite + new chunks) must
      // keep the same precision — both for the appended values and the
      // re-read committed prefix it merges
      val obs1 = spark.range(5).select(col("id").as("obs_id"),
        concat(lit("d"), col("id")).as("obs_name"),
        (col("id") + big + 1000000).as("uid64"))
      val x1 = spark.range(5).select(col("id").as("obs_id"),
        lit(0L).as("var_id"), lit(2.0).as("value"))
      AnnZarrWriter.appendRows(obs1, x1, p)
      val grown = AnnZarr.open(spark, p).obs.orderBy("obs_id").collect()
        .map(r => r.getAs[Long]("uid64"))
      (0 until n).foreach(i =>
        assert(grown(i) == big + i, s"$tag append damaged committed row $i"))
      (0 until 5).foreach(i =>
        assert(grown(n + i) == big + 1000000 + i, s"$tag appended row $i imprecise"))
    }
  }

  test("distributed indptr: all-empty chunk gaps still write cumulative values") {
    // rows 64..127 have ZERO elements -> the middle indptr chunk has no
    // rowCounts groups at all. The cogroup over the chunk-id range must
    // still write that object with the CUMULATIVE value (an indptr
    // entry is never fill-zero), and reads across the gap stay exact.
    val nO = 192; val L = 64
    val obs = spark.range(nO).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(6).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(nO).select(col("id").as("obs_id"))
      .crossJoin(spark.range(6).select(col("id").as("var_id")))
      .filter(col("obs_id") < 64 || col("obs_id") >= 128) // middle third empty
      .filter((col("obs_id") + col("var_id")) % 2 === 0)
      .withColumn("value", (col("obs_id") + col("var_id") * 3) % 7 * 1.0)
    val p = TestSpark.tmpDir("graft_gap") + "/gap.zarr"
    AnnZarrWriter.write(AnnDataset(obs, vars, x), p,
      chunkElems = 128, frameChunkLen = L)
    // the gap chunk object EXISTS (value-bearing, not fill)
    assert(new java.io.File(s"$p/X/indptr/1").exists, "gap indptr chunk missing")
    val ds = AnnZarr.open(spark, p)
    assert(ds.x.filter(col("obs_id") >= 64 && col("obs_id") < 128).count() == 0)
    val got = ds.x.agg(count(lit(1)), sum("value")).head()
    val expect = (for (i <- 0 until nO; j <- 0 until 6
      if (i < 64 || i >= 128) && (i + j) % 2 == 0) yield (i + j * 3) % 7 * 1.0)
    assert(got.getLong(0) == expect.size && math.abs(got.getDouble(1) - expect.sum) < 1e-9)
    // per-row slice across the gap boundary decodes exactly
    val r127 = ds.x.filter(col("obs_id") === 130).orderBy("var_id").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(r127 == (for (j <- 0 until 6 if (130 + j) % 2 == 0)
      yield (j.toLong, (130 + j * 3) % 7 * 1.0)).toSeq)
  }

  test("patchConsolidatedSubtree merges a grown v3 modality into the container root") {
    val mu = TestSpark.tmpDir("graft_mup3") + "/mu3.zarr"
    val mk = (pfx: String, n: Int) => AnnDataset(
      spark.range(n).select(col("id").as("obs_id"),
        concat(lit(pfx), col("id")).as("obs_name")),
      spark.range(4).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name")),
      spark.range(n).select(col("id").as("obs_id"), (col("id") % 4).as("var_id"),
        lit(2.0).as("value")))
    AnnZarrWriter.writeMu(Map("adt" -> mk("s", 5)), mu, v3 = true)
    // second modality created under the container AFTER the root snapshot
    AnnZarrWriter.write(mk("r", 3), s"$mu/mod/rna", v3 = true)
    // ...and grown (its own consolidation is patched by the append path)
    AnnZarrWriter.appendRows(
      spark.range(2).select(col("id").as("obs_id"),
        concat(lit("x"), col("id")).as("obs_name")),
      spark.range(2).select(col("id").as("obs_id"), lit(1L).as("var_id"),
        lit(9.0).as("value")), s"$mu/mod/rna")
    ZarrStore.patchConsolidatedSubtree(mu, "mod/rna")
    // container-level reopen sees BOTH modalities at the grown extents,
    // planning from the root consolidation
    ZarrStore.invalidate(mu)
    val before = ZarrStore.metaReads(mu)
    val mods = AnnZarr.openMu(spark, mu)
    assert(mods.keySet == Set("adt", "rna"))
    assert(mods("rna").obs.count() == 5 && mods("adt").obs.count() == 5)
    assert(mods("rna").x.filter(col("value") === 9.0).count() == 2)
    assert(ZarrStore.metaReads(mu) - before <= 2,
      "container reopen must plan from the patched root consolidation")
  }

  test("patchConsolidatedSubtree falls back to a full walk on malformed v2 .zmetadata") {
    // a foreign .zmetadata (no object-valued "metadata" map) must route
    // through consolidate(root), not throw ClassCastException/NPE
    val mu = TestSpark.tmpDir("graft_mup2bad") + "/mu2.zarr"
    val mk = (pfx: String, n: Int) => AnnDataset(
      spark.range(n).select(col("id").as("obs_id"),
        concat(lit(pfx), col("id")).as("obs_name")),
      spark.range(4).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name")),
      spark.range(n).select(col("id").as("obs_id"), (col("id") % 4).as("var_id"),
        lit(2.0).as("value")))
    AnnZarrWriter.writeMu(Map("rna" -> mk("r", 5)), mu, v3 = false)
    // clobber the root consolidation with a metadata-less JSON object
    val out = graft.core.Fs.fileSystem(mu).create(new org.apache.hadoop.fs.Path(mu, ".zmetadata"), true)
    try out.write("""{"zarr_consolidated_format":1}""".getBytes("UTF-8"))
    finally out.close()
    ZarrStore.invalidate(mu)
    ZarrStore.patchConsolidatedSubtree(mu, "mod/rna") // falls back, no throw
    val mods = AnnZarr.openMu(spark, mu)
    assert(mods.keySet == Set("rna") && mods("rna").obs.count() == 5)
  }

  test("patchConsolidatedSubtree falls back to a full walk on malformed v3 zarr.json") {
    // v3 twin of the v2 guard: a consolidated_metadata WITHOUT an
    // object-valued "metadata" map must route through consolidateV3(root)
    val mu = TestSpark.tmpDir("graft_mup3bad") + "/mu3.zarr"
    val mk = (pfx: String, n: Int) => AnnDataset(
      spark.range(n).select(col("id").as("obs_id"),
        concat(lit(pfx), col("id")).as("obs_name")),
      spark.range(4).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name")),
      spark.range(n).select(col("id").as("obs_id"), (col("id") % 4).as("var_id"),
        lit(2.0).as("value")))
    AnnZarrWriter.writeMu(Map("rna" -> mk("r", 5)), mu, v3 = true)
    // clobber the root node: consolidated_metadata present but metadata
    // is a non-object (the foreign/malformed shape the guard is for)
    val out = graft.core.Fs.fileSystem(mu).create(new org.apache.hadoop.fs.Path(mu, "zarr.json"), true)
    try out.write(("""{"zarr_format":3,"node_type":"group","attributes":{},""" +
      """"consolidated_metadata":{"kind":"inline","must_understand":false,""" +
      """"metadata":null}}""").getBytes("UTF-8"))
    finally out.close()
    ZarrStore.invalidate(mu)
    ZarrStore.patchConsolidatedSubtree(mu, "mod/rna") // falls back, no throw
    val mods = AnnZarr.openMu(spark, mu)
    assert(mods.keySet == Set("rna") && mods("rna").obs.count() == 5)
  }

  test("migrate refuses in-place / nested destinations") {
    val base = TestSpark.tmpDir("graft_migguard")
    val p = base + "/src.zarr"
    val obs = spark.range(5).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(3).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(5).select(col("id").as("obs_id"),
      lit(0L).as("var_id"), lit(1.0).as("value"))
    AnnZarrWriter.write(AnnDataset(obs, vars, x), p)
    for (dst <- Seq(p, p + "/nested.zarr", base)) {
      val ex = intercept[IllegalArgumentException] {
        AnnZarrWriter.migrate(spark, p, dst)
      }
      assert(ex.getMessage.contains("fresh path"), dst)
    }
    // the source store is intact after the refused migrations
    assert(AnnZarr.open(spark, p).obs.count() == 5)
  }

  test("truncateTo rolls back a v3 sharded store (crash-recovery contract)") {
    val p = TestSpark.tmpDir("graft_ztr3") + "/grow3.zarr"
    val obs0 = spark.range(50).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"), (col("id") % 3).as("grp"))
    val x0 = spark.range(50).select(col("id").as("obs_id"))
      .crossJoin(spark.range(8).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 4 === 0)
      .withColumn("value", (col("obs_id") * 2 + col("var_id")) % 5 * 0.5)
    val vars = spark.range(8).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    AnnZarrWriter.write(graft.artifact.AnnDataset(obs0, vars, x0), p,
      chunkElems = 16, v3 = true, shardFactor = 2, frameChunkLen = 16)
    def snap() = {
      val ds = AnnZarr.open(spark, p)
      (ds.obs.orderBy("obs_id").collect().map(_.toString).toSeq,
        ds.x.orderBy("obs_id", "var_id").collect().map(_.toString).toSeq)
    }
    val committed = snap()
    val nnz0 = ZarrStore.openArray(p, "X/data").shape.head
    val obs1 = spark.range(20).select(col("id").as("obs_id"),
      concat(lit("d"), col("id")).as("obs_name"), (col("id") % 3).as("grp"))
    val x1 = spark.range(20).select(col("id").as("obs_id"))
      .crossJoin(spark.range(8).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 3 === 0)
      .withColumn("value", lit(9.0))
    AnnZarrWriter.appendRows(obs1, x1, p)
    assert(snap() != committed)
    AnnZarrWriter.truncateTo(p, 50, nnz0)
    assert(snap() == committed)
    // still appendable after the rollback (boundary shard re-extends)
    AnnZarrWriter.appendRows(obs1, x1, p)
    val ds = AnnZarr.open(spark, p)
    assert(ds.obs.count() == 70)
    assert(ds.x.filter(col("value") === 9.0).count() ==
      (for (i <- 0 until 20; j <- 0 until 8 if (i + j) % 3 == 0) yield 1).size)
  }

  test("encoding parity: dense slots stay dense, categorical columns stay categorical") {
    val p = TestSpark.tmpDir("graft_zenc") + "/enc.zarr"
    val obs = spark.range(nObs).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      concat(lit("type_"), col("id") % 3).as("cell_type"),
      (col("id") * 3 % 10 * 0.25).as("score"))
    val vars = spark.range(nVar).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nVar).select(col("id").as("var_id")))
      .filter((col("obs_id") * 3 + col("var_id") * 5) % 7 === 0)
      .withColumn("value", (col("obs_id") * 11 + col("var_id") * 13) % 31 * 0.5)
    val pca = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(3).select(col("id").as("dim_id")))
      .filter((col("obs_id") + col("dim_id")) % 2 === 0) // zeros stay implicit
      .withColumn("value", (col("obs_id") + col("dim_id") * 7) % 13 * 0.5)
    AnnZarrWriter.write(AnnDataset(obs, vars, x, obsm = Map("X_pca" -> pca)), p,
      chunkElems = 256, denseSlots = Set("obsm/X_pca"),
      categoricalCols = Set("obs/cell_type"))
    // store-level encodings are what anndata-python would have written
    assert(ZarrStore.attrString(p, "obsm/X_pca", "encoding-type").contains("array"))
    val za = ZarrStore.openArray(p, "obsm/X_pca")
    assert(za.rank == 2 && za.shape == Seq(nObs.toLong, 3L))
    assert(ZarrStore.attrString(p, "obs/cell_type", "encoding-type")
      .contains("categorical"))
    assert(ZarrStore.openArray(p, "obs/cell_type/codes").dtype == "<i8")
    assert(ZarrStore.attrString(p, "X", "encoding-type").contains("csr_matrix"))
    // reopen: dense slot reads the FULL grid (implicit zeros included)
    val ds = AnnZarr.open(spark, p)
    val pcaDf = ds.obsm("X_pca")
    assert(pcaDf.count() == nObs.toLong * 3)
    val gotSum = pcaDf.agg(sum("value")).head().getDouble(0)
    val expSum = (for (i <- 0L until nObs; k <- 0L until 3 if (i + k) % 2 == 0)
      yield (i + k * 7) % 13 * 0.5).sum
    assert(math.abs(gotSum - expSum) < 1e-6)
    val probe = pcaDf.filter(col("obs_id") === 3 && col("var_id") === 0)
      .head().getDouble(2)
    assert(probe == 0.0, "implicit zero must read as fill")
    // categorical column decodes back to the original strings
    val types = ds.obs.orderBy("obs_id").collect()
    types.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("cell_type") == s"type_${i % 3}")
    }
  }

  test("appendRows extends categorical columns (new category + null)") {
    val p = TestSpark.tmpDir("graft_zcat") + "/cat.zarr"
    val obs0 = spark.range(40).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      concat(lit("t"), col("id") % 2).as("grade"))
    val vars = spark.range(6).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x0 = spark.range(40).select(col("id").as("obs_id"),
      (col("id") % 6).as("var_id"), (col("id") % 5 * 0.5).as("value"))
    AnnZarrWriter.write(AnnDataset(obs0, vars, x0), p,
      chunkElems = 64, frameChunkLen = 16, categoricalCols = Set("obs/grade"))
    val codes0 = new java.io.File(s"$p/obs/grade/codes/0")
    val m0 = codes0.lastModified()
    Thread.sleep(1100)
    // append introduces a NEW category t9 and a null
    val obs1 = spark.range(10).select(col("id").as("obs_id"),
      concat(lit("d"), col("id")).as("obs_name"),
      when(col("id") === 7, lit(null).cast("string"))
        .when(col("id") % 3 === 0, lit("t9"))
        .otherwise(concat(lit("t"), col("id") % 2)).as("grade"))
    val x1 = spark.range(10).select(col("id").as("obs_id"),
      (col("id") % 6).as("var_id"), lit(2.5).as("value"))
    AnnZarrWriter.appendRows(obs1, x1, p)
    assert(codes0.lastModified() == m0, "full codes chunk rewritten by append")
    val ds = AnnZarr.open(spark, p)
    val got = ds.obs.orderBy("obs_id").collect()
    assert(got.length == 50)
    (0 until 40).foreach(i => assert(got(i).getAs[String]("grade") == s"t${i % 2}"))
    (0 until 10).foreach { i =>
      val expect = if (i == 7) null
        else if (i % 3 == 0) "t9" else s"t${i % 2}"
      assert(got(40 + i).getAs[String]("grade") == expect, s"row ${40 + i}")
    }
    val cats = ZarrStore.openArray(p, "obs/grade/categories").readFlat()
    assert(cats == IndexedSeq("t0", "t1", "t9"))
  }

  test("append equivalence sweep: write+append == one-shot write across flavors") {
    // the round's centerpiece claim, swept across the flavor matrix:
    // {csr, dense} x {v2, v3-sharded} x {empty bootstrap, mid-chunk,
    // chunk-aligned} — the grown store must be INDISTINGUISHABLE from
    // a one-shot write of all rows (obs frame and full COO alike)
    val nV = 6
    val cases = Seq(
      // (label, v3, shardFactor, dense, chunkElems, frameChunk, n0, n1)
      ("csr-v2-bootstrap", false, 1, false, 16, 8, 0, 37),
      ("csr-v2-midchunk", false, 1, false, 64, 16, 33, 70),
      ("csr-v2-aligned", false, 1, false, 16, 8, 32, 64),
      ("csr-v3-sharded", true, 4, false, 16, 8, 21, 55),
      ("csr-v3-bootstrap", true, 2, false, 32, 8, 0, 41),
      ("dense-v2", false, 1, true, 48, 16, 25, 64),
      ("dense-v3-sharded", true, 4, true, 48, 16, 19, 58))
    cases.foreach { case (label, v3, sf, dense, ce, fcl, n0, n1) =>
      def slice(lo: Long, hi: Long) = (
        spark.range(hi - lo).select(col("id").as("obs_id"),
          concat(lit("c"), col("id") + lo).as("obs_name"),
          ((col("id") + lo) * 3 % 7).as("grp")),
        spark.range(hi - lo).select(col("id").as("obs_id"))
          .crossJoin(spark.range(nV).select(col("id").as("var_id")))
          .filter((col("obs_id") + lo + col("var_id") * 2) % 3 === 0)
          .withColumn("value",
            ((col("obs_id") + lo) * 5 + col("var_id") * 7) % 11 * 0.5))
      val vars = spark.range(nV).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name"))
      def snap(p: String) = {
        val ds = AnnZarr.open(spark, p)
        (ds.obs.orderBy("obs_id").collect().map(_.toString).toSeq,
          ds.x.orderBy("obs_id", "var_id").collect().map(_.toString).toSeq)
      }
      val dslots: Set[String] = if (dense) Set("X") else Set.empty
      val grown = TestSpark.tmpDir("graft_zeq") + s"/$label-grown.zarr"
      val (obs0, x0) = slice(0, n0)
      AnnZarrWriter.write(AnnDataset(obs0, vars, x0), grown, chunkElems = ce,
        v3 = v3, shardFactor = sf, frameChunkLen = fcl, denseSlots = dslots)
      val (obs1, x1) = slice(n0, n1)
      AnnZarrWriter.appendRows(obs1, x1, grown)
      val oneShot = TestSpark.tmpDir("graft_zeq") + s"/$label-oneshot.zarr"
      val (obsA, xA) = slice(0, n1)
      AnnZarrWriter.write(AnnDataset(obsA, vars, xA), oneShot, chunkElems = ce,
        v3 = v3, shardFactor = sf, frameChunkLen = fcl, denseSlots = dslots)
      assert(snap(grown) == snap(oneShot), s"flavor $label diverged")
    }
  }

  test("migrate: v2 fixture -> v3-sharded, encodings detected and preserved") {
    val src = Seq("fixtures/zarr/pbmc.zarr", "/root/repo/fixtures/zarr/pbmc.zarr")
      .find(p => new java.io.File(p).exists).get
    val dst = TestSpark.tmpDir("graft_zmig") + "/mig3.zarr"
    AnnZarrWriter.migrate(spark, src, dst, chunkElems = 64, v3 = true,
      shardFactor = 4)
    assert(ZarrStore.format(dst) == 3)
    // the fixture's DENSE layers/log stays a dense grid, its
    // categorical obs column stays categorical — encodings carried
    // over from source metadata, not re-derived from the dataframes
    assert(ZarrStore.isArray(src, "layers/log") ==
      ZarrStore.isArray(dst, "layers/log"))
    val srcCats = ZarrStore.children(src, "obs").filter(c =>
      ZarrStore.attrString(src, s"obs/$c", "encoding-type").contains("categorical"))
    assert(srcCats.nonEmpty, "fixture must carry a categorical column")
    srcCats.foreach(c => assert(
      ZarrStore.attrString(dst, s"obs/$c", "encoding-type").contains("categorical"),
      s"obs/$c lost its categorical encoding"))
    // values identical across the migration
    val a = AnnZarr.open(spark, src)
    val b = AnnZarr.open(spark, dst)
    assert(a.x.orderBy("obs_id", "var_id").collect().map(_.toString).toSeq ==
      b.x.orderBy("obs_id", "var_id").collect().map(_.toString).toSeq)
    assert(a.obs.orderBy("obs_id").collect().map(_.toString).toSeq ==
      b.obs.orderBy("obs_id").collect().map(_.toString).toSeq)
    assert(a.uns == b.uns)
  }

  test("raw slot and empty-x slot write and reopen") {
    val base = buildDataset()
    val rawVars = spark.range(30).select(col("id").as("var_id"),
      concat(lit("rg"), col("id")).as("var_name"))
    val rawX = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(30).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 11 === 0)
      .withColumn("value", (col("obs_id") * 2 + col("var_id")) % 9 * 0.5)
    val p = TestSpark.tmpDir("graft_zw") + "/raw.zarr"
    AnnZarrWriter.write(base.copy(raw = Some(RawSlots(rawVars, rawX))), p)
    val ds = AnnZarr.open(spark, p)
    assert(ds.raw.isDefined)
    assert(ds.raw.get.vars.count() == 30)
    val rs = ds.raw.get.x.agg(count(lit(1)), sum("value")).head()
    val exp = (for { i <- 0L until nObs; j <- 0L until 30 if (i + j) % 11 == 0 }
      yield (i * 2 + j) % 9 * 0.5)
    assert(rs.getLong(0) == exp.size)
    assert(math.abs(rs.getDouble(1) - exp.sum) < 1e-6)
  }

  test("bulk appendRows routes executor-side: probe still, rollback-safe, both formats") {
    // a batch spanning >1 chunk of the index array (here 300 rows over
    // 32-row chunks): the obs frame AND the csr indptr tail write through
    // the chunk-grouped shuffle, boundary chunks merged in-task.
    // Read-back must equal the single-chunk twin, and truncateTo must
    // remain a complete undo.
    val nV = 6
    val n0 = 50; val nAdd = 300
    def mkObs(pfx: String, n: Int, catMod: Int) = spark.range(n).select(
      col("id").as("obs_id"),
      concat(lit(pfx), col("id")).as("obs_name"),
      (col("id") % 5).as("grp"),
      (col("id") * 3 % 10 * 0.25).as("score"),
      concat(lit("t"), col("id") % catMod).as("cell_type"))
    val vars = spark.range(nV).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    def mkX(n: Int, seed: Int) = spark.range(n).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nV).select(col("id").as("var_id")))
      // obs_id ≡ 1 (mod 11) rows get NO elements: the executor-side
      // indptr walk must fill their entries from the running cumulative
      .filter((col("obs_id") + col("var_id") + seed) % 3 === 0 && col("obs_id") % 11 =!= 1)
      .withColumn("value", (col("obs_id") * 7 + col("var_id") + seed) % 13 * 0.25)
    def snap(p: String) = {
      val d = AnnZarr.open(spark, p)
      (d.obs.orderBy("obs_id").collect().map(_.toString).toSeq,
        d.x.orderBy("obs_id", "var_id").collect().map(_.toString).toSeq)
    }
    for ((v3, tag) <- Seq(false -> "v2", true -> "v3")) {
      val p = TestSpark.tmpDir(s"graft_bulk$tag") + "/bulk.zarr"
      AnnZarrWriter.write(AnnDataset(mkObs("c", n0, 4), vars, mkX(n0, 0)), p,
        chunkElems = 64, v3 = v3, shardFactor = 2, frameChunkLen = 32,
        categoricalCols = Set("obs/cell_type"))
      // big chunk grids: the same batch fits one chunk per array (twin)
      val pd = TestSpark.tmpDir(s"graft_bulkd$tag") + "/drv.zarr"
      AnnZarrWriter.write(AnnDataset(mkObs("c", n0, 4), vars, mkX(n0, 0)), pd,
        chunkElems = 4096, v3 = v3, shardFactor = 2, frameChunkLen = 1024,
        categoricalCols = Set("obs/cell_type"))
      val obs1 = mkObs("d", nAdd, 6) // t4, t5 are NEW categories
      val x1 = mkX(nAdd, 1)
      val preSnap = snap(p)
      val nnzPre = ZarrStore.openArray(p, "X/data").shape.head
      AnnZarrWriter.appendRows(obs1, x1, p)
      AnnZarrWriter.appendRows(obs1, x1, pd)
      val (oB, xB) = snap(p); val (oD, xD) = snap(pd)
      assert(oB == oD, s"$tag: bulk obs != single-chunk twin obs")
      assert(xB == xD, s"$tag: bulk X != single-chunk twin X")
      assert(ZarrStore.attrString(p, "obs/cell_type", "encoding-type")
        .contains("categorical"), tag)
      // crash rollback: bulk boundary rewrites preserve the committed
      // prefix, so truncateTo is a complete undo, and a re-append lands
      // on identical store content
      AnnZarrWriter.truncateTo(p, n0, nnzPre)
      assert(snap(p) == preSnap, s"$tag: truncate after bulk append is not an undo")
      AnnZarrWriter.appendRows(obs1, x1, p)
      assert(snap(p) == ((oB, xB)), s"$tag: re-append after rollback diverged")
      // the store stays appendable by the microbatch path
      val obs2 = mkObs("e", 5, 6)
      val x2 = spark.range(5).select(col("id").as("obs_id"),
        lit(0L).as("var_id"), lit(42.0).as("value"))
      AnnZarrWriter.appendRows(obs2, x2, p)
      val d2 = AnnZarr.open(spark, p)
      assert(d2.obs.count() == n0 + nAdd + 5 &&
        d2.x.filter(col("value") === 42.0).count() == 5, tag)
    }
  }

  test("writeFrame executes a derived frame's upstream plan exactly once") {
    // a derived obs frame (think: a join or an aggregate upstream) must
    // not pay one execution for the stats job and another for the
    // chunk write — the one-pass persist contract, pinned by an accumulator
    // that fires once per upstream partition execution
    val nO = 300
    for ((fcl, tag) <- Seq(64 -> "multi-chunk", 1024 -> "one-chunk")) {
      val execs = spark.sparkContext.longAccumulator(s"frameExecs_$tag")
      val base = spark.sparkContext.range(0L, nO, 1, numSlices = 1)
        .mapPartitions { it => execs.add(1); it }
      val obs = base.toDF("obs_id")
        .select(col("obs_id"), concat(lit("c"), col("obs_id")).as("obs_name"),
          (col("obs_id") % 5).as("grp"),
          concat(lit("t"), col("obs_id") % 3).as("cell_type"))
      val vars = spark.range(4).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name"))
      val x = spark.range(nO).select(col("id").as("obs_id"),
        (col("id") % 4).as("var_id"), lit(1.0).as("value"))
      val p = TestSpark.tmpDir(s"graft_onepass_$tag") + "/op.zarr"
      AnnZarrWriter.write(AnnDataset(obs, vars, x), p, frameChunkLen = fcl,
        categoricalCols = Set("obs/cell_type"))
      assert(execs.value == 1L,
        s"$tag path: obs upstream executed ${execs.value} times, expected 1")
      assert(AnnZarr.open(spark, p).obs.count() == nO, tag)
    }
  }

  test("null column values write identically through both frame paths") {
    // single- and multi-chunk frames must agree on nulls (null bool ->
    // 0, null string/label -> vlen null) or store bytes would depend on
    // row count — the size-independence contract
    def mkObs(n: Int) = spark.range(n).select(col("id").as("obs_id"),
      when(col("id") % 7 === 0, lit(null)).otherwise(concat(lit("c"), col("id")))
        .as("obs_name"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id") % 2 === 0)
        .cast("boolean").as("flag"),
      when(col("id") % 5 === 0, lit(null)).otherwise(concat(lit("s"), col("id") % 4))
        .as("note"))
    val vars = spark.range(2).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    def mkX(n: Int) = spark.range(n).select(col("id").as("obs_id"),
      lit(0L).as("var_id"), lit(1.0).as("value"))
    val n = 90
    val pDriver = TestSpark.tmpDir("graft_nulldrv") + "/a.zarr"
    val pDist = TestSpark.tmpDir("graft_nulldst") + "/b.zarr"
    AnnZarrWriter.write(AnnDataset(mkObs(n), vars, mkX(n)), pDriver,
      frameChunkLen = 1024) // one chunk
    AnnZarrWriter.write(AnnDataset(mkObs(n), vars, mkX(n)), pDist,
      frameChunkLen = 32) // several chunks
    val a = AnnZarr.open(spark, pDriver).obs.orderBy("obs_id").collect()
      .map(_.toString).toSeq
    val b = AnnZarr.open(spark, pDist).obs.orderBy("obs_id").collect()
      .map(_.toString).toSeq
    assert(a == b, "null handling diverges between single- and multi-chunk frames")
  }

  test("job counts of an ingest-shaped write and a microbatch append stay pinned") {
    // the ingest shapes of the benchmark: a 2,000 x 200 store at 5%
    // density written with default chunking, then one 200-row append of
    // driver-local frames. Spark jobs do not depend on host speed, so
    // the counts pin the writer's cost at these overhead-bound sizes.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val nO = 2000; val nV = 200; val nAdd = 200
    def hit(tag: Int, i: Long, j: Long) = (i * 31 + j * 17 + tag) % 20 == 0
    def value(i: Long, j: Long) = (1 + (i * 7 + j * 3) % 64) / 4.0
    val xSchema = StructType(Seq(StructField("obs_id", LongType, false),
      StructField("var_id", LongType, false), StructField("value", DoubleType, false)))
    val rows = spark.sparkContext.parallelize(0 until nO, 1).flatMap { i =>
      (0 until nV).filter(j => hit(0, i, j)).map(j => Row(i.toLong, j.toLong, value(i, j)))
    }
    val base = AnnDataset(
      spark.range(nO).select(col("id").as("obs_id"),
        concat(lit("base-c"), col("id")).as("obs_name"), (col("id") % 8).as("batch")),
      spark.range(nV).select(col("id").as("var_id"), concat(lit("g"), col("id")).as("var_name")),
      spark.createDataFrame(rows, xSchema))
    val obsSchema = StructType(Seq(StructField("obs_id", LongType, false),
      StructField("obs_name", StringType), StructField("batch", LongType)))
    val obs1 = spark.createDataFrame((0 until nAdd).map(i =>
      Row(i.toLong, s"append-c$i", (i % 8).toLong)).asJava, obsSchema)
    val x1 = spark.createDataFrame((for (i <- 0 until nAdd; j <- 0 until nV
      if hit(1, i, j)) yield Row(i.toLong, j.toLong, value(i, j))).asJava, xSchema)
    val p = TestSpark.tmpDir("graft_jobpin") + "/pin.zarr"
    val sc = spark.sparkContext
    val writeJobs = org.apache.spark.ListenerBusDrain.jobs(sc)(AnnZarrWriter.write(base, p))
    val appendJobs = org.apache.spark.ListenerBusDrain.jobs(sc)(AnnZarrWriter.appendRows(obs1, x1, p))
    info(s"write: $writeJobs jobs, append: $appendJobs jobs")
    val ds = AnnZarr.open(spark, p)
    assert(ds.obs.count() == nO + nAdd)
    val nnz = (for (i <- 0L until nO; j <- 0L until nV if hit(0, i, j)) yield 1).size +
      (for (i <- 0L until nAdd; j <- 0L until nV if hit(1, i, j)) yield 1).size
    assert(ds.x.count() == nnz)
    // counts at commit 8994339, before the driver/executor forks merged
    assert(writeJobs <= 12, s"write ran $writeJobs jobs")
    assert(appendJobs <= 11, s"append ran $appendJobs jobs")
  }

  test("distributed frame rejects duplicate row ids even when counts cancel") {
    // dup + missing id in the SAME chunk: seen==live would pass, leaving
    // a null slot — the fill-time guard must raise the contiguity error
    val nO = 100
    val obs = spark.range(nO)
      .select(when(col("id") === 41, lit(40L)).otherwise(col("id")).as("obs_id"),
        concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(2).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(nO).select(col("id").as("obs_id"),
      lit(0L).as("var_id"), lit(1.0).as("value"))
    val p = TestSpark.tmpDir("graft_dupid") + "/dup.zarr"
    val ex = intercept[Exception] {
      AnnZarrWriter.write(AnnDataset(obs, vars, x), p, frameChunkLen = 32)
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(ex).contains("contiguous"),
      s"expected the contiguity message, got: ${rootMsg(ex).take(300)}")
  }
}
