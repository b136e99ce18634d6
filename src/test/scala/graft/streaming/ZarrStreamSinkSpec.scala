package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.artifact.AnnDataset
import graft.zarr.AnnZarr

/** Streaming zarr append: microbatch ingest grows the store in place;
  * the batch-id ledger makes redelivered batches no-ops.
  */
class ZarrStreamSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def stageSource(dir: String): Unit = {
    val coo = spark.range(60).select(col("id").as("doc_id"))
      .crossJoin(spark.range(3).select(col("id").as("k")))
      .select(concat(lit("d"), col("doc_id")).as("obs_name"),
        (col("doc_id") % 4).cast("long").as("grp"),
        ((col("doc_id") * 5 + col("k")) % 8).as("var_id"),
        ((col("doc_id") + col("k") * 2) % 7 * 0.5).as("value"))
    coo.repartitionByRange(3, col("obs_name")).write.mode("overwrite")
      .parquet(s"$dir/src")
  }

  private def emptyStore(path: String, v3: Boolean = false): Unit =
    graft.zarr.AnnZarrWriter.write(AnnDataset(
      spark.range(0).select(col("id").as("obs_id"),
        concat(lit("c"), col("id")).as("obs_name"), lit(0L).as("grp")),
      spark.range(8).select(col("id").as("var_id"),
        concat(lit("g"), col("id")).as("var_name")),
      spark.range(0).select(col("id").as("obs_id"), col("id").as("var_id"),
        col("id").cast("double").as("value"))), path, chunkElems = 64,
      v3 = v3, shardFactor = 2)

  private def runStream(dir: String, store: String, ckpt: String): Unit = {
    val schema = spark.read.parquet(s"$dir/src").schema
    val q = ZarrStreamSink.streamAppendZarr(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/src"),
      store, Seq("grp"), ckpt)
    try q.processAllAvailable() finally q.stop()
  }

  private def storeStats(store: String): (Long, Double, Long) = {
    val ds = AnnZarr.open(spark, store)
    val r = ds.x.agg(count(lit(1)), sum("value")).head()
    (r.getLong(0), r.getDouble(1), ds.obs.count())
  }

  test("3-microbatch ingest equals the batch aggregate; obs metadata lands") {
    val dir = TestSpark.tmpDir("graft_zss")
    stageSource(dir)
    val store = s"$dir/grow.zarr"
    emptyStore(store)
    runStream(dir, store, s"$dir/ckpt1")
    val (nnz, sumV, nObs) = storeStats(store)
    assert(nObs == 60 && nnz == 180)
    val expect = (for (d <- 0 until 60; k <- 0 until 3)
      yield (d + k * 2) % 7 * 0.5).sum
    assert(math.abs(sumV - expect) < 1e-9)
    val ds = AnnZarr.open(spark, store)
    val perGrp = ds.obs.groupBy("grp").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perGrp == Map(0L -> 15L, 1L -> 15L, 2L -> 15L, 3L -> 15L))
  }

  test("format routing: the same stream feeds a v3 sharding_indexed store") {
    val dir = TestSpark.tmpDir("graft_zss4")
    stageSource(dir)
    val store = s"$dir/grow3.zarr"
    emptyStore(store, v3 = true)
    assert(graft.zarr.ZarrStore.format(store) == 3)
    runStream(dir, store, s"$dir/ckpt")
    val (nnz, sumV, nObs) = storeStats(store)
    assert(nObs == 60 && nnz == 180)
    val expect = (for (d <- 0 until 60; k <- 0 until 3)
      yield (d + k * 2) % 7 * 0.5).sum
    assert(math.abs(sumV - expect) < 1e-9)
    // the grown store kept its sharded layout (shape 180 = 1 full 128-
    // slot shard + 1 boundary shard; X data under the c/ key prefix)
    val za = graft.zarr.ZarrStore.openArray(store, "X/data")
    assert(za.compressor == "sharding" && za.shape == Seq(180L))
    assert(new java.io.File(s"$store/X/data/c")
      .listFiles().count(!_.getName.endsWith(".crc")) == 2)
  }

  test("pending marker rolls back a half-applied batch before ingest") {
    val dir = TestSpark.tmpDir("graft_zss3")
    stageSource(dir)
    val store = s"$dir/grow.zarr"
    emptyStore(store)
    // simulate a crash mid-append: a batch landed (fully, worst case)
    // but neither the ledger nor the marker cleanup ran
    val junkObs = spark.range(7).select(col("id").as("obs_id"),
      concat(lit("junk"), col("id")).as("obs_name"), lit(9L).as("grp"))
    val junkX = spark.range(7).select(col("id").as("obs_id"),
      (col("id") % 8).as("var_id"), lit(99.0).as("value"))
    val fs = graft.core.Fs.fileSystem(store)
    val out = fs.create(new org.apache.hadoop.fs.Path(store, ".graft_pending"), true)
    out.write("999,0,0".getBytes("UTF-8")); out.close()
    graft.zarr.AnnZarrWriter.appendRows(junkObs, junkX, store)
    // the stream recovers (truncates the junk) and then ingests cleanly
    runStream(dir, store, s"$dir/ckpt")
    val (nnz, sumV, nObs) = storeStats(store)
    assert(nObs == 60 && nnz == 180)
    val expect = (for (d <- 0 until 60; k <- 0 until 3)
      yield (d + k * 2) % 7 * 0.5).sum
    assert(math.abs(sumV - expect) < 1e-9)
    val ds = AnnZarr.open(spark, store)
    assert(ds.obs.filter(col("obs_name").startsWith("junk")).count() == 0)
    assert(ds.x.filter(col("value") === 99.0).count() == 0)
  }

  test("assertNewNames enforces the one-batch-per-obs_name contract") {
    val dir = TestSpark.tmpDir("graft_zss5")
    stageSource(dir)
    val store = s"$dir/grow.zarr"
    emptyStore(store)
    val schema = spark.read.parquet(s"$dir/src").schema
    // clean ingest under strict mode: all names are new, stream passes
    val q = ZarrStreamSink.streamAppendZarr(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/src"),
      store, Seq("grp"), s"$dir/ckptS", assertNewNames = true)
    try q.processAllAvailable() finally q.stop()
    assert(storeStats(store)._3 == 60)
    // a later file re-offers an ALREADY-INGESTED name (d0) under a new
    // batch id — strict mode must refuse it
    spark.range(1).select(lit("d0").as("obs_name"), lit(0L).as("grp"),
        lit(1L).as("var_id"), lit(3.5).as("value"))
      .write.mode("append").parquet(s"$dir/src")
    val q2 = ZarrStreamSink.streamAppendZarr(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$dir/src"),
      store, Seq("grp"), s"$dir/ckptS", assertNewNames = true)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(err).exists(m => m != null && m.contains("already in the store")))
    // nothing was double-appended
    assert(storeStats(store)._3 == 60)
  }

  test("assertNewNames guard is O(batch): zero store scans for unique-name streams") {
    val dir = TestSpark.tmpDir("graft_zss7")
    stageSource(dir)
    val store = s"$dir/grow.zarr"
    emptyStore(store)
    val schema = spark.read.parquet(s"$dir/src").schema
    def guarded(ckpt: String) = {
      val q = ZarrStreamSink.streamAppendZarr(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$dir/src"),
        store, Seq("grp"), ckpt, assertNewNames = true)
      try q.processAllAvailable() finally q.stop()
    }
    val before = ZarrStreamSink.nameScanProbe.get()
    guarded(s"$dir/ckptB")
    assert(storeStats(store)._3 == 60)
    assert(ZarrStreamSink.nameScanProbe.get() == before,
      "unique-name guarded stream must take zero exact store scans")
    val fs = graft.core.Fs.fileSystem(store)
    def bloomLen() = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(store, ".graft_names")).getLen
    val sz1 = bloomLen()
    // more unique batches: still zero scans, sketch object size constant
    // (the O(batch)/trigger contract as the store grows)
    spark.range(30).select(concat(lit("x"), col("id")).as("obs_name"),
        lit(0L).as("grp"), (col("id") % 8).as("var_id"), lit(1.0).as("value"))
      .write.mode("append").parquet(s"$dir/src")
    guarded(s"$dir/ckptB")
    assert(storeStats(store)._3 == 90)
    assert(ZarrStreamSink.nameScanProbe.get() == before,
      "guarded triggers over a grown store must stay scan-free")
    assert(sz1 == bloomLen(), s"sketch object grew with the store")
    // a pre-existing store WITHOUT a sketch folds its names in with
    // exactly one bootstrap scan, then returns to scan-free triggers
    fs.delete(new org.apache.hadoop.fs.Path(store, ".graft_names"), false)
    spark.range(1).select(lit("y0").as("obs_name"), lit(0L).as("grp"),
        lit(0L).as("var_id"), lit(2.0).as("value"))
      .write.mode("append").parquet(s"$dir/src")
    guarded(s"$dir/ckptB")
    assert(ZarrStreamSink.nameScanProbe.get() == before + 1,
      "missing sketch must bootstrap with exactly one store scan")
    assert(storeStats(store)._3 == 91)
  }

  test("a MuData modality is a plain store: the stream feeds mod/<m> directly") {
    val dir = TestSpark.tmpDir("graft_zss6")
    stageSource(dir)
    val mu = s"$dir/mu.zarr"
    // bootstrap the container with one static modality + one empty one
    val static = AnnDataset(
      spark.range(5).select(col("id").as("obs_id"),
        concat(lit("s"), col("id")).as("obs_name")),
      spark.range(4).select(col("id").as("var_id"),
        concat(lit("p"), col("id")).as("var_name")),
      spark.range(5).select(col("id").as("obs_id"),
        (col("id") % 4).as("var_id"), lit(1.5).as("value")))
    graft.zarr.AnnZarrWriter.writeMu(Map("adt" -> static), mu)
    emptyStore(s"$mu/mod/rna")
    // stream into the rna modality; appendRows patches that subtree's
    // OWN consolidated metadata (the nested store is self-contained)
    runStream(dir, s"$mu/mod/rna", s"$dir/ckptMu")
    // the container root's consolidated metadata is a SNAPSHOT (same
    // semantics as zarr-python): refresh it after mutating a nested
    // modality by MERGING that subtree's own consolidation — never an
    // O(container) re-walk. Pin: plant a sentinel entry in the root
    // metadata first; a full re-consolidation would rebuild the object
    // and lose it, the subtree patch must keep it.
    locally {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(
        graft.core.Fs.read(s"$mu/.zmetadata").get)
      node.get("metadata").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("__sentinel__", 42)
      val out = graft.core.Fs.fileSystem(mu)
        .create(new org.apache.hadoop.fs.Path(mu, ".zmetadata"), true)
      try out.write(mapper.writeValueAsBytes(node)) finally out.close()
      graft.zarr.ZarrStore.invalidate(mu)
    }
    graft.zarr.ZarrStore.patchConsolidatedSubtree(mu, "mod/rna")
    val patched = new String(
      graft.core.Fs.read(s"$mu/.zmetadata").get, "UTF-8")
    assert(patched.contains("__sentinel__"),
      "subtree refresh re-walked the container instead of patching")
    val mods = AnnZarr.openMu(spark, mu)
    assert(mods.keySet == Set("adt", "rna"))
    val (nnz, sumV, nObs) = storeStats(s"$mu/mod/rna")
    assert(nObs == 60 && nnz == 180)
    assert(mods("adt").x.count() == 5)
  }

  test("ledger object stays constant-size across batches (O(1) per trigger)") {
    // round-11 format grew one line per applied batch and was re-read +
    // rewritten whole every trigger; the v2 record is max-contiguous-id
    // + tail set, so a year-long stream's ledger is still one tiny PUT
    val dir = TestSpark.tmpDir("graft_zssL")
    stageSource(dir)
    val store = s"$dir/grow.zarr"
    emptyStore(store)
    runStream(dir, store, s"$dir/ckpt")
    val ledger = new java.io.File(s"$store/.graft_batches")
    assert(ledger.exists)
    val sizeAfter3 = ledger.length()
    // contiguous ids 0..2 collapse to a single "v2 2" record
    val content = new String(java.nio.file.Files.readAllBytes(ledger.toPath), "UTF-8")
    assert(content.trim == "v2 2", s"unexpected ledger: '$content'")
    // genuinely new data arrives as batch 3 on the same checkpoint —
    // the ledger advances its contiguous id but does NOT grow
    spark.range(1).select(lit("zz1").as("obs_name"), lit(1L).as("grp"),
        lit(2L).as("var_id"), lit(1.25).as("value"))
      .write.mode("append").parquet(s"$dir/src")
    runStream(dir, store, s"$dir/ckpt")
    assert(ledger.length() == sizeAfter3 || ledger.length() <= sizeAfter3 + 2,
      s"ledger grew: ${ledger.length()} vs $sizeAfter3")
    assert(storeStats(store)._3 == 61)
  }

  test("empty microbatches are ledgered: no permanent contig gap") {
    // an unrecorded empty batch id would sit below `contig` forever and
    // push every later id into the tail set (one line per batch — the
    // O(applied) growth the v2 record exists to prevent)
    val dir = TestSpark.tmpDir("graft_zssE")
    val store = s"$dir/grow.zarr"
    emptyStore(store)
    stageSource(dir) // only to derive the schema + data below
    val schema = spark.read.parquet(s"$dir/src").schema
    // the stream's real source starts with ONE EMPTY file (batch 0 has
    // 0 rows), then the data files arrive on the SAME checkpoint lineage
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/live")
    def run(): Unit = {
      val q = ZarrStreamSink.streamAppendZarr(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$dir/live"), store, Seq("grp"), s"$dir/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    run() // batch 0: empty — must still be ledgered
    spark.read.parquet(s"$dir/src").repartitionByRange(3, col("obs_name"))
      .write.mode("append").parquet(s"$dir/live")
    run() // batches 1..3: data
    // contig advanced THROUGH the empty id: single-record ledger, no
    // tail lines accumulating one per batch
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$store/.graft_batches")), "UTF-8")
    assert(content.trim.matches("v2 \\d+"), s"tail lines grew: '$content'")
    assert(storeStats(store)._3 == 60)
  }

  test("ledger unit semantics: add/serialize/parse, legacy fold-in") {
    import ZarrStreamSink.Ledger
    val l0 = Ledger(-1L, Set.empty)
    assert(!l0.contains(0))
    val l = l0.add(0).add(1).add(2)
    assert(l == Ledger(2, Set.empty) && l.contains(2) && !l.contains(3))
    // out-of-order tail folds in once the gap fills
    val g = l0.add(0).add(2).add(5)
    assert(g == Ledger(0, Set(2, 5)) && g.contains(2) && !g.contains(1))
    assert(g.add(1).add(3).add(4) == Ledger(5, Set.empty))
    assert(g.serialize == "v2 0\n2\n5\n")
    // legacy one-id-per-line ledgers fold into the new form on read
    val dir = TestSpark.tmpDir("graft_zssLG")
    val store = s"$dir/legacy.zarr"
    emptyStore(store)
    val fs = graft.core.Fs.fileSystem(store)
    val out = fs.create(new org.apache.hadoop.fs.Path(store, ".graft_batches"), true)
    out.write("0\n1\n2\n4\n".getBytes("UTF-8")); out.close()
    val parsed = ZarrStreamSink.readLedger(store)
    assert(parsed == Ledger(2, Set(4L)))
  }

  test("redelivery is a no-op: same batch ids against the ledger") {
    val dir = TestSpark.tmpDir("graft_zss2")
    stageSource(dir)
    val store = s"$dir/grow.zarr"
    emptyStore(store)
    runStream(dir, store, s"$dir/ckptA")
    val first = storeStats(store)
    // a FRESH checkpoint replays batches 0..2 — the store ledger already
    // carries those ids, so nothing is appended twice
    runStream(dir, store, s"$dir/ckptB")
    assert(storeStats(store) == first)
  }

  test("a store that refuses rename-over (HDFS, S3A) takes every microbatch") {
    // the ledger exists from the second microbatch on, so each later
    // batch replaces it on a store whose rename will not overwrite
    graft.core.NoRenameOverFs.register(spark.sparkContext.hadoopConfiguration)
    val dir = TestSpark.tmpDir("graft_zssR")
    stageSource(dir)
    val store = s"${graft.core.NoRenameOverFs.Scheme}:$dir/grow.zarr"
    emptyStore(store)
    runStream(dir, store, s"$dir/ckpt")
    assert(graft.core.Fs.read(s"$store/.graft_batches").map(new String(_, "UTF-8").trim).contains("v2 2"))
    val (nnz, _, nObs) = storeStats(store)
    assert(nObs == 60 && nnz == 180)
  }
}

