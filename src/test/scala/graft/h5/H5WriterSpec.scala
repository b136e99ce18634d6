package graft.h5

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.artifact.AnnDataset

/** h5ad sink round-trip: the writer's output must parse through the
  * reader whose byte-level correctness is pinned by the
  * independently-generated Python fixtures (a04-a06 oracles). Content
  * here is closed-form too, so every value is asserted arithmetically.
  */
class H5WriterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nObs = 120
  private val nVar = 30

  private def xval(i: Long, j: Long): Double = ((i * 13 + j * 7) % 41) * 0.5

  private def buildDataset(): AnnDataset = {
    val obs = spark.range(nObs).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      (col("id") % 4).cast("long").as("batch"),
      (col("id") * 3 % 100 / 2.0).as("score"))
    val vars = spark.range(nVar).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nVar).select(col("id").as("var_id")))
      .filter((col("obs_id") * 3 + col("var_id") * 11) % 4 === 0)
      .withColumn("value",
        (col("obs_id") * 13 + col("var_id") * 7) % 41 * 0.5)
    AnnDataset(obs, vars, x)
  }

  private def writeTemp(chunkElems: Int = 256): String = {
    val p = java.nio.file.Files.createTempFile("graft_w", ".h5ad").toString
    AnnH5Writer.write(buildDataset(), p, chunkElems)
    p
  }

  test("written file parses: structure, frames, csr attrs") {
    val p = writeTemp()
    val f = H5File.open(p)
    try {
      assert(f.root.children.keySet == Set("X", "obs", "var"))
      assert(f.attrString(f.root, "encoding-type").contains("anndata"))
      val xg = f.group("X")
      assert(f.attrString(xg, "encoding-type").contains("csr_matrix"))
      assert(f.attrLongs(xg, "shape").contains(Seq(nObs.toLong, nVar.toLong)))
      val obs = AnnH5.open(spark, p).obs
      assert(obs.columns.toSeq == Seq("obs_id", "obs_name", "batch", "score"))
      val r7 = obs.filter(col("obs_id") === 7).collect().head
      assert(r7.getString(1) == "c7" && r7.getLong(2) == 3L && r7.getDouble(3) == 10.5)
    } finally f.close()
  }

  test("round-trip through AnnH5.open: X values exact, multi-chunk") {
    val p = writeTemp(chunkElems = 64) // force many chunks incl. edge
    val ds = AnnH5.open(spark, p)
    val got = ds.x.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val expected = (for {
      i <- 0L until nObs; j <- 0L until nVar
      if (i * 3 + j * 11) % 4 == 0
    } yield (i, j, xval(i, j))).sorted
    assert(got.toSeq == expected)
  }

  test("obsm and layers round-trip through write + open") {
    val base = buildDataset()
    val pca = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(3).select(col("id").as("dim_id")))
      .withColumn("value", (col("obs_id") * 5 + col("dim_id") * 9) % 17 * 0.5)
    val scaled = base.x.withColumn("value", col("value") + 1.0)
    val ds = base.copy(obsm = Map("X_pca" -> pca), layers = Map("scaled" -> scaled))
    val p = java.nio.file.Files.createTempFile("graft_waux", ".h5ad").toString
    AnnH5Writer.write(ds, p, chunkElems = 128)
    val back = AnnH5.open(spark, p)
    assert(back.obsm.keySet == Set("X_pca") && back.layers.keySet == Set("scaled"))
    assert(back.obsm("X_pca").count() == nObs.toLong * 3)
    val v = back.obsm("X_pca")
      .filter(col("obs_id") === 11 && col("dim_id") === 2).collect().head.getDouble(2)
    assert(v == (11 * 5 + 2 * 9) % 17 * 0.5)
    val l = back.layers("scaled")
      .filter(col("obs_id") === 0 && col("var_id") === 0).collect().head.getDouble(2)
    assert(l == xval(0, 0) + 1.0)
    assert(back.layers("scaled").count() == base.x.count())
  }

  test("empty rows (no nnz) keep indptr consistent") {
    val obs = spark.range(5).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(3).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    // only rows 1 and 3 have entries
    val x = Seq((1L, 0L, 2.5), (1L, 2L, 3.0), (3L, 1L, 4.5))
      .toDF("obs_id", "var_id", "value")
    val p = java.nio.file.Files.createTempFile("graft_w0", ".h5ad").toString
    AnnH5Writer.write(AnnDataset(obs, vars, x), p)
    val ds = AnnH5.open(spark, p)
    val got = ds.x.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got.toSeq == Seq((1L, 0L, 2.5), (1L, 2L, 3.0), (3L, 1L, 4.5)))
    assert(ds.obs.count() == 5)
  }

  test("frame without a name column: positional index synthesized") {
    val obs = spark.range(4).select(col("id").as("obs_id"),
      (col("id") * 2).cast("long").as("k"))
    val vars = spark.range(2).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = Seq((0L, 0L, 1.0)).toDF("obs_id", "var_id", "value")
    val p = java.nio.file.Files.createTempFile("graft_w1", ".h5ad").toString
    AnnH5Writer.write(AnnDataset(obs, vars, x), p)
    val f = H5File.open(p)
    try {
      val names = f.decodeStrings(H5Dtype.VlenStr(),
        f.readRaw(f.dataset("obs/_index")))
      assert(names.toSeq == Seq("0", "1", "2", "3"))
    } finally f.close()
  }

  test("multi-SNOD group (14 links) + bool/empty-array uns round-trip") {
    import graft.artifact.UnsValue._
    // 14 uns keys force the group writer's 9-32-link path (two symbol
    // table nodes under one B-tree); every value kind rides along so the
    // bool enum, empty-array, and bool-array encoders are each parsed
    // back by AnnH5.open
    val uns: Map[String, graft.artifact.UnsValue] =
      (0 until 10).map(k => f"k$k%02d" -> (Scalar(k.toLong): graft.artifact.UnsValue)).toMap ++
        Map(
          "flag_t" -> Scalar(true), "flag_f" -> Scalar(false),
          "mask" -> Arr(Seq(true, false, true)),
          "empty" -> Arr(Nil))
    val obs = spark.range(3).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(2).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = Seq((0L, 0L, 1.0)).toDF("obs_id", "var_id", "value")
    val p = java.nio.file.Files.createTempFile("graft_w2", ".h5ad").toString
    AnnH5Writer.write(AnnDataset(obs, vars, x, uns = uns), p)
    // raw structure: the uns group resolves all 14 children by name
    val f = H5File.open(p)
    try {
      val g = f.group("uns")
      assert(g.children.size == 14)
      assert(g.children.keySet ==
        ((0 until 10).map(k => f"k$k%02d").toSet ++ Set("flag_t", "flag_f", "mask", "empty")))
    } finally f.close()
    val ds = AnnH5.open(spark, p)
    (0 until 10).foreach(k => assert(ds.uns(f"k$k%02d") == Scalar(k.toLong)))
    assert(ds.uns("flag_t") == Scalar(true))
    assert(ds.uns("flag_f") == Scalar(false))
    assert(ds.uns("mask") == Arr(Seq(true, false, true)))
    assert(ds.uns("empty") == Arr(Nil))
  }

  test("writeMu: .h5mu container, modalities reopen through openMu") {
    val rna = buildDataset()
    val adt = graft.artifact.AnnDataset(
      spark.range(10).select(col("id").as("obs_id"),
        concat(lit("c"), col("id")).as("obs_name")),
      spark.range(4).select(col("id").as("var_id"),
        concat(lit("p"), col("id")).as("var_name")),
      Seq((0L, 1L, 2.5), (3L, 2L, 1.0)).toDF("obs_id", "var_id", "value"))
    val p = java.nio.file.Files.createTempFile("graft_wmu", ".h5mu").toString
    AnnH5Writer.writeMu(Map("rna" -> rna, "adt" -> adt), p)
    val f = H5File.open(p)
    try {
      assert(f.attrString(f.root, "encoding-type").contains("MuData"))
      assert(f.group("mod").children.keySet == Set("adt", "rna"))
    } finally f.close()
    val mods = AnnH5.openMu(spark, p)
    assert(mods.keySet == Set("adt", "rna"))
    assert(mods("adt").x.count() == 2)
    assert(mods("rna").obs.count() == nObs)
    val got = mods("rna").x.agg(sum("value")).head().getDouble(0)
    val expect = (for {
      i <- 0L until nObs; j <- 0L until nVar if (i * 3 + j * 11) % 4 == 0
    } yield xval(i, j)).sum
    assert(math.abs(got - expect) < 1e-6)
  }

  test("multi-level chunk B-tree: >1024 bands round-trip (cap lifted)") {
    // round-11 failed fast past 1024 chunks per dataset; the tree now
    // goes multi-level. 4 cols at chunkElems=4 -> 1-row bands: 1500
    // rows = 1500 dense bands AND 1500 csr chunks -> 2-level trees on
    // both paths.
    val nO = 1500; val nV = 4
    val obs = spark.range(nO).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"))
    val vars = spark.range(nV).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    def v(i: Long, j: Long): Double = ((i * 3 + j * 5) % 13) * 0.5
    val x = spark.range(nO).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nV).select(col("id").as("var_id")))
      .filter((col("obs_id") + col("var_id")) % 2 === 0)
      .withColumn("value", (col("obs_id") * 3 + col("var_id") * 5) % 13 * 0.5)
    val p = java.nio.file.Files.createTempFile("graft_mlbt", ".h5ad").toString
    AnnH5Writer.write(AnnDataset(obs, vars, x), p, chunkElems = 4,
      denseSlots = Set("X"))
    val ds = AnnH5.open(spark, p)
    assert(ds.obs.count() == nO)
    val got = ds.x.filter(col("value") =!= 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val expected = (for {
      i <- 0L until nO; j <- 0L until nV
      if (i + j) % 2 == 0 && v(i, j) != 0.0
    } yield (i, j, v(i, j))).sorted
    assert(got == expected)
    // csr flavor at the same chunk count (1500 rows, ~3000 nnz / 4-elem
    // chunks -> ~750 data chunks; push chunks over 1024 via chunkElems=2)
    val p2 = java.nio.file.Files.createTempFile("graft_mlbt2", ".h5ad").toString
    AnnH5Writer.write(AnnDataset(obs, vars, x), p2, chunkElems = 2)
    val ds2 = AnnH5.open(spark, p2)
    val got2 = ds2.x.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val expected2 = (for {
      i <- 0L until nO; j <- 0L until nV
      if (i + j) % 2 == 0
    } yield (i, j, v(i, j))).sorted
    assert(got2 == expected2)
  }

  test("encoding parity: dense slots and categorical columns as anndata writes them") {
    val obs = spark.range(nObs).select(col("id").as("obs_id"),
      concat(lit("c"), col("id")).as("obs_name"),
      concat(lit("type_"), col("id") % 3).as("cell_type"))
    val vars = spark.range(nVar).select(col("id").as("var_id"),
      concat(lit("g"), col("id")).as("var_name"))
    val x = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(nVar).select(col("id").as("var_id")))
      .filter((col("obs_id") * 3 + col("var_id") * 11) % 4 === 0)
      .withColumn("value", (col("obs_id") * 13 + col("var_id") * 7) % 41 * 0.5)
    // dense 120x3 X_pca with implicit zeros and two all-zero row bands
    val pca = spark.range(nObs).select(col("id").as("obs_id"))
      .crossJoin(spark.range(3).select(col("id").as("dim_id")))
      .filter((col("obs_id") < 40 || col("obs_id") >= 80) &&
        (col("obs_id") + col("dim_id")) % 2 === 0)
      .withColumn("value", (col("obs_id") + col("dim_id") * 7) % 13 * 0.5)
    val p = java.nio.file.Files.createTempFile("graft_w3", ".h5ad").toString
    AnnH5Writer.write(AnnDataset(obs, vars, x, obsm = Map("X_pca" -> pca)), p,
      chunkElems = 60, // 20-row bands for the 3-wide dense slot
      denseSlots = Set("obsm/X_pca"), categoricalCols = Set("obs/cell_type"))
    // store-level encodings match anndata's write registry
    val f = H5File.open(p)
    try {
      val pcaDs = f.dataset("obsm/X_pca")
      assert(pcaDs.dims.toSeq == Seq(nObs.toLong, 3L))
      assert(f.attrString(pcaDs, "encoding-type").contains("array"))
      val ct = f.group("obs/cell_type")
      assert(f.attrString(ct, "encoding-type").contains("categorical"))
    } finally f.close()
    // reopen: dense slot reads the FULL grid (implicit zeros + the
    // all-zero bands), categorical decodes to the original strings
    val ds = AnnH5.open(spark, p)
    val pcaDf = ds.obsm("X_pca")
    assert(pcaDf.count() == nObs.toLong * 3)
    val gotSum = pcaDf.agg(sum("value")).head().getDouble(0)
    val expSum = (for (i <- 0L until nObs; k <- 0L until 3
      if (i < 40 || i >= 80) && (i + k) % 2 == 0)
      yield (i + k * 7) % 13 * 0.5).sum
    assert(math.abs(gotSum - expSum) < 1e-6)
    val probe = pcaDf.filter(col("obs_id") === 50 && col("var_id") === 0)
      .head().getDouble(2)
    assert(probe == 0.0, "all-zero band must read as fill")
    val types = ds.obs.orderBy("obs_id").collect()
    types.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("cell_type") == s"type_${i % 3}")
    }
  }

  test("AnnH5.open routes large axis frames through the DSv2 scan") {
    // every axis frame, whatever its size (120-row obs, 30-row var),
    // reads through the h5ad row-range frame scan — no driver decode —
    // and equals the writer's input frame
    val p = writeTemp()
    val ds = AnnH5.open(spark, p)
    val input = buildDataset()
    for ((got, want, key) <- Seq((ds.obs, input.obs, "obs_id"), (ds.vars, input.vars, "var_id"))) {
      assert(got.queryExecution.optimizedPlan.collectLeaves()
        .exists(_.getClass.getSimpleName.contains("DataSourceV2")),
        s"$key frame must read through the DSv2 scan:\n${got.queryExecution.optimizedPlan}")
      assert(got.orderBy(key).collect().toSeq == want.orderBy(key).collect().toSeq, key)
    }
  }

  test("job count of an ingest-shaped h5ad write stays pinned") {
    // the h5ad export shape of the benchmark: 200 x 200 cells at 5%
    // density from driver-local frames. Spark jobs do not depend on host
    // speed; the axis extents come from the frame writes' own collects,
    // so the write runs no separate count jobs.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val n = 200
    def hit(i: Int, j: Int) = (i * 31 + j * 17) % 20 == 0
    val obsSchema = StructType(Seq(StructField("obs_id", LongType, false),
      StructField("obs_name", StringType), StructField("batch", LongType)))
    val varSchema = StructType(Seq(StructField("var_id", LongType, false),
      StructField("var_name", StringType)))
    val xSchema = StructType(Seq(StructField("obs_id", LongType, false),
      StructField("var_id", LongType, false), StructField("value", DoubleType, false)))
    val ds = AnnDataset(
      spark.createDataFrame((0 until n).map(i =>
        Row(i.toLong, s"c$i", (i % 8).toLong)).asJava, obsSchema),
      spark.createDataFrame((0 until n).map(j => Row(j.toLong, s"g$j")).asJava, varSchema),
      spark.createDataFrame((for (i <- 0 until n; j <- 0 until n if hit(i, j))
        yield Row(i.toLong, j.toLong, (1 + (i * 7 + j * 3) % 64) / 4.0)).asJava, xSchema))
    val p = java.nio.file.Files.createTempFile("graft_wjobs", ".h5ad").toString
    val jobs = org.apache.spark.ListenerBusDrain.jobs(spark.sparkContext)(AnnH5Writer.write(ds, p))
    info(s"write: $jobs jobs")
    val back = AnnH5.open(spark, p)
    assert(back.obs.count() == n && back.vars.count() == n)
    assert(back.x.count() == (for (i <- 0 until n; j <- 0 until n if hit(i, j)) yield 1).size)
    assert(jobs <= 9, s"write ran $jobs jobs")
  }
}
