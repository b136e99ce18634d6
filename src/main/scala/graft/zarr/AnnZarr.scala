package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.artifact.{AnnDataset, RawSlots, UnsValue}

/** Native AnnData-on-zarr open — the same anndata element encodings the
  * HDF5 reader implements ([[graft.h5.AnnH5]]), over a zarr v2 store
  * instead of an HDF5 container. The reference treats the two as
  * co-equal backed stores (`core/storage/_backed_access.py:108-121`,
  * `_anndata_accessor.py` registers zarr readers for every encoding);
  * here both front the one [[AnnDataset]] surface, so downstream
  * slicing / stats / ingest are container-agnostic.
  *
  * Scale shape mirrors the HDF5 path: uns is metadata-sized and decodes
  * driver-side; obs/var route on size — at or under
  * [[AnnZarr.driverFrameRowLimit]] rows they decode driver-side (no job),
  * above it through the DSv2 row-range frame scan — and X and every
  * matrix slot decode executor-side, one task bundle per chunk set
  * (dense) or per row range (CSR), so tasks scale with the chunk grid
  * and no matrix or large-axis byte crosses the driver.
  */
object AnnZarr {

  private val cooSchema = StructType(Seq(
    StructField("obs_id", LongType, nullable = false),
    StructField("var_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  // ------------------------------------------------------------ dataframe

  /** Decode one column node into (spark type, row-index -> value). */
  private def column(root: String, rel: String): (DataType, Int => Any) =
    if (ZarrStore.isArray(root, rel)) {
      val za = ZarrStore.openArray(root, rel)
      val v = za.readFlat()
      za.kind match {
        case 'O' => (StringType, v.apply)
        case 'f' => (DoubleType, v.apply)
        case _ => (LongType, v.apply)
      }
    } else if (ZarrStore.attrString(root, rel, "encoding-type").contains("categorical")) {
      val codes = ZarrStore.openArray(root, s"$rel/codes").readFlat()
      val cats = ZarrStore.openArray(root, s"$rel/categories").readFlat()
      (StringType, i => {
        val c = codes(i).asInstanceOf[Long]
        if (c < 0) null else cats(c.toInt)
      })
    } else throw new UnsupportedOperationException(
      s"dataframe column '$rel' has unsupported encoding " +
        ZarrStore.attrString(root, rel, "encoding-type").getOrElse("<none>"))

  /** Row ceiling for the driver-side axis-frame decode: frames at or
    * under it (the metadata-sized common case) materialize on the driver
    * with no job; larger frames route through the DSv2 row-range frame
    * scan ([[graft.zarr.datasource.ZarrFrame]]) so no axis byte crosses
    * the driver and tasks never carry a LocalRelation payload (a 571k-row
    * obs frame rode task binaries at ~21 MB before this routing). The
    * writer has no such split: every frame writes executor-side.
    */
  private[graft] var driverFrameRowLimit: Long = 1L << 16

  /** Rows decoded through the driver path — a spec probe pinning that
    * frames above [[driverFrameRowLimit]] never decode on the driver.
    */
  private[graft] val driverFrameRowsProbe = new java.util.concurrent.atomic.AtomicLong

  /** An anndata `dataframe` group as a Spark DataFrame (same shape as
    * [[graft.h5.AnnH5.dataFrameGroup]]: `_index` under `idName`, a
    * monotone `rowIdName` long prepended). Routes on frame size — see
    * [[driverFrameRowLimit]].
    */
  def dataFrameGroup(spark: SparkSession, root: String, rel: String,
                     rowIdName: String, idName: String): DataFrame = {
    require(ZarrStore.attrString(root, rel, "encoding-type").contains("dataframe"),
      s"group '$rel' is not an anndata dataframe")
    val indexCol = ZarrStore.attrString(root, rel, "_index").getOrElse("_index")
    val n = ZarrStore.openArray(root, s"$rel/$indexCol").shape.head
    // the DSv2 derives the same axis naming from the slot path; any other
    // naming request keeps the driver path regardless of size
    val dsNaming =
      if (rel == "var" || rel.endsWith("/var")) ("var_id", "var_name")
      else ("obs_id", "obs_name")
    if (n > driverFrameRowLimit && (rowIdName, idName) == dsNaming)
      return spark.read.format("zarr").option("slot", rel).load(root)
    val order = ZarrStore.attrStrings(root, rel, "column-order")
      .getOrElse(ZarrStore.children(root, rel).filterNot(_ == indexCol))
    val present = ZarrStore.children(root, rel).toSet
    val cols = (indexCol +: order.filter(present)).map { nm =>
      val (tpe, get) = column(root, s"$rel/$nm")
      (if (nm == indexCol) idName else nm, tpe, get)
    }
    driverFrameRowsProbe.addAndGet(n)
    val schema = StructType(
      StructField(rowIdName, LongType, nullable = false) +:
        cols.map { case (nm, t, _) => StructField(nm, t, nullable = true) })
    val rows = (0 until n.toInt).map(i => Row.fromSeq(i.toLong +: cols.map(_._3(i))))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  // -------------------------------------------------------------- X scans

  /** Dense 2-D array as distributed COO: one task bundle per chunk set;
    * absent chunks emit fill_value (the zarr contract), edge chunks clip
    * to shape.
    */
  def denseCoo(spark: SparkSession, za: ZArray): DataFrame = {
    require(za.rank == 2, s"${za.rel}: dense X must be rank 2")
    val coords = za.gridCoords
    val slices = math.max(1, math.min(coords.size,
      spark.sparkContext.defaultParallelism))
    val dims = za.shape
    val rdd = spark.sparkContext.parallelize(coords, slices).flatMap { coord =>
      val rOff = coord(0).toLong * za.chunks(0)
      val cOff = coord(1).toLong * za.chunks(1)
      val rows = math.min(za.chunks(0).toLong, dims(0) - rOff).toInt
      val cols = math.min(za.chunks(1).toLong, dims(1) - cOff).toInt
      za.readChunk(coord) match {
        case Some(dec) =>
          val b = ByteBuffer.wrap(dec).order(ByteOrder.LITTLE_ENDIAN)
          for {
            r <- Iterator.range(0, rows)
            c <- Iterator.range(0, cols)
          } yield Row(rOff + r, cOff + c, za.numAt(b, r * za.chunks(1) + c))
        case None =>
          val fv = za.fillNum.getOrElse(0.0)
          for {
            r <- Iterator.range(0, rows)
            c <- Iterator.range(0, cols)
          } yield Row(rOff + r, cOff + c, fv)
      }
    }
    spark.createDataFrame(rdd, cooSchema)
  }

  /** CSR group (data/indices/indptr) as distributed COO: indptr is
    * axis-sized and broadcast; tasks take disjoint row ranges and read
    * only the chunks overlapping their `[indptr(r0), indptr(r1))` slice.
    */
  def csrCoo(spark: SparkSession, root: String, rel: String): DataFrame = {
    val indptr = ZarrStore.openArray(root, s"$rel/indptr").readFlat()
      .map(_.asInstanceOf[Long]).toArray
    val dataZ = ZarrStore.openArray(root, s"$rel/data")
    val indZ = ZarrStore.openArray(root, s"$rel/indices")
    val nRows = indptr.length - 1
    val par = math.max(1, math.min(nRows, spark.sparkContext.defaultParallelism))
    val bounds = (0 to par).map(p => nRows.toLong * p / par).distinct
    val ranges = bounds.zip(bounds.tail)
    val ptrB = spark.sparkContext.broadcast(indptr)
    // a 0-row node has no ranges, and parallelize needs one slice
    val rdd = spark.sparkContext.parallelize(ranges, math.max(1, ranges.size))
      .flatMap { case (r0, r1) =>
        val ptr = ptrB.value
        val e0 = ptr(r0.toInt); val e1 = ptr(r1.toInt)
        if (e0 == e1) Iterator.empty
        else {
          val db = ByteBuffer.wrap(dataZ.readRange1d(e0, e1))
            .order(ByteOrder.LITTLE_ENDIAN)
          val ib = ByteBuffer.wrap(indZ.readRange1d(e0, e1))
            .order(ByteOrder.LITTLE_ENDIAN)
          var cursor = r0.toInt
          Iterator.range(0, (e1 - e0).toInt).map { k =>
            val elem = e0 + k
            while (ptr(cursor + 1) <= elem) cursor += 1
            Row(cursor.toLong, indZ.numAt(ib, k).toLong, dataZ.numAt(db, k))
          }
        }
      }
    spark.createDataFrame(rdd, cooSchema)
  }

  /** Dense `array` or `csr_matrix` node at `rel` → distributed COO. */
  private def cooAt(spark: SparkSession, root: String, rel: String): DataFrame =
    if (ZarrStore.attrString(root, rel, "encoding-type").contains("csr_matrix"))
      csrCoo(spark, root, rel)
    else denseCoo(spark, ZarrStore.openArray(root, rel))

  // ------------------------------------------------------------------ uns

  /** Decode one `uns` node driver-side (same contract as the HDF5 path:
    * uns is axis-metadata-sized): 0-d arrays → Scalar, 1-D → Arr,
    * groups → Mapping (categorical groups decode to their values).
    */
  private def readUns(root: String, rel: String): UnsValue = {
    import UnsValue._
    if (ZarrStore.isArray(root, rel)) {
      val za = ZarrStore.openArray(root, rel)
      val vals = za.readFlat()
      if (za.rank == 0) Scalar(vals.head) else Arr(vals)
    } else if (ZarrStore.attrString(root, rel, "encoding-type").contains("categorical")) {
      val codes = ZarrStore.openArray(root, s"$rel/codes").readFlat()
      val cats = ZarrStore.openArray(root, s"$rel/categories").readFlat()
      Arr(codes.map { c =>
        val code = c.asInstanceOf[Long]
        if (code < 0) null else cats(code.toInt)
      })
    } else Mapping(ZarrStore.children(root, rel)
      .map(k => k -> readUns(root, s"$rel/$k")).toMap)
  }

  // ------------------------------------------------------------- open API

  /** Open a native AnnData-on-zarr store as the engine's [[AnnDataset]]
    * — the same slot surface as [[graft.h5.AnnH5.open]]. `prefix`
    * selects a nested anndata group (MuData-on-zarr modalities).
    */
  def open(spark: SparkSession, path: String, prefix: String = ""): AnnDataset = {
    val p = if (prefix.isEmpty) "" else prefix.stripSuffix("/") + "/"
    val top = ZarrStore.children(path, prefix).toSet
    def slotNames(slot: String): Seq[String] =
      if (top.contains(slot)) ZarrStore.children(path, p + slot) else Nil
    AnnDataset(
      obs = dataFrameGroup(spark, path, p + "obs", "obs_id", "obs_name"),
      vars = dataFrameGroup(spark, path, p + "var", "var_id", "var_name"),
      x = cooAt(spark, path, p + "X"),
      obsm = slotNames("obsm").map(n => n ->
        cooAt(spark, path, s"${p}obsm/$n").withColumnRenamed("var_id", "dim_id")).toMap,
      layers = slotNames("layers").map(n => n -> cooAt(spark, path, s"${p}layers/$n")).toMap,
      varm = slotNames("varm").map(n => n ->
        cooAt(spark, path, s"${p}varm/$n")
          .withColumnRenamed("var_id", "dim_id")
          .withColumnRenamed("obs_id", "var_id")).toMap,
      obsp = slotNames("obsp").map(n => n ->
        cooAt(spark, path, s"${p}obsp/$n").withColumnRenamed("var_id", "obs_id_2")).toMap,
      uns =
        if (top.contains("uns"))
          ZarrStore.children(path, p + "uns")
            .map(k => k -> readUns(path, s"${p}uns/$k")).toMap
        else Map.empty,
      raw =
        if (top.contains("raw")) {
          val rawVarm = ZarrStore.children(path, p + "raw")
          Some(RawSlots(
            vars = dataFrameGroup(spark, path, p + "raw/var", "var_id", "var_name"),
            x = cooAt(spark, path, p + "raw/X"),
            varm = (if (rawVarm.contains("varm"))
              ZarrStore.children(path, p + "raw/varm") else Nil).map(n => n ->
              cooAt(spark, path, s"${p}raw/varm/$n")
                .withColumnRenamed("var_id", "dim_id")
                .withColumnRenamed("obs_id", "var_id")).toMap))
        } else None)
  }

  /** Open a MuData-on-zarr store (public mudata spec, zarr flavor):
    * every group under `mod/` is a full anndata encoding — one
    * [[AnnDataset]] per modality, same contract as
    * [[graft.h5.AnnH5.openMu]] for the HDF5 flavor.
    */
  def openMu(spark: SparkSession, path: String): Map[String, AnnDataset] = {
    val mods = ZarrStore.children(path, "mod")
    require(mods.nonEmpty, s"$path: no mod/ group — not a MuData-on-zarr store")
    mods.map(m => m -> open(spark, path, s"mod/$m")).toMap
  }
}
