package graft.zarr

import org.apache.spark.sql.SparkSession

import graft.artifact.{AnnDataset, UnsValue}

/** Native AnnData-on-zarr open — the same anndata element encodings the
  * HDF5 reader implements ([[graft.h5.AnnH5]]), over a zarr v2 store
  * instead of an HDF5 container. The reference treats the two as
  * co-equal backed stores (`core/storage/_backed_access.py:108-121`,
  * `_anndata_accessor.py` registers zarr readers for every encoding);
  * here both front the one [[AnnDataset]] surface, so downstream
  * slicing / stats / ingest are container-agnostic.
  *
  * Scale shape mirrors the HDF5 path: every slot but `uns` is a lazy
  * `zarr` DataSource V2 scan ([[graft.zarr.datasource.ZarrSource]]) —
  * obs/var/raw-var plan row ranges of the dataframe encoding, X and
  * every matrix slot plan one task per chunk set (dense) or per row
  * range against indptr (csr) — so tasks scale with the chunk grid and
  * no matrix or axis byte crosses the driver. `uns` is metadata-sized
  * and decodes driver-side.
  */
object AnnZarr {

  // ------------------------------------------------------------------ uns

  /** Decode one `uns` node driver-side (same contract as the HDF5 path:
    * uns is metadata-sized): 0-d arrays → Scalar, 1-D → Arr,
    * groups → Mapping (categorical groups decode to their values). A
    * bool array's values are Booleans, as h5ad gives them.
    */
  private def readUns(root: String, rel: String): UnsValue = {
    import UnsValue._
    if (ZarrStore.isArray(root, rel)) {
      val za = ZarrStore.openArray(root, rel)
      val flat = za.readFlat()
      val vals = if (za.kind == 'b') flat.map(_ != 0L) else flat
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

  /** Open a native AnnData-on-zarr store as the engine's [[AnnDataset]]
    * — the same slot surface as [[graft.h5.AnnH5.open]]. Every slot but
    * `uns` is a lazy `zarr` scan: an action reads the store as it is when
    * the action plans its scan, so rows appended after `open` (e.g. by
    * [[AnnZarrWriter.appendRows]]) are visible to later actions. `prefix`
    * selects a nested anndata group (MuData-on-zarr modalities).
    */
  def open(spark: SparkSession, path: String, prefix: String = ""): AnnDataset = {
    val p = if (prefix.isEmpty) "" else prefix.stripSuffix("/") + "/"
    def checkMatrix(slot: String): Unit =
      if (!ZarrStore.attrString(path, slot, "encoding-type").contains("csr_matrix"))
        require(ZarrStore.openArray(path, slot).rank == 2, s"$slot: dense X must be rank 2")
    val uns = ZarrStore.children(path, p + "uns")
      .map(k => k -> readUns(path, s"${p}uns/$k")).toMap
    AnnDataset.scan(spark, "zarr", path, p, slot => ZarrStore.children(path, p + slot),
      checkMatrix, uns)
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
