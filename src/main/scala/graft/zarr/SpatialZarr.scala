package graft.zarr

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.artifact.AnnDataset

/** Native SpatialData-on-zarr open — the spatialdata package's public
  * store layout: a zarr store whose root attrs carry `spatialdata_attrs`
  * (the exact detection key the reference uses,
  * `core/storage/_backed_access.py:118-121`), with element groups
  * `tables/` (anndata), `points/` (NGFF points: a parquet dataset +
  * zarr attrs), `images/` and `labels/` (NGFF multiscales pyramids).
  *
  * The reference's `SpatialDataAccessor` exposes ONLY `tables`
  * (`_spatialdata_accessor.py:39-63`); this opener matches that surface
  * and extends it with the other elements, because at engine scale they
  * are the heavy ones: points are already parquet (Spark reads them
  * distributed with pushdown for free), and image pyramids are plain
  * zarr arrays the chunk-parallel reader serves executor-side. Works on
  * v2 and v3 stores alike (everything routes through [[ZarrStore]]).
  */
object SpatialZarr {

  /** One NGFF multiscales element: named axes + one [[ZArray]] per
    * pyramid level (level 0 = full resolution). Serializable metadata;
    * pixel decode happens in executor tasks via [[coo]].
    */
  final case class ImagePyramid(name: String, axes: Seq[String], levels: Seq[ZArray]) {
    def nLevels: Int = levels.size
    def shape(level: Int): Seq[Long] = levels(level).shape

    /** Level as distributed COO through the `zarr` DSv2 scan — one axis
      * column per NGFF axis plus `value`; one task per chunk object, at
      * any rank, with pushed axis bounds pruning chunk objects.
      */
    def coo(spark: SparkSession, level: Int = 0): DataFrame =
      spark.read.format("zarr").option("slot", levels(level).rel)
        .option("axes", axes.mkString(",")).load(levels(level).root)
  }

  /** The opened store: reference surface (`tables`) + engine extensions. */
  final case class SpatialDataset(tables: Map[String, AnnDataset],
                                  points: Map[String, DataFrame],
                                  images: Map[String, ImagePyramid],
                                  labels: Map[String, ImagePyramid])

  /** The reference's detection rule: root attrs carry `spatialdata_attrs`. */
  def isSpatial(path: String): Boolean =
    ZarrStore.attrs(path, "").exists(_.has("spatialdata_attrs"))

  private def pyramid(path: String, rel: String, name: String): ImagePyramid = {
    val ms = ZarrStore.attrs(path, rel)
      .flatMap(a => Option(a.get("multiscales"))).filter(_.isArray)
      .map(_.get(0))
      .getOrElse(sys.error(s"$rel: no NGFF multiscales metadata"))
    val axes = Option(ms.get("axes")).filter(_.isArray)
      .map(a => (0 until a.size).map(a.get(_).get("name").asText))
      .getOrElse(Nil)
    val levels = Option(ms.get("datasets")).filter(_.isArray)
      .map(d => (0 until d.size).map(d.get(_).get("path").asText))
      .getOrElse(Nil)
      .map(p => ZarrStore.openArray(path, s"$rel/$p"))
    require(levels.nonEmpty, s"$rel: multiscales with no datasets")
    require(axes.size == levels.head.rank,
      s"$rel: ${axes.size} axes for rank-${levels.head.rank} data")
    ImagePyramid(name, axes, levels)
  }

  /** Open a spatialdata store. `tables` mirrors the reference accessor;
    * `points` are the element parquet datasets read distributed;
    * `images`/`labels` are NGFF pyramids.
    */
  def open(spark: SparkSession, path: String): SpatialDataset = {
    require(isSpatial(path),
      s"$path: root attrs carry no spatialdata_attrs — not a SpatialData store")
    def names(kind: String): Seq[String] = ZarrStore.children(path, kind)
    SpatialDataset(
      tables = names("tables").map(t =>
        t -> AnnZarr.open(spark, path, s"tables/$t")).toMap,
      points = names("points").map { p =>
        p -> spark.read.parquet(s"$path/points/$p/points.parquet")
      }.toMap,
      images = names("images").map(i =>
        i -> pyramid(path, s"images/$i", i)).toMap,
      labels = names("labels").map(l =>
        l -> pyramid(path, s"labels/$l", l)).toMap)
  }

  /** Bridge an opened store into the curator surface: each table
    * becomes a modality of slot frames (`tables:key:obs` /
    * `tables:key:var` / `tables:key:var.T` resolve through
    * [[graft.curate.MuDataCurator.resolveSlot]] exactly like the
    * reference's `SpatialDataCurator` slot grammar,
    * `curators/core.py:1338`). Non-tabular elements (images / points /
    * labels) stay out of the curator by the same explicit rejection.
    */
  def toMuDataset(sd: SpatialDataset): graft.curate.MuDataset =
    graft.curate.MuDataset(
      modalities = sd.tables.map { case (name, t) =>
        name -> Map("obs" -> t.obs, "var" -> t.vars)
      })
}
