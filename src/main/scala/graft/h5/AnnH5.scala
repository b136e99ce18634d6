package graft.h5

import org.apache.spark.sql.SparkSession

import graft.artifact.AnnDataset

/** Native `.h5ad` open: the AnnData element encoding over [[H5File]].
  *
  * Implements the public anndata on-disk specification (the
  * `encoding-type`/`encoding-version` attribute convention the
  * reference reads through h5py in
  * `core/storage/_anndata_accessor.py:516-700`): `dataframe` groups
  * with `_index` + `column-order`, `string-array` vlen columns,
  * `categorical` groups (codes + categories), dense `array` X, and
  * `csr_matrix` groups (data/indices/indptr).
  *
  * Scale shape: every slot but `uns` is a lazy `h5ad` DataSource V2 scan
  * ([[graft.h5.datasource.H5adSource]]) — obs/var/raw-var plan row
  * ranges of the dataframe encoding, X and every matrix slot plan one
  * partition per stored chunk (chunked dense), row band (contiguous or
  * compact dense) or row range (csr). Each task opens the file itself
  * via Hadoop FS and reads only its own chunks or element range, so no
  * axis or matrix byte passes through the driver and pushed bounds prune
  * before any read. `uns` is metadata-sized and decodes driver-side.
  */
object AnnH5 {

  // ------------------------------------------------------------------ uns

  /** Decode one `uns` node driver-side (uns is metadata-sized): scalar
    * datasets → Scalar, 1-D datasets → Arr, groups → Mapping (recursive;
    * categorical groups decode to their string values).
    */
  private def readUns(f: H5File, node: H5Node): graft.artifact.UnsValue = {
    import graft.artifact.UnsValue._
    node match {
      case d: H5DatasetMeta =>
        val vals: Array[Any] = d.dtype match {
          case H5Dtype.VlenStr() | H5Dtype.FixedStr(_) =>
            f.decodeStrings(d.dtype, f.readRaw(d)).toArray[Any]
          case H5Dtype.FloatPt(_) =>
            f.decodeDoubles(d.dtype, f.readRaw(d)).map(v => v: Any)
          case H5Dtype.EnumT(H5Dtype.FixedPt(1, _)) =>
            // h5py's bool-on-disk encoding — surface as Boolean, not 0/1
            f.decodeLongs(d.dtype, f.readRaw(d)).map(v => (v != 0L): Any)
          case _ =>
            f.decodeLongs(d.dtype, f.readRaw(d)).map(v => v: Any)
        }
        if (d.dims.isEmpty) Scalar(vals.head) else Arr(vals.toSeq)
      case g: H5Group if f.attrString(g, "encoding-type").contains("categorical") =>
        val codesDs = f.node(g.children("codes"), "codes").asInstanceOf[H5DatasetMeta]
        val catsDs = f.node(g.children("categories"), "categories").asInstanceOf[H5DatasetMeta]
        val codes = f.decodeLongs(codesDs.dtype, f.readRaw(codesDs))
        val cats = f.decodeStrings(catsDs.dtype, f.readRaw(catsDs))
        Arr(codes.toSeq.map(c => if (c < 0) null else cats(c.toInt)))
      case g: H5Group =>
        Mapping(g.children.keys.toSeq.sorted
          .map(k => k -> readUns(f, f.node(g.children(k), k))).toMap)
    }
  }

  /** Flatten a `uns` tree into (slot, n, numeric-sum) rows for tabular
    * comparison: numeric scalars/arrays carry their value/sum, string
    * scalars encode the value into the slot label (`uns/key:value`), so
    * one typed schema covers the whole tree and the DuckDB oracle can
    * recompute it from literals.
    */
  def flattenUns(uns: Map[String, graft.artifact.UnsValue],
                 prefix: String = "uns"): Seq[(String, Long, Option[Double])] = {
    import graft.artifact.UnsValue._
    def flat(pfx: String, v: graft.artifact.UnsValue): Seq[(String, Long, Option[Double])] =
      v match {
        case Scalar(s: String) => Seq((s"$pfx:$s", 1L, None))
        case Scalar(d: Double) => Seq((pfx, 1L, Some(d)))
        case Scalar(n: Number) => Seq((pfx, 1L, Some(n.doubleValue())))
        case Scalar(b: Boolean) => Seq((pfx, 1L, Some(if (b) 1.0 else 0.0)))
        case Scalar(_) => Seq((pfx, 1L, None))
        case Arr(vals) =>
          val nums = vals.collect {
            case n: Number => n.doubleValue()
            case b: Boolean => if (b) 1.0 else 0.0
          }
          Seq((pfx, vals.length.toLong, if (nums.nonEmpty) Some(nums.sum) else None))
        case Mapping(items) =>
          items.toSeq.sortBy(_._1).flatMap { case (k, cv) => flat(s"$pfx/$k", cv) }
      }
    uns.toSeq.sortBy(_._1).flatMap { case (k, v) => flat(s"$prefix/$k", v) }
  }

  /** Open a native `.h5ad` as the engine's [[AnnDataset]] — obs/var
    * per the dataframe encoding; X, every `layers/` slot, every `obsm/`
    * matrix (`dim_id` columns), every `varm/` matrix (var-keyed, `dim_id`
    * columns) and every `obsp/` pairwise matrix (`obs_id` × `obs_id_2`)
    * as COO; `uns` as a driver-side metadata tree; `raw` as its own var
    * frame + COO X. Every slot but `uns` is a lazy `h5ad` scan: an action
    * reads the file as it is when the action plans its scan. Downstream
    * slicing/aggregation (`subsetObs`, `perVarStats`, ingest) compose
    * unchanged. `prefix` selects a nested anndata group (h5mu
    * modalities).
    */
  def open(spark: SparkSession, path: String, prefix: String = ""): AnnDataset = {
    val p = if (prefix.isEmpty) "" else prefix.stripSuffix("/") + "/"
    val f = H5File.open(path)
    try {
      val container = if (p.isEmpty) f.root else f.group(prefix)
      def children(slot: String): Seq[String] =
        slot.split('/').foldLeft(Option[H5Node](container)) {
          case (Some(g: H5Group), k) => g.children.get(k).map(f.node(_, k))
          case _ => None
        }.collect { case g: H5Group => g.children.keys.toSeq.sorted }.getOrElse(Nil)
      def checkMatrix(slot: String): Unit = f(slot) match {
        case d: H5DatasetMeta =>
          require(d.dims.length == 2, s"$slot: dense X must be rank 2")
        case g: H5Group =>
          require(f.attrString(g, "encoding-type").contains("csr_matrix"),
            s"$slot is not a csr_matrix group")
      }
      val uns = children("uns").map(k => k -> readUns(f, f(s"${p}uns/$k"))).toMap
      AnnDataset.scan(spark, "h5ad", path, p, children, checkMatrix, uns)
    } finally f.close()
  }

  /** Open a native `.h5mu` (MuData container, public mudata spec):
    * every group under `mod/` is a full anndata encoding — returned as
    * one [[AnnDataset]] per modality. The same H5 stack serves both
    * containers; nothing is pre-converted.
    */
  def openMu(spark: SparkSession, path: String): Map[String, AnnDataset] = {
    val f = H5File.open(path)
    val mods =
      try {
        require(f.attrString(f.root, "encoding-type").forall(_ == "MuData"),
          s"$path: not a MuData container")
        f.group("mod").children.keys.toSeq.sorted
      } finally f.close()
    mods.map(m => m -> open(spark, path, s"mod/$m")).toMap
  }
}

/** Iterator that closes a resource once exhausted (task-scoped input). */
final class ClosingIterator[T](underlying: Iterator[T], resource: AutoCloseable)
    extends Iterator[T] {
  private var closed = false
  override def hasNext: Boolean = {
    val h = underlying.hasNext
    if (!h && !closed) { closed = true; resource.close() }
    h
  }
  override def next(): T = underlying.next()
}
