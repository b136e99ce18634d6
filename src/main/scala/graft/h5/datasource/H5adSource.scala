package graft.h5.datasource

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._

import graft.artifact.datasource.{AnnFormat, AnnScan, AnnSource, CooProject}
import graft.h5._

/** DataSource V2 surface for the native HDF5 reader: the `h5ad`
  * container behind the shared [[AnnSource]] shell, and the one reader
  * behind [[graft.h5.AnnH5.open]]: one reader per node kind (dense, csr,
  * dataframe), one element decoder (`H5File.decodeDoubles` /
  * `decodeLongs`) and one 1-D range read ([[H5adFrame.sliceBytes]]).
  *
  * Partition planning follows the file's own layout: one input partition
  * per stored chunk (chunked dense; bundled to `bundleBytes` of stored
  * bytes per task above `bundleThreshold` chunks), per row band
  * (contiguous or compact dense, one ranged read each) or per row range
  * (csr). Pushed `obs_id`/`var_id` bounds skip chunks whose grid offsets
  * cannot intersect — the HDF5 analog of parquet row-group pruning.
  */
final class H5adSource extends AnnSource(H5adFormat)

private[graft] object H5adFormat extends AnnFormat {
  val name = "h5ad"

  def schema(path: String, slot: String, axes: Option[String]): StructType = {
    val f = H5File.open(path)
    try {
      if (H5adFrame.isFrameSlot(f, slot)) H5adFrame.describe(f, slot).schema
      else AnnSource.Schema
    } finally f.close()
  }

  def plan(scan: AnnScan): Array[InputPartition] = {
    val (path, slot) = (scan.path, scan.slot)
    val (obsLo, obsHi) = scan.colBounds("obs_id")
    val (varLo, varHi) = scan.colBounds("var_id")
    val bundleThreshold = scan.options.getInt("bundleThreshold", 256)
    val bundleBytes = scan.options.getLong("bundleBytes", 32L << 20)
    val f = H5File.open(path)
    try {
      if (H5adFrame.isFrameSlot(f, slot)) return scan.frameRanges(H5adFrame.describe(f, slot))
      f(slot) match {
        case g: H5Group =>
          require(f.attrString(g, "encoding-type").contains("csr_matrix"),
            s"$slot: group is not csr_matrix")
          val nRows = f.node(g.children("indptr"), "indptr")
            .asInstanceOf[H5DatasetMeta].dims(0) - 1
          val nnz = f.node(g.children("data"), "data")
            .asInstanceOf[H5DatasetMeta].dims(0)
          scan.rowRanges(nRows, nnz, "obs_id")
            .map { case (r0, r1) => CsrRangePartition(path, slot, r0, r1): InputPartition }
            .toArray
        case ds: H5DatasetMeta =>
          val (nRows, nCols) = (ds.dims(0), ds.dims(1))
          val bundles: Seq[Array[DenseBlock]] = ds.layout match {
            case H5Layout.Chunked(_, chunkDims) =>
              val pruned = f.chunkRefs(ds)
                .filter { c =>
                  val r0 = c.offsets(0); val c0 = c.offsets(1)
                  (r0 + chunkDims(0)) > obsLo && r0 <= obsHi &&
                    (c0 + chunkDims(1)) > varLo && c0 <= varHi
                }
                .map { c =>
                  val (r0, c0) = (c.offsets(0), c.offsets(1))
                  DenseBlock(r0, c0, math.min(chunkDims(0).toLong, nRows - r0).toInt,
                    math.min(chunkDims(1).toLong, nCols - c0).toInt, c.addr, c.storedSize)
                }
              // small files: one partition per chunk (pruning stays
              // 1:1-observable). Big files: bundle chunks to ~32MB of
              // stored bytes per task so a million-chunk X plans
              // thousands of partitions, not millions.
              if (pruned.length <= bundleThreshold) pruned.map(Array(_))
              else {
                val out = Seq.newBuilder[Array[DenseBlock]]
                val cur = mutable.ArrayBuffer.empty[DenseBlock]
                var bytes = 0L
                pruned.foreach { c =>
                  if (cur.nonEmpty && bytes + c.storedSize > bundleBytes) {
                    out += cur.toArray; cur.clear(); bytes = 0L
                  }
                  cur += c; bytes += c.storedSize
                }
                if (cur.nonEmpty) out += cur.toArray
                out.result()
              }
            case _ =>
              // contiguous / compact (h5py's default dense layout): row
              // bands sized like csr ranges, one ranged read each
              scan.rowRanges(nRows, nRows * nCols, "obs_id").map { case (r0, r1) =>
                Array(DenseBlock(r0, 0L, (r1 - r0).toInt, nCols.toInt, H5File.Undef, 0))
              }
          }
          bundles.map(b => DensePartition(path, ds, b): InputPartition).toArray
      }
    } finally f.close()
  }

  def reader(partition: InputPartition, required: StructType): PartitionReader[InternalRow] =
    partition match {
      case p: DensePartition => new DenseReader(p, required)
      case p: CsrRangePartition => new CsrRangeReader(p, required)
      case p: FrameRangePartition => new H5FrameRangeReader(p, required)
    }
}

// --------------------------------------------------------------- partitions

/** A dense block at grid offset (rOff, cOff) with clipped extents
  * (rows, cols): a stored chunk at `addr`, or a contiguous/compact row
  * band (`addr` unused).
  */
private final case class DenseBlock(rOff: Long, cOff: Long, rows: Int, cols: Int,
                                    addr: Long, storedSize: Int) extends Serializable

private final case class DensePartition(
    path: String, ds: H5DatasetMeta, blocks: Array[DenseBlock]) extends InputPartition

private final case class CsrRangePartition(
    path: String, groupPath: String, r0: Long, r1: Long) extends InputPartition

/** The one dense reader: each block decodes to doubles (a stored chunk
  * through its filters, a row band through one ranged read), then emits
  * its clipped extent row-major.
  */
private final class DenseReader(p: DensePartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val file = H5File.open(p.path)
  private val nCols = p.ds.dims(1)
  private var bi = -1
  private var cur: DenseBlock = _
  private var vals: Array[Double] = _
  private var rows, cols, stride = 0
  private var r, c = 0

  private def loadNextBlock(): Boolean = {
    bi += 1
    if (bi >= p.blocks.length) return false
    cur = p.blocks(bi)
    val esize = p.ds.dtype.size
    val raw = p.ds.layout match {
      case H5Layout.Chunked(_, chunkDims) =>
        stride = chunkDims(1)
        H5File.decodeChunk(file.in.readFully(cur.addr, cur.storedSize),
          p.ds.filters, esize, chunkDims(0) * chunkDims(1) * esize)
      case _ =>
        stride = nCols.toInt
        H5adFrame.sliceBytes(file, p.ds, cur.rOff * nCols, (cur.rOff + cur.rows) * nCols)
    }
    vals = file.decodeDoubles(p.ds.dtype, raw)
    rows = cur.rows; cols = cur.cols
    true
  }

  override def next(): Boolean = {
    c += 1
    if (c >= cols) { c = 0; r += 1 }
    while (r >= rows) {
      if (!loadNextBlock()) return false
      r = 0; c = 0
    }
    true
  }

  override def get(): InternalRow =
    CooProject.row(required, cur.rOff + r, cur.cOff + c, vals(r * stride + c))

  override def close(): Unit = file.close()
}

private final class CsrRangeReader(p: CsrRangePartition, required: StructType)
    extends PartitionReader[InternalRow] {
  // each task reads its own indptr slice + the matching data/indices
  // elements — indptr is axis-sized, and a full decode per task is
  // O(store rows) at 10^8 rows
  private val (ptr, data, ind) = {
    val f = H5File.open(p.path)
    try {
      val g = f.group(p.groupPath)
      def ds(name: String) = f.node(g.children(name), name).asInstanceOf[H5DatasetMeta]
      val (ptrDs, dataDs, indDs) = (ds("indptr"), ds("data"), ds("indices"))
      val ptr = f.decodeLongs(ptrDs.dtype, H5adFrame.sliceBytes(f, ptrDs, p.r0, p.r1 + 1))
      val (e0, e1) = (ptr.head, ptr.last)
      (ptr, f.decodeDoubles(dataDs.dtype, H5adFrame.sliceBytes(f, dataDs, e0, e1)),
        f.decodeLongs(indDs.dtype, H5adFrame.sliceBytes(f, indDs, e0, e1)))
    } finally f.close()
  }
  private var k = -1
  private var row = 0

  override def next(): Boolean = { k += 1; k < data.length }

  override def get(): InternalRow = {
    val elem = ptr.head + k
    while (ptr(row + 1) <= elem) row += 1
    CooProject.row(required, p.r0 + row, ind(k), data(k))
  }

  override def close(): Unit = ()
}
