package graft.zarr.datasource

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._

import graft.artifact.datasource.{AnnFormat, AnnScan, AnnSource, CooProject}
import graft.h5.datasource.FrameRangePartition
import graft.zarr.{ZArray, ZarrStore}

/** DataSource V2 surface for the native zarr reader: the `zarr`
  * container behind the shared [[AnnSource]] shell (as
  * [[graft.h5.datasource.H5adSource]] is the h5ad one), and the one
  * reader behind [[graft.zarr.AnnZarr.open]]:
  *  - **partition planning = the chunk grid** (dense) or row ranges
  *    against indptr (csr), so task parallelism tracks the store's own
  *    chunk layout;
  *  - **filter pushdown = chunk pruning** — pushed min/max bounds on
  *    the axis columns skip chunk OBJECTS whose grid offsets cannot
  *    intersect, before any byte is read (and with a directory store
  *    that also means those objects are never even opened);
  *  - **column pruning** — only projected fields materialize.
  *
  * Dense slots of ANY rank are served: rank-2 keeps the
  * `(obs_id, var_id)` naming; other ranks (NGFF images/labels, rank-3
  * tensors) get axis columns `d0..dN-1`, renameable via
  * `.option("axes", "c,y,x")` — each axis column prunes its own grid
  * dimension. Works on v2 and v3 (incl. sharded) stores alike.
  */
final class ZarrSource extends AnnSource(ZarrFormat)

private[graft] object ZarrFormat extends AnnFormat {
  val name = "zarr"

  /** Axis columns: rank-2 keeps the anndata COO names; other ranks use
    * `axes` (or d0..dN-1).
    */
  private def axisNames(rank: Int, axes: Option[String]): Seq[String] = axes match {
    case Some(a) =>
      val names = a.split(',').map(_.trim).toSeq
      require(names.size == rank, s"axes '$a' for rank-$rank slot")
      names
    case None if rank == 2 => Seq("obs_id", "var_id")
    case None => (0 until rank).map(d => s"d$d")
  }

  private def isCsr(path: String, slot: String): Boolean =
    ZarrStore.attrString(path, slot, "encoding-type").contains("csr_matrix")

  def schema(path: String, slot: String, axes: Option[String]): StructType =
    if (ZarrFrame.isFrameSlot(path, slot)) ZarrFrame.describe(path, slot).schema
    else if (isCsr(path, slot)) AnnSource.Schema
    else {
      val za = ZarrStore.openArray(path, slot)
      StructType(axisNames(za.rank, axes).map(StructField(_, LongType, nullable = false)) :+
        StructField("value", DoubleType, nullable = false))
    }

  def plan(scan: AnnScan): Array[InputPartition] = {
    val (path, slot) = (scan.path, scan.slot)
    if (ZarrFrame.isFrameSlot(path, slot)) scan.frameRanges(ZarrFrame.describe(path, slot))
    else if (isCsr(path, slot)) {
      // csr: row ranges against indptr; pushed obs bounds prune ranges,
      // and each task's element span is fixed here so tasks touch only
      // their own data/indices chunks
      val ptrZ = ZarrStore.openArray(path, s"$slot/indptr")
      val nnz = ZarrStore.openArray(path, s"$slot/data").shape.head
      val kept = scan.rowRanges(ptrZ.shape.head - 1, nnz, "obs_id")
      // indptr values at the SURVIVING range boundaries only: O(par)
      // chunk-sliced reads, never a full O(store rows) driver decode
      val bvals = kept.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(b => b -> ptrZ.readLongs(b, b + 1)(0)).toMap
      kept.map { case (r0, r1) =>
        ZarrCsrRangePartition(path, slot, r0, r1,
          bvals(r0), bvals(r1)): InputPartition
      }.toArray
    } else {
      val za = ZarrStore.openArray(path, slot)
      val axes = scan.tschema.fieldNames.dropRight(1) // value is last
      require(za.rank == axes.length, s"$slot: rank ${za.rank} vs schema ${scan.tschema}")
      val axBounds = axes.map(scan.colBounds)
      val pruned = za.gridCoords.filter { c =>
        c.indices.forall { d =>
          val off = c(d).toLong * za.chunks(d)
          val (lo, hi) = axBounds(d)
          (off + za.chunks(d)) > lo && off <= hi
        }
      }
      // one partition per chunk object (pruning stays 1:1-observable);
      // tiny-chunk stores bundle up to 64 chunks per task
      val perTask = if (pruned.size <= 256) 1 else 64
      pruned.grouped(perTask)
        .map(g => ZarrDenseChunkPartition(za, axes,
          g.map(_.toArray).toArray): InputPartition)
        .toArray
    }
  }

  def reader(partition: InputPartition, required: StructType): PartitionReader[InternalRow] =
    partition match {
      case p: ZarrDenseChunkPartition => new ZarrDenseChunkReader(p, required)
      case p: ZarrCsrRangePartition => new ZarrCsrRangeReader(p, required)
      case p: FrameRangePartition => new ZarrFrameRangeReader(p, required)
    }
}

private final case class ZarrDenseChunkPartition(
    za: ZArray, axes: Array[String], coords: Array[Array[Int]]) extends InputPartition

private final case class ZarrCsrRangePartition(
    path: String, slot: String, r0: Long, r1: Long,
    e0: Long, e1: Long) extends InputPartition

/** Rank-agnostic dense chunk reader: odometer over each chunk's clipped
  * extents, C-order strides into the decoded (full, padded) buffer.
  */
private final class ZarrDenseChunkReader(p: ZarrDenseChunkPartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val za = p.za
  private val rank = za.rank
  // projection: for each required field, the axis index (or -1 = value)
  private val proj = required.fieldNames.map(f => p.axes.indexOf(f))
  private val strides = {
    val s = new Array[Int](rank)
    var acc = 1
    var d = rank - 1
    while (d >= 0) { s(d) = acc; acc *= za.chunks(d); d -= 1 }
    s
  }
  private var ci = -1
  private var buf: java.nio.ByteBuffer = _
  private var fillOnly = false
  private val offs = new Array[Long](rank)
  private val ext = new Array[Int](rank)
  private val pos = new Array[Int](rank)
  private var done = true

  private def loadNextChunk(): Boolean = {
    ci += 1
    if (ci >= p.coords.length) return false
    val coord = p.coords(ci)
    var d = 0
    while (d < rank) {
      offs(d) = coord(d).toLong * za.chunks(d)
      ext(d) = math.min(za.chunks(d).toLong, za.shape(d) - offs(d)).toInt
      pos(d) = 0
      d += 1
    }
    za.readChunk(coord.toSeq) match {
      case Some(dec) =>
        buf = java.nio.ByteBuffer.wrap(dec).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        fillOnly = false
      case None => fillOnly = true // absent object: whole chunk = fill
    }
    done = false
    true
  }

  /** Advance the odometer; returns false when the chunk is exhausted. */
  private def advance(): Boolean = {
    var d = rank - 1
    while (d >= 0) {
      pos(d) += 1
      if (pos(d) < ext(d)) return true
      pos(d) = 0
      d -= 1
    }
    false
  }

  private var first = true

  override def next(): Boolean = {
    if (done || (!first && !advance())) {
      if (!loadNextChunk()) return false
      first = true
    }
    first = false
    true
  }

  override def get(): InternalRow = {
    var k = 0
    var d = 0
    while (d < rank) { k += pos(d) * strides(d); d += 1 }
    val v = if (fillOnly) za.fillNum.getOrElse(0.0) else za.numAt(buf, k)
    val vals = new Array[Any](proj.length)
    var f = 0
    while (f < proj.length) {
      vals(f) =
        if (proj(f) < 0) java.lang.Double.valueOf(v)
        else java.lang.Long.valueOf(offs(proj(f)) + pos(proj(f)))
      f += 1
    }
    new GenericInternalRow(vals)
  }

  override def close(): Unit = ()
}

private final class ZarrCsrRangeReader(p: ZarrCsrRangePartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val (ptr, dataBuf, indBuf, dataZ, indZ) = {
    // only THIS task's indptr slice decodes (chunk-sliced read) —
    // indptr is axis-sized, and a full decode per task is O(store
    // rows) at the 10^8-row stores this source exists to serve
    val slice = ZarrStore.openArray(p.path, s"${p.slot}/indptr")
      .readLongs(p.r0, p.r1 + 1)
    val dz = ZarrStore.openArray(p.path, s"${p.slot}/data")
    val iz = ZarrStore.openArray(p.path, s"${p.slot}/indices")
    val d = java.nio.ByteBuffer.wrap(dz.readRange1d(p.e0, p.e1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ix = java.nio.ByteBuffer.wrap(iz.readRange1d(p.e0, p.e1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (slice, d, ix, dz, iz)
  }
  private val total = (p.e1 - p.e0).toInt
  private var k = -1
  private var row = 0 // local offset within [r0, r1)

  override def next(): Boolean = { k += 1; k < total }

  override def get(): InternalRow = {
    val elem = p.e0 + k
    while (ptr(row + 1) <= elem) row += 1
    CooProject.row(required, p.r0 + row, indZ.numAt(indBuf, k).toLong,
      dataZ.numAt(dataBuf, k))
  }

  override def close(): Unit = ()
}
