package graft.h5.datasource

import java.util.{Map => JMap}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.h5._

/** DataSource V2 surface for the native HDF5 reader:
  * `spark.read.format("h5ad").load(path)` yields the COO view
  * `(obs_id, var_id, value)` of a dense or csr X (or any slot via
  * `.option("slot", "layers/scaled")`; `dataframe` slots yield the
  * frame). It is the one reader behind [[graft.h5.AnnH5.open]]: one
  * reader per node kind (dense, csr, dataframe), one element decoder
  * (`H5File.decodeDoubles` / `decodeLongs`) and one 1-D range read
  * ([[H5adFrame.sliceBytes]]).
  *
  * This is the Catalyst-native presentation of `graft.h5`:
  *  - **partition planning = the chunk grid** — one input partition per
  *    stored chunk (chunked dense), per row band (contiguous or compact
  *    dense, one ranged read each) or per row range (csr), so task
  *    parallelism tracks the file's own layout;
  *  - **filter pushdown = chunk pruning** — min/max bounds on
  *    `obs_id`/`var_id` skip chunks whose grid offsets cannot
  *    intersect, before any byte is read (the HDF5 analog of parquet
  *    row-group pruning). Filters are also left for Spark to
  *    re-evaluate, so pushdown is purely an I/O optimization;
  *  - **column pruning** — the reader materializes only the projected
  *    fields.
  */
final class H5adSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "h5ad"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path"))
    val slot = Option(options.get("slot")).getOrElse("X")
    path.map(p => H5adSource.schemaFor(p, slot)).getOrElse(H5adSource.Schema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("h5ad source requires a path"))
    new H5adTable(path, Option(properties.get("slot")).getOrElse("X"), schema)
  }
}

object H5adSource {
  val Schema: StructType = StructType(Seq(
    StructField("obs_id", LongType, nullable = false),
    StructField("var_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Matrix slots expose the COO schema; `dataframe` slots (obs / var /
    * raw/var) expose the frame's own schema from its encoding attrs.
    */
  def schemaFor(path: String, slot: String): StructType = {
    val f = H5File.open(path)
    try {
      if (H5adFrame.isFrameSlot(f, slot)) H5adFrame.describe(f, slot).schema
      else Schema
    } finally f.close()
  }
}

final class H5adTable(path: String, slot: String, tschema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"h5ad:$path!$slot"
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new H5adScanBuilder(path, slot, tschema,
      options.getInt("bundleThreshold", 256),
      options.getLong("bundleBytes", 32L << 20),
      options.getLong("targetRowsPerTask", 1L << 20),
      options.getLong("targetElemsPerTask", 4L << 20))
}

final class H5adScanBuilder(path: String, slot: String, full: StructType,
                            bundleThreshold: Int, bundleBytes: Long,
                            targetRows: Long = 1L << 20,
                            targetElems: Long = 4L << 20)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Keep every filter for Spark to re-evaluate; retain min/max bounds
    * on obs_id/var_id for chunk pruning.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new H5adScan(path, slot, required, H5adScanBuilder.bounds(pushed),
      bundleThreshold, bundleBytes, targetRows, targetElems)
}

object H5adScanBuilder {
  /** Row-range partition count: ceil(n / targetRows) with a
    * `defaultParallelism` floor, capped at n. Planning runs driver-side,
    * so the active session's parallelism is the honest floor — a fixed
    * 32-partition cap (the old plan) was invisible on local[32] but
    * would bottleneck a 1000-executor scan regardless of store size.
    */
  def rangeCount(nRows: Long, targetRows: Long): Int = {
    require(targetRows >= 1, s"targetRowsPerTask must be >= 1, got $targetRows")
    val floor =
      try org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism.toLong
      catch { case _: Throwable => 8L }
    val byTarget = (nRows + targetRows - 1) / targetRows
    math.max(1L, math.min(nRows, math.max(byTarget, floor))).toInt
  }

  /** Row ranges `[r0, r1)` over `nRows` rows holding `nElems` stored
    * elements, keeping those that meet the inclusive row bounds `rowBounds`.
    * Rows AND elements both size the plan: a few very dense rows must not
    * collapse into one task.
    */
  def rowRanges(nRows: Long, nElems: Long, targetRows: Long, targetElems: Long,
                rowBounds: (Long, Long)): Seq[(Long, Long)] = {
    val par = math.max(rangeCount(nRows, targetRows).toLong,
      math.min(nRows, (nElems + targetElems - 1) / targetElems)).toInt
    val cuts = (0 to par).map(p => nRows * p / par).distinct
    cuts.zip(cuts.tail).filter { case (r0, r1) => r1 > rowBounds._1 && r0 <= rowBounds._2 }
  }

  private val Unbounded = (Long.MinValue, Long.MaxValue)

  /** (lo, hi) inclusive bounds per column from simple comparison filters;
    * unconstrained columns map to the full range.
    */
  def bounds(filters: Array[Filter]): Map[String, (Long, Long)] = {
    val b = mutable.Map.empty[String, (Long, Long)].withDefaultValue(Unbounded)
    def tighten(col: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = b(col)
      b(col) = (math.max(l0, lo), math.min(h0, hi))
    }
    def num(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue())
      case _ => None
    }
    filters.foreach {
      case EqualTo(c, v) => num(v).foreach(n => tighten(c, n, n))
      case GreaterThan(c, v) => num(v).foreach(n => tighten(c, n + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) => num(v).foreach(n => tighten(c, n, Long.MaxValue))
      case LessThan(c, v) => num(v).foreach(n => tighten(c, Long.MinValue, n - 1))
      case LessThanOrEqual(c, v) => num(v).foreach(n => tighten(c, Long.MinValue, n))
      case And(l, r) => b ++= bounds(Array(l)).map { case (k, v) =>
        val (l0, h0) = b(k); k -> (math.max(l0, v._1), math.min(h0, v._2))
      }; b ++= bounds(Array(r)).map { case (k, v) =>
        val (l0, h0) = b(k); k -> (math.max(l0, v._1), math.min(h0, v._2))
      }
      case _ => ()
    }
    b.toMap.withDefaultValue(Unbounded)
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

final class H5adScan(path: String, slot: String, required: StructType,
                     colBounds: Map[String, (Long, Long)],
                     bundleThreshold: Int = 256,
                     bundleBytes: Long = 32L << 20,
                     targetRows: Long = 1L << 20,
                     targetElems: Long = 4L << 20) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"h5ad $path!$slot bounds=$colBounds cols=${required.fieldNames.mkString(",")}"

  private def rowRanges(nRows: Long, nElems: Long, idCol: String) =
    H5adScanBuilder.rowRanges(nRows, nElems, targetRows, targetElems, colBounds(idCol))

  override def planInputPartitions(): Array[InputPartition] = {
    val (obsLo, obsHi) = colBounds("obs_id")
    val (varLo, varHi) = colBounds("var_id")
    val f = H5File.open(path)
    try {
      if (H5adFrame.isFrameSlot(f, slot)) {
        // dataframe slot: row ranges pruned by pushed row-id bounds;
        // tasks decode only their slice of each projected column
        val info = H5adFrame.describe(f, slot)
        return rowRanges(info.n, 0L, info.rowIdName).map { case (r0, r1) =>
          FrameRangePartition(path, slot, r0, r1, info.specs.toArray): InputPartition
        }.toArray
      }
      f(slot) match {
        case g: H5Group =>
          require(f.attrString(g, "encoding-type").contains("csr_matrix"),
            s"$slot: group is not csr_matrix")
          val nRows = f.node(g.children("indptr"), "indptr")
            .asInstanceOf[H5DatasetMeta].dims(0) - 1
          val nnz = f.node(g.children("data"), "data")
            .asInstanceOf[H5DatasetMeta].dims(0)
          rowRanges(nRows, nnz, "obs_id")
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
              rowRanges(nRows, nRows * nCols, "obs_id").map { case (r0, r1) =>
                Array(DenseBlock(r0, 0L, (r1 - r0).toInt, nCols.toInt, H5File.Undef, 0))
              }
          }
          bundles.map(b => DensePartition(path, ds, b): InputPartition).toArray
      }
    } finally f.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new H5adReaderFactory(required)
}

final class H5adReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: DensePartition => new DenseReader(p, required)
      case p: CsrRangePartition => new CsrRangeReader(p, required)
      case p: FrameRangePartition => new H5FrameRangeReader(p, required)
    }
}

/** Projects one COO element (obs, var, value) into the pruned schema —
  * shared by the h5ad and zarr matrix readers.
  */
private[graft] object CooProject {
  def row(required: StructType, i: Long, j: Long, v: Double): InternalRow = {
    val vals = required.fieldNames.map {
      case "obs_id" => java.lang.Long.valueOf(i)
      case "var_id" => java.lang.Long.valueOf(j)
      case "value" => java.lang.Double.valueOf(v)
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }
}

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
