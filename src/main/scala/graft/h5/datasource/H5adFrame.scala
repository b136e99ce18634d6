package graft.h5.datasource

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.h5._

/** DSv2 support for anndata `dataframe` slots (`obs`, `var`, `raw/var`):
  * `spark.read.format("h5ad").option("slot", "obs")`. This is the one
  * axis-frame reader behind [[graft.h5.AnnH5.open]], and its layout
  * helpers ([[axisNames]], [[frameInfo]], [[FrameRangeReader]]) serve
  * the zarr frame scan too:
  *  - **schema from the dataframe encoding** (`_index` + `column-order`
  *    attrs; vlen/fixed strings → string, floats → double, ints/enums →
  *    long, categorical groups → string);
  *  - **partition planning = row ranges** pruned by pushed bounds on
  *    the row-id column before any byte is read;
  *  - **column pruning is physical** — only projected columns' chunks
  *    are ever read, each task decoding its own `[r0, r1)` element
  *    slice (chunked, contiguous, and compact layouts).
  */
object H5adFrame {

  /** One frame column at `path` under the container root:
    * `kind` ∈ f(loat)/i(nt)/s(tring)/c(ategorical).
    */
  final case class ColSpec(outName: String, path: String, kind: Char)
      extends Serializable

  final case class FrameInfo(n: Long, rowIdName: String, specs: Seq[ColSpec]) {
    def schema: StructType = StructType(
      StructField(rowIdName, LongType, nullable = false) +:
        specs.map(s => StructField(s.outName, s.kind match {
          case 'f' => DoubleType
          case 'i' => LongType
          case _ => StringType
        }, nullable = true)))
  }

  /** Axis naming of a frame slot in both containers: var frames key by
    * var_id/var_name, everything else by obs_id/obs_name.
    */
  def axisNames(slot: String): (String, String) =
    if (slot == "var" || slot.endsWith("/var")) ("var_id", "var_name")
    else ("obs_id", "obs_name")

  /** The frame at `slot`: its index column surfaces under the axis id
    * name, followed by `order`; `kind` classifies one column by name.
    */
  def frameInfo(slot: String, n: Long, indexCol: String, order: Seq[String],
                kind: String => Char): FrameInfo = {
    val (rowIdName, idName) = axisNames(slot)
    FrameInfo(n, rowIdName, (indexCol +: order).map { nm =>
      ColSpec(if (nm == indexCol) idName else nm, s"$slot/$nm", kind(nm))
    })
  }

  def isFrameSlot(f: H5File, slot: String): Boolean =
    f(slot) match {
      case g: H5Group => f.attrString(g, "encoding-type").contains("dataframe")
      case _ => false
    }

  def describe(f: H5File, slot: String): FrameInfo = {
    val g = f.group(slot)
    require(f.attrString(g, "encoding-type").contains("dataframe"),
      s"$slot: not an anndata dataframe group")
    val indexCol = f.attrString(g, "_index").getOrElse("_index")
    val order = f.attrStrings(g, "column-order").getOrElse(
      g.children.keys.filter(_ != indexCol).toSeq.sorted)
    val n = f.node(g.children(indexCol), indexCol)
      .asInstanceOf[H5DatasetMeta].dims(0)
    frameInfo(slot, n, indexCol, order.filter(g.children.contains), nm =>
      f.node(g.children(nm), nm) match {
        case d: H5DatasetMeta => d.dtype match {
          case H5Dtype.VlenStr() | H5Dtype.FixedStr(_) => 's'
          case H5Dtype.FloatPt(_) => 'f'
          case _ => 'i'
        }
        case gg: H5Group if f.attrString(gg, "encoding-type").contains("categorical") => 'c'
        case gg: H5Group => throw new UnsupportedOperationException(
          s"dataframe column '$slot/$nm' has unsupported encoding " +
            f.attrString(gg, "encoding-type").getOrElse("<none>"))
      })
  }

  /** Raw bytes of elements `[e0, e1)` of a dataset in row-major element
    * order — the one range read of the h5ad source. Chunked reads (1-D
    * chunks) touch only overlapping chunks; compact/contiguous layouts
    * slice directly, and an unallocated contiguous dataset reads as
    * zeros (the HDF5 default fill).
    */
  def sliceBytes(f: H5File, ds: H5DatasetMeta, e0: Long, e1: Long): Array[Byte] = {
    val esize = ds.dtype.size
    ds.layout match {
      case H5Layout.Contiguous(addr, _) if addr == H5File.Undef =>
        new Array[Byte](((e1 - e0) * esize).toInt)
      case H5Layout.Contiguous(addr, _) =>
        f.in.readFully(addr + e0 * esize, ((e1 - e0) * esize).toInt)
      case H5Layout.Compact(data) =>
        java.util.Arrays.copyOfRange(data, (e0 * esize).toInt, (e1 * esize).toInt)
      case H5Layout.Chunked(_, chunkDims) =>
        val out = new Array[Byte](((e1 - e0) * esize).toInt)
        f.chunkRefs(ds).foreach { ch =>
          val cs = ch.offsets(0); val ce = math.min(cs + chunkDims(0), ds.dims(0))
          val lo = math.max(e0, cs); val hi = math.min(e1, ce)
          if (lo < hi) {
            val chunk = H5File.decodeChunk(f.in.readFully(ch.addr, ch.storedSize),
              ds.filters, esize, chunkDims(0) * esize)
            System.arraycopy(chunk, ((lo - cs) * esize).toInt,
              out, ((lo - e0) * esize).toInt, ((hi - lo) * esize).toInt)
          }
        }
        out
    }
  }
}

/** Rows `[r0, r1)` of a frame slot, in either container. */
private[graft] final case class FrameRangePartition(
    path: String, slot: String, r0: Long, r1: Long,
    specs: Array[H5adFrame.ColSpec]) extends InputPartition

/** Emits one row per axis index of its partition's range. Each container
  * decodes the range of one projected column into a getter (local index
  * → value); column payload stays bounded by (range × projected
  * columns), nothing else is materialized.
  */
private[graft] abstract class FrameRangeReader(p: FrameRangePartition,
                                               required: StructType)
    extends PartitionReader[InternalRow] {

  /** This partition's slice of column `s`, indexed from `p.r0`. */
  protected def column(s: H5adFrame.ColSpec): Int => Any

  private lazy val byName: Map[String, Int => Any] =
    p.specs.filter(s => required.fieldNames.contains(s.outName))
      .map(s => s.outName -> column(s)).toMap

  private var i = -1

  override def next(): Boolean = { i += 1; p.r0 + i < p.r1 }

  override def get(): InternalRow = {
    // any required field without a column spec is the synthesized row id
    val vals = required.fieldNames.map { n =>
      byName.get(n) match {
        case Some(get) => get(i)
        case None => java.lang.Long.valueOf(p.r0 + i)
      }
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }
}

private final class H5FrameRangeReader(p: FrameRangePartition, required: StructType)
    extends FrameRangeReader(p, required) {
  private val file = H5File.open(p.path)

  override protected def column(s: H5adFrame.ColSpec): Int => Any = s.kind match {
    case 'c' =>
      val g = file.group(s.path)
      val codesDs = file.node(g.children("codes"), "codes").asInstanceOf[H5DatasetMeta]
      val catsDs = file.node(g.children("categories"), "categories").asInstanceOf[H5DatasetMeta]
      val codes = file.decodeLongs(codesDs.dtype,
        H5adFrame.sliceBytes(file, codesDs, p.r0, p.r1))
      // categories are the distinct values — dictionary-sized, full read
      val cats = file.decodeStrings(catsDs.dtype, file.readRaw(catsDs))
        .map(UTF8String.fromString)
      i => { val c = codes(i); if (c < 0) null else cats(c.toInt) }
    case kind =>
      val ds = file.dataset(s.path)
      val raw = H5adFrame.sliceBytes(file, ds, p.r0, p.r1)
      kind match {
        case 'f' => val v = file.decodeDoubles(ds.dtype, raw); i => v(i)
        case 'i' => val v = file.decodeLongs(ds.dtype, raw); i => v(i)
        case _ =>
          val v = file.decodeStrings(ds.dtype, raw).map(UTF8String.fromString)
          i => v(i)
      }
  }

  override def close(): Unit = file.close()
}
