package graft.zarr.datasource

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.h5.datasource.{FrameRangePartition, FrameRangeReader, H5adFrame}
import graft.zarr.ZarrStore

/** DSv2 support for anndata `dataframe` slots on zarr stores:
  * `spark.read.format("zarr").option("slot", "obs")` — the zarr twin of
  * [[graft.h5.datasource.H5adFrame]] (whose axis naming, frame layout
  * and row emitter it shares), and the one axis-frame reader behind
  * [[graft.zarr.AnnZarr.open]]:
  *  - **schema from the dataframe encoding** (`_index` + `column-order`
  *    attrs; vlen-utf8 → string, floats → double, ints/bools → long,
  *    categorical groups → string);
  *  - **partition planning = row ranges** pruned by pushed bounds on
  *    the row-id column before any chunk object is opened;
  *  - **column pruning is physical** — a task decodes only the
  *    projected columns' overlapping chunk objects for its `[r0, r1)`
  *    slice (categoricals read their code range plus the
  *    dictionary-sized categories). Works on v2 and v3 stores.
  */
object ZarrFrame {

  def isFrameSlot(path: String, slot: String): Boolean =
    ZarrStore.attrString(path, slot, "encoding-type").contains("dataframe")

  def describe(path: String, slot: String): H5adFrame.FrameInfo = {
    require(isFrameSlot(path, slot), s"$slot: not an anndata dataframe group")
    val indexCol = ZarrStore.attrString(path, slot, "_index").getOrElse("_index")
    val present = ZarrStore.children(path, slot)
    val order = ZarrStore.attrStrings(path, slot, "column-order")
      .getOrElse(present.filterNot(_ == indexCol))
    val n = ZarrStore.openArray(path, s"$slot/$indexCol").shape.head
    H5adFrame.frameInfo(slot, n, indexCol, order.filter(present.contains), { nm =>
      val rel = s"$slot/$nm"
      if (ZarrStore.isArray(path, rel)) ZarrStore.openArray(path, rel).kind match {
        case 'O' => 's'
        case 'f' => 'f'
        case _ => 'i'
      }
      else if (ZarrStore.attrString(path, rel, "encoding-type").contains("categorical")) 'c'
      else throw new UnsupportedOperationException(
        s"dataframe column '$rel' has unsupported encoding " +
          ZarrStore.attrString(path, rel, "encoding-type").getOrElse("<none>"))
    })
  }
}

private[datasource] final class ZarrFrameRangeReader(
    p: FrameRangePartition, required: StructType)
    extends FrameRangeReader(p, required) {

  override protected def column(s: H5adFrame.ColSpec): Int => Any = s.kind match {
    case 'c' =>
      val codes = ZarrStore.openArray(p.path, s"${s.path}/codes").readLongs(p.r0, p.r1)
      // categories are the distinct values — dictionary-sized, full read
      val cats = ZarrStore.openArray(p.path, s"${s.path}/categories")
        .readFlat().map(v => UTF8String.fromString(String.valueOf(v)))
      i => { val c = codes(i); if (c < 0) null else cats(c.toInt) }
    case 'f' =>
      val v = ZarrStore.openArray(p.path, s.path).readDoubles(p.r0, p.r1)
      i => v(i)
    case 'i' =>
      val v = ZarrStore.openArray(p.path, s.path).readLongs(p.r0, p.r1)
      i => v(i)
    case _ =>
      val v = ZarrStore.openArray(p.path, s.path).readStrings(p.r0, p.r1)
        .map(UTF8String.fromString)
      i => v(i)
  }

  override def close(): Unit = ()
}
