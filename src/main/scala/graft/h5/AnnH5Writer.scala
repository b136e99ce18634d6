package graft.h5

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.Deflater

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.artifact.{AnnDataset, UnsLeaf}

/** Native `.h5ad` SINK — the reference's `adata.write_h5ad`
  * (`anndata` write path used throughout `artifact.py:2374-2498`)
  * re-expressed for the engine: an [[AnnDataset]] (obs / vars / COO X)
  * is serialized as a real HDF5 file carrying the AnnData element
  * encoding, readable by h5py/anndata and by [[AnnH5]].
  *
  * Layout choices mirror h5py `libver="earliest"`: v0 superblock,
  * v1 object headers, old-style symbol-table groups, global-heap
  * vlen UTF-8 strings, deflate-chunked X. Matrix slots default to
  * `csr_matrix` (the COO form is sparse-natural); slots named in
  * `denseSlots` write as dense rank-2 chunked `array` datasets and
  * frame columns in `categoricalCols` as `categorical` groups —
  * encoding parity with anndata's write registry, so a store written
  * here re-opens with the encodings h5py/anndata would have produced.
  * The csr stream is STREAMED:
  * `x.orderBy(obs_id, var_id).toLocalIterator` feeds fixed-size
  * chunk buffers that are deflated and flushed as they fill, so
  * driver memory is bounded by one chunk + the axis-sized indptr —
  * the same single-writer contract as the reference's h5py write.
  *
  * Like the read side, all structures follow the public HDF5 File
  * Format Specification; nothing here links a native HDF5 library.
  *
  * The AnnData layout itself — which slots exist, their axes and
  * extents, dense versus csr, categorical and MuData scoping, the uns
  * element encodings — is [[AnnDataset.write]], shared with the zarr
  * sink; this object supplies the HDF5 node encoders it drives.
  */
object AnnH5Writer {

  private val Undef = -1L

  // ------------------------------------------------------- low-level file

  private final class Out(raf: RandomAccessFile) {
    raf.setLength(0)
    raf.seek(96) // superblock patched last
    def pos: Long = raf.getFilePointer
    def align8(): Unit = {
      val pad = ((pos + 7) & ~7L) - pos
      if (pad > 0) raf.write(new Array[Byte](pad.toInt))
    }
    def write(b: Array[Byte]): Long = { align8(); val p = pos; raf.write(b); p }
    def writeAt(at: Long, b: Array[Byte]): Unit = {
      val back = pos; raf.seek(at); raf.write(b); raf.seek(back)
    }
    def eof: Long = raf.length()
  }

  private def u16(v: Int): Array[Byte] =
    ByteBuffer.allocate(2).order(ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array()
  private def u32(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
  private def u64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()
  private def pad8(b: Array[Byte]): Array[Byte] =
    if (b.length % 8 == 0) b else b ++ new Array[Byte]((-b.length) % 8 + 8 & 7)

  // ------------------------------------------------------------ datatypes

  private def dtFixed(size: Int): Array[Byte] =
    Array[Byte](0x10, 0x08, 0, 0) ++ u32(size) ++ u16(0) ++ u16(size * 8)

  private def dtFloat(size: Int): Array[Byte] = {
    val (sign, exploc, expsz, mantsz, bias) =
      if (size == 8) (63, 52, 11, 52, 1023) else (31, 23, 8, 23, 127)
    Array[Byte](0x11, 0x20, sign.toByte, 0) ++ u32(size) ++
      u16(0) ++ u16(size * 8) ++
      Array[Byte](exploc.toByte, expsz.toByte, 0, mantsz.toByte) ++ u32(bias)
  }

  private val dtStr1: Array[Byte] = Array[Byte](0x13, 0x00, 0, 0) ++ u32(1)

  private def dtVlenStr: Array[Byte] =
    Array[Byte](0x19, 0x01, 0x01, 0) ++ u32(16) ++ dtStr1

  /** h5py's bool on disk: a 2-member enum (FALSE=0, TRUE=1) over i1 —
    * version-1 layout, member names null-terminated and 8-padded.
    */
  private def dtBoolEnum: Array[Byte] =
    Array[Byte](0x18, 0x02, 0, 0) ++ u32(1) ++ dtFixed(1) ++
      pad8("FALSE".getBytes(java.nio.charset.StandardCharsets.US_ASCII) :+ 0.toByte) ++
      pad8("TRUE".getBytes(java.nio.charset.StandardCharsets.US_ASCII) :+ 0.toByte) ++
      Array[Byte](0, 1)

  private def dataspace(dims: Seq[Long]): Array[Byte] =
    Array[Byte](1, dims.length.toByte, 0, 0) ++ u32(0) ++
      dims.toArray.flatMap(u64)

  private val dsScalar: Array[Byte] = dataspace(Nil)

  // ----------------------------------------------------------- global heap

  /** Accumulates vlen strings; collections flushed at 4096B like libhdf5. */
  private final class GHeap(out: Out) {
    private val pending = mutable.ArrayBuffer.empty[Array[Byte]]
    private val resolved = mutable.ArrayBuffer.empty[(Long, Int, Int)] // addr, idx, len

    def add(s: String): Int = { pending += s.getBytes(UTF_8); resolved.size + pending.size - 1 }

    def flush(): Unit = {
      var i = 0
      while (i < pending.size) {
        val objs = mutable.ArrayBuffer.empty[Byte]
        val local = mutable.ArrayBuffer.empty[(Int, Int)] // (pendingIdx, len)
        while (i < pending.size && {
          val rec = 16 + ((pending(i).length + 7) & ~7)
          local.isEmpty || 16 + objs.size + rec + 16 <= 4096
        }) {
          val it = pending(i)
          objs ++= u16(local.size + 1); objs ++= u16(1); objs ++= u32(0)
          objs ++= u64(it.length); objs ++= pad8(it)
          local += ((i, it.length)); i += 1
        }
        val size = math.max(4096L, (16 + objs.size + 16 + 7) & ~7L)
        val free = size - 16 - objs.size
        val data = "GCOL".getBytes(UTF_8) ++ Array[Byte](1, 0, 0, 0) ++ u64(size) ++
          objs.toArray ++ u16(0) ++ u16(0) ++ u32(0) ++ u64(free)
        val full = data ++ new Array[Byte]((size - data.length).toInt)
        val addr = out.write(full)
        local.zipWithIndex.foreach { case ((_, len), k) =>
          resolved += ((addr, k + 1, len))
        }
      }
      pending.clear()
    }

    def ref(i: Int): Array[Byte] = {
      val (addr, idx, len) = resolved(i)
      u32(len) ++ u64(addr) ++ u32(idx)
    }
  }

  // ----------------------------------------------------- messages/headers

  private def message(typ: Int, body: Array[Byte]): Array[Byte] = {
    val p = pad8(body)
    u16(typ) ++ u16(p.length) ++ Array[Byte](0, 0, 0, 0) ++ p
  }

  private def objectHeader(out: Out, msgs: Seq[(Int, Array[Byte])]): Long = {
    val framed = msgs.flatMap { case (t, b) => message(t, b) }.toArray
    val hdr = Array[Byte](1, 0) ++ u16(msgs.size) ++ u32(1) ++ u32(framed.length) ++
      Array[Byte](0, 0, 0, 0)
    out.write(hdr ++ framed)
  }

  private def attrMsg(name: String, dt: Array[Byte], ds: Array[Byte],
                      data: Array[Byte]): Array[Byte] = {
    val nb = name.getBytes(UTF_8) :+ 0.toByte
    Array[Byte](1, 0) ++ u16(nb.length) ++ u16(dt.length) ++ u16(ds.length) ++
      pad8(nb) ++ pad8(dt) ++ pad8(ds) ++ data
  }

  /** Deferred attribute: gheap refs resolve only after flush(). */
  private type Attr = () => Array[Byte]

  private def strAttr(gh: GHeap, name: String, v: String): Attr = {
    val i = gh.add(v)
    () => attrMsg(name, dtVlenStr, dsScalar, gh.ref(i))
  }
  private def strArrayAttr(gh: GHeap, name: String, vs: Seq[String]): Attr = {
    val is = vs.map(gh.add)
    () => attrMsg(name, dtVlenStr, dataspace(Seq(vs.length.toLong)),
      is.flatMap(i => gh.ref(i).toSeq).toArray)
  }
  private def i64ArrayAttr(name: String, vs: Seq[Long]): Attr =
    () => attrMsg(name, dtFixed(8), dataspace(Seq(vs.length.toLong)),
      vs.toArray.flatMap(u64))
  private def boolAttr(name: String, v: Boolean): Attr =
    () => attrMsg(name, dtBoolEnum, dsScalar, Array[Byte](if (v) 1 else 0))
  private def encAttrs(gh: GHeap, t: String, v: String): Seq[Attr] =
    Seq(strAttr(gh, "encoding-type", t), strAttr(gh, "encoding-version", v))

  // -------------------------------------------------------------- datasets

  private def contiguous(out: Out, gh: GHeap, dt: Array[Byte], dims: Seq[Long],
                         raw: Array[Byte], attrs: Seq[Attr]): Long = {
    val addr = out.write(raw)
    gh.flush()
    val layout = Array[Byte](3, 1) ++ u64(addr) ++ u64(raw.length.toLong)
    objectHeader(out, Seq(
      0x0001 -> dataspace(dims), 0x0003 -> dt, 0x0008 -> layout) ++
      attrs.map(a => 0x000C -> a()))
  }

  private def vlenStrDataset(out: Out, gh: GHeap, vs: Seq[String],
                             attrs: Seq[Attr]): Long = {
    val is = vs.map(gh.add)
    gh.flush()
    val raw = is.flatMap(i => gh.ref(i).toSeq).toArray
    contiguous(out, gh, dtVlenStr, Seq(vs.length.toLong), raw, attrs)
  }

  /** Serialize a (possibly MULTI-LEVEL) v1 chunk B-tree. `entries` are
    * the leaf chunk records in offset order: (storedSize, chunk offsets
    * INCLUDING the trailing element-dim 0, data address). `sentinel` is
    * the rightmost trailing key's offsets (dataset dims, the libhdf5
    * convention the single-node writers used). Nodes hold ≤ `fanout`
    * entries; levels build bottom-up with sibling links patched in and
    * proper separator keys (key_i = first key of child_i's subtree; a
    * node's trailing key = first key of its right sibling's subtree, or
    * the sentinel on the rightmost node) — so libhdf5's key-guided
    * binary search works, not just linear walkers. Lifts the round-11
    * 1024-chunk cap: a 10⁶-band dense slot now builds a multi-level
    * tree instead of failing fast.
    *
    * Fanout is 64, NOT larger: this file writes a v0 superblock, which
    * carries no indexed-storage-K field, so libhdf5 assumes the default
    * istore_k = 32 and rejects any chunk B-tree node holding more than
    * 2K = 64 entries ("number of children is greater than maximum").
    * 64-ary still means 3 levels cover 262144 chunks, 4 levels 16.7M.
    */
  private def writeChunkBtree(out: Out, entries: Seq[(Int, Seq[Long], Long)],
                              sentinel: Seq[Long], fanout: Int = 64): Long = {
    def key(size: Int, offs: Seq[Long]): Array[Byte] =
      u32(size) ++ u32(0) ++ offs.toArray.flatMap(u64)
    val sentinelKey = key(0, sentinel)
    // one level: children as (firstKeyOfSubtree, childAddr) -> parent refs
    def buildLevel(level: Int, children: Seq[(Array[Byte], Long)]): Seq[(Array[Byte], Long)] = {
      val groups = children.grouped(fanout).toSeq
      val addrs = groups.zipWithIndex.map { case (g, gi) =>
        val trailing =
          if (gi + 1 < groups.size) groups(gi + 1).head._1 else sentinelKey
        val b = mutable.ArrayBuffer.empty[Byte]
        b ++= "TREE".getBytes(UTF_8)
        b += 1; b += level.toByte; b ++= u16(g.size)
        b ++= u64(Undef); b ++= u64(Undef) // siblings patched below
        g.foreach { case (k, child) => b ++= k; b ++= u64(child) }
        b ++= trailing
        out.write(b.toArray)
      }
      addrs.indices.foreach { i =>
        if (i > 0) out.writeAt(addrs(i) + 8, u64(addrs(i - 1)))
        if (i + 1 < addrs.size) out.writeAt(addrs(i) + 16, u64(addrs(i + 1)))
      }
      groups.zip(addrs).map { case (g, a) => (g.head._1, a) }
    }
    if (entries.isEmpty) {
      // empty dataset: one empty leaf carrying only the sentinel key
      val b = mutable.ArrayBuffer.empty[Byte]
      b ++= "TREE".getBytes(UTF_8)
      b += 1; b += 0; b ++= u16(0)
      b ++= u64(Undef); b ++= u64(Undef)
      b ++= sentinelKey
      return out.write(b.toArray)
    }
    var level = 0
    var cur: Seq[(Array[Byte], Long)] =
      entries.map { case (size, offs, addr) => (key(size, offs), addr) }
    while ({ cur = buildLevel(level, cur); level += 1; cur.size > 1 }) ()
    cur.head._2
  }

  /** Incremental 1-D chunked+deflate dataset: feed elements, then seal. */
  private final class ChunkedWriter(out: Out, esize: Int, chunkElems: Int,
                                    level: Int = 4) {
    private val buf = new Array[Byte](chunkElems * esize)
    private var inBuf = 0
    private var written = 0L
    private val chunks = mutable.ArrayBuffer.empty[(Long, Int, Long)] // off, size, addr

    def put(elem: Array[Byte]): Unit = {
      System.arraycopy(elem, 0, buf, inBuf * esize, esize)
      inBuf += 1
      if (inBuf == chunkElems) flushChunk()
    }

    private def flushChunk(): Unit = if (inBuf > 0) {
      // edge chunk padded to full chunk size (HDF5 stores whole chunks)
      java.util.Arrays.fill(buf, inBuf * esize, buf.length, 0.toByte)
      val d = new Deflater(level)
      d.setInput(buf); d.finish()
      val outB = new Array[Byte](buf.length + buf.length / 1000 + 128)
      var n = 0
      while (!d.finished()) n += d.deflate(outB, n, outB.length - n)
      d.end()
      val addr = out.write(java.util.Arrays.copyOf(outB, n))
      chunks += ((written, n, addr))
      written += inBuf
      inBuf = 0
    }

    def n: Long = written + inBuf

    /** Flush the tail, write the chunk B-tree (multi-level when the
      * chunk count exceeds one node's fanout); returns header addr.
      */
    def seal(gh: GHeap, dt: Array[Byte], attrs: Seq[Attr]): Long = {
      val total = n
      flushChunk()
      val bt = writeChunkBtree(out,
        chunks.toSeq.map { case (off, size, addr) => (size, Seq(off, 0L), addr) },
        Seq((total + chunkElems - 1) / chunkElems * chunkElems, 0L))
      gh.flush()
      val layout = Array[Byte](3, 2, 2) ++ u64(bt) ++ u32(chunkElems) ++ u32(esize)
      val filters = Array[Byte](1, 1, 0, 0, 0, 0, 0, 0) ++
        (u16(1) ++ u16(0) ++ u16(0) ++ u16(1) ++ u32(level) ++ u32(0)) // deflate
      objectHeader(out, Seq(
        0x0001 -> dataspace(Seq(total)), 0x0003 -> dt, 0x0008 -> layout,
        0x000B -> filters) ++ attrs.map(a => 0x000C -> a()))
    }
  }

  // ---------------------------------------------------------------- groups

  private def group(out: Out, gh: GHeap, links: Seq[(String, Long)],
                    attrs: Seq[Attr]): Long = {
    val sorted = links.map(_._1).sorted // byte-order for ASCII names
    val byName = links.toMap
    // one SNOD per <=8 names (2*sym_leaf_k, default k=4) under a single
    // level-0 B-tree node; keys are heap offsets — key(0)=0 (empty name),
    // key(i+1) = last name of child i, the libhdf5 layout
    require(links.size <= 32, s"group writer: <=32 links (${links.size})")
    val heapData = mutable.ArrayBuffer[Byte](0, 0, 0, 0, 0, 0, 0, 0)
    val offs = sorted.map { nm =>
      val off = heapData.size.toLong
      heapData ++= pad8(nm.getBytes(UTF_8) :+ 0.toByte)
      nm -> off
    }.toMap
    val dseg = out.write(heapData.toArray)
    val heap = out.write("HEAP".getBytes(UTF_8) ++ Array[Byte](0, 0, 0, 0) ++
      u64(heapData.size.toLong) ++ u64(Undef) ++ u64(dseg))
    val snods = sorted.grouped(8).map { part =>
      val snodBody = "SNOD".getBytes(UTF_8) ++ Array[Byte](1, 0) ++ u16(part.size) ++
        part.toArray.flatMap { nm =>
          u64(offs(nm)) ++ u64(byName(nm)) ++ u32(0) ++ u32(0) ++ new Array[Byte](16)
        }
      val snod = out.write(snodBody ++ new Array[Byte](8 + 8 * 40 - snodBody.length))
      (snod, offs(part.last))
    }.toSeq
    val btBody = "TREE".getBytes(UTF_8) ++ Array[Byte](0, 0) ++ u16(snods.size) ++
      u64(Undef) ++ u64(Undef) ++ u64(0) ++
      snods.toArray.flatMap { case (snod, lastOff) => u64(snod) ++ u64(lastOff) }
    val bt = out.write(btBody ++ new Array[Byte](24 + 9 * 8 + 8 * 8 - btBody.length))
    gh.flush()
    objectHeader(out, Seq(0x0011 -> (u64(bt) ++ u64(heap))) ++
      attrs.map(a => 0x000C -> a()))
  }

  // ----------------------------------------------------------- dataframes

  /** One obs/var frame as an anndata `dataframe` group. The id column
    * (`obs_name`/`var_name`) becomes `_index`; axis-long ids are dropped
    * (they are positional); remaining columns keep their order. Returns
    * the group's address and the frame's row count.
    */
  private def writeFrame(out: Out, gh: GHeap, df: DataFrame, rowId: String,
                         idCol: String, catCols: Set[String]): (Long, Long) = {
    // the axis id surfaces as _index; if the frame has no name column,
    // the positional row id itself becomes the index (stringified)
    val base = if (df.columns.contains(idCol)) df
               else df.withColumn(idCol, col(rowId).cast("string"))
    val fields = base.schema.fields.filter(f => f.name != rowId)
    val rows = base.orderBy(rowId).select(fields.map(f => col(f.name)).toSeq: _*).collect()
    def strVals(i: Int) = rows.map(r => Option(r.get(i)).map(_.toString).getOrElse(""))
    val children = fields.zipWithIndex.map { case (f, i) =>
      val attrs = encAttrs(gh, if (f.dataType == StringType) "string-array" else "array", "0.2.0")
      val name = if (f.name == idCol) "_index" else f.name
      val addr = f.dataType match {
        case _ if catCols.contains(f.name) && f.name != idCol =>
          // `categorical` group (codes + categories) — the encoding
          // anndata writes for pandas category columns; a plain string
          // array would silently change the store on a round-trip
          val sVals = rows.map(r => Option(r.get(i)).map(_.toString).orNull)
          val cats = sVals.filter(_ != null).distinct.sorted
          val idx = cats.zipWithIndex.toMap
          val catsDs = vlenStrDataset(out, gh, cats.toSeq,
            encAttrs(gh, "string-array", "0.2.0"))
          val codesDs = contiguous(out, gh, dtFixed(8),
            Seq(rows.length.toLong),
            sVals.flatMap(v => u64(if (v == null) -1L else idx(v).toLong)),
            encAttrs(gh, "array", "0.2.0"))
          group(out, gh, Seq("categories" -> catsDs, "codes" -> codesDs),
            encAttrs(gh, "categorical", "0.2.0") :+ boolAttr("ordered", false))
        case StringType => vlenStrDataset(out, gh, strVals(i).toSeq, attrs)
        case DoubleType => contiguous(out, gh, dtFloat(8), Seq(rows.length.toLong),
          rows.flatMap(r => u64(java.lang.Double.doubleToLongBits(
            if (r.isNullAt(i)) Double.NaN else r.getDouble(i)))), attrs)
        case FloatType => contiguous(out, gh, dtFloat(4), Seq(rows.length.toLong),
          rows.flatMap(r => u32(java.lang.Float.floatToIntBits(
            if (r.isNullAt(i)) Float.NaN else r.getFloat(i)))), attrs)
        case LongType | IntegerType | ShortType | ByteType =>
          contiguous(out, gh, dtFixed(8), Seq(rows.length.toLong),
            rows.flatMap { r =>
              val v = if (r.isNullAt(i)) 0L else r.get(i) match {
                case l: java.lang.Long => l.longValue()
                case n: java.lang.Number => n.longValue()
              }
              u64(v).toSeq
            }.toArray, attrs)
        case BooleanType =>
          contiguous(out, gh, dtFixed(1), Seq(rows.length.toLong),
            rows.map(r => if (!r.isNullAt(i) && r.getBoolean(i)) 1.toByte else 0.toByte),
            attrs)
        case t => throw new UnsupportedOperationException(
          s"h5ad frame column ${f.name}: unsupported type $t")
      }
      name -> addr
    }
    val order = children.map(_._1).filter(_ != "_index")
    (group(out, gh, children.toSeq,
      encAttrs(gh, "dataframe", "0.2.0") ++
        Seq(strAttr(gh, "_index", "_index"), strArrayAttr(gh, "column-order", order))),
      rows.length.toLong)
  }

  // ------------------------------------------------------------------ API

  /** One COO frame → csr_matrix group, streamed via `toLocalIterator`
    * in (row, col) order — bounded driver memory (one chunk buffer plus
    * the axis-sized indptr).
    */
  private def writeCsr(out: Out, gh: GHeap, coo: DataFrame, rowCol: String,
                       colCol: String, nRows: Long, nCols: Long,
                       chunkElems: Int): Long = {
    val dataW = new ChunkedWriter(out, 8, chunkElems)
    val indW = new ChunkedWriter(out, 4, chunkElems)
    val indptr = new Array[Long](nRows.toInt + 1)
    var row = 0L
    var nnz = 0L
    val it = coo.orderBy(rowCol, colCol)
      .select(col(rowCol).cast("long"), col(colCol).cast("long"),
        col("value").cast("double"))
      .toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val i = r.getLong(0); val j = r.getLong(1); val v = r.getDouble(2)
      require(i >= row, s"COO iterator out of order at row $i")
      while (row < i) { row += 1; indptr(row.toInt) = nnz }
      dataW.put(u64(java.lang.Double.doubleToLongBits(v)))
      indW.put(u32(j.toInt))
      nnz += 1
    }
    while (row < nRows) { row += 1; indptr(row.toInt) = nnz }
    val dataDs = dataW.seal(gh, dtFloat(8), encAttrs(gh, "array", "0.2.0"))
    val indDs = indW.seal(gh, dtFixed(4), encAttrs(gh, "array", "0.2.0"))
    val ptrDs = contiguous(out, gh, dtFixed(8), Seq(indptr.length.toLong),
      indptr.flatMap(u64), encAttrs(gh, "array", "0.2.0"))
    group(out, gh,
      Seq("data" -> dataDs, "indices" -> indDs, "indptr" -> ptrDs),
      encAttrs(gh, "csr_matrix", "0.1.0") :+ i64ArrayAttr("shape", Seq(nRows, nCols)))
  }

  /** One COO frame → DENSE rank-2 deflate-chunked `array` dataset,
    * streamed by full-width row band: elements arrive sorted by
    * (row, col), each `(bandRows × nCols)` chunk buffer zero-fills,
    * deflates, and flushes — driver memory stays one band. Every band
    * is written (even all-zero ones), matching what h5py produces for
    * a dense in-memory array; the reference preserves dense encodings
    * on write (anndata's registry), and forcing csr would silently
    * change the store (`_anndata_accessor.py:516-700` read side).
    */
  private def writeDense2d(out: Out, gh: GHeap, coo: DataFrame,
                           rowCol: String, colCol: String,
                           nRows: Long, nCols: Long, chunkElems: Int): Long = {
    require(nCols > 0 && nCols <= Int.MaxValue / 8, s"dense nCols $nCols")
    val attrs = encAttrs(gh, "array", "0.2.0") // register BEFORE gh.flush()
    val cc = nCols.toInt
    val cr = math.max(1, chunkElems / cc)
    val nBands = math.max(1L, (nRows + cr - 1) / cr).toInt
    val buf = new Array[Byte](cr * cc * 8)
    val chunks = mutable.ArrayBuffer.empty[(Long, Int, Long)] // rowOff, size, addr
    def flushBand(): Unit = {
      val d = new Deflater(4)
      d.setInput(buf); d.finish()
      val outB = new Array[Byte](buf.length + buf.length / 1000 + 128)
      var n = 0
      while (!d.finished()) n += d.deflate(outB, n, outB.length - n)
      d.end()
      val addr = out.write(java.util.Arrays.copyOf(outB, n))
      chunks += ((chunks.size.toLong * cr, n, addr))
      java.util.Arrays.fill(buf, 0.toByte)
    }
    val it = coo.select(col(rowCol).cast("long"), col(colCol).cast("long"),
        col("value").cast("double"))
      .orderBy(col(rowCol), col(colCol)).toLocalIterator()
    val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
    while (it.hasNext) {
      val r = it.next()
      val i = r.getLong(0); val j = r.getLong(1)
      require(i >= 0 && i < nRows && j >= 0 && j < nCols, s"dense element ($i,$j)")
      while (i / cr > chunks.size) flushBand() // skipped bands are all-zero
      bb.putDouble(((i - chunks.size.toLong * cr) * cc + j).toInt * 8, r.getDouble(2))
    }
    while (chunks.size < nBands) flushBand()
    // v1 chunk b-tree, rank-2 keys (rowOff, colOff, elemDim=0) —
    // multi-level once the band count exceeds one node's fanout
    val bt = writeChunkBtree(out,
      chunks.toSeq.map { case (rowOff, size, addr) => (size, Seq(rowOff, 0L, 0L), addr) },
      Seq(nBands.toLong * cr, nCols, 0L))
    gh.flush()
    val layout = Array[Byte](3, 2, 3) ++ u64(bt) ++ u32(cr) ++ u32(cc) ++ u32(8)
    val filters = Array[Byte](1, 1, 0, 0, 0, 0, 0, 0) ++
      (u16(1) ++ u16(0) ++ u16(0) ++ u16(1) ++ u32(4) ++ u32(0)) // deflate
    objectHeader(out, Seq(
      0x0001 -> dataspace(Seq(nRows, nCols)), 0x0003 -> dtFloat(8),
      0x0008 -> layout, 0x000B -> filters) ++
      attrs.map(a => 0x000C -> a()))
  }

  /** One `uns` leaf as a rank-0 (scalar) or 1-D contiguous dataset. */
  private def writeUnsLeaf(out: Out, gh: GHeap, leaf: UnsLeaf): Long = {
    val dims = if (leaf.scalar) Nil else Seq(leaf.values.length.toLong)
    def attrs = encAttrs(gh, leaf.encoding, "0.2.0")
    leaf.dtype match {
      case 's' if leaf.scalar =>
        val i = gh.add(leaf.values.head.asInstanceOf[String]); gh.flush()
        contiguous(out, gh, dtVlenStr, Nil, gh.ref(i), attrs)
      case 's' => vlenStrDataset(out, gh, leaf.values.map(_.asInstanceOf[String]), attrs)
      case 'b' =>
        // real bool-enum dtype so the value round-trips as Boolean
        // (a plain i1 would read back as a numeric long)
        contiguous(out, gh, dtBoolEnum, dims,
          leaf.values.toArray.map(b => (if (b == true) 1 else 0).toByte), attrs)
      case 'f' => contiguous(out, gh, dtFloat(8), dims, leaf.values.toArray.flatMap(d =>
        u64(java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))), attrs)
      case _ => contiguous(out, gh, dtFixed(8), dims,
        leaf.values.toArray.flatMap(l => u64(l.asInstanceOf[Long])), attrs)
    }
  }

  /** The h5ad node encoders behind [[AnnDataset.write]]: a group's
    * children are written before its object header, which holds their
    * addresses.
    */
  private final class H5Sink(out: Out, gh: GHeap, chunkElems: Int) extends AnnDataset.Sink[Long] {
    def frame(rel: String, df: DataFrame, rowId: String, idName: String,
              cats: Set[String]): (Long, Long) =
      writeFrame(out, gh, df, rowId, idName, cats)
    def matrix(rel: String, coo: DataFrame, rowCol: String, colCol: String,
               nRows: Long, nCols: Long, dense: Boolean): Long =
      if (dense) writeDense2d(out, gh, coo, rowCol, colCol, nRows, nCols, chunkElems)
      else writeCsr(out, gh, coo, rowCol, colCol, nRows, nCols, chunkElems)
    def uns(rel: String, leaf: UnsLeaf): Long = writeUnsLeaf(out, gh, leaf)
    def group(rel: String, encoding: (String, String), children: Seq[(String, () => Long)]): Long = {
      val links = children.map { case (name, write) => name -> write() }
      AnnH5Writer.group(out, gh, links, encAttrs(gh, encoding._1, encoding._2))
    }
  }

  /** Write `ds` to a local `.h5ad` path through the one anndata slot walk
    * ([[AnnDataset.write]]): obs/var frames, X, every `obsm` matrix
    * (`dim_id` columns), `layers`, `varm` (var-keyed), `obsp`
    * (`obs_id` × `obs_id_2`) as csr groups or dense arrays, the `uns`
    * tree, and `raw` (own var frame, X, varm). Single-writer by design
    * (the reference's h5py write is too).
    */
  def write(ds: AnnDataset, path: String, chunkElems: Int = 65536,
            denseSlots: Set[String] = Set.empty,
            categoricalCols: Set[String] = Set.empty): Unit =
    writeFile(path, chunkElems)(AnnDataset.write(_, "", ds, denseSlots, categoricalCols))

  /** Write a MuData `.h5mu` container: one AnnData group per modality
    * under `mod/`, the root carrying the MuData encoding — what
    * mudata-python's `write_h5mu` lays out and [[AnnH5.openMu]]
    * consumes. `denseSlots`/`categoricalCols` qualify per modality
    * (e.g. `"rna/obsm/X_pca"`). Same single-writer contract as
    * [[write]] (inherent to the one-file container).
    */
  def writeMu(mods: Map[String, AnnDataset], path: String,
              chunkElems: Int = 65536,
              denseSlots: Set[String] = Set.empty,
              categoricalCols: Set[String] = Set.empty): Unit = {
    require(mods.nonEmpty, "writeMu needs at least one modality")
    writeFile(path, chunkElems)(AnnDataset.writeMu(_, mods, denseSlots, categoricalCols))
  }

  /** Truncate `path`, write the root object through `root`, then patch
    * the v0 superblock (root address + EOF) in last.
    */
  private def writeFile(path: String, chunkElems: Int)(root: H5Sink => Long): Unit = {
    val raf = new RandomAccessFile(path, "rw")
    try {
      val out = new Out(raf)
      val rootAddr = root(new H5Sink(out, new GHeap(out), chunkElems))
      out.writeAt(0, Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n',
        0, 0, 0, 0, 0, 8, 8, 0) ++
        u16(4) ++ u16(16) ++ u32(0) ++
        u64(0) ++ u64(Undef) ++ u64(out.eof) ++ u64(Undef) ++
        u64(0) ++ u64(rootAddr) ++ u32(0) ++ u32(0) ++ new Array[Byte](16))
    } finally raf.close()
  }
}
