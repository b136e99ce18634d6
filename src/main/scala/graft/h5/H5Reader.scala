package graft.h5

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.Inflater

import scala.collection.mutable

import org.apache.hadoop.fs.Path

import graft.core.Fs

/** Pure-JVM HDF5 reader — the subset the AnnData on-disk format uses.
  *
  * The reference's core container is a backed `.h5ad` HDF5 file read
  * through h5py (`core/storage/_anndata_accessor.py:516-700`); no JVM
  * HDF5 binding exists on a stock Spark classpath, so this module
  * implements the public HDF5 File Format Specification directly:
  * version-0 superblock, v1 object headers (+ continuations),
  * old-style symbol-table groups (v1 B-tree + SNOD + local heap),
  * v1 chunk B-trees, contiguous / compact / chunked layouts,
  * shuffle + deflate filter pipelines, fixed/float/string/vlen/enum
  * datatypes, and global-heap-backed variable-length UTF-8 strings —
  * i.e. exactly what h5py's default `libver="earliest"` emits.
  *
  * Random access goes through [[graft.core.Fs]] so the same
  * reader serves local fixtures and object-store paths on a cluster;
  * metadata walks are driver-side and metadata-sized, while bulk
  * chunk payloads are exposed as [[H5ChunkSpec]]s for executor-side
  * parallel reads (see `AnnH5`).
  */
object H5Input {
  def open(path: String): H5Input = {
    val p = new Path(path)
    val fs = Fs.fileSystem(path)
    new H5Input(fs.open(p), fs.getFileStatus(p).getLen)
  }
}

final class H5Input(in: org.apache.hadoop.fs.FSDataInputStream, val size: Long)
    extends AutoCloseable {
  def readFully(pos: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    in.readFully(pos, out, 0, len)
    out
  }
  override def close(): Unit = in.close()
}

/** Serializable datatype ADT — enough to decode AnnData payloads. */
sealed trait H5Dtype extends Serializable { def size: Int }
object H5Dtype {
  final case class FixedPt(size: Int, signed: Boolean) extends H5Dtype
  final case class FloatPt(size: Int) extends H5Dtype
  final case class FixedStr(size: Int) extends H5Dtype
  /** 16-byte (len, gheap addr, index) reference to a UTF-8 string. */
  final case class VlenStr() extends H5Dtype { val size = 16 }
  /** Enum (h5py bools); raw data is the base type's. */
  final case class EnumT(base: H5Dtype) extends H5Dtype { def size = base.size }
}

final case class H5Filter(id: Int, clientData: Array[Int]) extends Serializable

sealed trait H5Layout
object H5Layout {
  final case class Contiguous(addr: Long, size: Long) extends H5Layout
  final case class Chunked(btreeAddr: Long, chunkDims: Array[Int]) extends H5Layout
  final case class Compact(data: Array[Byte]) extends H5Layout
}

/** One chunk of a chunked dataset: everything an executor needs. */
final case class H5ChunkSpec(
    addr: Long, storedSize: Int, offsets: Array[Long]) extends Serializable

final case class H5Message(typ: Int, body: Array[Byte])

sealed trait H5Node { def name: String }
final case class H5Group(name: String, children: Map[String, Long],
                         attrs: Map[String, H5Attr]) extends H5Node
final case class H5DatasetMeta(name: String, addr: Long, dims: Array[Long],
                               dtype: H5Dtype, layout: H5Layout,
                               filters: Seq[H5Filter],
                               attrs: Map[String, H5Attr]) extends H5Node {
  def nElems: Long = dims.foldLeft(1L)(_ * _)
}

/** Parsed attribute: datatype + dataspace dims + raw payload. */
final case class H5Attr(dtype: H5Dtype, dims: Array[Long], raw: Array[Byte])

object H5File {
  val Undef: Long = -1L // 0xFFFFFFFFFFFFFFFF

  def open(path: String): H5File = new H5File(H5Input.open(path), path)

  /** Inflate + unshuffle one stored chunk (filters in reverse order). */
  def decodeChunk(raw: Array[Byte], filters: Seq[H5Filter], esize: Int,
                  expected: Int): Array[Byte] = {
    var data = raw
    filters.reverse.foreach { f =>
      f.id match {
        case 1 => // deflate
          val inf = new Inflater()
          inf.setInput(data)
          val out = new Array[Byte](expected)
          var off = 0
          while (!inf.finished() && off < expected)
            off += inf.inflate(out, off, expected - off)
          inf.end()
          data = out
        case 2 => // shuffle: byte-transpose back to row order
          val n = data.length / esize
          val out = new Array[Byte](data.length)
          var j = 0
          while (j < esize) {
            var i = 0
            while (i < n) { out(i * esize + j) = data(j * n + i); i += 1 }
            j += 1
          }
          data = out
        case 3 => // fletcher32: trailing 4-byte checksum, not verified
          data = java.util.Arrays.copyOf(data, data.length - 4)
        case other =>
          throw new UnsupportedOperationException(s"HDF5 filter id $other")
      }
    }
    data
  }
}

final class H5File(val in: H5Input, val path: String) extends AutoCloseable {
  import H5File._
  import H5Dtype._

  override def close(): Unit = in.close()

  private def buf(pos: Long, len: Int): ByteBuffer =
    ByteBuffer.wrap(in.readFully(pos, len)).order(ByteOrder.LITTLE_ENDIAN)

  // ------------------------------------------------------------ superblock

  /** Root object-header address (superblock v0/v1, or v2/v3). */
  val rootAddr: Long = {
    val sig = in.readFully(0L, 8)
    require(sig.sameElements(Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
              .map(_.toByte)), s"$path: not an HDF5 file")
    val ver = in.readFully(8L, 1)(0) & 0xFF
    ver match {
      case 0 | 1 =>
        val b = buf(13, 2)
        require(b.get() == 8 && b.get() == 8,
          s"$path: only 8-byte offsets/lengths supported")
        val steOff = if (ver == 0) 24 + 32 else 24 + 32 + 4 // v1 adds istore k
        buf(steOff + 8, 8).getLong() // symbol-table entry: object header addr
      case 2 | 3 =>
        val b = buf(9, 2)
        require(b.get() == 8 && b.get() == 8,
          s"$path: only 8-byte offsets/lengths supported")
        buf(12 + 24, 8).getLong() // base, ext, eof, then root header addr
      case v => throw new UnsupportedOperationException(s"superblock v$v")
    }
  }

  // --------------------------------------------------------- object header

  def readMessages(addr: Long): Seq[H5Message] = {
    val sig = in.readFully(addr, 4)
    if (sig.sameElements("OHDR".getBytes(UTF_8))) readMessagesV2(addr)
    else readMessagesV1(addr)
  }

  private def readMessagesV1(addr: Long): Seq[H5Message] = {
    val head = buf(addr, 16)
    val version = head.get() & 0xFF
    require(version == 1, s"$path@$addr: object header v$version (v1 expected)")
    head.get() // reserved
    val nMsgs = head.getShort() & 0xFFFF
    head.getInt() // refcount
    val hdrSize = head.getInt()
    val msgs = mutable.ArrayBuffer.empty[H5Message]
    // blocks of (pos, size) — continuations append more
    var blocks = List((addr + 16, hdrSize))
    while (msgs.size < nMsgs && blocks.nonEmpty) {
      val (pos, size) = blocks.head
      blocks = blocks.tail
      val b = buf(pos, size)
      while (msgs.size < nMsgs && b.remaining() >= 8) {
        val typ = b.getShort() & 0xFFFF
        val len = b.getShort() & 0xFFFF
        b.get(); b.get(); b.get(); b.get() // flags + reserved
        val body = new Array[Byte](len)
        b.get(body)
        if (typ == 0x0010) {
          val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
          blocks = blocks :+ ((cb.getLong(), cb.getLong().toInt))
        } else msgs += H5Message(typ, body)
      }
    }
    msgs.toSeq
  }

  /** Version-2 object header ("OHDR" — h5py libver="latest"). Trailing
    * lookup3 checksums are skipped, not verified.
    */
  private def readMessagesV2(addr: Long): Seq[H5Message] = {
    val head = buf(addr, 12)
    head.getInt() // signature
    val ver = head.get() & 0xFF
    require(ver == 2, s"$path@$addr: OHDR version $ver")
    val flags = head.get() & 0xFF
    var pos = addr + 6
    if ((flags & 0x20) != 0) pos += 16 // access/mod/change/birth times
    if ((flags & 0x10) != 0) pos += 4  // max-compact / min-dense
    val szBytes = 1 << (flags & 0x03)
    val chunk0Size = {
      val b = buf(pos, szBytes)
      szBytes match {
        case 1 => (b.get() & 0xFFL)
        case 2 => (b.getShort() & 0xFFFFL)
        case 4 => (b.getInt() & 0xFFFFFFFFL)
        case _ => b.getLong()
      }
    }
    pos += szBytes
    val creationOrder = (flags & 0x04) != 0
    val msgs = mutable.ArrayBuffer.empty[H5Message]
    // blocks of (pos, size): chunk0 (size excludes its trailing checksum
    // per spec; if a writer includes it, the gap-guard below drops the
    // residue) then OCHK continuations (whole-block length incl sig+sum)
    var blocks = List((pos, chunk0Size))
    while (blocks.nonEmpty) {
      val (p, size) = blocks.head
      blocks = blocks.tail
      val b = buf(p, size.toInt)
      while (b.remaining() >= 4 + (if (creationOrder) 2 else 0)) {
        val typ = b.get() & 0xFF
        val len = b.getShort() & 0xFFFF
        b.get() // message flags
        if (creationOrder) b.getShort()
        if (len > b.remaining()) {
          b.position(b.limit()) // gap at block end
        } else {
          val body = new Array[Byte](len)
          b.get(body)
          if (typ == 0x10) {
            val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
            val cAddr = cb.getLong(); val cLen = cb.getLong()
            // continuation block: "OCHK" + messages + checksum
            blocks = blocks :+ ((cAddr + 4, cLen - 8))
          } else msgs += H5Message(typ, body)
        }
      }
    }
    msgs.toSeq
  }

  // ------------------------------------------------------ message decoders

  private def parseDataspace(body: Array[Byte]): Array[Long] = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    val rank = b.get() & 0xFF
    val flags = b.get() & 0xFF
    if (ver == 1) { b.get(); b.getInt() } // reserved
    else b.get() // v2: type byte
    Array.fill(rank)(b.getLong())
  }

  private def parseDatatype(body: Array[Byte]): H5Dtype = parseDtypeAt(
    ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN))

  private def parseDtypeAt(b: ByteBuffer): H5Dtype = {
    val cv = b.get() & 0xFF
    val cls = cv & 0x0F
    val bits0 = b.get() & 0xFF
    b.get(); b.get() // bit field bytes 1-2 (read below where needed)
    val size = b.getInt()
    cls match {
      case 0 => FixedPt(size, signed = (bits0 & 0x08) != 0)
      case 1 => FloatPt(size)
      case 3 => FixedStr(size)
      case 8 => // enum: base type follows (member names/values ignored)
        EnumT(parseDtypeAt(b))
      case 9 =>
        if ((bits0 & 0x0F) == 1) VlenStr()
        else throw new UnsupportedOperationException("vlen sequence datatype")
      case c => throw new UnsupportedOperationException(s"datatype class $c")
    }
  }

  private def parseLayout(body: Array[Byte]): H5Layout = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    require(ver == 3, s"data layout message v$ver (v3 expected)")
    (b.get() & 0xFF) match {
      case 0 =>
        val sz = b.getShort() & 0xFFFF
        val d = new Array[Byte](sz); b.get(d); H5Layout.Compact(d)
      case 1 => H5Layout.Contiguous(b.getLong(), b.getLong())
      case 2 =>
        val dim = (b.get() & 0xFF) - 1 // stored rank includes element-size dim
        val bt = b.getLong()
        val dims = Array.fill(dim)(b.getInt())
        H5Layout.Chunked(bt, dims) // trailing u4 is the element size
      case c => throw new UnsupportedOperationException(s"layout class $c")
    }
  }

  private def parseFilters(body: Array[Byte]): Seq[H5Filter] = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    val n = b.get() & 0xFF
    if (ver == 1) { b.getShort(); b.getInt() } // reserved
    (0 until n).map { _ =>
      val id = b.getShort() & 0xFFFF
      val nameLen =
        if (ver == 1 || id >= 256) b.getShort() & 0xFFFF else 0
      b.getShort() // flags
      val ncv = b.getShort() & 0xFFFF
      if (nameLen > 0) {
        val padded = if (ver == 1) (nameLen + 7) & ~7 else nameLen
        b.position(b.position() + padded)
      }
      val cv = Array.fill(ncv)(b.getInt())
      if (ver == 1 && ncv % 2 == 1) b.getInt() // pad
      H5Filter(id, cv)
    }
  }

  private def parseAttr(body: Array[Byte]): (String, H5Attr) = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    require(ver == 1 || ver == 2 || ver == 3, s"attribute message v$ver")
    val flags = b.get() & 0xFF // reserved in v1
    val nameSize = b.getShort() & 0xFFFF
    val dtSize = b.getShort() & 0xFFFF
    val dsSize = b.getShort() & 0xFFFF
    if (ver == 3) b.get() // name character-set encoding
    require(ver == 1 || (flags & 0x03) == 0, "shared attr dtype/space")
    def padded(sz: Int) = if (ver == 1) (sz + 7) & ~7 else sz
    val nameB = new Array[Byte](padded(nameSize)); b.get(nameB)
    val name = new String(nameB.takeWhile(_ != 0), UTF_8)
    val dtB = new Array[Byte](padded(dtSize)); b.get(dtB)
    val dsB = new Array[Byte](padded(dsSize)); b.get(dsB)
    val dtype = parseDatatype(dtB)
    val dims = parseDataspace(dsB)
    val n = dims.foldLeft(1L)(_ * _).toInt
    val raw = new Array[Byte](n * dtype.size)
    b.get(raw)
    name -> H5Attr(dtype, dims, raw)
  }

  // ----------------------------------------------------------- group walk

  private def localHeapData(heapAddr: Long): Long = {
    val b = buf(heapAddr, 32)
    val sig = new Array[Byte](4); b.get(sig)
    require(new String(sig, UTF_8) == "HEAP", s"bad local heap @$heapAddr")
    b.getInt() // version + reserved
    b.getLong() // data segment size
    b.getLong() // free-list head
    b.getLong() // data segment address
  }

  private def heapString(dataAddr: Long, off: Long): String = {
    // names are short; read in 64-byte probes until NUL
    val sb = new mutable.ArrayBuffer[Byte]()
    var pos = dataAddr + off
    var done = false
    while (!done) {
      val chunk = in.readFully(pos, math.min(64L, in.size - pos).toInt)
      val nul = chunk.indexOf(0: Byte)
      if (nul >= 0) { sb ++= chunk.take(nul); done = true }
      else { sb ++= chunk; pos += 64 }
    }
    new String(sb.toArray, UTF_8)
  }

  /** name -> object header address for an old-style group. */
  private def groupLinks(btreeAddr: Long, heapAddr: Long): Map[String, Long] = {
    val heapData = localHeapData(heapAddr)
    val out = mutable.LinkedHashMap.empty[String, Long]
    def walkBtree(addr: Long): Unit = {
      val head = buf(addr, 24)
      val sig = new Array[Byte](4); head.get(sig)
      require(new String(sig, UTF_8) == "TREE", s"bad group b-tree @$addr")
      head.get() // node type 0
      val level = head.get() & 0xFF
      val used = head.getShort() & 0xFFFF
      head.getLong(); head.getLong() // siblings
      // entries: key0, child0, key1, child1, ... (keys are heap offsets)
      val eb = buf(addr + 24, (2 * used + 1) * 8)
      val children = (0 until used).map { i =>
        eb.position((2 * i + 1) * 8); eb.getLong()
      }
      children.foreach { c => if (level > 0) walkBtree(c) else readSnod(c) }
    }
    def readSnod(addr: Long): Unit = {
      val head = buf(addr, 8)
      val sig = new Array[Byte](4); head.get(sig)
      require(new String(sig, UTF_8) == "SNOD", s"bad symbol node @$addr")
      head.get(); head.get()
      val n = head.getShort() & 0xFFFF
      val eb = buf(addr + 8, n * 40)
      (0 until n).foreach { _ =>
        val nameOff = eb.getLong()
        val ohdr = eb.getLong()
        eb.getInt(); eb.getInt()
        eb.position(eb.position() + 16) // scratch
        out(heapString(heapData, nameOff)) = ohdr
      }
    }
    walkBtree(btreeAddr)
    out.toMap
  }

  // ----------------------------------------------- new-style group links

  /** Link message (0x0006) — hard links only; soft/external are skipped. */
  private def parseLink(body: Array[Byte]): Option[(String, Long)] = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val ver = b.get() & 0xFF
    require(ver == 1, s"link message v$ver")
    val flags = b.get() & 0xFF
    val linkType = if ((flags & 0x08) != 0) b.get() & 0xFF else 0
    if ((flags & 0x04) != 0) b.getLong() // creation order
    if ((flags & 0x10) != 0) b.get() // charset
    val nameLen = (1 << (flags & 0x03)) match {
      case 1 => b.get() & 0xFF
      case 2 => b.getShort() & 0xFFFF
      case 4 => b.getInt()
      case _ => b.getLong().toInt
    }
    val nb = new Array[Byte](nameLen); b.get(nb)
    if (linkType == 0) Some(new String(nb, UTF_8) -> b.getLong()) else None
  }

  // ------------------------------------------------------------ node model

  def node(addr: Long, name: String): H5Node = {
    val msgs = readMessages(addr)
    val attrs = msgs.filter(_.typ == 0x000C).map(m => parseAttr(m.body)).toMap
    val linkMsgs = msgs.filter(_.typ == 0x0006).flatMap(m => parseLink(m.body))
    msgs.find(_.typ == 0x0011) match {
      case Some(st) =>
        val b = ByteBuffer.wrap(st.body).order(ByteOrder.LITTLE_ENDIAN)
        H5Group(name, groupLinks(b.getLong(), b.getLong()), attrs)
      case None if linkMsgs.nonEmpty || msgs.exists(_.typ == 0x0002) =>
        // new-style group: compact links in the header (dense fractal-heap
        // link storage is out of scope — such groups carry no 0x0006)
        require(linkMsgs.nonEmpty,
          s"$name: dense (fractal-heap) link storage unsupported")
        H5Group(name, linkMsgs.toMap, attrs)
      case None =>
        val dims = msgs.find(_.typ == 0x0001)
          .map(m => parseDataspace(m.body)).getOrElse(Array.empty[Long])
        val dtype = parseDatatype(msgs.find(_.typ == 0x0003)
          .getOrElse(throw new IllegalStateException(s"$name: no datatype")).body)
        val layout = parseLayout(msgs.find(_.typ == 0x0008)
          .getOrElse(throw new IllegalStateException(s"$name: no layout")).body)
        val filters = msgs.find(_.typ == 0x000B)
          .map(m => parseFilters(m.body)).getOrElse(Nil)
        H5DatasetMeta(name, addr, dims, dtype, layout, filters, attrs)
    }
  }

  lazy val root: H5Group = node(rootAddr, "/") match {
    case g: H5Group => g
    case _ => throw new IllegalStateException(s"$path: root is not a group")
  }

  /** Resolve a /-separated path from the root group. */
  def apply(pathStr: String): H5Node = {
    val parts = pathStr.split("/").filter(_.nonEmpty)
    parts.foldLeft[H5Node](root) {
      case (g: H5Group, part) =>
        val addr = g.children.getOrElse(part,
          throw new NoSuchElementException(
            s"$path: no '$part' in group '${g.name}' (has: ${g.children.keys.mkString(", ")})"))
        node(addr, part)
      case (d, part) =>
        throw new IllegalStateException(s"'$part' requested under dataset '${d.name}'")
    }
  }

  def group(p: String): H5Group = apply(p) match {
    case g: H5Group => g
    case _ => throw new IllegalStateException(s"$p is not a group")
  }
  def dataset(p: String): H5DatasetMeta = apply(p) match {
    case d: H5DatasetMeta => d
    case _ => throw new IllegalStateException(s"$p is not a dataset")
  }

  // ----------------------------------------------------------- chunk index

  /** All chunk references of a chunked dataset (v1 chunk B-tree walk). */
  def chunkRefs(ds: H5DatasetMeta): Vector[H5ChunkSpec] = ds.layout match {
    case H5Layout.Chunked(bt, chunkDims) =>
      val rank = chunkDims.length
      val out = Vector.newBuilder[H5ChunkSpec]
      def walk(addr: Long): Unit = {
        val head = buf(addr, 24)
        val sig = new Array[Byte](4); head.get(sig)
        require(new String(sig, UTF_8) == "TREE", s"bad chunk b-tree @$addr")
        head.get() // node type 1
        val level = head.get() & 0xFF
        val used = head.getShort() & 0xFFFF
        head.getLong(); head.getLong()
        val keySize = 8 + 8 * (rank + 1)
        val eb = buf(addr + 24, used * (keySize + 8) + keySize)
        (0 until used).foreach { _ =>
          val storedSize = eb.getInt()
          eb.getInt() // filter mask
          val offs = Array.fill(rank)(eb.getLong())
          eb.getLong() // element-size dimension offset (always 0)
          val child = eb.getLong()
          if (level > 0) walk(child)
          else out += H5ChunkSpec(child, storedSize, offs)
        }
      }
      walk(bt)
      out.result()
    case _ => throw new IllegalStateException(s"${ds.name} is not chunked")
  }

  // ---------------------------------------------------------- dataset read

  /** Full decoded bytes of a dataset, row-major (driver-side). */
  def readRaw(ds: H5DatasetMeta): Array[Byte] = {
    val esize = ds.dtype.size
    val total = (ds.nElems * esize).toInt
    ds.layout match {
      case H5Layout.Compact(data) => data
      case H5Layout.Contiguous(addr, _) =>
        if (addr == Undef) new Array[Byte](total) else in.readFully(addr, total)
      case H5Layout.Chunked(_, chunkDims) =>
        val out = new Array[Byte](total)
        chunkRefs(ds).foreach { c =>
          val chunkBytes = chunkDims.product * esize
          val raw = in.readFully(c.addr, c.storedSize)
          val dec = decodeChunk(raw, ds.filters, esize, chunkBytes)
          scatterChunk(dec, out, ds.dims, chunkDims, c.offsets, esize)
        }
        out
    }
  }

  /** Copy one decoded chunk into the row-major output, clipping edges. */
  private def scatterChunk(dec: Array[Byte], out: Array[Byte], dims: Array[Long],
                           chunkDims: Array[Int], offs: Array[Long],
                           esize: Int): Unit = dims.length match {
    case 1 =>
      val n = math.min(chunkDims(0).toLong, dims(0) - offs(0)).toInt
      System.arraycopy(dec, 0, out, (offs(0) * esize).toInt, n * esize)
    case 2 =>
      val rows = math.min(chunkDims(0).toLong, dims(0) - offs(0)).toInt
      val cols = math.min(chunkDims(1).toLong, dims(1) - offs(1)).toInt
      var r = 0
      while (r < rows) {
        val src = r * chunkDims(1) * esize
        val dst = (((offs(0) + r) * dims(1) + offs(1)) * esize).toInt
        System.arraycopy(dec, src, out, dst, cols * esize)
        r += 1
      }
    case d => throw new UnsupportedOperationException(s"rank-$d scatter")
  }

  // ------------------------------------------------------------ global heap

  private val gheapCache = mutable.Map.empty[Long, Map[Int, Array[Byte]]]

  private def gheapCollection(addr: Long): Map[Int, Array[Byte]] =
    gheapCache.getOrElseUpdate(addr, {
      val head = buf(addr, 16)
      val sig = new Array[Byte](4); head.get(sig)
      require(new String(sig, UTF_8) == "GCOL", s"bad global heap @$addr")
      head.getInt() // version + reserved
      val size = head.getLong()
      val b = buf(addr + 16, (size - 16).toInt)
      val objs = mutable.Map.empty[Int, Array[Byte]]
      var done = false
      while (!done && b.remaining() >= 16) {
        val idx = b.getShort() & 0xFFFF
        b.getShort(); b.getInt() // refcount + reserved
        val osize = b.getLong()
        if (idx == 0) done = true
        else {
          val data = new Array[Byte](osize.toInt)
          b.get(data)
          val pad = ((osize + 7) & ~7L) - osize
          b.position(b.position() + pad.toInt)
          objs(idx) = data
        }
      }
      objs.toMap
    })

  def vlenString(ref: ByteBuffer): String = {
    val len = ref.getInt()
    val addr = ref.getLong()
    val idx = ref.getInt()
    if (addr == 0 || addr == Undef) ""
    else new String(gheapCollection(addr)(idx), 0, len, UTF_8)
  }

  // ---------------------------------------------------------- typed decode

  def decodeLongs(dtype: H5Dtype, raw: Array[Byte]): Array[Long] = {
    val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    dtype match {
      case FixedPt(1, s) => Array.fill(raw.length)(if (s) b.get().toLong else (b.get() & 0xFF).toLong)
      case FixedPt(2, s) => Array.fill(raw.length / 2)(if (s) b.getShort().toLong else (b.getShort() & 0xFFFF).toLong)
      case FixedPt(4, s) => Array.fill(raw.length / 4)(if (s) b.getInt().toLong else (b.getInt() & 0xFFFFFFFFL))
      case FixedPt(8, _) => Array.fill(raw.length / 8)(b.getLong())
      case EnumT(base) => decodeLongs(base, raw)
      case d => throw new IllegalStateException(s"not an integer type: $d")
    }
  }

  def decodeDoubles(dtype: H5Dtype, raw: Array[Byte]): Array[Double] = {
    val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    dtype match {
      case FloatPt(4) => Array.fill(raw.length / 4)(b.getFloat().toDouble)
      case FloatPt(8) => Array.fill(raw.length / 8)(b.getDouble())
      case _ => decodeLongs(dtype, raw).map(_.toDouble)
    }
  }

  def decodeStrings(dtype: H5Dtype, raw: Array[Byte]): Array[String] = {
    dtype match {
      case VlenStr() =>
        val b = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
        Array.fill(raw.length / 16)(vlenString(b))
      case FixedStr(n) =>
        Array.tabulate(raw.length / n) { i =>
          val s = raw.slice(i * n, (i + 1) * n)
          new String(s.takeWhile(_ != 0), UTF_8)
        }
      case d => throw new IllegalStateException(s"not a string type: $d")
    }
  }

  // ------------------------------------------------------ attribute values

  def attrString(node: H5Node, name: String): Option[String] = attr(node, name)
    .map(a => decodeStrings(a.dtype, a.raw).headOption.getOrElse(""))

  def attrStrings(node: H5Node, name: String): Option[Seq[String]] =
    attr(node, name).map(a => decodeStrings(a.dtype, a.raw).toSeq)

  def attrLongs(node: H5Node, name: String): Option[Seq[Long]] =
    attr(node, name).map(a => decodeLongs(a.dtype, a.raw).toSeq)

  private def attr(node: H5Node, name: String): Option[H5Attr] = node match {
    case g: H5Group => g.attrs.get(name)
    case d: H5DatasetMeta => d.attrs.get(name)
  }
}
