package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.Deflater

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.artifact.{AnnDataset, UnsLeaf}
import graft.core.Fs

/** Native AnnData-on-zarr sink — the write half of [[AnnZarr]], emitting
  * the same store layouts the reference writes through zarr-python
  * (`core/storage/_backed_access.py:108-121`):
  *
  *  - **v2** (default): `.zarray`/`.zattrs` JSON metadata, one object per
  *    chunk, numcodecs `zlib` chunk compression, plus `.zmetadata`
  *    consolidated metadata.
  *  - **v3 sharded** (`v3 = true`): `zarr.json` nodes, `gzip` codec, and
  *    the `sharding_indexed` codec on the executor-written csr slots —
  *    `shardFactor` inner chunks pack into ONE store object with a
  *    crc32c'd (offset, nbytes) index. At 100 TB this is the difference
  *    between 10^8 chunk objects and 10^6 shards, while readers keep
  *    inner-chunk (ranged-GET) granularity.
  *
  * Scale shape — and the reason zarr is the preferred SINK at 100 TB:
  * chunks are independent store objects, so matrix slots are written
  * EXECUTOR-SIDE in parallel (one shuffle groups elements by chunk — or
  * shard — id, then each task encodes and writes its own objects).
  * There is no single-writer bottleneck like the HDF5 container's
  * one-file append ([[graft.h5.AnnH5Writer]] streams through the driver
  * by necessity — inherent to the format, not to the engine). Axis
  * frames and indptr write EXECUTOR-SIDE too, at every size; the driver
  * holds metadata, chunk-level offsets, category dictionaries and uns.
  *
  * The AnnData layout itself is [[AnnDataset.write]], the slot walk
  * shared with the h5ad sink; [[write]] and [[writeMu]] supply the zarr
  * node encoders it drives.
  *
  * Each node kind has ONE executor-side extend that grows the node from
  * a committed prefix — [[writeFrameChunks]], [[extendCsr]] (with
  * [[writeElementObjects]]) and [[extendDense]]. [[write]] calls it with
  * an empty prefix, [[appendRows]] with the store's, so appends and
  * one-shot writes run the same code at every size.
  */
object AnnZarrWriter {

  // ------------------------------------------------------------- plumbing

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** numcodecs zlib codec: one deflate stream over the chunk. */
  def zlibEncode(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(5)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(math.max(64, raw.length / 4))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** v3 `gzip` codec (gzip framing; java's writer stamps MTIME=0, so
    * output is deterministic).
    */
  def gzipEncode(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(math.max(64, raw.length / 4))
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  private def encodeChunk(raw: Array[Byte], v3: Boolean): Array[Byte] =
    if (v3) gzipEncode(raw) else zlibEncode(raw)

  // ------------------------------------------------------------- metadata

  private def enc(t: String, v: String): String =
    s"""{"encoding-type":${jstr(t)},"encoding-version":${jstr(v)}}"""

  private val v3Dtypes = Map("<f8" -> "float64", "<i8" -> "int64",
    "<i4" -> "int32", "|i1" -> "int8", "|b1" -> "bool", "|O" -> "string")

  private def zarray(shape: Seq[Long], chunks: Seq[Int], dtype: String,
                     vlen: Boolean): String = {
    val filters = if (vlen) """[{"id":"vlen-utf8"}]""" else "null"
    s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],""" +
      s""""chunks":[${chunks.mkString(",")}],"dtype":${jstr(dtype)},""" +
      s""""order":"C","fill_value":0,"filters":$filters,""" +
      s""""dimension_separator":".","compressor":{"id":"zlib","level":5}}"""
  }

  /** v3 codec pipeline: array→bytes (+gzip), optionally wrapped in
    * sharding_indexed with `inner` chunk shape.
    */
  private def v3Codecs(dtype: String, inner: Option[Seq[Int]]): String = {
    val flat = s"""[${(if (dtype == "|O") """{"name":"vlen-utf8"}"""
      else """{"name":"bytes","configuration":{"endian":"little"}}""")},""" +
      """{"name":"gzip","configuration":{"level":5}}]"""
    inner match {
      case None => flat
      case Some(in) =>
        s"""[{"name":"sharding_indexed","configuration":{""" +
          s""""chunk_shape":[${in.mkString(",")}],"codecs":$flat,""" +
          """"index_codecs":[{"name":"bytes","configuration":{"endian":"little"}},""" +
          """{"name":"crc32c"}],"index_location":"end"}}]"""
    }
  }

  /** v3 array node: `chunks` is the store-object grid (the shard shape
    * when `inner` is set; the chunk shape otherwise).
    */
  private def v3Array(shape: Seq[Long], chunks: Seq[Int], dtype: String,
                      attrs: Option[String], inner: Option[Seq[Int]]): String = {
    val fill = dtype match {
      case "|b1" => "false"
      case "<f8" => "0.0"
      case _ => "0"
    }
    s"""{"zarr_format":3,"node_type":"array","shape":[${shape.mkString(",")}],""" +
      s""""data_type":${jstr(v3Dtypes(dtype))},""" +
      s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${chunks.mkString(",")}]}},""" +
      s""""chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
      s""""fill_value":$fill,"codecs":${v3Codecs(dtype, inner)}""" +
      attrs.map(a => s""","attributes":$a""").getOrElse("") + "}"
  }

  private def arrayMeta(root: String, rel: String, shape: Seq[Long],
                        chunks: Seq[Int], dtype: String, vlen: Boolean,
                        attrs: String, v3: Boolean,
                        inner: Option[Seq[Int]] = None): Unit =
    if (v3) Fs.write(s"$root/$rel/zarr.json",
      v3Array(shape, chunks, dtype, Some(attrs), inner).getBytes(UTF_8))
    else {
      Fs.write(s"$root/$rel/.zarray", zarray(shape, chunks, dtype, vlen).getBytes(UTF_8))
      Fs.write(s"$root/$rel/.zattrs", attrs.getBytes(UTF_8))
    }

  /** Write a group node; returns the consolidated-metadata key of its
    * attributes (v2: the `.zattrs` object key; v3: the node path).
    */
  private def zgroup(root: String, rel: String, attrs: Option[String],
                     v3: Boolean = false): String = {
    val pfx = if (rel.isEmpty) "" else s"$rel/"
    if (v3) {
      Fs.write(s"$root/${pfx}zarr.json",
        (s"""{"zarr_format":3,"node_type":"group"""" +
          attrs.map(a => s""","attributes":$a""").getOrElse("") + "}").getBytes(UTF_8))
      rel
    } else {
      Fs.write(s"$root/$pfx.zgroup", """{"zarr_format":2}""".getBytes(UTF_8))
      attrs.foreach(a => Fs.write(s"$root/$pfx.zattrs", a.getBytes(UTF_8)))
      s"$pfx.zattrs"
    }
  }

  private def chunkKey1d(c: Long, v3: Boolean): String = if (v3) s"c/$c" else s"$c"

  private def packVlen(strings: Array[String]): Array[Byte] = {
    val payloads = strings.map(s =>
      (if (s == null) "" else s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(4 + payloads.map(_.length + 4).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(strings.length)
    payloads.foreach { p => bb.putInt(p.length); bb.put(p) }
    bb.array()
  }

  /** Pack boxed values WITHOUT a Double detour: `<i8` keeps full 64-bit
    * integer precision (a Long > 2⁵³ round-tripped through Double would
    * silently land on a neighboring integer).
    */
  private def packNumAny(dtype: String, vals: Array[Any], rel: String): Array[Byte] = {
    def asLong(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case b: Boolean => if (b) 1L else 0L
      case d: Double => d.toLong
      case other => throw new UnsupportedOperationException(
        s"$rel: element ${if (other == null) "null" else other.getClass.getName}")
    }
    def asDouble(v: Any): Double = v match {
      case d: Double => d
      case l: Long => l.toDouble
      case i: Int => i.toDouble
      case b: Boolean => if (b) 1.0 else 0.0
      case other => throw new UnsupportedOperationException(
        s"$rel: element ${if (other == null) "null" else other.getClass.getName}")
    }
    val b = dtype match {
      case "<f8" =>
        val bb = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
        vals.foreach(v => bb.putDouble(asDouble(v))); bb
      case "<i8" =>
        val bb = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
        vals.foreach(v => bb.putLong(asLong(v))); bb
      case "<i4" =>
        val bb = ByteBuffer.allocate(vals.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        vals.foreach(v => bb.putInt(asLong(v).toInt)); bb
      case "|i1" | "|b1" =>
        val bb = ByteBuffer.allocate(vals.length)
        vals.foreach(v => bb.put(asLong(v).toByte)); bb
      case other => throw new UnsupportedOperationException(s"pack dtype $other")
    }
    b.array()
  }

  /** Chunk writes of a 1-D array — driver-side for categories and uns,
    * in-task for frame columns and indptr: `vals` land at positions
    * [n0, n0 + vals.length), the boundary chunk keeps its committed
    * `prefix` (positions [n0 - prefix.length, n0)), edge chunks pad with
    * the fill value. Writes boundary + new chunks only — an empty array
    * has ZERO chunk objects (the zarr grid contract; a chunk written for
    * shape [0] would be orphan garbage).
    */
  private def writeChunks1d(root: String, rel: String, dtype: String, chunkLen: Int,
                            n0: Long, prefix: Array[Any], vals: IndexedSeq[Any],
                            v3: Boolean): Unit = {
    val n1 = n0 + vals.length
    val base = n0 - prefix.length
    val pad: Any = if (dtype == "|O") null else 0L
    var c = n0 / chunkLen
    while (c * chunkLen < n1) {
      val lo = c * chunkLen
      val chunk = Array.tabulate[Any](chunkLen) { k =>
        val g = lo + k
        if (g < n0) prefix((g - base).toInt) else if (g < n1) vals((g - n0).toInt) else pad
      }
      val raw =
        if (dtype == "|O") packVlen(chunk.map(v => if (v == null) null else String.valueOf(v)))
        else packNumAny(dtype, chunk, rel) // no Double detour: int64 keeps 64-bit precision
      Fs.write(s"$root/$rel/${chunkKey1d(c, v3)}", encodeChunk(raw, v3))
      c += 1
    }
  }

  /** A new driver-written 1-D array (category dictionaries, uns). */
  private def array1d(root: String, rel: String, dtype: String, chunkLen: Int,
                      attrs: String, vals: IndexedSeq[Any], v3: Boolean): Unit = {
    arrayMeta(root, rel, Seq(vals.length.toLong), Seq(chunkLen), dtype, dtype == "|O", attrs, v3)
    writeChunks1d(root, rel, dtype, chunkLen, 0L, Array.empty, vals, v3)
  }

  /** Committed values [e0, e1) of a 1-D array, boxed like the packers take them. */
  private def readValues(za: ZArray, e0: Long, e1: Long): Array[Any] =
    if (za.kind == 'O') za.readStrings(e0, e1).map(v => v: Any)
    else if (za.kind == 'f') za.readDoubles(e0, e1).map(v => v: Any)
    else za.readLongs(e0, e1).map(v => v: Any)

  /** Driver-side extend of an existing dictionary-sized 1-D array (the
    * categories of a categorical column): the boundary chunk is rewritten
    * with its committed prefix read back, later chunks are new. Returns
    * the consolidated-metadata key of the patched node.
    */
  private def extend1d(root: String, rel: String, add: IndexedSeq[Any], v3: Boolean): String = {
    val za = unsharded1d(root, rel)
    val n0 = za.shape.head
    val cl = za.chunks.head
    val prefix = readValues(za, (n0 / cl) * cl, n0)
    val key = ZarrStore.patchShape(root, rel, Seq(n0 + add.length))
    writeChunks1d(root, rel, za.dtype, cl, n0, prefix, add, v3)
    key
  }

  /** A writer-shaped 1-D array of a store: vlen-utf8 or numeric, unsharded. */
  private def unsharded1d(root: String, rel: String): ZArray = {
    val za = ZarrStore.openArray(root, rel)
    require(za.kind != 'O' || za.vlenUtf8, s"$rel: unsupported encoding")
    require(za.shard.isEmpty, s"$rel: 1-D axis arrays are written unsharded")
    za
  }

  /** 0-d scalar array (uns scalars). */
  private def scalar(root: String, rel: String, dtype: String,
                     attrs: String, raw: Array[Byte], v3: Boolean): Unit = {
    arrayMeta(root, rel, Nil, Nil, dtype, dtype == "|O", attrs, v3)
    Fs.write(s"$root/$rel/${if (v3) "c" else "0"}", encodeChunk(raw, v3))
  }

  /** One row-banded dense SHARD object: gzip'd inner-band bodies (null
    * band = absent, -1/-1 index entry) + the crc32c'd u64 index the
    * sharding_indexed codec specifies (index at end). Shared by the
    * sink, the append path, and the rollback scrub so the byte-exact
    * format lives in ONE place.
    */
  private[zarr] def denseShardObject(bands: Array[Array[Byte]]): Array[Byte] = {
    val sf = bands.length
    val body = new java.io.ByteArrayOutputStream()
    val index = ByteBuffer.allocate(16 * sf + 4).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < sf) {
      val b = bands(i)
      if (b == null) { index.putLong(-1L); index.putLong(-1L) }
      else {
        val encd = gzipEncode(b)
        index.putLong(body.size().toLong); index.putLong(encd.length.toLong)
        body.write(encd)
      }
      i += 1
    }
    val idx = index.array()
    val crc = ZCodec.crc32c(idx, 0, 16 * sf)
    ByteBuffer.wrap(idx, 16 * sf, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(crc)
    body.write(idx)
    body.toByteArray
  }

  /** Double band buffers → raw little-endian band bytes (null-preserving). */
  private[zarr] def packBands(bands: Array[Array[Double]]): Array[Array[Byte]] =
    bands.map { b =>
      if (b == null) null
      else {
        val bb = ByteBuffer.allocate(b.length * 8).order(ByteOrder.LITTLE_ENDIAN)
        b.foreach(bb.putDouble)
        bb.array()
      }
    }

  // ------------------------------------------------------------ dataframe

  /** One axis-frame column as the writer lays it out. `kind`: 'S'
    * string, 'C' categorical codes, 'F' f8, 'L' integer or boolean
    * (packed as `dtype`, 64-bit exact — no Double detour).
    */
  private final case class FrameCol(name: String, kind: Char, dtype: String) {
    def rel(frame: String): String =
      if (kind == 'C') s"$frame/$name/codes" else s"$frame/$name"
  }

  /** Run `f` over `df` materialized ONCE, so every pass it makes (the
    * stats job, the chunk shuffle) is a cache read and an expensive
    * upstream plan (a join, an aggregate) executes exactly once —
    * spec-pinned. A caller-cached frame is left alone: persisting again
    * at a different level throws, and unpersisting here would silently
    * drop the CALLER's shared cache entry.
    */
  private def materialized[T](df: DataFrame)(f: DataFrame => T): T = {
    val callerCached = df.storageLevel != StorageLevel.NONE
    val mat = if (callerCached) df else df.persist(StorageLevel.MEMORY_AND_DISK)
    try f(mat) finally { if (!callerCached) { mat.unpersist(blocking = false); () } }
  }

  /** ONE job over a materialized axis frame: its row count and, per
    * column of `cats`, every distinct non-null value with the smallest
    * row id carrying it — dictionary-sized, like the ML loader's
    * broadcast dictionaries.
    */
  private def frameStats(df: DataFrame, rowIdName: String,
                         cats: Seq[String]): (Long, Map[String, Map[String, Long]]) = {
    val k = cats.length
    val parts = df.select(col(rowIdName).cast("long") +: cats.map(c => col(c).cast("string")): _*)
      .rdd
      .mapPartitions { it =>
        var n = 0L
        val first = Array.fill(k)(scala.collection.mutable.HashMap.empty[String, Long])
        it.foreach { r =>
          n += 1
          val id = if (r.isNullAt(0)) Long.MaxValue else r.getLong(0)
          var j = 0
          while (j < k) {
            if (!r.isNullAt(j + 1)) {
              val v = r.getString(j + 1)
              if (first(j).get(v).forall(_ > id)) first(j)(v) = id
            }
            j += 1
          }
        }
        Iterator((n, first.map(_.toMap)))
      }
      .collect()
    val firstRows = cats.indices.map { j =>
      cats(j) -> parts.flatMap(_._2(j)).groupMapReduce(_._1)(_._2)(math.min)
    }.toMap
    (parts.map(_._1).sum, firstRows)
  }

  /** Executor-side axis-frame extend — the ONE frame writer behind
    * [[write]] (a new frame, `n0 = 0`) and [[appendRows]]: frame row
    * `r` lands at axis position `n0 + r`, rows group on their chunk (one
    * shuffle) and each task packs and writes that chunk's object for
    * `_index` and every column. The chunk straddling `n0` merges the
    * committed values in `prefixes` (keyed "_index" / column name; read
    * driver-side, bounded by one chunk per column). Category codes index
    * the caller's `dicts`, whose order is part of the store bytes. Null
    * numerics and booleans write 0, null strings (labels included) the
    * vlen null. The driver never holds a row.
    */
  private def writeFrameChunks(root: String, rel: String, df: DataFrame,
                               rowIdName: String, label: Column, cols: Seq[FrameCol],
                               dicts: Map[String, Array[String]],
                               prefixes: Map[String, Array[Any]],
                               n0: Long, nAdd: Long, chunkLen: Int, v3: Boolean): Unit = {
    if (nAdd == 0) return
    val n1 = n0 + nAdd
    val sel: Seq[Column] = col(rowIdName).cast("long") +: label.as("_ix") +:
      cols.map { c =>
        c.kind match {
          case 'C' | 'S' => col(c.name).cast("string")
          case 'F' => col(c.name).cast("double")
          case _ => col(c.name).cast("long") // bool -> 0/1; 64-bit exact
        }
      }
    val sc = df.sparkSession.sparkContext
    val dictsB = sc.broadcast(dicts.map { case (cn, cats) =>
      cn -> cats.zipWithIndex.map { case (s, i) => s -> i.toLong }.toMap })
    val prefB = sc.broadcast(prefixes)
    val nChunks = ((n1 - 1) / chunkLen - n0 / chunkLen + 1).toInt
    df.select(sel: _*)
      .rdd
      .map { row =>
        val r = if (row.isNullAt(0)) -1L else row.getLong(0)
        require(r >= 0 && r < nAdd, s"$rel: axis positions must be contiguous 0..${nAdd - 1} " +
          s"(row id ${if (row.isNullAt(0)) "null" else r} out of range)")
        ((n0 + r) / chunkLen, row)
      }
      .groupByKey(math.min(nChunks, math.max(1, sc.defaultParallelism)))
      .foreach { case (c, it) =>
        val lo = c * chunkLen
        val newLo = math.max(lo, n0)
        val preLen = (newLo - lo).toInt // committed rows in this chunk
        val live = (math.min(lo + chunkLen, n1) - newLo).toInt
        val rows = new Array[Row](live)
        var seen = 0
        it.foreach { r =>
          val k = (n0 + r.getLong(0) - newLo).toInt
          // a duplicate row id and a missing one can cancel inside the
          // same chunk, so a bare seen==live check would let a null slot
          // through to an opaque packer NPE — reject the duplicate at
          // fill time with the contiguity message
          require(rows(k) == null, s"$rel chunk $c: axis positions must be contiguous " +
            s"0..n-1 (row id ${r.getLong(0)} is duplicated)")
          rows(k) = r; seen += 1
        }
        require(seen == live, s"$rel chunk $c: $seen of $live rows " +
          "(axis positions must be contiguous 0..n-1)")
        def column(key: String, target: String, dtype: String, value: Row => Any): Unit = {
          val pre = if (preLen > 0) prefB.value(key) else Array.empty[Any]
          writeChunks1d(root, target, dtype, chunkLen, newLo, pre, rows.toIndexedSeq.map(value), v3)
        }
        column("_index", s"$rel/_index", "|O", _.getString(1))
        cols.zipWithIndex.foreach { case (fc, j) =>
          val f = j + 2 // field offset past the row id and the label
          column(fc.name, fc.rel(rel), fc.dtype, fc.kind match {
            case 'S' => _.getString(f)
            case 'C' => r => if (r.isNullAt(f)) -1L else dictsB.value(fc.name)(r.getString(f))
            case 'F' => r => if (r.isNullAt(f)) 0.0 else r.getDouble(f)
            case _ => r => if (r.isNullAt(f)) 0L else r.getLong(f)
          })
        }
      }
    dictsB.unpersist(); prefB.unpersist()
  }

  /** An axis DataFrame as a NEW anndata `dataframe` group (same column
    * contract as [[graft.h5.AnnH5Writer]]: `rowIdName` is the axis
    * position, `idName` becomes `_index`; a missing name column
    * synthesizes positional labels). One stats job (row count + category
    * dictionaries, sorted distinct values) and one executor chunk job;
    * the driver writes metadata and the dictionary-sized category arrays.
    *
    * Chunk length is a CONSTANT, never derived from the current row
    * count: a store bootstrapped empty (the streaming-sink pattern) must
    * not inherit degenerate 1-element chunks for the rest of its life —
    * that bug made every later append O(rows) store objects.
    */
  private def writeFrame(root: String, rel: String, df: DataFrame,
                         rowIdName: String, idName: String, v3: Boolean,
                         chunkLen: Int, catCols: Set[String]): Long = materialized(df) { mat =>
    val cols = mat.columns.toSeq.filter(c => c != rowIdName && c != idName).map { cn =>
      // categorical columns become `categorical` groups (codes +
      // categories) — the encoding the reference writes for pandas
      // category columns through anndata (`_anndata_accessor.py:516-700`
      // registry); plain string columns are `string-array`
      if (catCols.contains(cn)) FrameCol(cn, 'C', "<i8")
      else mat.schema(cn).dataType match {
        case StringType => FrameCol(cn, 'S', "|O")
        case DoubleType | FloatType => FrameCol(cn, 'F', "<f8")
        case BooleanType => FrameCol(cn, 'L', "|b1")
        case _ => FrameCol(cn, 'L', "<i8")
      }
    }
    val (n, firstRows) = frameStats(mat, rowIdName, cols.filter(_.kind == 'C').map(_.name))
    val dicts = firstRows.map { case (cn, m) => cn -> m.keys.toArray.sorted }
    zgroup(root, rel,
      Some(s"""{"_index":"_index","column-order":[${cols.map(c => jstr(c.name)).mkString(",")}],""" +
        s""""encoding-type":"dataframe","encoding-version":"0.2.0"}"""), v3)
    arrayMeta(root, s"$rel/_index", Seq(n), Seq(chunkLen), "|O",
      vlen = true, enc("string-array", "0.2.0"), v3)
    cols.foreach { c =>
      if (c.kind == 'C') {
        zgroup(root, s"$rel/${c.name}", Some("""{"encoding-type":"categorical",""" +
          """"encoding-version":"0.2.0","ordered":false}"""), v3)
        array1d(root, s"$rel/${c.name}/categories", "|O", chunkLen,
          enc("string-array", "0.2.0"), dicts(c.name).toIndexedSeq, v3)
      }
      arrayMeta(root, c.rel(rel), Seq(n), Seq(chunkLen), c.dtype, vlen = c.kind == 'S',
        enc(if (c.kind == 'S') "string-array" else "array", "0.2.0"), v3)
    }
    val label =
      if (mat.columns.contains(idName)) col(idName).cast("string")
      else col(rowIdName).cast("string")
    writeFrameChunks(root, rel, mat, rowIdName, label, cols, dicts, Map.empty, 0L, n, chunkLen, v3)
    n
  }

  // ---------------------------------------------------------------- dense

  /** The writer's dense grid — f8, row-banded shards when sharded — is
    * what the executor-side extend and the rollback scrub re-encode;
    * any other compressor, element size or column-spanning shard grid
    * would be corrupted by a rewrite, so fail fast instead.
    */
  private def requireWriterDense(path: String, rel: String, za: ZArray, v3: Boolean): Unit = {
    require(za.rank == 2 && za.dtype == "<f8" &&
      (if (za.shard.isDefined) za.codecs.contains(ZCodec.GzipC)
       else za.compressor == (if (v3) "gzip" else "zlib")),
      s"$path/$rel: dense extend and rollback serve the writer's f8 chunk grid")
    require(za.shard.forall(_.shardShape(1) == za.chunks(1)),
      s"$path/$rel: dense shards must be row-banded (writer layout)")
  }

  /** Executor-side dense extend — the ONE dense writer behind [[write]]
    * (`n0 = 0`) and [[appendRows]]: COO element `(r, c)` lands at grid
    * row `n0 + r`; elements group on their store object (one shuffle)
    * and each task fills and writes it — the write twin of the `zarr`
    * source's dense chunk reader. A v2 object is one chunk; a v3
    * row-sharded object is `sf` chunk-row bands. Only objects straddling `n0` read
    * their committed bands back, and only rows < `n0` of them survive
    * the merge: rows >= `n0` in an old object are leftovers of a
    * truncateTo-rolled-back append and must not resurrect.
    * Pre-boundary objects are never touched, and objects or bands
    * without elements stay absent (zarr reads them as fill_value 0 —
    * exactly the dense semantics of missing COO entries).
    */
  private def extendDense(path: String, rel: String, za: ZArray, coo: DataFrame,
                          rowCol: String, colCol: String, n0: Long, nAdd: Long,
                          v3: Boolean): Unit = {
    val Seq(cr, cc) = za.chunks.map(identity)
    val sf = za.shard.map(_.shardShape.head / cr).getOrElse(1)
    val nCols = za.shape(1)
    if (nAdd == 0 || nCols == 0) return
    val gridCols = ((nCols + cc - 1) / cc).toInt
    val objRows = cr.toLong * sf
    val sc = coo.sparkSession.sparkContext
    coo.select(col(rowCol).cast("long"), col(colCol).cast("long"), col("value").cast("double"))
      .rdd
      .map { row =>
        val r = if (row.isNullAt(0)) -1L else row.getLong(0)
        require(r >= 0 && r < nAdd, s"$path/$rel: row id $r outside 0..${nAdd - 1}")
        val c = row.getLong(1)
        (((n0 + r) / objRows * gridCols + c / cc).toInt, (n0 + r, c, row.getDouble(2)))
      }
      .groupByKey(math.max(1, sc.defaultParallelism))
      .foreach { case (obj, it) =>
        val gr = obj / gridCols; val gc = obj % gridCols
        val baseRow = gr.toLong * objRows
        val bands = new Array[Array[Double]](sf)
        var b = 0
        while (b < sf) {
          val bandRow = baseRow + b.toLong * cr
          if (bandRow < n0) // committed band — may hold data
            za.readChunk(Seq(gr * sf + b, gc)).foreach { old =>
              val bb = ByteBuffer.wrap(old).order(ByteOrder.LITTLE_ENDIAN)
              val buf = new Array[Double](cr * cc)
              val keepRows = math.min(cr.toLong, n0 - bandRow).toInt
              var k = 0
              while (k < keepRows * cc) { buf(k) = bb.getDouble(k * 8); k += 1 }
              bands(b) = buf
            }
          b += 1
        }
        it.foreach { case (r, c, v) =>
          val band = ((r - baseRow) / cr).toInt
          if (bands(band) == null) bands(band) = new Array[Double](cr * cc) // zero = fill
          bands(band)(((r - baseRow - band.toLong * cr) * cc + (c - gc.toLong * cc)).toInt) = v
        }
        if (sf == 1)
          Fs.write(s"$path/$rel/${if (v3) s"c/$gr/$gc" else s"$gr.$gc"}",
            encodeChunk(packBands(bands).head, v3))
        else // one SHARD: gzip'd row bands + the crc32c'd index
          Fs.write(s"$path/$rel/c/$gr/$gc", denseShardObject(packBands(bands)))
      }
  }

  /** A COO frame as a NEW dense 2-D `array` node. The reference
    * preserves a dense in-memory matrix as a dense store encoding
    * (anndata's write registry, `core/storage/_anndata_accessor.py:516-700`);
    * forcing every slot through csr would silently change encodings on
    * a round-trip. Chunk rows are a CONSTANT (see [[writeFrame]]); v3
    * shards along the ROW axis: one store object = `shardFactor`
    * chunk-row bands, so a 10^8-row embedding matrix keeps ranged-GET
    * selectivity per band while cutting object count shardFactor×.
    */
  private def writeDense(root: String, rel: String, coo: DataFrame,
                         rowCol: String, colCol: String,
                         nRows: Long, nCols: Long, chunkElems: Int,
                         v3: Boolean, shardFactor: Int): Unit = {
    val cc = math.max(1L, math.min(nCols, 4096L)).toInt
    val cr = math.max(1, chunkElems / cc)
    val sharded = v3 && shardFactor > 1
    require(!sharded || cr.toLong * shardFactor <= Int.MaxValue,
      s"$rel: dense shard rows overflow")
    arrayMeta(root, rel, Seq(nRows, nCols), Seq(if (sharded) cr * shardFactor else cr, cc),
      "<f8", vlen = false, attrs = enc("array", "0.2.0"), v3 = v3,
      inner = if (sharded) Some(Seq(cr, cc)) else None)
    extendDense(root, rel, ZarrStore.openArray(root, rel), coo, rowCol, colCol, 0L, nRows, v3)
  }

  // ------------------------------------------------------------------ csr

  /** Committed prefix of a csr node: `n0` rows, `nnz0` elements, `ptr0`
    * the first indptr entry still to write (`n0 + 1` on a store; 0 on a
    * new node, whose entry 0 is written too), and the committed values
    * sharing a store object with new ones — indptr entries from `ptr0`'s
    * chunk start up to `ptr0`, elements from `nnz0`'s object start up to
    * `nnz0`.
    */
  private final case class CsrPrefix(n0: Long, nnz0: Long, ptr0: Long, ptr: Array[Long],
                                     data: Array[Double], ind: Array[Long])

  private val newCsr = CsrPrefix(0L, 0L, 0L, Array.empty, Array.empty, Array.empty)

  /** Executor-side csr extend — the ONE csr writer behind [[write]]
    * (`newCsr`) and [[appendRows]]: COO rows `0..nAdd-1` become csr rows
    * `n0..n0+nAdd-1`, and `meta(nnz1)` writes or patches the node
    * metadata once the new extent is known. The driver holds CHUNK-LEVEL
    * prefix sums only (one long per `ptrChunkLen` rows — ~15k entries at
    * 10⁹ rows), never a row-sized array. Two jobs:
    *
    *  1. per-row counts (one shuffle on the row key), summed per indptr
    *     chunk of the row's END entry `n0 + r + 1`, plus the row-id range
    *     check; the driver prefix-sums the totals into chunk bases.
    *  2. indptr chunks cogrouped with their rows: each task walks its
    *     ≤`ptrChunkLen` entries carrying the cumulative count (rows
    *     without elements inherit it, and chunks no row touches are still
    *     written — an indptr value is cumulative, never fill), writes its
    *     object and emits each row's start. Elements join their row's
    *     start on the row key (per-row state), take position start +
    *     rank-by-column, and go to [[writeElementObjects]].
    */
  private def extendCsr(root: String, rel: String, coo: DataFrame,
                        rowCol: String, colCol: String, nAdd: Long, pre: CsrPrefix,
                        ptrChunkLen: Int, chunkElems: Int, objElems: Int, v3: Boolean)
                       (meta: Long => Unit): Unit = {
    val sc = coo.sparkSession.sparkContext
    val par = math.max(1, sc.defaultParallelism)
    val n0 = pre.n0; val L = ptrChunkLen
    val rowCounts = coo.select(col(rowCol).cast("long")).rdd
      .map(row => (if (row.isNullAt(0)) -1L else row.getLong(0), 1L))
      .reduceByKey(_ + _, par)
    val stats = rowCounts
      .mapPartitions { it =>
        val totals = scala.collection.mutable.HashMap.empty[Long, Long]
        var lo = Long.MaxValue; var hi = Long.MinValue
        it.foreach { case (r, cnt) =>
          lo = math.min(lo, r); hi = math.max(hi, r)
          totals((n0 + r + 1) / L) = totals.getOrElse((n0 + r + 1) / L, 0L) + cnt
        }
        Iterator((totals.toMap, lo, hi))
      }
      .collect()
    val lo = stats.map(_._2).foldLeft(Long.MaxValue)(math.min)
    val hi = stats.map(_._3).foldLeft(Long.MinValue)(math.max)
    require(lo == Long.MaxValue || (lo >= 0 && hi < nAdd),
      s"$root/$rel: row id ${if (lo < 0) lo else hi} outside 0..${nAdd - 1}")
    val totals = stats.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _)
    val cFirst = pre.ptr0 / L
    val cLast = (n0 + nAdd) / L
    val nCh = (cLast - cFirst + 1).toInt
    // element base of each indptr chunk: the elements of every row whose
    // end entry lies in an earlier chunk
    val bases = (0 until nCh).scanLeft(pre.nnz0)((b, i) => b + totals.getOrElse(cFirst + i, 0L)).toArray
    val nnz1 = bases(nCh)
    meta(nnz1)
    if (pre.ptr0 > n0 + nAdd) return // an empty append: nothing to write

    val basesB = sc.broadcast(bases)
    val ptrB = sc.broadcast(pre.ptr)
    val ptr0 = pre.ptr0; val nEnd = n0 + nAdd
    val starts = sc.range(cFirst, cLast + 1, 1, math.min(nCh, par)).map(c => (c, ()))
      .cogroup(rowCounts.map { case (r, cnt) => ((n0 + r + 1) / L, (r, cnt)) },
        math.min(nCh, par))
      .flatMap { case (c, (_, rows)) =>
        val sorted = rows.toArray.sortBy(_._1)
        val from = math.max(c * L, ptr0)
        val vals = new Array[Long]((math.min(c * L + L, nEnd + 1) - from).toInt) // entries [from, hi)
        val out = new Array[(Long, Long)](sorted.length) // (row, start)
        var cur = basesB.value((c - cFirst).toInt)
        var si = 0
        var k = 0
        while (k < vals.length) {
          while (si < sorted.length && n0 + sorted(si)._1 + 1 <= from + k) {
            out(si) = (sorted(si)._1, cur); cur += sorted(si)._2; si += 1
          }
          vals(k) = cur
          k += 1
        }
        val pre = if (from > c * L) ptrB.value.map(v => v: Any) else Array.empty[Any]
        writeChunks1d(root, s"$rel/indptr", "<i8", L, from, pre, vals.toIndexedSeq, v3)
        out.iterator
      }
    if (nnz1 == pre.nnz0) starts.foreach(_ => ()) // indptr chunks only
    else {
      val byRank = Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering)
      val elems = coo
        .select(col(rowCol).cast("long"), col(colCol).cast("long"), col("value").cast("double"))
        .rdd
        .map(row => (row.getLong(0), (row.getLong(1), row.getDouble(2))))
        .cogroup(starts, par)
        .flatMap { case (_, (cvs, start)) =>
          val s = start.head
          cvs.toArray.sorted(byRank).iterator.zipWithIndex.map { case ((c, v), k) =>
            val e = s + k
            ((e / objElems).toInt, (e, c, v))
          }
        }
      writeElementObjects(root, rel, elems, pre, nnz1, chunkElems, objElems, v3)
    }
    basesB.unpersist(); ptrB.unpersist()
  }

  /** The ONE csr element-object writer: elements carrying their GLOBAL
    * csr position `e` group on their store object (one shuffle,
    * object-sized state) and each task writes its `data` + `indices`
    * objects — v2: one zero-padded chunk of `chunkElems`; v3: one SHARD
    * of `objElems` (gzip'd inner chunks + the crc32c'd index the
    * sharding_indexed codec specifies). The object straddling `nnz0`
    * keeps its committed prefix, so a boundary shard is re-encoded whole
    * and pre-boundary objects are never touched.
    */
  private def writeElementObjects(root: String, rel: String,
                                  elems: RDD[(Int, (Long, Long, Double))], pre: CsrPrefix,
                                  nnz1: Long, chunkElems: Int, objElems: Int,
                                  v3: Boolean): Unit = {
    val nnz0 = pre.nnz0
    val cb = (nnz0 / objElems).toInt // boundary object id
    val nObjects = ((nnz1 - 1) / objElems).toInt - cb + 1
    val sc = elems.sparkContext
    val preB = sc.broadcast((pre.data, pre.ind))
    elems
      .groupByKey(math.min(nObjects, math.max(1, sc.defaultParallelism)))
      .foreach { case (obj, it) =>
        val base = obj.toLong * objElems
        val m = math.min(objElems.toLong, nnz1 - base).toInt // slots live after the write
        val dataV = new Array[Double](m)
        val indV = new Array[Long](m)
        if (obj == cb) {
          val (bd, bi) = preB.value
          System.arraycopy(bd, 0, dataV, 0, bd.length)
          System.arraycopy(bi, 0, indV, 0, bi.length)
        }
        var seen = 0
        it.foreach { case (e, j, v) =>
          val k = (e - base).toInt
          dataV(k) = v; indV(k) = j; seen += 1
        }
        val expect = math.min(base + objElems, nnz1) - math.max(base, nnz0)
        require(seen == expect, s"$rel object $obj: $seen of $expect new elements")
        if (!v3) {
          // allocate() zero-fills the edge padding
          val db = ByteBuffer.allocate(chunkElems * 8).order(ByteOrder.LITTLE_ENDIAN)
          dataV.foreach(db.putDouble)
          val ib = ByteBuffer.allocate(chunkElems * 8).order(ByteOrder.LITTLE_ENDIAN)
          indV.foreach(ib.putLong)
          Fs.write(s"$root/$rel/data/$obj", zlibEncode(db.array()))
          Fs.write(s"$root/$rel/indices/$obj", zlibEncode(ib.array()))
        } else {
          Fs.write(s"$root/$rel/data/c/$obj",
            shardBytes(objElems, chunkElems, m, packDoubles(dataV, chunkElems)))
          Fs.write(s"$root/$rel/indices/c/$obj",
            shardBytes(objElems, chunkElems, m, packLongs(indV, chunkElems)))
        }
      }
    preB.unpersist()
  }

  /** A COO frame as a NEW `csr_matrix` group. v2: one object per chunk
    * of `chunkElems`. v3: one SHARD object per `shardFactor` inner chunks.
    */
  private def writeCsr(root: String, rel: String, coo: DataFrame,
                       rowCol: String, colCol: String,
                       nRows: Long, nCols: Long, chunkElems: Int,
                       v3: Boolean, shardFactor: Int, ptrChunkLen: Int): Unit = {
    val objElems = if (v3) chunkElems.toLong * shardFactor else chunkElems.toLong
    require(objElems <= Int.MaxValue,
      s"$rel: chunkElems * shardFactor = $objElems exceeds Int.MaxValue")
    extendCsr(root, rel, coo, rowCol, colCol, nRows, newCsr, ptrChunkLen,
      chunkElems, objElems.toInt, v3) { nnz =>
      zgroup(root, rel, Some(
        s"""{"encoding-type":"csr_matrix","encoding-version":"0.1.0","shape":[$nRows,$nCols]}"""), v3)
      arrayMeta(root, s"$rel/indptr", Seq(nRows + 1), Seq(ptrChunkLen), "<i8",
        vlen = false, enc("array", "0.2.0"), v3)
      Seq("data" -> "<f8", "indices" -> "<i8").foreach { case (a, dt) =>
        arrayMeta(root, s"$rel/$a", Seq(nnz), Seq(objElems.toInt), dt, vlen = false,
          enc("array", "0.2.0"), v3, inner = if (v3) Some(Seq(chunkElems)) else None)
      }
    }
  }

  /** One `sharding_indexed` shard object: the committed prefix (`m` of
    * `objElems` element slots) as gzip'd inner chunks of `chunkElems`,
    * followed by the crc32c'd u64 (offset, nbytes) index the codec's
    * `index_codecs` declare; inner chunks beyond `m` get the absent
    * (-1, -1) entry. `pack(lo, len)` returns one inner chunk's raw
    * little-endian bytes, zero-padded to the full inner chunk.
    */
  private def shardBytes(objElems: Int, chunkElems: Int, m: Int,
                         pack: (Int, Int) => Array[Byte]): Array[Byte] = {
    val nInner = (objElems + chunkElems - 1) / chunkElems
    val body = new java.io.ByteArrayOutputStream()
    val index = ByteBuffer.allocate(16 * nInner + 4).order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < nInner) {
      val lo = i * chunkElems
      if (lo >= m) { index.putLong(-1L); index.putLong(-1L) } // beyond nnz
      else {
        val encd = encodeChunk(pack(lo, math.min(chunkElems, m - lo)), v3 = true)
        index.putLong(body.size().toLong); index.putLong(encd.length.toLong)
        body.write(encd)
      }
      i += 1
    }
    val idx = index.array()
    val crc = ZCodec.crc32c(idx, 0, 16 * nInner)
    ByteBuffer.wrap(idx, 16 * nInner, 4).order(ByteOrder.LITTLE_ENDIAN).putInt(crc)
    body.write(idx)
    body.toByteArray
  }

  private def packDoubles(vals: Array[Double], chunkElems: Int): (Int, Int) => Array[Byte] =
    (lo, len) => {
      val bb = ByteBuffer.allocate(chunkElems * 8).order(ByteOrder.LITTLE_ENDIAN)
      var k = 0
      while (k < len) { bb.putDouble(vals(lo + k)); k += 1 }
      bb.array() // zero-padded to the full inner chunk
    }

  private def packLongs(vals: Array[Long], chunkElems: Int): (Int, Int) => Array[Byte] =
    (lo, len) => {
      val bb = ByteBuffer.allocate(chunkElems * 8).order(ByteOrder.LITTLE_ENDIAN)
      var k = 0
      while (k < len) { bb.putLong(vals(lo + k)); k += 1 }
      bb.array()
    }

  // ------------------------------------------------------------- open API

  /** The zarr node encoders behind [[AnnDataset.write]]: a group's
    * metadata is written before its children.
    */
  private final class ZarrSink(root: String, v3: Boolean, chunkElems: Int, shardFactor: Int,
                               frameChunkLen: Int) extends AnnDataset.Sink[Unit] {
    def frame(rel: String, df: DataFrame, rowId: String, idName: String,
              cats: Set[String]): (Unit, Long) =
      ((), writeFrame(root, rel, df, rowId, idName, v3, frameChunkLen, cats))
    def matrix(rel: String, coo: DataFrame, rowCol: String, colCol: String,
               nRows: Long, nCols: Long, dense: Boolean): Unit =
      if (dense)
        writeDense(root, rel, coo, rowCol, colCol, nRows, nCols, chunkElems, v3,
          if (v3) shardFactor else 1)
      else
        writeCsr(root, rel, coo, rowCol, colCol, nRows, nCols, chunkElems, v3,
          shardFactor, frameChunkLen)
    def uns(rel: String, leaf: UnsLeaf): Unit = {
      val dtype = leaf.dtype match {
        case 's' => "|O"
        case 'b' => "|b1"
        case 'f' => "<f8"
        case _ => "<i8"
      }
      val attrs = enc(leaf.encoding, "0.2.0")
      if (!leaf.scalar) array1d(root, rel, dtype, 65536, attrs, leaf.values, v3)
      else scalar(root, rel, dtype, attrs,
        if (dtype == "|O") packVlen(Array(leaf.values.head.asInstanceOf[String]))
        else packNumAny(dtype, leaf.values.toArray, rel), v3)
    }
    def group(rel: String, encoding: (String, String), children: Seq[(String, () => Unit)]): Unit = {
      zgroup(root, rel, Some(enc(encoding._1, encoding._2)), v3)
      children.foreach(_._2())
    }
  }

  /** Replace whatever is at `path` with what `body` writes, then
    * consolidate the metadata so reopening costs a single metadata GET.
    */
  private def writeStore(path: String)(body: => Unit): Unit = {
    Fs.delete(path)
    ZarrStore.invalidate(path) // same-JVM readers must not see stale metadata
    body
    ZarrStore.consolidate(path)
  }

  /** Write `ds` as an AnnData-on-zarr store at `path` (a directory /
    * object-store prefix) through the one anndata slot walk
    * ([[AnnDataset.write]]). Matrix slots (X, layers, obsm, varm, obsp,
    * raw.X, raw.varm) and axis frames are written executor-side; uns and
    * category dictionaries are driver-written. Readable back by
    * [[AnnZarr.open]].
    *
    * `v3 = true` emits a zarr v3 store with `sharding_indexed` csr
    * slots: `shardFactor` inner chunks of `chunkElems` elements per
    * shard object. Both flavors finish with consolidated metadata.
    *
    * Encoding parity with the reference's anndata write registry:
    * slots named in `denseSlots` (e.g. "obsm/X_pca", "X") write as
    * dense 2-D `array` chunk grids; frame columns named in
    * `categoricalCols` (qualified, e.g. "obs/cell_type") write as
    * `categorical` groups — both re-open bit-identically through
    * anndata-python instead of silently degrading to csr / plain
    * string arrays.
    */
  def write(ds: AnnDataset, path: String, chunkElems: Int = 65536,
            v3: Boolean = false, shardFactor: Int = 16,
            frameChunkLen: Int = 65536,
            denseSlots: Set[String] = Set.empty,
            categoricalCols: Set[String] = Set.empty): Unit =
    writeStore(path) {
      AnnDataset.write(new ZarrSink(path, v3, chunkElems, shardFactor, frameChunkLen), "", ds,
        denseSlots, categoricalCols)
    }

  /** Migrate an AnnData-on-zarr store to a new layout (typically v2 →
    * v3-sharded — the 16×-fewer-objects shape) ENCODING-FAITHFULLY:
    * slots that are dense `array` grids in the source stay dense,
    * `categorical` frame columns stay categorical — both detected from
    * the source metadata over every slot of the layout
    * ([[AnnDataset.slots]]), so a migration never silently degrades what
    * [[write]]'s defaults would re-encode as csr/string. Reads and
    * writes are both executor-parallel; the driver only moves axis
    * metadata.
    */
  def migrate(spark: org.apache.spark.sql.SparkSession, src: String,
              dst: String, chunkElems: Int = 65536, v3: Boolean = true,
              shardFactor: Int = 16, frameChunkLen: Int = 65536): Unit = {
    // write() deletes dst up front while open(src)'s frames are lazy —
    // an in-place (or nested) migration would destroy the source before
    // any data is read. Migration must target a fresh path. Compare
    // QUALIFIED paths so relative/scheme-spelled aliases of the same
    // location ("data/a.zarr" vs "/data/a.zarr" vs "file:/data/a.zarr")
    // cannot slip past the guard.
    val srcP = Fs.qualify(src)
    val dstP = Fs.qualify(dst)
    def contains(a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path): Boolean = {
      var p = b
      while (p != null) { if (p == a) return true; p = p.getParent }
      false
    }
    require(srcP != dstP && !contains(srcP, dstP) && !contains(dstP, srcP),
      s"migrate: dst ($dst) must be a fresh path outside src ($src) — " +
        "in-place migration would delete the source before reading it")
    val ds = AnnZarr.open(spark, src)
    val slots = AnnDataset.slots(ds)
    def encoded(rel: String, t: String) =
      ZarrStore.attrString(src, rel, "encoding-type").contains(t)
    val cats = slots.filter(encoded(_, "dataframe"))
      .flatMap(f => ZarrStore.children(src, f).map(c => s"$f/$c"))
      .filter(c => !ZarrStore.isArray(src, c) && encoded(c, "categorical"))
    write(ds, dst, chunkElems, v3, shardFactor, frameChunkLen,
      denseSlots = slots.filter(ZarrStore.isArray(src, _)).toSet,
      categoricalCols = cats.toSet)
  }

  /** Write a MuData-on-zarr store: one AnnData group per modality under
    * `mod/`, the root carrying the MuData encoding — what mudata-python
    * produces and [[AnnZarr.openMu]] / the reference's MuData curator
    * consume. Modalities go through the same slot walk and
    * executor-parallel sinks as [[write]] (`v3`/`denseSlots`/
    * `categoricalCols` options are per-store). Each modality is
    * consolidated as a self-contained store (the append path patches
    * it), then the root once, so reopening the whole container costs
    * 1–2 metadata GETs.
    */
  def writeMu(mods: Map[String, AnnDataset], path: String,
              chunkElems: Int = 65536, v3: Boolean = false,
              shardFactor: Int = 16, frameChunkLen: Int = 65536,
              denseSlots: Set[String] = Set.empty,
              categoricalCols: Set[String] = Set.empty): Unit = {
    require(mods.nonEmpty, "writeMu needs at least one modality")
    writeStore(path) {
      AnnDataset.writeMu(new ZarrSink(path, v3, chunkElems, shardFactor, frameChunkLen), mods,
        denseSlots, categoricalCols)
      mods.keys.foreach(m => ZarrStore.consolidate(s"$path/mod/$m"))
    }
  }

  // --------------------------------------------------------------- append

  /** Append rows to an existing (writer-produced) AnnData-on-zarr store
    * IN PLACE — the zarr answer to incremental ingest: because chunks
    * are independent store objects, EVERY array (obs frame columns,
    * `X/indptr`, `X/data`, `X/indices`) extends by rewriting only its
    * boundary chunk plus the new chunks; all earlier chunk objects are
    * untouched (asserted by spec via mtimes + a written-object count).
    * Consolidated metadata is PATCHED for the changed nodes, not
    * re-walked. A microbatch therefore costs O(batch) store operations,
    * independent of how large the store has grown.
    *
    * Serves BOTH writer flavors: v2 (zlib chunk objects) and v3 with
    * `sharding_indexed` csr slots — there the boundary SHARD is
    * re-encoded (committed prefix + new elements as gzip'd inner
    * chunks + a fresh crc32c'd index) and new whole shards are emitted,
    * so a long-running ingest keeps the 1-object-per-shard store layout
    * without ever touching pre-boundary shards. A store whose X was
    * written DENSE (`denseSlots`) appends by chunk-row band instead:
    * tasks merge the boundary band's existing objects with their new
    * elements and write new bands — the streaming-embedding-matrix
    * ingest shape, same O(batch) contract.
    *
    * `newObs` must carry the store's obs columns (obs_id local 0..n-1);
    * `newX` is COO with local obs_id. Obs-aligned aux slots extend
    * WITH the rows: a store carrying `layers` / `obsm` requires the
    * batch to provide matching COO frames for every slot (each routed
    * to the same csr element-extend or dense row-band strategy as X);
    * `obsp` (obs×obs — a row append would invalidate its columns too)
    * and `raw` remain append-incompatible. The HDF5 container cannot
    * offer this shape at all — an h5ad append rewrites the file.
    *
    * Every node grows through the same executor-side extend [[write]]
    * uses, pointed at the store's committed prefix: obs columns through
    * the chunk-grouped frame writer, csr slots through the indptr/element
    * extend, dense slots through the row-band extend. The driver reads
    * one boundary chunk per array and holds chunk-level prefix sums —
    * never O(batch) rows. This is the capability analog of the
    * reference's append-with-reindex (`core/storage/_tiledbsoma.py:166-351`),
    * shaped for chunked object stores instead of a native array DB.
    *
    * Crash behavior: shapes are only ever EXTENDED and boundary-chunk
    * (or boundary-shard) rewrites preserve the committed prefix, so a
    * half-applied append is fully undone by [[truncateTo]] (the
    * streaming sink's pending-marker protocol does exactly that on
    * restart — aux csr extents roll back through the committed
    * indptr(n0) value, which boundary rewrites preserve).
    */
  def appendRows(newObs: DataFrame, newX: DataFrame, path: String,
                 newLayers: Map[String, DataFrame] = Map.empty,
                 newObsm: Map[String, DataFrame] = Map.empty): Unit = {
    val v3 = ZarrStore.format(path) == 3
    Seq("obsp", "raw").foreach { s =>
      require(!ZarrStore.isGroup(path, s),
        s"$path: cannot append rows with obs-aligned slot '$s' present")
    }
    def slotNames(grp: String): Set[String] =
      if (ZarrStore.isGroup(path, grp)) ZarrStore.children(path, grp).toSet
      else Set.empty
    require(slotNames("layers") == newLayers.keySet,
      s"$path: layers batch ${newLayers.keySet} != store ${slotNames("layers")}")
    require(slotNames("obsm") == newObsm.keySet,
      s"$path: obsm batch ${newObsm.keySet} != store ${slotNames("obsm")}")
    val n0 = ZarrStore.openArray(path, "obs/_index").shape.head
    // the cached consolidated metadata stays authoritative (pre-append)
    // until the final patch, so every node below reads its committed extent
    val changedMeta = scala.collection.mutable.ArrayBuffer[String]()
    val nAdd = appendObs(path, newObs, n0, v3, changedMeta)

    def appendDenseSlot(rel: String, coo: DataFrame, colCol: String): Unit = {
      val za = ZarrStore.openArray(path, rel)
      requireWriterDense(path, rel, za, v3)
      changedMeta += ZarrStore.patchShape(path, rel, Seq(n0 + nAdd, za.shape(1)))
      extendDense(path, rel, za, coo, "obs_id", colCol, n0, nAdd, v3)
    }

    def appendCsrSlot(rel: String, coo: DataFrame, colCol: String): Unit = {
      val dataZ = ZarrStore.openArray(path, s"$rel/data")
      val indZ = ZarrStore.openArray(path, s"$rel/indices")
      val ptrZ = ZarrStore.openArray(path, s"$rel/indptr")
      if (v3)
        require(dataZ.compressor == "sharding" && indZ.compressor == "sharding" &&
          dataZ.codecs.contains(ZCodec.GzipC) && indZ.codecs.contains(ZCodec.GzipC),
          s"$path/$rel: v3 appendRows requires the writer's sharded gzip csr encoding")
      else
        require(dataZ.compressor == "zlib" && indZ.compressor == "zlib",
          s"$path/$rel: appendRows requires the writer's zlib chunk encoding")
      val chunkElems = dataZ.chunks.head // v3: the INNER chunk length
      // store-object granularity: chunk objects (v2) / shard objects (v3)
      val objElems = dataZ.shard.map(_.shardShape.head).getOrElse(chunkElems)
      val nnz0 = dataZ.shape.head
      val nCols = ZarrStore.attrs(path, rel).get.get("shape").get(1).asLong
      val L = ptrZ.chunks.head
      // committed values sharing a store object with new ones, read
      // BEFORE the shape patches — for v3 decoded through the shard
      // index's ranged inner-chunk reads, for v2 one chunk GET
      val eLo = (nnz0 / objElems) * objElems
      val pre = CsrPrefix(n0, nnz0, n0 + 1, ptrZ.readLongs((n0 + 1) / L * L, n0 + 1),
        dataZ.readDoubles(eLo, nnz0), indZ.readLongs(eLo, nnz0))
      extendCsr(path, rel, coo, "obs_id", colCol, nAdd, pre, L, chunkElems, objElems, v3) { nnz1 =>
        changedMeta += zgroup(path, rel, Some(s"""{"encoding-type":"csr_matrix",""" +
          s""""encoding-version":"0.1.0","shape":[${n0 + nAdd},$nCols]}"""), v3)
        changedMeta += ZarrStore.patchShape(path, s"$rel/indptr", Seq(n0 + nAdd + 1))
        changedMeta += ZarrStore.patchShape(path, s"$rel/data", Seq(nnz1))
        changedMeta += ZarrStore.patchShape(path, s"$rel/indices", Seq(nnz1))
      }
    }

    // ---- route every obs-aligned matrix slot to its extend strategy
    def routeSlot(rel: String, coo: DataFrame, colCol: String): Unit =
      if (ZarrStore.isArray(path, rel)) appendDenseSlot(rel, coo, colCol)
      else appendCsrSlot(rel, coo, colCol)
    routeSlot("X", newX, "var_id")
    newLayers.toSeq.sortBy(_._1).foreach { case (nm, df) =>
      routeSlot(s"layers/$nm", df, "var_id")
    }
    newObsm.toSeq.sortBy(_._1).foreach { case (nm, df) =>
      val dimCol = if (df.columns.contains("dim_id")) "dim_id" else "var_id"
      routeSlot(s"obsm/$nm", df, dimCol)
    }
    // O(changed nodes) metadata patch — a full consolidate re-walk
    // would LIST every chunk directory, O(store) per microbatch
    ZarrStore.patchConsolidated(path, changedMeta.toSeq)
  }

  /** The obs half of [[appendRows]]: `newObs` (obs_id local 0..n-1)
    * extends every obs column of the store through [[writeFrameChunks]]
    * at offset `n0`. Column kinds come from the STORE; a categorical
    * column keeps the store's categories and appends the batch's unseen
    * values in FIRST-OCCURRENCE (obs_id) order. Returns the batch's row
    * count.
    */
  private def appendObs(path: String, newObs: DataFrame, n0: Long, v3: Boolean,
                        changedMeta: scala.collection.mutable.ArrayBuffer[String]): Long = {
    val cl = ZarrStore.openArray(path, "obs/_index").chunks.head
    val cols = ZarrStore.children(path, "obs").filterNot(_ == "_index").map { cn =>
      require(newObs.columns.contains(cn), s"append obs frame missing column '$cn'")
      if (ZarrStore.isArray(path, s"obs/$cn")) {
        val za = ZarrStore.openArray(path, s"obs/$cn")
        FrameCol(cn, za.kind match { case 'O' => 'S'; case 'f' => 'F'; case _ => 'L' }, za.dtype)
      } else {
        require(ZarrStore.attrString(path, s"obs/$cn", "encoding-type")
          .contains("categorical"), s"obs/$cn: unsupported column node")
        FrameCol(cn, 'C', "<i8")
      }
    }
    materialized(newObs) { mat =>
      val cats = cols.filter(_.kind == 'C').map(_.name)
      val (nAdd, firstRows) = frameStats(mat, "obs_id", cats)
      val dicts = cats.map { cn =>
        val cats0 = ZarrStore.openArray(path, s"obs/$cn/categories").readFlat()
          .map(_.asInstanceOf[String])
        val seen = cats0.toSet
        val extra = firstRows(cn).toIndexedSeq.sortBy(_._2).map(_._1).filterNot(seen)
        if (extra.nonEmpty) changedMeta += extend1d(path, s"obs/$cn/categories", extra, v3)
        cn -> (cats0 ++ extra).toArray
      }.toMap
      // one chunk grid for the whole frame; the straddling chunk's
      // committed values are read BEFORE the shapes extend
      val prefixes = (("_index", "obs/_index") +: cols.map(c => (c.name, c.rel("obs")))).map {
        case (key, rel) =>
          val za = unsharded1d(path, rel)
          require(za.chunks.head == cl, s"$rel: chunk len ${za.chunks.head} != index chunk len $cl")
          val prefix = readValues(za, n0 / cl * cl, n0)
          changedMeta += ZarrStore.patchShape(path, rel, Seq(n0 + nAdd))
          key -> prefix
      }.toMap
      val label =
        if (mat.columns.contains("obs_name")) col("obs_name").cast("string")
        else (col("obs_id").cast("long") + lit(n0)).cast("string")
      writeFrameChunks(path, "obs", mat, "obs_id", label, cols, dicts, prefixes, n0, nAdd, cl, v3)
      nAdd
    }
  }

  /** Physically clear a dense slot's rows >= `n0` BEFORE its shape is
    * rolled back: store objects fully beyond `n0` are deleted; the
    * objects straddling it are rewritten with only the committed row
    * prefix (zero tail). The csr slots need no scrub — every element
    * position in a future append's range is densely re-assigned, and
    * positions beyond the extent are unreachable through indptr — but a
    * dense grid reads absent/stale cells as values, so a rolled-back
    * append's bytes must not remain under rows a later append re-grows.
    * Work is rollback-sized: one straddling object row + the deleted
    * tail, driver-side like the rest of the rollback path.
    */
  private def scrubDenseTail(path: String, rel: String, n0: Long, v3: Boolean): Unit = {
    val za = ZarrStore.openArray(path, rel)
    val n1 = za.shape.head
    if (n1 <= n0) return
    requireWriterDense(path, rel, za, v3)
    val Seq(cr, cc) = za.chunks.map(identity)
    val sf = za.shard.map(_.shardShape.head / cr).getOrElse(1)
    val objRows = cr.toLong * sf
    val nCols = za.shape(1)
    val gridCols = ((nCols + cc - 1) / cc).toInt
    val firstObj = (n0 / objRows).toInt
    val lastObj = ((n1 - 1) / objRows).toInt
    (firstObj to lastObj).foreach { gr =>
      val base = gr.toLong * objRows
      (0 until gridCols).foreach { gc =>
        // the array's OWN key function: honors the store's real
        // dimension separator / v3 key prefix (for sharded arrays the
        // store object is the shard, addressed at shard-grid coords)
        val key = s"$rel/${za.chunkKey(Seq(gr, gc))}"
        if (base >= n0) { Fs.delete(s"$path/$key"); () }
        else if (sf == 1) {
          za.readChunk(Seq(gr, gc)).foreach { old =>
            val buf = java.util.Arrays.copyOf(old, cr * cc * 8)
            val keep = (n0 - base).toInt
            java.util.Arrays.fill(buf, keep * cc * 8, buf.length, 0.toByte)
            Fs.write(s"$path/$key", encodeChunk(buf, v3))
          }
        } else {
          // straddling SHARD: committed inner bands survive (partial
          // boundary band zero-tailed); bands at/after n0 become absent
          val bands = new Array[Array[Byte]](sf)
          var any = false
          (0 until sf).foreach { b =>
            val bandRow = base + b.toLong * cr
            if (bandRow < n0)
              za.readChunk(Seq(gr * sf + b, gc)).foreach { old =>
                val buf = java.util.Arrays.copyOf(old, cr * cc * 8)
                val keep = math.min(cr.toLong, n0 - bandRow).toInt
                java.util.Arrays.fill(buf, keep * cc * 8, buf.length, 0.toByte)
                bands(b) = buf; any = true
              }
          }
          if (!any) { Fs.delete(s"$path/$key"); () }
          else Fs.write(s"$path/$key", denseShardObject(bands))
        }
      }
    }
  }

  /** Roll a (writer-produced) store back to `n0` obs rows and `nnz0` X
    * elements — the crash-recovery half of the streaming sink's
    * pending-marker protocol, for both writer flavors. [[appendRows]]
    * only ever EXTENDS array shapes and its boundary-chunk (or
    * boundary-shard) rewrites preserve the committed prefix, so
    * shrinking the declared shapes (and patching consolidated
    * metadata) is a complete undo: chunk objects — and shard index
    * entries — beyond the declared shape are unreachable to readers.
    * Assumes atomic whole-object PUTs (true on object stores; a local
    * filesystem can expose a half-written chunk mid-crash).
    */
  def truncateTo(path: String, n0: Long, nnz0: Long): Unit = {
    val v3 = ZarrStore.format(path) == 3
    val changed = scala.collection.mutable.ArrayBuffer[String]()
    def reshape(rel: String, n: Long): Unit = {
      val za = ZarrStore.openArray(path, rel)
      if (za.shape.head != n) changed += ZarrStore.patchShape(path, rel, Seq(n))
    }
    reshape("obs/_index", n0)
    ZarrStore.children(path, "obs").filterNot(_ == "_index").foreach { cn =>
      // categorical columns roll back their codes; extra categories a
      // half-applied batch appended are unreferenced and harmless
      if (ZarrStore.isArray(path, s"obs/$cn")) reshape(s"obs/$cn", n0)
      else reshape(s"obs/$cn/codes", n0)
    }
    def rollMatrix(rel: String, nnzCommitted: => Long): Unit =
      if (ZarrStore.isArray(path, rel)) {
        // dense grid: PHYSICALLY clear the rolled-back rows, then shrink
        // the declared extent. Shape alone is not an undo: the next
        // append only rewrites objects that receive elements, so any
        // other object covering re-grown rows would resurrect the undone
        // values instead of reading fill-zero.
        val za = ZarrStore.openArray(path, rel)
        if (za.shape.head != n0) {
          scrubDenseTail(path, rel, n0, v3)
          changed += ZarrStore.patchShape(path, rel, Seq(n0, za.shape(1)))
        }
      } else {
        val nnzC = nnzCommitted
        reshape(s"$rel/indptr", n0 + 1)
        reshape(s"$rel/data", nnzC)
        reshape(s"$rel/indices", nnzC)
        val nCols = ZarrStore.attrs(path, rel).get.get("shape").get(1).asLong
        changed += zgroup(path, rel, Some(s"""{"encoding-type":"csr_matrix",""" +
          s""""encoding-version":"0.1.0","shape":[$n0,$nCols]}"""), v3)
      }
    rollMatrix("X", nnz0)
    // aux slots roll back through the COMMITTED indptr(n0) value, which
    // boundary-chunk rewrites preserve even across a half-applied batch
    Seq("layers", "obsm").foreach { grp =>
      if (ZarrStore.isGroup(path, grp))
        ZarrStore.children(path, grp).foreach { nm =>
          rollMatrix(s"$grp/$nm",
            ZarrStore.openArray(path, s"$grp/$nm/indptr").readLongs(n0, n0 + 1).head)
        }
    }
    ZarrStore.patchConsolidated(path, changed.toSeq)
  }
}
