package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.Fs

/** Native zarr directory-store reader — both public store flavors:
  *
  *  - **v2**: `.zgroup` / `.zarray` / `.zattrs` JSON per node, one object
  *    per chunk, the layout the reference's zarr-backed AnnData accessor
  *    reads through zarr-python (`core/storage/_anndata_accessor.py` zarr
  *    registry functions, `core/storage/_backed_access.py:108-121`).
  *  - **v3**: one `zarr.json` per node (`node_type` group/array), codec
  *    pipelines, `c/`-prefixed chunk keys, and the `sharding_indexed`
  *    codec that packs a grid of inner chunks into one store object.
  *
  * Metadata GETs are the scan-planning bottleneck on an object store, so
  * both flavors read **consolidated metadata** when present (v2
  * `.zmetadata`, v3 `consolidated_metadata` in the root `zarr.json`):
  * one GET serves every `isArray`/`attrs`/`children`/`openArray` call.
  * Per-root metadata is cached per JVM; [[ZarrStore.metaObjectReads]]
  * counts real metadata-object accesses so tests can pin the contract.
  *
  * All byte access goes through [[graft.core.Fs]] so the same code
  * serves local fixtures and an object store; executor tasks open
  * their own chunk objects (nothing matrix-sized crosses the driver).
  */
object ZarrStore {
  private val mapper = new ObjectMapper()

  /** Per-root count of metadata OBJECTS actually fetched from the store
    * (cache misses) — consolidated-metadata specs assert this stays at
    * one-or-two GETs per (re)open regardless of node count.
    */
  private val metaObjectReads = new ConcurrentHashMap[String, AtomicLong]()

  def metaReads(root: String): Long = {
    val c = metaObjectReads.get(root)
    if (c == null) 0L else c.get()
  }

  /** Per-root count of chunk/shard OBJECT accesses (same-JVM only —
    * local-mode specs use it to pin that a pruned scan or a range task
    * touches only its own chunk objects).
    */
  private val dataObjectReads = new ConcurrentHashMap[String, AtomicLong]()

  def dataReads(root: String): Long = {
    val c = dataObjectReads.get(root)
    if (c == null) 0L else c.get()
  }

  private[zarr] def countDataRead(root: String): Unit =
    dataObjectReads.computeIfAbsent(root, _ => new AtomicLong()).incrementAndGet()

  // ------------------------------------------------------- root metadata

  /** Per-root snapshot: format version, consolidated node map (when the
    * store carries one), and a cache of individually-fetched metadata
    * objects (bounded by the store's node count).
    */
  private final case class RootMeta(fmt: Int, cons: Option[Map[String, JsonNode]]) {
    val fileCache = new ConcurrentHashMap[String, Option[JsonNode]]()
  }

  private val roots = new ConcurrentHashMap[String, RootMeta]()

  /** Drop cached metadata for `root` — writers call this after mutating
    * a store so readers in the same JVM observe the new layout. Also
    * evicts the shard-index LRU entries under the root: a rewritten v3
    * store would otherwise serve stale (offset, nbytes) index entries —
    * wrong data or spurious crc32c failures.
    */
  def invalidate(root: String): Unit = {
    roots.remove(root)
    shardIdxCache.synchronized {
      val it = shardIdxCache.keySet().iterator()
      val prefix = root + "/"
      while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    }
  }

  private def jsonFields(n: JsonNode): Map[String, JsonNode] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toMap

  /** Fetch + parse one metadata object (counted; None when absent). */
  private def metaFile(root: String, rel: String): Option[JsonNode] = {
    metaObjectReads.computeIfAbsent(root, _ => new AtomicLong()).incrementAndGet()
    Fs.read(s"$root/$rel").map(mapper.readTree)
  }

  private def rootMeta(root: String): RootMeta = {
    val cached = roots.get(root)
    if (cached != null) cached
    else {
      val m = metaFile(root, ".zmetadata") match {
        case Some(zm) if zm.has("metadata") =>
          RootMeta(2, Some(jsonFields(zm.get("metadata"))))
        case _ =>
          metaFile(root, "zarr.json") match {
            case Some(zj) =>
              val cons = Option(zj.get("consolidated_metadata"))
                .filterNot(_.isNull)
                .flatMap(cm => Option(cm.get("metadata")))
                .map(md => jsonFields(md) + ("" -> zj))
              val rm = RootMeta(3, cons)
              rm.fileCache.put("zarr.json", Some(zj))
              rm
            case None => RootMeta(2, None)
          }
      }
      roots.putIfAbsent(root, m)
      roots.get(root)
    }
  }

  /** Exposed for tests/tools: 2 or 3. */
  def format(root: String): Int = rootMeta(root).fmt

  /** v2 metadata doc of `rel` (`name` ∈ .zgroup/.zarray/.zattrs). */
  private def v2Meta(root: String, rel: String, name: String): Option[JsonNode] = {
    val key = if (rel.isEmpty) name else s"$rel/$name"
    val rm = rootMeta(root)
    rm.cons match {
      case Some(c) => c.get(key)
      case None => rm.fileCache.computeIfAbsent(key, k => metaFile(root, k))
    }
  }

  /** v3 `zarr.json` node doc of `rel`. */
  private def v3Node(root: String, rel: String): Option[JsonNode] = {
    val rm = rootMeta(root)
    rm.cons match {
      case Some(c) => c.get(rel)
      case None =>
        val key = if (rel.isEmpty) "zarr.json" else s"$rel/zarr.json"
        rm.fileCache.computeIfAbsent(key, k => metaFile(root, k))
    }
  }

  // --------------------------------------------------------- node surface

  def isArray(root: String, rel: String): Boolean = rootMeta(root).fmt match {
    case 3 => v3Node(root, rel).exists(_.path("node_type").asText == "array")
    case _ => v2Meta(root, rel, ".zarray").isDefined
  }

  def isGroup(root: String, rel: String): Boolean = rootMeta(root).fmt match {
    case 3 => v3Node(root, rel).exists(_.path("node_type").asText == "group")
    case _ => v2Meta(root, rel, ".zgroup").isDefined
  }

  /** Attributes of a group/array node (None when absent/empty). */
  def attrs(root: String, rel: String): Option[JsonNode] = rootMeta(root).fmt match {
    case 3 => v3Node(root, rel).flatMap(n => Option(n.get("attributes"))).filterNot(_.isNull)
    case _ => v2Meta(root, rel, ".zattrs")
  }

  def attrString(root: String, rel: String, key: String): Option[String] =
    attrs(root, rel).flatMap(a => Option(a.get(key))).filter(_.isTextual).map(_.asText)

  def attrStrings(root: String, rel: String, key: String): Option[Seq[String]] =
    attrs(root, rel).flatMap(a => Option(a.get(key))).filter(_.isArray).map { arr =>
      (0 until arr.size).map(arr.get(_).asText)
    }

  /** Child node names. Served from consolidated metadata without any
    * store LIST when available — at scale a LIST per group is the other
    * half of the metadata-GET tax.
    */
  def children(root: String, rel: String): Seq[String] = {
    val rm = rootMeta(root)
    val prefix = if (rel.isEmpty) "" else rel + "/"
    rm.cons match {
      case Some(c) if rm.fmt == 2 =>
        c.keysIterator.collect {
          case k if k.startsWith(prefix) =>
            k.substring(prefix.length).split('/') match {
              case Array(child, meta) if meta.startsWith(".z") => Some(child)
              case _ => None
            }
        }.flatten.toSeq.distinct.sorted
      case Some(c) =>
        c.keysIterator.collect {
          case k if k.nonEmpty && k.startsWith(prefix) &&
            !k.substring(prefix.length).contains('/') && k != rel =>
            k.substring(prefix.length)
        }.toSeq.distinct.sorted
      case None =>
        subdirs(root, rel).filter { n =>
          val child = if (rel.isEmpty) n else s"$rel/$n"
          if (rm.fmt == 3) v3Node(root, child).isDefined
          else isArray(root, child) || isGroup(root, child)
        }.sorted
    }
  }

  // ------------------------------------------------------------- openArray

  def openArray(root: String, rel: String): ZArray = rootMeta(root).fmt match {
    case 3 => openArrayV3(root, rel)
    case _ => openArrayV2(root, rel)
  }

  private def openArrayV2(root: String, rel: String): ZArray = {
    val m = v2Meta(root, rel, ".zarray").getOrElse(
      sys.error(s"$root/$rel: no .zarray — not a zarr array"))
    val shape = (0 until m.get("shape").size).map(m.get("shape").get(_).asLong)
    val chunks = (0 until m.get("chunks").size).map(m.get("chunks").get(_).asInt)
    val dtype = m.get("dtype").asText
    val order = Option(m.get("order")).map(_.asText).getOrElse("C")
    require(order == "C", s"$rel: only C-order zarr arrays are supported")
    val fillNode = m.get("fill_value")
    val (fillNum, fillStr) =
      if (fillNode == null || fillNode.isNull) (None, None)
      else if (fillNode.isNumber) (Some(fillNode.asDouble), None)
      else (None, Some(fillNode.asText))
    val sep = Option(m.get("dimension_separator")).filterNot(_.isNull)
      .map(_.asText).getOrElse(".")
    val (label, codecs) = Option(m.get("compressor")).filterNot(_.isNull) match {
      case None => ("none", Nil)
      case Some(c) => c.get("id").asText match {
        case "blosc" => ("blosc", Seq(ZCodec.BloscC))
        case "zlib" => ("zlib", Seq(ZCodec.ZlibC))
        case other => sys.error(s"$rel: unsupported zarr compressor '$other'")
      }
    }
    val vlen = Option(m.get("filters")).filterNot(_.isNull).exists { fl =>
      (0 until fl.size).exists(i => fl.get(i).get("id").asText == "vlen-utf8")
    }
    require(dtype != "|O" || vlen, s"$rel: object dtype requires the vlen-utf8 filter")
    ZArray(root, rel, shape, chunks, dtype, fillNum, fillStr, sep, label, vlen,
      keyPrefix = "", codecs = codecs, shard = None)
  }

  /** v3 data_type → the v2-style dtype string [[ZArray]] normalizes on. */
  private val v3Dtypes = Map(
    "float64" -> "<f8", "float32" -> "<f4",
    "int64" -> "<i8", "int32" -> "<i4", "int16" -> "<i2", "int8" -> "|i1",
    "uint64" -> "<u8", "uint32" -> "<u4", "uint16" -> "<u2", "uint8" -> "|u1",
    "bool" -> "|b1", "string" -> "|O")

  /** Parse a v3 bytes→bytes codec tail; returns (codecs, sawVlen). */
  private def bytesCodecs(rel: String, list: Seq[JsonNode]): (Seq[ZCodec], Boolean) = {
    var vlen = false
    val out = list.flatMap { c =>
      c.get("name").asText match {
        case "bytes" =>
          val endian = Option(c.get("configuration"))
            .flatMap(cfg => Option(cfg.get("endian"))).map(_.asText).getOrElse("little")
          require(endian == "little", s"$rel: big-endian v3 arrays unsupported")
          None
        case "vlen-utf8" => vlen = true; None
        case "blosc" => Some(ZCodec.BloscC)
        case "gzip" => Some(ZCodec.GzipC)
        case "zlib" => Some(ZCodec.ZlibC)
        case "crc32c" => Some(ZCodec.Crc32cC)
        case "transpose" =>
          val ord = Option(c.get("configuration"))
            .flatMap(cfg => Option(cfg.get("order"))).map(a =>
              (0 until a.size).map(a.get(_).asInt)).getOrElse(Nil)
          require(ord == ord.indices.map(identity),
            s"$rel: non-identity transpose codec unsupported")
          None
        case other => sys.error(s"$rel: unsupported v3 codec '$other'")
      }
    }
    (out, vlen)
  }

  private def openArrayV3(root: String, rel: String): ZArray = {
    val m = v3Node(root, rel).getOrElse(
      sys.error(s"$root/$rel: no zarr.json — not a zarr v3 node"))
    require(m.path("node_type").asText == "array", s"$rel: not an array node")
    val shape = (0 until m.get("shape").size).map(m.get("shape").get(_).asLong)
    val dtName = m.get("data_type").asText
    val dtype = v3Dtypes.getOrElse(dtName, sys.error(s"$rel: v3 data_type '$dtName' unsupported"))
    val grid = m.get("chunk_grid")
    require(grid.get("name").asText == "regular", s"$rel: only regular chunk grids supported")
    val gridShape = {
      val cs = grid.get("configuration").get("chunk_shape")
      (0 until cs.size).map(cs.get(_).asInt)
    }
    val (keyPrefix, sep) = Option(m.get("chunk_key_encoding")) match {
      case None => ("c/", "/")
      case Some(cke) =>
        val s = Option(cke.get("configuration")).flatMap(c => Option(c.get("separator")))
          .map(_.asText).getOrElse("/")
        cke.get("name").asText match {
          case "default" => ("c" + s, s)
          case "v2" => ("", s)
          case other => sys.error(s"$rel: chunk_key_encoding '$other' unsupported")
        }
    }
    val fillNode = m.get("fill_value")
    val (fillNum, fillStr) =
      if (fillNode == null || fillNode.isNull) (None, None)
      else if (fillNode.isBoolean) (Some(if (fillNode.asBoolean) 1.0 else 0.0), None)
      else if (fillNode.isNumber) (Some(fillNode.asDouble), None)
      else fillNode.asText match {
        case "NaN" => (Some(Double.NaN), None)
        case "Infinity" => (Some(Double.PositiveInfinity), None)
        case "-Infinity" => (Some(Double.NegativeInfinity), None)
        case s => (None, Some(s))
      }
    val codecList = Option(m.get("codecs")).filterNot(_.isNull)
      .map(a => (0 until a.size).map(a.get(_))).getOrElse(Nil)
    val shardNode = codecList.find(_.get("name").asText == "sharding_indexed")
    shardNode match {
      case None =>
        val (codecs, vlen) = bytesCodecs(rel, codecList)
        require(dtype != "|O" || vlen, s"$rel: string data_type requires the vlen-utf8 codec")
        val label = if (codecs.contains(ZCodec.BloscC)) "blosc"
          else if (codecs.contains(ZCodec.GzipC)) "gzip"
          else if (codecs.contains(ZCodec.ZlibC)) "zlib" else "none"
        ZArray(root, rel, shape, gridShape, dtype, fillNum, fillStr, sep, label,
          vlen, keyPrefix = keyPrefix, codecs = codecs, shard = None)
      case Some(sn) =>
        // shard grid: metadata chunk_shape is the SHARD shape; read
        // granularity (ZArray.chunks) is the inner chunk shape
        require(codecList.size == 1,
          s"$rel: sharding_indexed must be the only top-level codec " +
            "(a compressor wrapping the shard would defeat ranged reads)")
        val cfg = sn.get("configuration")
        val inner = {
          val cs = cfg.get("chunk_shape")
          (0 until cs.size).map(cs.get(_).asInt)
        }
        require(inner.size == gridShape.size &&
          inner.zip(gridShape).forall { case (i, s) => i > 0 && s % i == 0 },
          s"$rel: shard shape $gridShape not a multiple of inner chunk shape $inner")
        val innerList = Option(cfg.get("codecs")).filterNot(_.isNull)
          .map(a => (0 until a.size).map(a.get(_))).getOrElse(Nil)
        val (innerCodecs, vlen) = bytesCodecs(rel, innerList)
        require(dtype != "|O" || vlen, s"$rel: string data_type requires the vlen-utf8 codec")
        val idxList = Option(cfg.get("index_codecs")).filterNot(_.isNull)
          .map(a => (0 until a.size).map(a.get(_).get("name").asText)).getOrElse(Nil)
        require(idxList.forall(Set("bytes", "crc32c")),
          s"$rel: shard index_codecs $idxList unsupported")
        val atEnd = Option(cfg.get("index_location")).map(_.asText).getOrElse("end") == "end"
        ZArray(root, rel, shape, inner, dtype, fillNum, fillStr, sep, "sharding",
          vlen, keyPrefix = keyPrefix, codecs = innerCodecs,
          shard = Some(ShardInfo(gridShape, innerCodecs, idxList.contains("crc32c"), atEnd)))
    }
  }

  // -------------------------------------------------- shard index reads

  /** Per-JVM LRU of parsed shard indexes — tasks reading neighboring
    * inner chunks of the same shard pay one index GET, not one per chunk.
    */
  private val shardIdxCache =
    new java.util.LinkedHashMap[String, Option[Array[Long]]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[Array[Long]]]): Boolean = size > 256
    }

  /** (offset, nbytes) pairs of a shard's inner-chunk index; None when the
    * shard object itself is absent (every inner chunk is fill_value).
    *
    * `ver` versions the cache entry — callers pass the array's declared
    * leading extent, which grows on every in-place append. The boundary
    * shard's bytes change exactly when the shape does, so an EXECUTOR
    * JVM that cached the old index (and is never reached by the
    * driver's [[invalidate]]) misses cleanly when a post-append plan
    * ships it the new shape, instead of serving stale offsets. The one
    * sequence this cannot distinguish is a crash-recovery rollback
    * (truncateTo) REAPPLIED to the same extent with different bytes —
    * same-JVM readers are covered by invalidate; long-lived remote
    * executors should be recycled after a recovery event.
    */
  def shardIndex(root: String, key: String, nInner: Int, sh: ShardInfo,
                 ver: Long = -1L): Option[Array[Long]] = {
    val cacheKey = s"$root/$key#$ver"
    shardIdxCache.synchronized {
      if (shardIdxCache.containsKey(cacheKey)) return shardIdxCache.get(cacheKey)
    }
    val parsed = Fs.length(s"$root/$key").map { len =>
      val ilen = sh.indexByteLen(nInner)
      val pos = if (sh.indexAtEnd) len - ilen else 0L
      val bytes = Fs.readRange(s"$root/$key", pos, ilen)
      if (sh.indexCrc) {
        val stored = ByteBuffer.wrap(bytes, ilen - 4, 4)
          .order(ByteOrder.LITTLE_ENDIAN).getInt
        require(stored == ZCodec.crc32c(bytes, 0, ilen - 4),
          s"$key: shard index crc32c mismatch")
      }
      val b = ByteBuffer.wrap(bytes, 0, 16 * nInner).order(ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Long](2 * nInner)
      var i = 0
      while (i < out.length) { out(i) = b.getLong(); i += 1 }
      out
    }
    shardIdxCache.synchronized { shardIdxCache.put(cacheKey, parsed) }
    parsed
  }

  // ------------------------------------------------ consolidated writing

  /** Write consolidated metadata for a finished store — v2 `.zmetadata`,
    * v3 `consolidated_metadata` in the root `zarr.json`, by the store's
    * [[format]]: the public answer to per-node metadata GETs — reopening
    * the store costs ONE metadata object regardless of node count.
    */
  def consolidate(root: String): Unit =
    if (format(root) == 3) consolidateV3(root) else consolidateV2(root)

  /** Names of the directories directly under `rel` (none when absent). */
  private def subdirs(root: String, rel: String): Seq[String] =
    Fs.list(if (rel.isEmpty) root else s"$root/$rel").filter(_.isDirectory).map(_.getPath.getName)

  private def consolidateV2(root: String): Unit = {
    val out = mapper.createObjectNode()
    out.put("zarr_consolidated_format", 1)
    val md = out.putObject("metadata")
    def visit(rel: String): Unit = {
      Seq(".zgroup", ".zarray", ".zattrs").foreach { name =>
        val key = if (rel.isEmpty) name else s"$rel/$name"
        Fs.read(s"$root/$key").foreach(b => md.set[ObjectNode](key, mapper.readTree(b)))
      }
      subdirs(root, rel).foreach { n =>
        val child = if (rel.isEmpty) n else s"$rel/$n"
        if (Fs.exists(s"$root/$child/.zgroup") || Fs.exists(s"$root/$child/.zarray")) visit(child)
      }
    }
    visit("")
    writeMeta(root, ".zmetadata", out)
  }

  private def consolidateV3(root: String): Unit = {
    val rootNode = Fs.read(s"$root/zarr.json").map(mapper.readTree).getOrElse(
      sys.error(s"$root: no root zarr.json to consolidate")).asInstanceOf[ObjectNode]
    val md = mapper.createObjectNode()
    def visit(rel: String): Unit = {
      subdirs(root, rel).foreach { n =>
        val child = s"$rel/$n".stripPrefix("/")
        Fs.read(s"$root/$child/zarr.json").foreach { b =>
          md.set[ObjectNode](child, mapper.readTree(b))
          visit(child)
        }
      }
    }
    visit("")
    val cm = mapper.createObjectNode()
    cm.put("kind", "inline")
    cm.put("must_understand", false)
    cm.set[ObjectNode]("metadata", md)
    rootNode.set[ObjectNode]("consolidated_metadata", cm)
    writeMeta(root, "zarr.json", rootNode)
  }

  /** The consolidated object of each format and its node map: v2
    * `.zmetadata` → `metadata`, v3 root `zarr.json` →
    * `consolidated_metadata.metadata` (MissingNode when absent).
    */
  private def consolidatedFile(v3: Boolean): String =
    if (v3) "zarr.json" else ".zmetadata"
  private def consolidatedMap(n: JsonNode, v3: Boolean): JsonNode =
    if (v3) n.path("consolidated_metadata").path("metadata") else n.path("metadata")

  /** Overwrite one metadata object and drop the root's cached snapshot. */
  private def writeMeta(root: String, rel: String, node: JsonNode): Unit = {
    Fs.write(s"$root/$rel", mapper.writeValueAsBytes(node))
    invalidate(root)
  }

  /** Patch consolidated metadata IN PLACE for the given keys (re-read
    * each from the store; absent keys are removed). Keys are what
    * [[patchShape]] returns: v2 metadata object keys (`X/.zarray`), v3
    * node paths (`X`). The append path uses this so a microbatch costs
    * O(batch) metadata work — a full [[consolidate]] re-walk LISTs every
    * array directory (O(chunk objects) on an object store), which would
    * make a long-running ingest stream quadratic in store size. Falls
    * back to the full walk when the store has no consolidated map yet.
    */
  def patchConsolidated(root: String, keys: Seq[String]): Unit = {
    val v3 = format(root) == 3
    val file = consolidatedFile(v3)
    Fs.read(s"$root/$file").map(mapper.readTree) match {
      case Some(node) if consolidatedMap(node, v3).isObject =>
        val md = consolidatedMap(node, v3).asInstanceOf[ObjectNode]
        keys.filter(_.nonEmpty).distinct.foreach { k =>
          Fs.read(if (v3) s"$root/$k/zarr.json" else s"$root/$k") match {
            case Some(b) => md.set[ObjectNode](k, mapper.readTree(b))
            case None => md.remove(k)
          }
        }
        writeMeta(root, file, node)
      case _ => consolidate(root)
    }
  }

  /** Merge a NESTED STORE's own consolidated metadata into this
    * container root's — the O(subtree metadata) refresh for "a modality
    * grew" (a MuData `mod/<m>`, a SpatialData `tables/<t>`): the append
    * path keeps the nested store's consolidation patched per batch, so
    * the container refresh is two metadata GETs + one PUT. A full
    * [[consolidate]] re-walk LISTs every directory of every member —
    * O(container) — which would make per-batch root refresh quadratic
    * over a stream's life. Falls back to the full walk when either side
    * has no consolidated object yet, or a foreign/malformed one (no
    * object-valued node map) — never a ClassCastException.
    */
  def patchConsolidatedSubtree(root: String, subtree: String): Unit = {
    val pfx = subtree.stripSuffix("/").stripPrefix("/")
    require(pfx.nonEmpty, "patchConsolidatedSubtree needs a non-root subtree")
    val v3 = format(root) == 3
    val file = consolidatedFile(v3)
    (Fs.read(s"$root/$file").map(mapper.readTree),
      Fs.read(s"$root/$pfx/$file").map(mapper.readTree)) match {
      case (Some(rn), Some(sn))
        if consolidatedMap(rn, v3).isObject && consolidatedMap(sn, v3).isObject =>
        val md = consolidatedMap(rn, v3).asInstanceOf[ObjectNode]
        val it = md.fieldNames()
        val stale = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) {
          val k = it.next()
          if (k == pfx || k.startsWith(pfx + "/")) stale += k
        }
        stale.foreach(md.remove)
        if (v3) {
          // the v3 subtree root node itself, WITHOUT its inner
          // consolidation (the container root's map is the single
          // source of truth); v2 keys its .zgroup inside the merge below
          val snLean = sn.deepCopy[ObjectNode]()
          snLean.remove("consolidated_metadata")
          md.set[ObjectNode](pfx, snLean)
        }
        val smd = consolidatedMap(sn, v3)
        val sit = smd.fieldNames()
        while (sit.hasNext) {
          val k = sit.next()
          md.set[ObjectNode](s"$pfx/$k", smd.get(k))
        }
        writeMeta(root, file, rn)
      case _ => consolidate(root)
    }
  }

  /** Rewrite the declared shape of an array node's metadata object IN
    * PLACE (either format) — the O(1) metadata step of the append /
    * truncate paths. Returns the consolidated-metadata patch key for
    * the rewritten object (v2: the `.zarray` file key; v3: the node
    * path, matching [[patchConsolidated]]'s keying).
    */
  def patchShape(root: String, rel: String, shape: Seq[Long]): String = {
    val v3 = format(root) == 3
    val key = if (v3) s"$rel/zarr.json" else s"$rel/.zarray"
    val node = Fs.read(s"$root/$key").map(mapper.readTree).getOrElse(
      sys.error(s"$root/$key: no array metadata to patch")).asInstanceOf[ObjectNode]
    val arr = node.putArray("shape")
    shape.foreach(arr.add)
    Fs.write(s"$root/$key", mapper.writeValueAsBytes(node))
    if (v3) rel else key
  }
}

/** One zarr array (either format): serializable metadata + chunk decode,
  * shippable to executor tasks (each task re-opens the FileSystem for
  * its own chunks). `chunks` is always the DECODE granularity — for v3
  * sharded arrays that is the inner chunk shape, with [[shard]] mapping
  * inner coordinates onto shard objects + index entries.
  */
final case class ZArray(root: String, rel: String, shape: Seq[Long],
                        chunks: Seq[Int], dtype: String,
                        fillNum: Option[Double], fillStr: Option[String],
                        sep: String, compressor: String, vlenUtf8: Boolean,
                        keyPrefix: String = "", codecs: Seq[ZCodec] = Nil,
                        shard: Option[ShardInfo] = None)
    extends Serializable {

  /** numpy dtype string → (kind, element size). '|O' has esize 0. */
  val (kind: Char, esize: Int) = {
    require(dtype.length >= 2, s"$rel: bad dtype '$dtype'")
    val bo = dtype.charAt(0)
    require(bo == '<' || bo == '|', s"$rel: big-endian dtype '$dtype' unsupported")
    val k = dtype.charAt(1)
    if (k == 'O') ('O', 0)
    else {
      val sz = dtype.substring(2).toInt
      require("fiub".contains(k), s"$rel: dtype kind '$k' unsupported")
      (k, sz)
    }
  }

  def rank: Int = shape.length
  def nElems: Long = if (shape.isEmpty) 1L else shape.product
  def chunkElems: Int = if (chunks.isEmpty) 1 else chunks.product

  /** Chunk-grid extents per dimension (inner-chunk grid when sharded). */
  def gridDims: Seq[Int] =
    shape.zip(chunks).map { case (s, c) => ((s + c - 1) / c).toInt }

  /** All chunk coordinates in C order (a 0-d array has one chunk `()`). */
  def gridCoords: Seq[Seq[Int]] =
    gridDims.foldLeft(Seq(Seq.empty[Int])) { (acc, n) =>
      acc.flatMap(g => (0 until n).map(g :+ _))
    }

  def chunkKey(coord: Seq[Int]): String =
    if (coord.isEmpty) { if (keyPrefix.nonEmpty) "c" else "0" }
    else keyPrefix + coord.mkString(sep)

  /** Decompressed bytes of one chunk; None when the backing object (or
    * sharded index entry) is absent — the zarr contract: every element
    * of that chunk is fill_value.
    */
  def readChunk(coord: Seq[Int]): Option[Array[Byte]] = shard match {
    case None =>
      ZarrStore.countDataRead(root)
      Fs.read(s"$root/$rel/${chunkKey(coord)}").map(enc =>
        ZCodec.decode(codecs, enc, chunkElems * math.max(esize, 1)))
    case Some(sh) =>
      ZarrStore.countDataRead(root)
      readSharded(sh, coord)
  }

  private def readSharded(sh: ShardInfo, coord: Seq[Int]): Option[Array[Byte]] = {
    val ips = sh.shardShape.zip(chunks).map { case (s, c) => s / c }
    val sc = coord.zip(ips).map { case (c, n) => c / n }
    val iw = coord.zip(ips).map { case (c, n) => c % n }
    val nInner = ips.product
    val flat = iw.zip(ips).foldLeft(0) { case (acc, (w, n)) => acc * n + w }
    val key = s"$rel/${chunkKey(sc)}"
    ZarrStore.shardIndex(root, key, nInner, sh, shape.head).flatMap { ix =>
      val off = ix(2 * flat)
      val len = ix(2 * flat + 1)
      if (off == -1L && len == -1L) None // 2^64-1: inner chunk absent
      else Some(ZCodec.decode(sh.innerCodecs,
        Fs.readRange(s"$root/$key", off, len.toInt),
        chunkElems * math.max(esize, 1)))
    }
  }

  /** Numeric element range [e0, e1) of a 1-D array as raw bytes (CSR
    * data/indices slices — executor-side, reads only overlapping chunks).
    */
  def readRange1d(e0: Long, e1: Long): Array[Byte] = {
    require(rank == 1 && kind != 'O', s"$rel: readRange1d needs a numeric 1-D array")
    val cl = chunks(0)
    val out = new Array[Byte](((e1 - e0) * esize).toInt)
    val fill = fillBytes
    var c = (e0 / cl).toInt
    val cEndIdx = if (e1 == e0) c else ((e1 - 1) / cl).toInt
    while (c <= cEndIdx) {
      val cStart = c.toLong * cl
      val lo = math.max(e0, cStart)
      val hi = math.min(e1, cStart + cl)
      if (lo < hi) {
        val len = ((hi - lo) * esize).toInt
        val dstOff = ((lo - e0) * esize).toInt
        readChunk(Seq(c)) match {
          case Some(dec) =>
            System.arraycopy(dec, ((lo - cStart) * esize).toInt, out, dstOff, len)
          case None =>
            var i = 0
            while (i < len) { out(dstOff + i) = fill(i % esize); i += 1 }
        }
      }
      c += 1
    }
    out
  }

  /** Typed element ranges of a 1-D array (frame-slot tasks decode only
    * their own `[e0, e1)` slice).
    */
  def readLongs(e0: Long, e1: Long): Array[Long] = {
    val b = ByteBuffer.wrap(readRange1d(e0, e1)).order(ByteOrder.LITTLE_ENDIAN)
    Array.tabulate((e1 - e0).toInt)(k => longAt(b, k))
  }

  def readDoubles(e0: Long, e1: Long): Array[Double] = {
    val b = ByteBuffer.wrap(readRange1d(e0, e1)).order(ByteOrder.LITTLE_ENDIAN)
    Array.tabulate((e1 - e0).toInt)(k => numAt(b, k))
  }

  /** String range of a 1-D vlen-utf8 array: decodes only the chunks
    * overlapping `[e0, e1)` (the vlen frame is chunk-scoped, so a chunk
    * decodes whole; the slice is then cut out).
    */
  def readStrings(e0: Long, e1: Long): Array[String] = {
    require(rank == 1 && kind == 'O', s"$rel: readStrings needs a 1-D string array")
    val cl = chunks(0)
    val out = new Array[String]((e1 - e0).toInt)
    var c = (e0 / cl).toInt
    val cEnd = if (e1 == e0) c else ((e1 - 1) / cl).toInt
    while (c <= cEnd) {
      val cStart = c.toLong * cl
      val lo = math.max(e0, cStart)
      val hi = math.min(e1, cStart + cl)
      if (lo < hi) {
        readChunk(Seq(c)) match {
          case Some(dec) =>
            val strs = decodeVlen(dec)
            var k = lo
            while (k < hi) { out((k - e0).toInt) = strs((k - cStart).toInt); k += 1 }
          case None =>
            var k = lo
            while (k < hi) { out((k - e0).toInt) = fillStr.orNull; k += 1 }
        }
      }
      c += 1
    }
    out
  }

  private def fillBytes: Array[Byte] = {
    val b = ByteBuffer.allocate(math.max(esize, 1)).order(ByteOrder.LITTLE_ENDIAN)
    val v = fillNum.getOrElse(0.0)
    kind match {
      case 'f' if esize == 8 => b.putDouble(v)
      case 'f' => b.putFloat(v.toFloat)
      case _ => esize match {
        case 8 => b.putLong(v.toLong)
        case 4 => b.putInt(v.toInt)
        case 2 => b.putShort(v.toShort)
        case _ => b.put(v.toByte)
      }
    }
    b.array()
  }

  /** Numeric value at byte-element index `k` of a decoded buffer. */
  def numAt(buf: ByteBuffer, k: Int): Double = kind match {
    case 'f' if esize == 8 => buf.getDouble(k * 8)
    case 'f' => buf.getFloat(k * 4).toDouble
    case _ => esize match {
      case 8 => buf.getLong(k * 8).toDouble
      case 4 => buf.getInt(k * 4).toDouble
      case 2 => buf.getShort(k * 2).toDouble
      case _ =>
        if (kind == 'u' || kind == 'b') (buf.get(k) & 0xFF).toDouble
        else buf.get(k).toDouble
    }
  }

  private def longAt(buf: ByteBuffer, k: Int): Long = esize match {
    case 8 => buf.getLong(k * 8)
    case 4 => if (kind == 'u') buf.getInt(k * 4) & 0xFFFFFFFFL else buf.getInt(k * 4).toLong
    case 2 => buf.getShort(k * 2).toLong
    case _ => if (kind == 'u' || kind == 'b') (buf.get(k) & 0xFF).toLong else buf.get(k).toLong
  }

  /** The numcodecs VLenUTF8 frame: u32 item count, then per item a u32
    * byte length + UTF-8 payload.
    */
  private def decodeVlen(dec: Array[Byte]): Array[String] = {
    val b = ByteBuffer.wrap(dec).order(ByteOrder.LITTLE_ENDIAN)
    val n = b.getInt()
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val len = b.getInt()
      val s = new Array[Byte](len)
      b.get(s)
      out(i) = new String(s, java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    out
  }

  /** Full driver-side decode of a 0/1-D array (axis metadata, indptr,
    * categories, uns — driver-sized by the same contract as the HDF5
    * reader's axis frames). Longs for i/u/b kinds, Doubles for f,
    * Strings for object arrays; absent chunks yield fill_value.
    */
  def readFlat(): IndexedSeq[Any] = {
    require(rank <= 1, s"$rel: readFlat is for 0/1-D arrays (rank $rank)")
    val n = nElems.toInt
    val out = new Array[Any](n)
    val cl = if (chunks.isEmpty) 1 else chunks(0)
    gridCoords.foreach { coord =>
      val base = if (coord.isEmpty) 0 else coord(0) * cl
      val m = math.min(cl.toLong, n - base).toInt
      readChunk(coord) match {
        case Some(dec) if kind == 'O' =>
          val strs = decodeVlen(dec)
          var i = 0
          while (i < m) { out(base + i) = strs(i); i += 1 }
        case Some(dec) =>
          val b = ByteBuffer.wrap(dec).order(ByteOrder.LITTLE_ENDIAN)
          var i = 0
          while (i < m) {
            out(base + i) = if (kind == 'f') numAt(b, i) else longAt(b, i)
            i += 1
          }
        case None =>
          val fv: Any =
            if (kind == 'O') fillStr.orNull
            else if (kind == 'f') fillNum.getOrElse(0.0)
            else fillNum.getOrElse(0.0).toLong
          var i = 0
          while (i < m) { out(base + i) = fv; i += 1 }
      }
    }
    out.toIndexedSeq
  }
}
