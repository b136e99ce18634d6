package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}

import graft.artifact.AnnDataset
import graft.core.Fs

/** SpatialData-on-zarr SINK — the write half of [[SpatialZarr]],
  * emitting the public spatialdata store layout (zarr v2 + NGFF): root
  * attrs carry `spatialdata_attrs` (the reference's detection key,
  * `core/storage/_backed_access.py:118`), `tables/` holds AnnData
  * groups (each routed through the executor-parallel
  * [[AnnZarrWriter]]), `points/` holds NGFF points elements (a parquet
  * dataset Spark writes DISTRIBUTED + zarr attrs), and `images/` /
  * `labels/` hold NGFF multiscales pyramids whose level arrays are
  * written executor-parallel from COO (one shuffle groups elements by
  * chunk object; each task zero-fills, packs the element dtype, and
  * writes its own object — absent chunks stay absent and read as
  * fill 0).
  *
  * Pyramid levels downsample by POWER-OF-TWO STRIDE on the spatial
  * axes (level k keeps coordinates divisible by 2^k): cheap, exact,
  * and expressible as a closed form the oracles replay; NGFF permits
  * any downsampling method, recorded in the per-level scale transform.
  */
object SpatialZarrWriter {

  /** One NGFF image/labels element: COO with one column per axis plus
    * `value`; `axes` orders the columns (a `c` axis is channel-typed
    * and never downsampled); `dtype` ∈ |u1, <i4, <f8.
    */
  final case class ImageSpec(coo: DataFrame, axes: Seq[String],
                             shape: Seq[Long], chunks: Seq[Int],
                             dtype: String = "|u1", levels: Int = 1)

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def zgroup(path: String, rel: String, attrs: Option[String]): Unit = {
    val pfx = if (rel.isEmpty) "" else s"$rel/"
    Fs.write(s"$path/$pfx.zgroup", """{"zarr_format":2}""".getBytes(UTF_8))
    attrs.foreach(a => Fs.write(s"$path/$pfx.zattrs", a.getBytes(UTF_8)))
  }

  private def esize(dtype: String): Int = dtype match {
    case "|u1" | "|i1" => 1
    case "<i4" => 4
    case "<f8" => 8
    case other => throw new UnsupportedOperationException(s"image dtype $other")
  }

  /** Rank-N dense executor-parallel chunk write (the write twin of the
    * `zarr` source's dense chunk reader): elements group on their C-order
    * chunk object id, each task packs + zlib-encodes its object.
    */
  private def writeDenseNd(path: String, rel: String, coo: DataFrame,
                           axes: Seq[String], shape: Seq[Long],
                           chunks: Seq[Int], dtype: String): Unit = {
    require(axes.size == shape.size && shape.size == chunks.size,
      s"$rel: axes/shape/chunks rank mismatch")
    Fs.write(s"$path/$rel/.zarray",
      (s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],""" +
        s""""chunks":[${chunks.mkString(",")}],"dtype":${jstr(dtype)},""" +
        """"order":"C","fill_value":0,"filters":null,""" +
        """"dimension_separator":".","compressor":{"id":"zlib","level":5}}""").getBytes(UTF_8))
    if (shape.contains(0L)) return
    val grid = shape.zip(chunks).map { case (s, c) => ((s + c - 1) / c).toInt }
    require(grid.map(_.toLong).product <= Int.MaxValue,
      s"$rel: chunk grid ${grid.mkString("x")} overflows the object id space")
    val rank = shape.size
    val spark = coo.sparkSession
    val sel = axes.map(a => col(a).cast("long")) :+ col("value").cast("double")
    val gridC = grid; val chunksC = chunks.toArray; val rankC = rank
    val dtypeC = dtype; val pathC = path; val relC = rel
    val shapeC = shape.toArray
    val es = esize(dtype)
    coo.select(sel: _*)
      .rdd
      .map { row =>
        val coords = Array.tabulate(rankC)(row.getLong)
        var c = 0
        while (c < rankC) {
          require(coords(c) >= 0 && coords(c) < shapeC(c),
            s"$relC: coordinate ${coords(c)} on axis $c out of [0, ${shapeC(c)})")
          c += 1
        }
        var obj = 0
        var i = 0
        while (i < rankC) { obj = obj * gridC(i) + (coords(i) / chunksC(i)).toInt; i += 1 }
        (obj, (coords, row.getDouble(rankC)))
      }
      .groupByKey(math.max(1, spark.sparkContext.defaultParallelism))
      .foreach { case (obj, it) =>
        // decompose the C-order object id back into grid coords
        val gc = new Array[Int](rankC)
        var rem = obj
        var i = rankC - 1
        while (i >= 0) { gc(i) = rem % gridC(i); rem /= gridC(i); i -= 1 }
        val chunkElems = chunksC.product
        val buf = new Array[Double](chunkElems) // zero-filled = fill_value
        it.foreach { case (coords, v) =>
          var k = 0
          var j = 0
          while (j < rankC) {
            k = k * chunksC(j) + (coords(j) - gc(j).toLong * chunksC(j)).toInt
            j += 1
          }
          buf(k) = v
        }
        val bb = ByteBuffer.allocate(chunkElems * es).order(ByteOrder.LITTLE_ENDIAN)
        dtypeC match {
          case "|u1" | "|i1" => buf.foreach(v => bb.put(v.toByte))
          case "<i4" => buf.foreach(v => bb.putInt(v.toInt))
          case _ => buf.foreach(bb.putDouble)
        }
        Fs.write(s"$pathC/$relC/${gc.mkString(".")}",
          AnnZarrWriter.zlibEncode(bb.array()))
      }
  }

  private def multiscalesAttrs(spec: ImageSpec, labels: Boolean): String = {
    val axesJson = spec.axes.map { a =>
      val t = if (a == "c") "channel" else "space"
      s"""{"name":${jstr(a)},"type":${jstr(t)}}"""
    }.mkString("[", ",", "]")
    val datasets = (0 until spec.levels).map { k =>
      val scale = spec.axes
        .map(a => if (a == "c") "1.0" else s"${(1L << k).toDouble}")
        .mkString("[", ",", "]")
      s"""{"path":${jstr(k.toString)},"coordinateTransformations":""" +
        s"""[{"type":"scale","scale":$scale}]}"""
    }.mkString("[", ",", "]")
    s"""{"multiscales":[{"version":"0.4","axes":$axesJson,""" +
      s""""datasets":$datasets}]""" +
      (if (labels) ""","image-label":{"version":"0.4"}""" else "") + "}"
  }

  private def writePyramid(path: String, kind: String, name: String,
                           spec: ImageSpec, labels: Boolean): Unit = {
    zgroup(path, s"$kind/$name", Some(multiscalesAttrs(spec, labels)))
    (0 until spec.levels).foreach { k =>
      val stride = 1L << k
      // ceil, not floor: stride downsampling keeps coordinates divisible
      // by 2^k, so an odd extent s yields ceil(s/stride) samples — floor
      // would place the last kept sample AT the declared extent.
      val lvlShape = spec.axes.zip(spec.shape).map { case (a, s) =>
        if (a == "c") s else (s + stride - 1) / stride
      }
      val lvl =
        if (k == 0) spec.coo
        else {
          // stride downsampling: keep coordinates divisible by 2^k on
          // the spatial axes, shift them down — exact and map-only
          val spatial = spec.axes.filter(_ != "c")
          val kept = spatial.foldLeft(spec.coo)((df, a) =>
            df.filter(col(a) % stride === 0))
          spec.axes.foldLeft(kept)((df, a) =>
            if (a == "c") df else df.withColumn(a, col(a) / stride))
        }
      writeDenseNd(path, s"$kind/$name/$k", lvl, spec.axes, lvlShape,
        spec.chunks, spec.dtype)
    }
  }

  /** Write a SpatialData store. Points attrs derive from the frame:
    * the double-typed coordinate columns (in column order) become the
    * NGFF axes, the first string column the `feature_key`.
    */
  def write(spark: org.apache.spark.sql.SparkSession, path: String,
            tables: Map[String, AnnDataset] = Map.empty,
            points: Map[String, DataFrame] = Map.empty,
            images: Map[String, ImageSpec] = Map.empty,
            labels: Map[String, ImageSpec] = Map.empty,
            chunkElems: Int = 65536): Unit = {
    Fs.delete(path)
    ZarrStore.invalidate(path)
    zgroup(path, "", Some(
      """{"spatialdata_attrs":{"spatialdata_software_version":"0.2.0"}}"""))
    if (tables.nonEmpty) {
      zgroup(path, "tables", None)
      tables.toSeq.sortBy(_._1).foreach { case (t, ds) =>
        AnnZarrWriter.write(ds, s"$path/tables/$t", chunkElems)
      }
    }
    if (points.nonEmpty) {
      zgroup(path, "points", None)
      points.toSeq.sortBy(_._1).foreach { case (p, df) =>
        val coords = df.schema.fields.collect {
          case f if f.dataType == DoubleType || f.dataType == FloatType => f.name
        }.toSeq
        require(coords.nonEmpty, s"points/$p: no double coordinate columns")
        val feature = df.schema.fields.collectFirst {
          case f if f.dataType == StringType => f.name
        }
        zgroup(path, s"points/$p", Some(
          s"""{"encoding-type":"ngff:points","axes":[${coords.map(jstr).mkString(",")}],""" +
            s""""spatialdata_attrs":{""" +
            feature.map(fk => s""""feature_key":${jstr(fk)},""").getOrElse("") +
            s""""version":"0.1"}}"""))
        df.write.mode("overwrite").parquet(s"$path/points/$p/points.parquet")
      }
    }
    if (images.nonEmpty) {
      zgroup(path, "images", None)
      images.toSeq.sortBy(_._1).foreach { case (nm, spec) =>
        writePyramid(path, "images", nm, spec, labels = false)
      }
    }
    if (labels.nonEmpty) {
      zgroup(path, "labels", None)
      labels.toSeq.sortBy(_._1).foreach { case (nm, spec) =>
        writePyramid(path, "labels", nm, spec, labels = true)
      }
    }
    // one container-level consolidated metadata object
    ZarrStore.consolidate(path)
  }
}
