package graft.artifact.datasource

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

import graft.h5.datasource.{FrameRangePartition, H5adFrame}

/** One anndata container behind the DataSource V2 shell ([[AnnSource]]):
  * its slot schema, its partition planner and its partition readers.
  */
private[graft] trait AnnFormat extends Serializable {
  /** The source's short name ("h5ad", "zarr"). */
  def name: String

  /** Schema of `slot`: a `dataframe` group's own columns, else the
    * matrix's axis columns + `value`. `axes` renames a dense slot's axes.
    */
  def schema(path: String, slot: String, axes: Option[String]): StructType

  def plan(scan: AnnScan): Array[InputPartition]

  def reader(partition: InputPartition, required: StructType): PartitionReader[InternalRow]
}

/** DataSource V2 shell shared by the `h5ad` and `zarr` sources:
  * `spark.read.format(name).option("slot", …).load(path)` yields the COO
  * view `(obs_id, var_id, value)` of a matrix slot (default `X`) or the
  * columns of a `dataframe` slot. The shell owns the read options
  * (`slot`, `targetRowsPerTask`, `targetElemsPerTask`), filter and column
  * pushdown, row-range sizing and frame partitioning; the [[AnnFormat]]
  * plans matrix slots on the container's own layout and reads them.
  * Pushed min/max bounds on the axis columns prune chunks or row ranges
  * before any byte is read; every filter is also left for Spark to
  * re-evaluate, so pushdown is purely an I/O optimization.
  */
abstract class AnnSource(format: AnnFormat) extends TableProvider with DataSourceRegister {
  override def shortName(): String = format.name

  private def path(options: JMap[String, String]): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(s"${format.name} source requires a path"))
  private def slot(options: JMap[String, String]): String =
    Option(options.get("slot")).getOrElse("X")

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema(path(options), slot(options), Option(options.get("axes")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new AnnTable(format, path(properties), slot(properties), schema)
}

object AnnSource {
  /** The COO schema of a matrix slot. */
  val Schema: StructType = StructType(Seq(
    StructField("obs_id", LongType, nullable = false),
    StructField("var_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

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

private final class AnnTable(format: AnnFormat, path: String, slot: String, tschema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"${format.name}:$path!$slot"
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AnnScanBuilder(format, path, slot, tschema, options)
}

private final class AnnScanBuilder(format: AnnFormat, path: String, slot: String,
                                   tschema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = tschema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Keep every filter for Spark to re-evaluate; retain min/max bounds
    * for chunk and range pruning.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new AnnScan(format, path, slot, tschema, required, AnnSource.bounds(pushed), options)
}

/** One planned read of a slot: what [[AnnFormat.plan]] sees. */
final class AnnScan private[datasource] (
    format: AnnFormat, val path: String, val slot: String, val tschema: StructType,
    required: StructType, val colBounds: Map[String, (Long, Long)],
    val options: CaseInsensitiveStringMap) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${format.name} $path!$slot bounds=$colBounds cols=${required.fieldNames.mkString(",")}"

  private val targetRows = options.getLong("targetRowsPerTask", 1L << 20)
  private val targetElems = options.getLong("targetElemsPerTask", 4L << 20)

  /** Row ranges sized by rows and elements, pruned by the bounds on `idCol`. */
  def rowRanges(nRows: Long, nElems: Long, idCol: String): Seq[(Long, Long)] =
    AnnSource.rowRanges(nRows, nElems, targetRows, targetElems, colBounds(idCol))

  /** A `dataframe` slot's partitions: row ranges pruned by pushed row-id
    * bounds; tasks decode only their slice of each projected column.
    */
  def frameRanges(info: H5adFrame.FrameInfo): Array[InputPartition] =
    rowRanges(info.n, 0L, info.rowIdName).map { case (r0, r1) =>
      FrameRangePartition(path, slot, r0, r1, info.specs.toArray): InputPartition
    }.toArray

  override def planInputPartitions(): Array[InputPartition] = format.plan(this)

  override def createReaderFactory(): PartitionReaderFactory =
    new AnnReaderFactory(format, required)
}

private final class AnnReaderFactory(format: AnnFormat, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    format.reader(partition, required)
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
