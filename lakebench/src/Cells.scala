package lakebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.artifact.AnnDataset

/** Seeded cell-by-gene matrices: obs row `i` of matrix `tag` draws its
  * non-zeros (density 5%, values k/4 with k in 1..64) from its own
  * sub-stream, so executors generate rows in parallel and the driver can
  * recompute any closed form from the same function.
  */
object Cells {
  val Density = 0.05

  def xRow(seed: Long, tag: String, i: Int, nVars: Int): IndexedSeq[(Long, Long, Double)] = {
    val r = Rng(seed, s"$tag-x-$i")
    (0 until nVars).flatMap(j => if (r.chance(Density)) Some((i.toLong, j.toLong, (1 + r.int(64)) / 4.0)) else None)
  }

  def x(seed: Long, tag: String, nObs: Int, nVars: Int): IndexedSeq[(Long, Long, Double)] =
    (0 until nObs).flatMap(xRow(seed, tag, _, nVars))

  def obs(seed: Long, tag: String, nObs: Int): IndexedSeq[(Long, String, Long)] =
    (0 until nObs).map(i => (i.toLong, s"$tag-c$i", (i % 8).toLong))

  private val xSchema = StructType(Seq(StructField("obs_id", LongType, false),
    StructField("var_id", LongType, false), StructField("value", DoubleType, false)))

  /** The same matrix built from driver-side rows (no generation inside Spark jobs). */
  def localDataset(spark: SparkSession, seed: Long, tag: String, nObs: Int, nVars: Int): AnnDataset = {
    import scala.jdk.CollectionConverters._
    val obsSchema = StructType(Seq(StructField("obs_id", LongType, false), StructField("obs_name", StringType),
      StructField("batch", LongType)))
    val varSchema = StructType(Seq(StructField("var_id", LongType, false), StructField("var_name", StringType)))
    AnnDataset(
      spark.createDataFrame(obs(seed, tag, nObs).map { case (i, n, b) => Row(i, n, b) }.asJava, obsSchema),
      spark.createDataFrame((0 until nVars).map(j => Row(j.toLong, s"g$j")).asJava, varSchema),
      spark.createDataFrame(x(seed, tag, nObs, nVars).map { case (i, j, v) => Row(i, j, v) }.asJava, xSchema))
  }

  def dataset(spark: SparkSession, seed: Long, tag: String, nObs: Int, nVars: Int, obsOffset: Long): AnnDataset = {
    val slices = math.max(1, math.min(16, nObs / 2000))
    val rows = spark.sparkContext.parallelize(0 until nObs, slices)
      .flatMap(i => xRow(seed, tag, i, nVars).map { case (o, v, x) => Row(o + obsOffset, v, x) })
    AnnDataset(
      spark.range(nObs).select((col("id") + obsOffset).as("obs_id"),
        concat(lit(s"$tag-c"), col("id")).as("obs_name"), (col("id") % 8).as("batch")),
      spark.range(nVars).select(col("id").as("var_id"), concat(lit("g"), col("id")).as("var_name")),
      spark.createDataFrame(rows, xSchema))
  }
}
