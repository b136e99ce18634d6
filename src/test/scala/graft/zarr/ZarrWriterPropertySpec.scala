package graft.zarr

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.artifact.AnnDataset

/** Differential property test of the zarr sink against an in-memory
  * model. Every combination of the X encoding (csr, dense), the
  * committed prefix `n0` (empty, mid-chunk, chunk-aligned) and the batch
  * size (empty, one row, several chunks) runs once, cycling through the
  * store flavors (v2, v3 at shardFactor 1/2/4); chunk lengths, the var
  * count and the value salt are drawn from a fixed seed. Each case checks
  * that write(prefix) + appendRows(rest) reads back as the model and as a
  * one-shot write, and that truncateTo restores the prefix read-back.
  */
class ZarrWriterPropertySpec extends AnyFunSuite {
  import ZarrWriterPropertySpec.Case

  private lazy val spark = TestSpark.spark

  private val genSizes = for {
    ce <- Gen.choose(4, 64)
    fcl <- Gen.choose(4, 64)
    k <- Gen.choose(1, 3)
    nVar <- Gen.choose(2, 6)
    salt <- Gen.choose(0, 999)
  } yield (ce, fcl, k, nVar, salt)

  /** The 18 cases, the same on every run. */
  private val cases: Seq[Case] = {
    val formats = Seq((false, 1), (true, 1), (true, 2), (true, 4)) // (v3, shardFactor)
    val seeds = Iterator.iterate(Seed(20261017L))(_.next)
    val axes = for {
      dense <- Seq(false, true)
      n0Kind <- 0 until 3  // empty, mid-chunk, chunk-aligned
      addKind <- 0 until 3 // empty, one row, several chunks
    } yield (dense, n0Kind, addKind)
    axes.zipWithIndex.map { case ((dense, n0Kind, addKind), i) =>
      val (ce, fcl, k, nVar, salt) = genSizes.pureApply(Gen.Parameters.default, seeds.next())
      val (v3, sf) = formats(i % formats.size)
      val n0 = Seq(0, k * fcl + 1 + fcl / 3, k * fcl)(n0Kind)
      val nAdd = Seq(0, 1, 2 * fcl + 1 + k)(addKind)
      Case(v3, sf, dense, ce, fcl, n0, nAdd, nVar, salt)
    }
  }

  // ---- the model: closed forms of global row g, per case salt

  private val big = (1L << 53) + 1 // odd offsets past 2^53 are not Doubles

  private def name(c: Case, g: Long): String = if ((g + c.salt) % 7 == 0) null else s"c$g"
  private def flag(c: Case, g: Long): java.lang.Boolean =
    if ((g + c.salt) % 3 == 0) null else java.lang.Boolean.valueOf(g % 2 == 0)
  private def cat(c: Case, g: Long): String =
    if ((g + c.salt) % 5 == 0) null else s"k${(g / 16 + c.salt) % 6}"
  private def hit(c: Case, g: Long, j: Long) = (g * 3 + j * 5 + c.salt) % 4 == 0
  private def value(c: Case, g: Long, j: Long) = ((g * 11 + j * 13 + c.salt) % 29) * 0.5 + 0.25

  /** What the reader returns for rows [0, n): null strings store the vlen
    * empty string, null booleans 0, null categories stay null.
    */
  private def modelObs(c: Case, n: Int): Seq[(Long, String, Long, Long, String)] =
    (0 until n).map { i =>
      val g = i.toLong
      (g, Option(name(c, g)).getOrElse(""),
        if (flag(c, g) == java.lang.Boolean.TRUE) 1L else 0L, big + 3 * g, cat(c, g))
    }

  private def modelX(c: Case, n: Int): Seq[(Long, Long, Double)] =
    for {
      g <- 0L until n.toLong; j <- 0L until c.nVar.toLong
      if c.dense || hit(c, g, j)
    } yield (g, j, if (hit(c, g, j)) value(c, g, j) else 0.0)

  // ---- Spark inputs for global rows [lo, hi), obs_id local to the slice

  private val obsSchema = StructType(Seq(
    StructField("obs_id", LongType, nullable = false), StructField("obs_name", StringType),
    StructField("flag", BooleanType), StructField("big", LongType), StructField("cat", StringType)))
  private val xSchema = StructType(Seq(StructField("obs_id", LongType, nullable = false),
    StructField("var_id", LongType, nullable = false), StructField("value", DoubleType, nullable = false)))

  private def slice(c: Case, lo: Int, hi: Int): (DataFrame, DataFrame) = {
    val obs = (lo until hi).map { i =>
      val g = i.toLong
      Row(g - lo, name(c, g), flag(c, g), big + 3 * g, cat(c, g))
    }
    val x = for {
      i <- lo until hi; j <- 0 until c.nVar if hit(c, i.toLong, j.toLong)
    } yield Row((i - lo).toLong, j.toLong, value(c, i.toLong, j.toLong))
    (spark.createDataFrame(obs.asJava, obsSchema), spark.createDataFrame(x.asJava, xSchema))
  }

  private def write(c: Case, path: String, lo: Int, hi: Int): Unit = {
    val (obs, x) = slice(c, lo, hi)
    val vars = spark.createDataFrame((0 until c.nVar).map(j => Row(j.toLong, s"g$j")).asJava,
      StructType(Seq(StructField("var_id", LongType, nullable = false),
        StructField("var_name", StringType))))
    AnnZarrWriter.write(AnnDataset(obs, vars, x), path, chunkElems = c.chunkElems, v3 = c.v3,
      shardFactor = c.shardFactor, frameChunkLen = c.frameChunkLen,
      denseSlots = if (c.dense) Set("X") else Set.empty, categoricalCols = Set("obs/cat"))
  }

  private type Snapshot = (Seq[(Long, String, Long, Long, String)], Seq[(Long, Long, Double)])

  private def readBack(path: String): Snapshot = {
    val ds = AnnZarr.open(spark, path)
    (ds.obs.orderBy("obs_id").collect().toSeq.map(r => (r.getAs[Long]("obs_id"),
      r.getAs[String]("obs_name"), r.getAs[Long]("flag"), r.getAs[Long]("big"),
      r.getAs[String]("cat"))),
      ds.x.orderBy("obs_id", "var_id").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
  }

  /** Fails with the first differing row instead of both read-backs. */
  private def same(got: Snapshot, want: Snapshot, what: String): Unit = {
    def firstDiff[T](a: Seq[T], b: Seq[T]): String =
      a.zipAll(b, null, null).find { case (x, y) => x != y }.fold("")(d => s" at $d")
    if (got != want) fail(s"$what: obs${firstDiff(got._1, want._1)} x${firstDiff(got._2, want._2)}")
  }

  test("write(prefix) + appendRows(rest) == model == one-shot write; truncateTo restores the prefix") {
    // every store flavor serves both encodings
    assert(cases.map(c => (c.v3, c.shardFactor, c.dense)).distinct.size == 8)
    val dir = TestSpark.tmpDir("graft_zprop")
    cases.zipWithIndex.foreach { case (c, i) =>
      val n1 = c.n0 + c.nAdd
      val grown = s"$dir/$i-grown.zarr"
      write(c, grown, 0, c.n0)
      val prefix = readBack(grown)
      same(prefix, (modelObs(c, c.n0), modelX(c, c.n0)), s"$c: prefix read-back")
      val nnz0 = if (c.dense) c.n0.toLong else ZarrStore.openArray(grown, "X/data").shape.head
      val (obs1, x1) = slice(c, c.n0, n1)
      AnnZarrWriter.appendRows(obs1, x1, grown)
      val got = readBack(grown)
      same(got, (modelObs(c, n1), modelX(c, n1)), s"$c: write + append != model")
      val oneShot = s"$dir/$i-oneshot.zarr"
      write(c, oneShot, 0, n1)
      same(readBack(oneShot), got, s"$c: write + append != one-shot write")
      AnnZarrWriter.truncateTo(grown, c.n0, nnz0)
      same(readBack(grown), prefix, s"$c: truncateTo did not restore the prefix")
    }
  }
}

object ZarrWriterPropertySpec {
  final case class Case(v3: Boolean, shardFactor: Int, dense: Boolean, chunkElems: Int,
                        frameChunkLen: Int, n0: Int, nAdd: Int, nVar: Int, salt: Int)
}
