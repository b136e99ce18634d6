package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Threshold-boundary recall contract for the banded embedding LSH
  * (e11, `Dedup.embeddingCosinePairsLSHBanded`) — the planted-cluster
  * recall contract of `RecallContractSpec` pointed at the hyperplane-LSH
  * sampling trade (round-15 verdict ask #4).
  *
  * The adaptive band width w (`Similarity.lshBandBits`: 2^w ≥ 16n)
  * keeps candidates linear by making boundary-cosine pairs a SAMPLE:
  * a pair at cosine c agrees on one hyperplane sign with
  * p = 1 − arccos(c)/π, on a w-bit band with p^w, and surfaces with
  * closed-form probability 1 − (1 − p^w)^bands. Exact duplicates
  * (c = 1, identical band keys) must ALWAYS surface.
  *
  * Protocol: for each cosine level, take `nBases` deterministic base
  * vectors and plant one partner at EXACTLY that cosine — partner =
  * |v|·(c·v̂ + √(1−c²)·ŵ) with ŵ a deterministic unit vector
  * orthogonalized against v̂, so cos(v, partner) = c up to float
  * storage (~1e-7, far inside the 0.001 margin the levels keep from
  * the 0.95 threshold). Levels: 1.0 (exact-dup contract), then
  * boundary samples above threshold, plus one level BELOW threshold
  * whose planted pairs must never reach the output (the exact-cosine
  * verify step is the precision guarantee, independent of banding).
  *
  * Contract assertions (`check`):
  *  - exact-dup surfaced fraction == 1.0;
  *  - below-threshold planted pairs in the output == 0;
  *  - each boundary level's surfaced fraction within
  *    max(0.08, 5σ) of the closed form (σ = binomial error at nBases).
  *
  * The core is `run`/`check` so the contract is BOTH a scale tool
  * (sf1.0/sf10 via `main`, adaptive w differs — the contract holds at
  * both widths; JSON lines recorded in SCALING.md) and a per-commit
  * spec (RecallContractSpec at the sf0.001 fixture, round-16 verdict
  * ask #3 — a change to `lshBandBits`/band planning can't silently
  * degrade recall between probe runs).
  */
object EmbRecallContract {
  /** One planted cosine level's outcome vs the closed form. */
  case class LevelRow(level: Int, cosine: Double, above: Boolean,
      observed: Double, closedForm: Double)

  case class Result(nVecs: Long, nCorpus: Long, bandBits: Int, bands: Int,
      nBases: Int, rows: Seq[LevelRow], secs: Double)

  /** (level index, exact cosine, aboveThreshold) for threshold 0.95. */
  val DefaultLevels: Seq[(Int, Double, Boolean)] =
    Seq((1, 1.0, true), (2, 0.98, true), (3, 0.96, true),
      (4, 0.951, true), (5, 0.93, false))

  /** Deterministic unit vector orthogonal to v̂ (shader-style hash for
    * the raw direction; no Random so reruns are bit-stable). */
  private def orthoUnit(id: Long, v: Array[Double]): Array[Double] = {
    val dim = v.length
    val nv = math.sqrt(v.map(x => x * x).sum)
    val vh = v.map(_ / nv)
    val w0 = Array.tabulate(dim) { d =>
      val x = math.sin(id * 12.9898 + d * 78.233) * 43758.5453
      x - math.floor(x) - 0.5
    }
    val proj = (0 until dim).map(d => w0(d) * vh(d)).sum
    val w = Array.tabulate(dim)(d => w0(d) - proj * vh(d))
    val nw = math.sqrt(w.map(x => x * x).sum)
    w.map(_ / nw)
  }

  /** Plant partners at each level's exact cosine and measure surfaced
    * fractions through the production banded-LSH path.
    *
    * @param emb `(vec_id: long, embedding: array<float>)`, all ids below
    *            `TextQueries.DupOffset` (required — plants live above it)
    */
  def run(spark: SparkSession, emb: DataFrame, threshold: Double = 0.95,
      bands: Int = 4, maxBases: Int = 1000,
      levels: Seq[(Int, Double, Boolean)] = DefaultLevels): Result = {
    import spark.implicits._
    val off = graft.queries.TextQueries.DupOffset

    val nVecs = emb.count()
    // floor at 1: fixtures under 10 vectors used to make nBases 0 and
    // step = nVecs/0 throw (round-16 ADVICE); a 1-base contract is
    // degenerate but defined
    require(nVecs > 0, "recall contract needs a non-empty embedding table")
    val nBases = math.max(1L, math.min(maxBases.toLong, nVecs / 10)).toInt
    val step = math.max(1L, nVecs / nBases)

    val bases = emb.filter(col("vec_id") % step === 0)
      .as[(Long, Array[Float])].collect().sortBy(_._1).take(nBases)

    // per-level plant-id stride: the smallest power of 10 above every
    // CORPUS id (floored at 10^7), so level-l ids can never collide with
    // level-(l+1) ids at corpora past 10M vectors (round-16 ADVICE:
    // the fixed 10^7 stride silently corrupted counts above that).
    // Both the offset guard and the stride derive from the TRUE max id
    // over the whole table, not the max of the sampled bases: a corpus
    // id >= off that sampling skipped (not divisible by step, or cut by
    // take(nBases)) could otherwise collide with planted-partner ids —
    // the exact failure the guard claims to reject (r17 ADVICE)
    val maxCorpusId = emb.agg(max(col("vec_id"))).head.getLong(0)
    require(maxCorpusId < off,
      s"vec_id space reaches the plant offset $off — contract ids would collide")
    val stride = Iterator.iterate(10000000L)(_ * 10).dropWhile(_ <= maxCorpusId).next()
    def plantId(lvl: Int, id: Long): Long = off + lvl * stride + id

    val plants: Seq[(Long, Array[Float])] = for {
      (lvl, c, _) <- levels
      (id, vf) <- bases
    } yield {
      val v = vf.map(_.toDouble)
      if (c == 1.0) (plantId(lvl, id), vf)
      else {
        val nv = math.sqrt(v.map(x => x * x).sum)
        val vh = v.map(_ / nv)
        val wh = orthoUnit(id, v)
        val s = math.sqrt(1.0 - c * c)
        (plantId(lvl, id),
          Array.tabulate(v.length)(d => (nv * (c * vh(d) + s * wh(d))).toFloat))
      }
    }

    val corpus = emb.unionByName(plants.toDF("vec_id", "embedding"))
    val nCorpus = nVecs + plants.size
    val w = graft.ext.Similarity.lshBandBits(nCorpus)

    val t0 = System.nanoTime()
    val out = graft.ext.Dedup.embeddingCosinePairsLSHBanded(
        corpus, "vec_id", "embedding", dim = 64, threshold = threshold, bands = bands)
      .filter(col("id_b") >= off) // planted partners only — keeps the collect tiny
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val secs = (System.nanoTime() - t0) / 1e9

    def closedForm(c: Double): Double = {
      val p = 1.0 - math.acos(c) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, w), bands)
    }

    val rows = levels.map { case (lvl, c, above) =>
      val surfaced = bases.count { case (id, _) => out((id, plantId(lvl, id))) }
      LevelRow(lvl, c, above, surfaced.toDouble / bases.length,
        if (above) closedForm(c) else 0.0)
    }
    Result(nVecs, nCorpus, w, bands, bases.length, rows, secs)
  }

  /** The contract assertions; throws with a named level on violation. */
  def check(res: Result): Unit = res.rows.foreach { r =>
    if (r.cosine == 1.0)
      require(r.observed == 1.0,
        f"EMB RECALL CONTRACT: exact dups ${r.observed}%.4f != 1.0")
    else if (!r.above)
      require(r.observed == 0.0,
        f"EMB RECALL CONTRACT: below-threshold pairs leaked (level ${r.level}: ${r.observed}%.4f)")
    else {
      val sigma = math.sqrt(r.closedForm * (1 - r.closedForm) / res.nBases)
      val tol = math.max(0.08, 5 * sigma)
      require(math.abs(r.observed - r.closedForm) <= tol,
        f"EMB RECALL CONTRACT: c=${r.cosine}%.3f observed ${r.observed}%.4f " +
          f"vs closed form ${r.closedForm}%.4f (tol $tol%.4f)")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-local/sf1.0"
    val spark = graft.core.Session.local(32)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val res = run(spark, emb)

    val levelJson = res.rows.map { r =>
      f""""c${r.cosine}%.3f":{"observed":${r.observed}%.4f,""" +
        f""""closed_form":${r.closedForm}%.4f,"above_threshold":${r.above}}"""
    }.mkString("{", ",", "}")
    println(s"""{"sf_dir":"$sfDir","n_vecs":${res.nVecs},"n_corpus":${res.nCorpus},""" +
      f""""bands":${res.bands},"band_bits":${res.bandBits},"n_bases":${res.nBases},""" +
      f""""levels":$levelJson,"secs":${res.secs}%.1f}""")

    check(res)
    spark.stop()
  }
}
