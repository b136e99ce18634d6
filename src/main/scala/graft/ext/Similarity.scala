package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k (broadcast the query set, one pass
  * over the corpus — the scalable shape when |queries| << |corpus|).
  * Scale path: random-hyperplane LSH bucketing so candidate generation
  * shuffles once on the bucket key instead of computing n×m cosines.
  * Everything is built from codegen'd higher-order functions
  * (`zip_with`/`aggregate`) — no UDFs in the hot path.
  */
object Similarity {

  /** Σ aᵢ·bᵢ — a native codegen expression (`graft.functions.DotProduct`)
    * with the same left-to-right summation order as the `zip_with` fold
    * it replaced, so existing oracle results are unchanged.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dot(a, b)

  /** The previous pure-composition form, kept for reference/tests. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  // NOTE (measured): unrolling the dot as 64 element_at products is ~4×
  // SLOWER than the zip_with fold — the giant expression tree falls out
  // of whole-stage codegen. The native DotProduct expression beats both.

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Broadcast hint gated on the optimizer's size estimate for the side:
    * under the session's `autoBroadcastJoinThreshold` (scaled by `fanout`
    * for sides about to be exploded) the hint pins the efficient
    * broadcast plan; over it the hint is DROPPED so the planner/AQE can
    * fall back to a shuffle join instead of OOMing an executor on an
    * unbounded query set at scale. A disabled threshold (-1, or any
    * value <= 0) admits nothing.
    */
  private def gatedBroadcast(df: DataFrame, fanout: Long = 1L): DataFrame = {
    val conf = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    val thresh = if (conf.startsWith("-")) 0L
                 else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes * fanout
    if (thresh > 0 && est <= thresh) broadcast(df) else df
  }

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows (self excluded when ids collide). Queries are broadcast; the
    * corpus is scanned once; ranking is a per-query window.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    val sims = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("cvec"), col("qvec")) / (col("cnorm") * col("qnorm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("sim"), 6).desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane i, dim j):
    * a fixed integer mix mapped into [-0.5, 0.5). Keeps the LSH signature
    * reproducible across runs and cluster sizes with zero stored state.
    */
  private def planeCoef(i: Int, j: Int): Double = {
    val h = (i.toLong * 1315423911L) ^ (j.toLong * 2654435761L)
    val mixed = ((h ^ (h >>> 31)) * 0x9E3779B97F4A7C15L) >>> 11
    (mixed % 1000000L).toDouble / 1000000.0 - 0.5
  }

  /** nBits-bit random-hyperplane signature of a vector column.
    *
    * Expression form, kept for composability with arbitrary Columns —
    * but note it unrolls to nBits x dim terms, and past ~500 terms the
    * janino compile cost dominates small inputs. The hot paths
    * (`lshTopK`) use `withSignatures`, a mapPartitions kernel computing
    * the same bits from the same `planeCoef` grid.
    */
  def lshSignature(vec: Column, dim: Int, nBits: Int = 16): Column =
    (0 until nBits).map { i =>
      val proj = (0 until dim).map(j =>
        element_at(vec, j + 1).cast("double") * lit(planeCoef(i, j))).reduce(_ + _)
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** (id, vec) -> (id, vec-as-double, norm, bucket) via a primitive-loop
    * kernel over the deterministic `planeCoef` hyperplane grid. Identical
    * bits to `lshSignature`; no giant expression tree to codegen.
    */
  private[ext] def withSignatures(df: DataFrame, idCol: String, vecCol: String,
                                  dim: Int, nBits: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val planes = Array.tabulate(nBits, dim)(planeCoef)
    df.select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          var nrm = 0.0
          var j = 0
          while (j < v.length) { nrm += v(j) * v(j); j += 1 }
          var sig = 0L
          var i = 0
          while (i < nBits) {
            val p = planes(i)
            var proj = 0.0
            var d = 0
            while (d < dim) { proj += v(d) * p(d); d += 1 }
            if (proj > 0) sig |= (1L << i)
            i += 1
          }
          (id, v, math.sqrt(nrm), sig)
        }
      }
      .toDF(idCol, vecCol, "nrm", "bucket")
  }

  /** Adaptive per-band signature width for banded hyperplane LSH — the
    * `simhashBandPlan` rule applied to embedding buckets: smallest w with
    * `2^w >= loadFactor·n`, so expected bucket load stays ≤ 1/loadFactor
    * and background candidate pairs stay ~linear in n. The sf100 probe
    * measured the fixed-width alternative's failure: e05's pinned 8-bit
    * signature is 256 buckets forever, so candidate pairs grow n²/256 —
    * 32× the wall for 10× the vectors at the third decade. Integer-exact
    * (oracle-replayable).
    */
  def lshBandBits(n: Long, minBits: Int = 8, maxBits: Int = 40,
                  loadFactor: Long = 16L): Int =
    (minBits to maxBits).find(w => (1L << w) >= loadFactor * n).getOrElse(maxBits)

  /** Banded signature kernel: band b's key is bitsPerBand hyperplane sign
    * bits from planes [b·w, (b+1)·w) of the same deterministic
    * `planeCoef` grid (bands use DISJOINT plane sets, so band keys are
    * independent). Returns (id, e, nrm, keys[bands]) — the minhash-LSH
    * banding shape applied to embeddings.
    */
  private[ext] def withBandKeys(df: DataFrame, idCol: String, vecCol: String,
                                dim: Int, bands: Int, bitsPerBand: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val planes = Array.tabulate(bands * bitsPerBand, dim)(planeCoef)
    df.select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.map { case (id, v) =>
          var nrm = 0.0
          var j = 0
          while (j < v.length) { nrm += v(j) * v(j); j += 1 }
          val keys = new Array[Long](bands)
          var b = 0
          while (b < bands) {
            var key = 0L
            var i = 0
            while (i < bitsPerBand) {
              val p = planes(b * bitsPerBand + i)
              var proj = 0.0
              var d = 0
              while (d < dim) { proj += v(d) * p(d); d += 1 }
              if (proj > 0) key |= (1L << i)
              i += 1
            }
            keys(b) = key
            b += 1
          }
          (id, v, math.sqrt(nrm), keys)
        }
      }
      .toDF("id", "e", "nrm", "keys")
  }

  /** DuckDB replica of the banded pair pipeline (fixed bands×w layout):
    * per-band key exprs generated from the same `planeCoef` grid, bucket
    * join per band, distinct candidates, exact cosine ≥ threshold.
    */
  def lshBandedPairsOracleSql(corpusSql: String, dim: Int, bands: Int, w: Int,
                              threshold: Double): String = {
    val keySelects = (0 until bands).map { b =>
      val expr = (0 until w).map { i =>
        val coefs = (0 until dim).map(j => planeCoef(b * w + i, j).toString).mkString(", ")
        s"(CASE WHEN list_inner_product(e, [$coefs]) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)"
      }.mkString(" | ")
      s"SELECT vec_id, $b AS band, $expr AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH corpus AS ($corpusSql),
       |sig AS (SELECT vec_id, e FROM corpus),
       |keys AS ($keySelects),
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key
       |  WHERE a.vec_id < b.vec_id),
       |pairs AS (SELECT id_a, id_b, list_cosine_similarity(sa.e, sb.e) AS s
       |  FROM cand JOIN sig sa ON sa.vec_id = cand.id_a
       |            JOIN sig sb ON sb.vec_id = cand.id_b)
       |SELECT id_a, id_b, round(s, 4) AS sim FROM pairs
       |WHERE s >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  /** ANN via LSH buckets: corpus and queries hashed to nBits-bit buckets;
    * cosine computed only within matching buckets (plus
    * single-bit-flipped probes for recall), then per-query top-k.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              dim: Int, k: Int, nBits: Int = 12): DataFrame = {
    val c = withSignatures(corpus, idCol, vecCol, dim, nBits)
      .withColumnRenamed(idCol, "neighbor_id").withColumnRenamed(vecCol, "cvec")
      .withColumnRenamed("nrm", "cnorm")
    // multi-probe: query also probes every bucket at hamming distance 1
    val probes = array((lit(0L) +: (0 until nBits).map(b => lit(1L << b))): _*)
    val q = withSignatures(queries, idCol, vecCol, dim, nBits)
      .withColumnRenamed(idCol, "query_id").withColumnRenamed(vecCol, "qvec")
      .withColumnRenamed("nrm", "qnorm")
      .withColumn("bucket", explode(transform(probes, m => col("bucket").bitwiseXOR(m))))
    // query side is usually bounded (hint) but not assumed to be (gate):
    // each query row explodes into nBits+1 probes, hence the fanout scale
    val sims = c.join(gatedBroadcast(q, fanout = nBits + 1L), "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", dot(col("cvec"), col("qvec")) / (col("cnorm") * col("qnorm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("sim"), 6).desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"), col("rank"))
  }

  /** DuckDB replica of `lshTopK` over the `embeddings` table — the
    * hyperplane grid is embedded as literal coefficient lists generated
    * from the SAME `planeCoef` values the Spark kernel uses, so buckets
    * (and therefore candidates and ranks) agree across engines.
    */
  /** The hyperplane-bucket expression as DuckDB SQL — literal coefficient
    * lists generated from the same `planeCoef` grid as the Spark kernel.
    * Single line: a "\n | "-joined chain would have its OR pipes eaten by
    * the enclosing stripMargin.
    */
  private def bucketSql(col: String, dim: Int, nBits: Int): String =
    (0 until nBits).map { i =>
      val coefs = (0 until dim).map(j => planeCoef(i, j).toString).mkString(", ")
      s"(CASE WHEN list_inner_product($col, [$coefs]) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)"
    }.mkString(" | ")

  def lshOracleSql(dim: Int, nBits: Int, k: Int, queryMaxId: Long): String = {
    def bucketExpr(col: String) = bucketSql(col, dim, nBits)
    val masks = (0L +: (0 until nBits).map(b => 1L << b)).mkString(", ")
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sig AS (SELECT vec_id, e,
       |  ${bucketExpr("e")} AS bucket
       |  FROM base),
       |qp AS (SELECT vec_id AS query_id, e AS qe,
       |    unnest(list_transform([$masks], m -> xor(bucket, CAST(m AS BIGINT)))) AS bucket
       |  FROM sig WHERE vec_id < $queryMaxId),
       |cand AS (SELECT q.query_id, s.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(s.e, q.qe), 6) AS sim
       |  FROM qp q JOIN sig s USING (bucket)
       |  WHERE s.vec_id <> q.query_id),
       |ranked AS (SELECT query_id, neighbor_id, sim,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank FROM cand)
       |SELECT query_id, neighbor_id, sim, rank FROM ranked
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Spherical k-means for IVF centroid training: deterministic init
    * (the k lowest-id vectors), cosine assignment — the SAME rule
    * `ivfTopK` uses at query time — and per-dimension mean updates.
    * Each iteration is one broadcast-kernel pass over the corpus plus a
    * (cid, dim)-grouped aggregate: no driver-side data loops, scales
    * with the cluster. Returns (id, vec) centroids consumable by
    * `ivfTopK(centroids = Some(...))`.
    */
  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", norm(col("e")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids: Array[(Long, Array[Double])] = base.orderBy("id").limit(k)
        .select("id", "e").as[(Long, Array[Double])].collect()
      (1 to iters).foreach { _ =>
        val bc = spark.sparkContext.broadcast(centroids.map { case (cid, ce) =>
          val n = math.sqrt(ce.map(x => x * x).sum)
          (cid, ce, if (n == 0) 1.0 else n)
        })
        val assigned = base.select("id", "e", "nrm").as[(Long, Array[Double], Double)]
          .mapPartitions { it =>
            val cs = bc.value
            it.map { case (_, v, nv) =>
              var best = cs(0)._1
              var bestSim = Double.NegativeInfinity
              cs.foreach { case (cid, ce, cn) =>
                var acc = 0.0; var d = 0
                while (d < v.length) { acc += v(d) * ce(d); d += 1 }
                val sim = acc / (nv * cn)
                if (sim > bestSim || (sim == bestSim && cid < best)) { bestSim = sim; best = cid }
              }
              (best, v)
            }
          }.toDF("cid", "v")
        val means = assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("cid", "dim").agg(avg("x").as("m"))
          .collect().groupBy(_.getLong(0))
        centroids = centroids.map { case (cid, old) =>
          means.get(cid) match {
            case Some(rows) =>
              val arr = new Array[Double](old.length)
              rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
              (cid, arr)
            case None => (cid, old) // empty cell keeps its centroid
          }
        }
      }
      // same column names as the corpus so the result drops straight into
      // ivfTopK(centroids = Some(...))
      centroids.toSeq.toDF(idCol, vecCol)
    } finally base.unpersist(blocking = false)
  }

  /** DuckDB replica of `Dedup.embeddingCosinePairsLSH` over a
    * `corpus(vec_id, e DOUBLE[])` CTE body — buckets generated from the
    * same hyperplane grid.
    */
  def lshPairsOracleSql(corpusSql: String, dim: Int, nBits: Int, threshold: Double): String =
    s"""WITH corpus AS ($corpusSql),
       |sig AS (SELECT vec_id, e,
       |  ${bucketSql("e", dim, nBits)} AS bucket
       |  FROM corpus),
       |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    list_cosine_similarity(a.e, b.e) AS s
       |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, round(s, 4) AS sim FROM pairs
       |WHERE s >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** ANN via IVF (inverted-file) coarse quantization: assign every corpus
    * vector to its nearest centroid cell, probe the `nProbe` nearest
    * cells per query, and search exactly within probed cells only. The
    * scale path for corpus-resident ANN: candidate generation is one
    * broadcast pass (|centroids| small) + an equi-join on cell id — no
    * all-pairs stage anywhere.
    *
    * `centroids` defaults to the corpus rows with the `nCentroids`
    * smallest ids — a deterministic seed choice standing in for a k-means
    * fit (pass a trained centroid DataFrame for production use).
    * Similarities are rounded to 6dp before every argmax/rank so results
    * are reproducible across engines and summation orders.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 2,
              centroids: Option[DataFrame] = None): DataFrame = {
    def prep(df: DataFrame): DataFrame =
      df.select(col(idCol).cast("long").as("id"),
          transform(col(vecCol), x => x.cast("double")).as("e"))
        .withColumn("nrm", norm(col("e")))
    val base = prep(corpus)
    val cent = centroids.map(prep).getOrElse(base.orderBy("id").limit(nCentroids))
      .select(col("id").as("cid"), col("e").as("ce"), col("nrm").as("cnrm"))
    def assign(df: DataFrame): DataFrame = df.crossJoin(broadcast(cent))
      .withColumn("s", round(dot(col("e"), col("ce")) / (col("nrm") * col("cnrm")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("s").desc, col("cid").asc)))
    val cells = assign(base).filter(col("rn") === 1)
      .select(col("id").as("neighbor_id"), col("cid"), col("e").as("ne"), col("nrm").as("nnrm"))
    val qprobe = assign(prep(queries)).filter(col("rn") <= nProbe)
      .select(col("id").as("query_id"), col("cid"), col("e").as("qe"), col("nrm").as("qnrm"))
    // bounded-queries assumption made explicit: the broadcast hint only
    // applies while the query set's size estimate stays under the session
    // broadcast threshold (x nProbe probe rows); larger sets shuffle-join
    val sims = cells.join(gatedBroadcast(qprobe, fanout = nProbe.toLong), "cid")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(dot(col("ne"), col("qe")) / (col("nnrm") * col("qnrm")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Semantic corpus pruning (SemDeDup-shaped curation): assign every
    * vector to its nearest centroid by cosine, rank cluster members by
    * centrality (most-prototypical first), and flag the top
    * `keepPerCluster` per cluster as kept. Downstream pipelines drop the
    * un-kept tail — redundant points deep inside dense clusters.
    *
    * Plan: centroid table broadcast (k rows), one shuffle on the cluster
    * id for the per-cluster rank — linear in corpus size. With the
    * default centroids (the k lowest-id vectors, i.e. zero k-means
    * iterations) every step is SQL-replayable for the oracle; pass
    * `kmeansFit` output for trained centroids in production.
    */
  def semanticPrune(corpus: DataFrame, idCol: String, vecCol: String,
                    nCentroids: Int = 16, keepPerCluster: Int = 20,
                    centroids: Option[DataFrame] = None): DataFrame = {
    val base = corpus.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", norm(col("e")))
    val cent = centroids
      .map(c => c.select(col(idCol).cast("long").as("id"),
          transform(col(vecCol), x => x.cast("double")).as("e"))
        .withColumn("nrm", norm(col("e"))))
      .getOrElse(base.orderBy("id").limit(nCentroids))
      .select(col("id").as("cid"), col("e").as("ce"), col("nrm").as("cnrm"))
    val assigned = base.crossJoin(broadcast(cent))
      .withColumn("sim", round(dot(col("e"), col("ce")) / (col("nrm") * col("cnrm")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("sim").desc, col("cid").asc)))
      .filter(col("rn") === 1)
    val w = Window.partitionBy(col("cid")).orderBy(col("sim").desc, col("id").asc)
    assigned
      .withColumn("cluster_rank", row_number().over(w).cast("long"))
      .select(col("id").as(idCol), col("cid").as("cluster_id"), col("sim"),
        col("cluster_rank"), (col("cluster_rank") <= keepPerCluster).as("kept"))
  }
}
