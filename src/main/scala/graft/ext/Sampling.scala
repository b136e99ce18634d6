package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic domain-mix sampling for training-data pipelines: given
  * target proportions per domain (source/language/quality tier), select
  * the largest corpus subset that realizes the mix exactly, with a
  * reproducible hash-ordered choice of rows.
  *
  * Two tiers:
  *  - `domainMix` — exact quotas via a per-domain rank over md5(id‖salt).
  *    One shuffle; each domain partition is sorted, so use it when the
  *    largest domain fits a healthy sort (the oracle tier).
  *  - `domainMixThreshold` — map-only: keep a row iff its hash bucket
  *    falls below the domain's acceptance rate. No sort, no shuffle,
  *    quota hit within binomial noise — the 100 TB path.
  *
  * Both derive per-domain quotas the same way: the achievable total T is
  * min over domains of count_d / frac_d (the scarcest domain pins the
  * mix), quota_d = floor(frac_d * T). Domain counts are one aggregate
  * (domains are few — metadata scale, collected to the driver).
  */
object Sampling {

  /** (domain, quota_d, count_d) for target fractions: T = min over
    * domains of count_d / frac_d, quota_d = floor(frac_d * T).
    */
  private def quotasFor(df: DataFrame, domainCol: String,
                        targets: Seq[(String, Double)]): Seq[(String, Long, Long)] = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "positive target fractions required")
    val counts = domainCounts(df, domainCol).toMap
    val t = targets.map { case (d, f) => counts.getOrElse(d, 0L).toDouble / f }.min
    targets.map { case (d, f) =>
      (d, math.floor(f * t).toLong, counts.getOrElse(d, 0L))
    }
  }

  /** (domain, quota_d, count_d) for sqrt-weighted temperature sampling:
    * quota_d = min(n_d, totalKeep · w_d / Σw), w_d = floor(sqrt(n_d)).
    */
  private def sqrtQuotas(df: DataFrame, domainCol: String,
                         totalKeep: Long): Seq[(String, Long, Long)] = {
    require(totalKeep >= 0, "totalKeep must be non-negative")
    val weights = domainCounts(df, domainCol)
      .map { case (d, n) => (d, n, math.sqrt(n.toDouble).toLong) }
    val sumW = weights.map(_._3).sum
    require(sumW > 0, "temperatureMix over an empty corpus")
    weights.map { case (d, n, w) => (d, math.min(n, totalKeep * w / sumW), n) }
  }

  private def domainCounts(df: DataFrame, domainCol: String): Seq[(String, Long)] =
    df.groupBy(domainCol).count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toSeq.sortBy(_._1)

  /** Deterministic salt-ordered rank key: md5(id‖salt) as hex. */
  private def hashOrder(idCol: String, salt: String): Column =
    md5(concat(col(idCol).cast("string"), lit(salt)))

  /** Bucket in [0, n) from the first 15 hex digits of an md5 hex string. */
  private def md5Bucket(hex: Column, n: Long): Column =
    pmod(conv(substring(hex, 1, 15), 16, 10).cast("long"), lit(n))

  /** Quality tier: the number of `thresholds` a row's score reaches. */
  private def tierOf(scoreCol: String, thresholds: Seq[Double]): Column =
    thresholds.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col(scoreCol) >= t, 1).otherwise(0)
    }.cast("long")

  /** Exact cut: a row survives iff its md5(id‖salt) rank (id tie-break)
    * within its domain is ≤ quota_d. One per-domain window.
    */
  private def rankCut(df: DataFrame, idCol: String, domainCol: String,
                      quotas: Seq[(String, Long, Long)], salt: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val quotaDf = quotas.map { case (d, q, _) => (d, q) }.toDF(domainCol, "__quota")
    val w = Window.partitionBy(col(domainCol))
      .orderBy(hashOrder(idCol, salt), col(idCol))
    df.join(broadcast(quotaDf), Seq(domainCol))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__quota"))
      .drop("__rn", "__quota")
  }

  /** Map-only cut: keep a row iff bucket(md5(id‖salt)) < rate_d · 2^20,
    * rate_d = quota_d / count_d. Each task filters locally.
    */
  private def bucketCut(df: DataFrame, idCol: String, domainCol: String,
                        quotas: Seq[(String, Long, Long)], salt: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val buckets = 1L << 20
    val rateDf = quotas.map { case (d, q, n) =>
      (d, if (n == 0) 0L else math.round(q.toDouble / n * buckets))
    }.toDF(domainCol, "__cut")
    df.join(broadcast(rateDf), Seq(domainCol))
      .filter(md5Bucket(hashOrder(idCol, salt), buckets) < col("__cut"))
      .drop("__cut")
  }

  /** Exact-quota mix: row r of domain d survives iff its md5(id‖salt)
    * rank within d is ≤ quota_d. Deterministic and engine-portable
    * (md5 hex ordering), so DuckDB replays it bit-for-bit.
    */
  def domainMix(df: DataFrame, idCol: String, domainCol: String,
                targets: Seq[(String, Double)], salt: String): DataFrame =
    rankCut(df, idCol, domainCol, quotasFor(df, domainCol, targets), salt)

  /** Temperature-scaled mixture at α = 1/2 — the standard multilingual
    * upweighting (mT5-style p_d ∝ n_d^α with α < 1 lifts low-resource
    * domains): per-domain quota = min(n_d, totalKeep · w_d / Σw) with
    * INTEGER weights w_d = floor(sqrt(n_d)), rows ranked by the same
    * md5(id‖salt) order as [[domainMix]].
    *
    * Why sqrt and not a general α: IEEE-754 `sqrt` is CORRECTLY ROUNDED
    * on every platform, so the JVM and DuckDB compute bit-identical
    * weights from the same counts — a general `pow` is not, and one ULP
    * on a weight flips a quota by 1 and breaks the oracle hash. For
    * arbitrary mixtures compute the target fractions yourself and call
    * [[domainMix]]. Overflow headroom: totalKeep·w stays under 2^63 up
    * to ~10^12 rows.
    *
    * Plan: one count aggregate (domain-cardinality rows to the driver),
    * broadcast quota join, per-domain rank — the [[domainMix]] shape; at
    * 100 TB use [[temperatureMixThreshold]], the map-only twin.
    */
  def temperatureMix(df: DataFrame, idCol: String, domainCol: String,
                     totalKeep: Long, salt: String): DataFrame =
    rankCut(df, idCol, domainCol, sqrtQuotas(df, domainCol, totalKeep), salt)

  /** Map-only twin of [[temperatureMix]] (the 100 TB path): the same
    * sqrt-weight quotas become per-domain hash-bucket rates; each task
    * filters locally, no per-domain sort. Realized sizes deviate from
    * quotas by O(√quota), same contract as [[domainMixThreshold]].
    */
  def temperatureMixThreshold(df: DataFrame, idCol: String, domainCol: String,
                              totalKeep: Long, salt: String): DataFrame =
    bucketCut(df, idCol, domainCol, sqrtQuotas(df, domainCol, totalKeep), salt)

  /** Map-only mix: keep a row iff bucket(md5(id‖salt)) < rate_d · 2^20,
    * rate_d = quota_d / count_d. No per-domain sort — each task filters
    * locally, so the plan is a scan + filter regardless of corpus size.
    * Selection is a superset-free approximation: realized sizes deviate
    * from quotas by O(√quota) (binomial), fine for mixing at scale.
    */
  def domainMixThreshold(df: DataFrame, idCol: String, domainCol: String,
                         targets: Seq[(String, Double)], salt: String): DataFrame =
    bucketCut(df, idCol, domainCol, quotasFor(df, domainCol, targets), salt)

  /** Curriculum construction: a deterministic training ORDER in which
    * every window of the emitted sequence carries the full quality mix
    * (the uniform-mixing baseline of data-ordering studies). Documents
    * are tiered by explicit score thresholds (map-only — thresholds
    * come from a stats pass like q25's exact quantiles), ordered within
    * a tier by `md5(id‖salt)` with an id tie-break, and round-robin
    * interleaved: `pos = (rank-1)·nTiers + tier`. Sorting the output by
    * `pos` IS the curriculum.
    *
    * Scale note: the within-tier rank is a per-tier window (few
    * partition keys — same shape as `domainMix`, fine to ~10^8 rows per
    * tier); `curriculumKeyMapOnly` is the no-shuffle twin for beyond
    * that, exactly like `domainMixThreshold` twins `domainMix`.
    */
  def curriculumOrder(docs: DataFrame, idCol: String, scoreCol: String,
                      thresholds: Seq[Double], salt: String): DataFrame = {
    val nTiers = thresholds.size + 1
    val w = Window.partitionBy("tier").orderBy(col("__h"), col(idCol))
    docs.withColumn("tier", tierOf(scoreCol, thresholds))
      .withColumn("__h", hashOrder(idCol, salt))
      .withColumn("pos",
        (row_number().over(w) - 1).cast("long") * nTiers + col("tier"))
      .select(col(idCol), col("tier"), col("pos"))
  }

  /** Map-only curriculum KEY: `key = bucket(md5(id‖salt))·nTiers + tier`
    * — no shuffle, no rank; sorting (or range-partitioning) by `key`
    * yields an approximately uniform tier mix in every window, with the
    * exact round-robin property traded for zero coordination. The 100 TB
    * twin of [[curriculumOrder]].
    */
  def curriculumKeyMapOnly(docs: DataFrame, idCol: String, scoreCol: String,
                           thresholds: Seq[Double], salt: String): DataFrame = {
    val nTiers = thresholds.size + 1
    docs.withColumn("tier", tierOf(scoreCol, thresholds))
      .withColumn("curriculum_key",
        md5Bucket(hashOrder(idCol, salt), 1L << 20) * nTiers + col("tier"))
      .select(col(idCol), col("tier"), col("curriculum_key"))
  }

  /** DSIR-style data selection (importance resampling over hashed
    * n-gram features — Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw document by
    * how target-like its hashed unigram distribution is, and keep the
    * top k.
    *
    * The per-bucket evidence is an INTEGER-scaled posterior,
    * `score_b = (1e6 * (cnt_target_b + 1)) div (cnt_target_b +
    * cnt_raw_b + 2)` (add-one smoothing), instead of the paper's
    * log-likelihood ratio: integer division is bit-identical across
    * engines, where `ln()` ulp drift and float-sum reorder would make
    * the result machine-dependent. Monotonicity in p_target(b) — the
    * property selection needs — is preserved; a document's score is
    * the mean bucket evidence over its tokens.
    *
    * Plan at 100 TB: tokenize map-side; ONE bounded shuffle to count
    * `buckets` rows (the feature table is vocabulary-hash-sized, not
    * corpus-sized); the score table broadcasts; per-doc aggregation is
    * one shuffle on doc id with map-side combine; top-k is a
    * TakeOrdered, never a global sort.
    */
  def importanceTopK(docs: DataFrame, textCol: String, idCol: String,
                     isTarget: Column, k: Int,
                     buckets: Int = 4096): DataFrame = {
    val tok = graft.core.Par.spreadForCpu(docs)
      .select(col(idCol), isTarget.as("__tgt"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__w"))
      .filter(col("__w") =!= "")
      .withColumn("__b", md5Bucket(md5(col("__w")), buckets.toLong))
    val cnt = tok.groupBy("__b").agg(
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"),
      sum(when(col("__tgt"), 0L).otherwise(1L)).as("__cr"))
    val score = cnt.select(col("__b"),
      expr("(1000000 * (__ct + 1)) div (__ct + __cr + 2)").as("__s"))
    tok.join(broadcast(score), "__b")
      .groupBy(idCol)
      .agg(sum("__s").as("score_sum"), count(lit(1)).as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        (col("score_sum") * 1.0 / col("n_tokens")).as("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }
}
