package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Large-scale deduplication operators for training-data pipelines.
  *
  * The operators are DataFrame plans of codegen'd expressions (no UDFs)
  * designed for the 100 TB case:
  *  - exact dedup is a hash window/groupBy (one shuffle on the content hash);
  *  - MinHash+LSH shuffles once on (band, bandHash) buckets so candidate
  *    generation is linear in corpus size, never O(n²);
  *  - verification (true Jaccard) touches only bucket-local candidate pairs.
  * The one exception is [[connectedComponents]] over at most
  * `LocalEdgeLimit` edges, which resolves in a single task with a
  * union-find over primitive arrays.
  */
object Dedup {

  /** Exact duplicate marking: every row gets its content-group keeper
    * (min id) and an `is_dup` flag. One shuffle on md5(content).
    */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(contentCol)))
    df.withColumn("keeper_id", min(col(idCol)).over(w))
      .withColumn("is_dup", col(idCol) =!= col("keeper_id"))
  }

  /** Bloom filter over a corpus CONTENT-KEY column (md5 strings), built
    * with Spark's codegen'd `BloomFilterAggregate` — per-partition
    * partial sketches, binary-merged; ~1.2 MB per million keys at 1%
    * fpp. Build once per corpus snapshot and reuse across every
    * incoming batch (the sketch also supports `mergeInPlace` for
    * incremental maintenance as the corpus grows). Probes hash the
    * 32-char key with xxhash64, so batch content is only ever hashed
    * once — everything downstream moves 32-byte keys.
    */
  def corpusKeyBloom(corpusKeys: DataFrame, keyCol: String,
                     expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    // BloomFilterAggregate silently clamps its item/bit sizing to the
    // runtime-join-filter caps (spark.sql.optimizer.runtime.bloomFilter.
    // maxNumItems/maxNumBits, defaults 4M items / 64 Mbit). A clamped
    // sketch saturates: fpp → 1, nearly every batch row becomes a
    // candidate, and the downstream broadcasts blow up. Raise the caps to
    // cover this build, then restore.
    val conf = corpusKeys.sparkSession.conf
    val n = math.max(1L, expectedItems)
    val bits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, fpp)
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val oldItems = conf.getOption(itemsKey)
    val oldBits = conf.getOption(bitsKey)
    try {
      if (oldItems.forall(_.toLong < n)) conf.set(itemsKey, n)
      if (oldBits.forall(_.toLong < bits)) conf.set(bitsKey, bits)
      corpusKeys
        .agg(org.apache.spark.sql.graft.VectorExpressions.bloomAgg(
          xxhash64(col(keyCol)), n, fpp))
        .head.getAs[Array[Byte]](0)
    } finally {
      oldItems.fold(conf.unset(itemsKey))(v => conf.set(itemsKey, v))
      oldBits.fold(conf.unset(bitsKey))(v => conf.set(bitsKey, v))
    }
  }

  /** Incremental-ingest dedup: the rows of `batch` whose content key is
    * not in `corpusKeys` — the nightly "which of these N million new
    * documents are genuinely new" pass, with NO wide shuffle anywhere.
    *
    * `corpusKeys` is the compact key table (in this engine, the artifact
    * registry's `hash` column — the reference resolves the same question
    * one SELECT-by-hash at a time, `lamindb/models/artifact.py`
    * `get_artifact_kwargs_from_data`). The plan:
    *
    *  1. One narrow pass over the batch probes the corpus bloom with
    *     xxhash64(md5(content)); bloom-NEGATIVE keys are definitely new
    *     and never join. The positive sliver (duplicate rate + fpp of
    *     the batch) is distinct-reduced and broadcast.
    *  2. A map-side semi-join over the key table keeps only the
    *     candidate keys that truly exist — at most |candidates| rows.
    *  3. Since dupKeys ⊆ batch keys, one anti-join against
    *     broadcast(dupKeys) yields the exact answer in a single
    *     full-width batch pass. (A direct anti-join against the key
    *     table could NOT broadcast — left_anti builds on its right, the
    *     corpus side — so it would shuffle every wide batch row.)
    *
    * Exact by construction: the bloom only routes; membership is decided
    * on the md5 key equality.
    */
  def newDocsAgainstKeys(corpusKeys: DataFrame, keyCol: String,
                         batch: DataFrame, contentCol: String,
                         bloomBytes: Array[Byte],
                         maxBroadcastKeys: Long = 4000000L): DataFrame = {
    val bk = md5(col(contentCol))
    val might = org.apache.spark.sql.graft.VectorExpressions
      .bloomMightContain(bloomBytes, xxhash64(bk))
    // materialize + count the candidate sliver before committing to the
    // broadcast plan: a saturated bloom (or a batch that is mostly dups)
    // can make the sliver arbitrarily large, and broadcasting it would
    // exceed driver/executor memory. The count reuses the persisted
    // sliver, so the probe pass still runs once.
    val candidateKeys = batch.filter(might).select(bk.as("__bk")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (candidateKeys.count() <= maxBroadcastKeys) {
      // materialize dupKeys NOW (it is ⊆ candidateKeys, so bounded by the
      // same broadcast budget) so the sliver cache can be released before
      // returning — a long-lived session running nightly batches must not
      // accumulate per-batch sliver frames until eviction thrashes. The
      // checkpointed dupKeys blocks are reclaimed by the ContextCleaner
      // once the returned plan is dropped.
      val dupKeys = corpusKeys.select(col(keyCol).as("__bk"))
        .join(broadcast(candidateKeys), Seq("__bk"), "left_semi").distinct()
        .localCheckpoint(true)
      candidateKeys.unpersist(blocking = false)
      batch.join(broadcast(dupKeys), bk === col("__bk"), "left_anti")
    } else {
      // degraded-but-exact path: shuffled anti-join against the key table
      // (the wide batch shuffles once — the cost the bloom normally avoids)
      candidateKeys.unpersist()
      batch.join(corpusKeys.select(col(keyCol).as("__bk")),
        bk === col("__bk"), "left_anti")
    }
  }

  /** Convenience tier over raw corpus content: derives the key table and
    * bloom (one narrow corpus pass each), then routes through
    * [[newDocsAgainstKeys]]. Steady-state pipelines should persist the
    * key table and sketch instead of rebuilding per batch.
    */
  def newDocs(corpus: DataFrame, batch: DataFrame, idCol: String,
              contentCol: String, fpp: Double = 0.01,
              expectedItems: Option[Long] = None): DataFrame = {
    val keys = corpus.select(md5(col(contentCol)).as("__ck"))
    val n = math.max(1L, expectedItems.getOrElse(keys.count()))
    val bytes = corpusKeyBloom(keys, "__ck", n, fpp)
    if (bytes == null) return batch // empty corpus: the aggregate yields null
    newDocsAgainstKeys(keys, "__ck", batch, contentCol, bytes)
  }

  /** Word n-gram shingle strings from a MATERIALIZED tokens column (see
    * shingleHashesFromTokenHashes for why staging matters).
    */
  def shinglesFromTokens(tokens: Column, n: Int = 3): Column =
    array_distinct(
      when(size(tokens) >= n,
        transform(sequence(lit(0), size(tokens) - n),
          i => concat_ws(" ", slice(tokens, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", tokens))))

  /** Numeric n-gram shingle hashes: per-token xxhash64 computed once,
    * each shingle hash a position-weighted arithmetic mix of n token
    * hashes. No string allocation per shingle — measured ~3× faster than
    * building shingle strings, with identical dedup semantics (hash
    * collisions are negligible at 64 bits).
    */
  /** IMPORTANT: pass a MATERIALIZED token-hash column (a projected
    * attribute), not an inline expression — expressions referenced inside
    * `transform` lambdas are re-evaluated per outer element (no CSE
    * across lambda boundaries), turning shingling O(tokens²).
    */
  def shingleHashesFromTokenHashes(th: Column, n: Int = 3): Column =
    array_distinct(
      when(size(th) >= n,
        transform(sequence(lit(0), size(th) - n),
          i => xxhash64((0 until n).map(j => element_at(th, i + j + 1)): _*)))
        // <n tokens: one whole-doc gram. The fold is a CHAINED hash
        // (acc mixed with each token hash in order), so it is order-
        // sensitive and repetition-sensitive — matching on it is
        // equivalent to matching on the whole-doc string, which is what
        // the portable/string path and the DuckDB oracles replay. (An
        // XOR fold is NOT: 'a b' == 'b a' and repeated tokens cancel.)
        .otherwise(array(aggregate(th, lit(0L), (acc, h) => xxhash64(acc, h)))))

  def tokenHashes(textCol: Column): Column =
    transform(TextOps.tokens(textCol), t => xxhash64(t))

  /** Closes out a signature-cached pipeline: eagerly materializes the
    * (small) result via localCheckpoint — which is the job that consumes
    * the cached signature frame — then releases that cache. The returned
    * DataFrame is self-contained; its checkpoint blocks are reclaimed by
    * the ContextCleaner when the caller drops it. This gives every LSH
    * pipeline a deterministic cache lifetime instead of leaking a
    * corpus-sized MEMORY_AND_DISK frame per invocation.
    */
  private def finishPairs(out: DataFrame, cached: DataFrame): DataFrame = {
    val materialized = out.localCheckpoint(true)
    cached.unpersist(blocking = false)
    materialized
  }

  /** Mersenne prime modulus for the MinHash permutation family. */
  val MinhashP = 2147483647L // 2^31 - 1

  /** Seeded (a_j, b_j) permutation constants — the single source of truth
    * shared by the Spark plan and the generated DuckDB oracle SQL.
    */
  def minhashCoeffs(k: Int, seed: Long = 7L): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(k)((math.abs(rng.nextLong()) % (MinhashP - 1) + 1,
      math.abs(rng.nextLong()) % MinhashP))
  }

  /** MinHash signature from already-reduced hash values (each in [0, p)):
    * sig_j = min over shingles of (a_j * h + b_j) mod p.
    */
  def minhashSigFromMods(modsCol: Column, k: Int, seed: Long = 7L): Column =
    array(minhashCoeffs(k, seed).map { case (a, b) =>
      array_min(transform(modsCol, h => pmod(h * a + b, lit(MinhashP))))
    }: _*)

  /** Deterministic MinHash signature (k permutations) over a numeric
    * shingle-hash array: h_j(x) = (a_j * (x mod p) + b_j) mod p, min over
    * shingles. Seeded constants keep runs reproducible.
    */
  def minhashSignature(shingleCol: Column, k: Int = 16, seed: Long = 7L): Column =
    minhashSigFromMods(transform(shingleCol, h => pmod(h, lit(MinhashP))), k, seed)

  /** LSH banding: a k-row signature split into `bands` buckets of k/bands
    * rows; docs sharing any band bucket become candidate pairs. Statically
    * unrolled so every slice/hash stays a codegen-able literal expression.
    */
  private def sigBands(sig: Column, k: Int, bands: Int): Column = {
    val rows = k / bands
    array((0 until bands).map(b =>
      xxhash64(concat_ws(",", slice(sig, b * rows + 1, rows)))): _*)
  }

  /** xxhash64 MinHash signature frame `(id, sh, sig)`: token hashes →
    * numeric shingle hashes → k-permutation signature, persisted (the
    * caller owns the cache and releases it via [[finishPairs]]).
    */
  private def minhashSigFrame(df: DataFrame, idCol: String, textCol: String,
                              k: Int, shingleN: Int): DataFrame =
    graft.core.Par.spreadForCpu(df)
      .select(col(idCol).as("id"), tokenHashes(col(textCol)).as("th"))
      .select(col("id"), shingleHashesFromTokenHashes(col("th"), shingleN).as("sh"))
      .select(col("id"), col("sh"), minhashSignature(col("sh"), k).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Candidate pairs (id_a < id_b) sharing any (band, `key`) bucket of a
    * banded `(id, band, key)` frame; deduplicated across bands.
    */
  private def bucketPairs(banded: DataFrame, key: String): DataFrame = {
    val a = banded.select(col("band"), col(key), col("id").as("id_a"))
    val b = banded.select(col("band"), col(key), col("id").as("id_b"))
    a.join(b, Seq("band", key))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Verify `(id_a, id_b)` pairs by true Jaccard over the signature
    * frame's shingle sets: the pairs with jaccard >= threshold, as
    * (id_a, id_b, jaccard rounded to 4 places).
    */
  private def jaccardVerified(pairs: DataFrame, withSig: DataFrame,
                              threshold: Double): DataFrame = {
    val sa = withSig.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val sb = withSig.select(col("id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Full MinHash-LSH near-duplicate pipeline:
    * shingle → minhash → band → bucket self-join → true-Jaccard verify.
    * Returns (id_a, id_b, jaccard) for pairs with jaccard >= threshold.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, bands: Int = 4, threshold: Double = 0.4,
                   shingleN: Int = 3): DataFrame = {
    // signatures feed three downstream plans (banding + both pair sides);
    // persist so shingling/hashing runs once — at scale this is the
    // "materialize the signature table" stage of an LSH pipeline. The
    // cache is OWNED here: the verified pair set (orders of magnitude
    // smaller than the corpus-sized signature frame) is materialized
    // eagerly via finishPairs and the signature cache released before
    // returning, so repeated pipeline calls in one session never
    // accumulate corpus-sized cached frames.
    val withSig = minhashSigFrame(df, idCol, textCol, k, shingleN)
    val banded = withSig.select(col("id"),
      posexplode(sigBands(col("sig"), k, bands)).as(Seq("band", "band_hash")))
    // candidate pairs: same (band, band_hash) bucket; dedup across bands
    finishPairs(jaccardVerified(bucketPairs(banded, "band_hash"), withSig, threshold), withSig)
  }

  /** MinHash-LSH candidate edges in STAR form — the skew-safe path for
    * duplicate-cluster RESOLUTION. `minhashPairs` emits every bucket-local
    * pair (a clique): correct for pair-level output, but a pathological
    * cluster of d near-identical docs shares every band bucket and
    * explodes into d²/2 candidates (50k dups → 1.25B pairs) regardless of
    * AQE/salting, because the blowup is in the OUTPUT of the join, not in
    * one task's input. Connected components only need a spanning
    * structure, so for clustering each bucket instead links its members
    * to the bucket representative (min id): at most |corpus| × bands
    * edges, linear always. With `verifyThreshold` each (rep, member) edge
    * is confirmed by true Jaccard against the representative — still
    * linear (members verify against the rep only, never each other);
    * transitive merges through a rep are exactly the semantics a
    * dup-cluster pass wants. Feed the result to [[connectedComponents]] /
    * [[resolveDuplicates]].
    */
  def minhashClusterEdges(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 16, bands: Int = 4, shingleN: Int = 3,
                          verifyThreshold: Option[Double] = None): DataFrame = {
    val withSig = minhashSigFrame(df, idCol, textCol, k, shingleN)
    val banded = withSig.select(col("id"),
      posexplode(sigBands(col("sig"), k, bands)).as(Seq("band", "band_hash")))
    // bucket representative via hash aggregation (map-side combinable min,
    // so even the hot bucket reduces before the shuffle), then one join to
    // attach members — never a bucket self-join
    val reps = banded.groupBy("band", "band_hash").agg(min(col("id")).as("id_a"))
    val edges = banded.join(reps, Seq("band", "band_hash"))
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b")).distinct()
    val out = verifyThreshold match {
      case None => edges
      case Some(t) => jaccardVerified(edges, withSig, t).select("id_a", "id_b")
    }
    finishPairs(out, withSig)
  }

  /** Portable MinHash-LSH variant: identical pipeline to `minhashPairs`
    * but shingle hashes come from md5 (15 hex chars = 60 bits) instead of
    * xxhash64, and shingles stay strings — every step is reproducible in
    * engines without xxhash64, so the WHOLE pipeline (hashing,
    * permutations, banding, candidate join, Jaccard verify) is
    * oracle-checkable in DuckDB from the same `minhashCoeffs` constants.
    * ~2x the hash cost of the xxhash64 path; use that one when no
    * cross-engine parity is needed.
    */
  def minhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 16, bands: Int = 4, threshold: Double = 0.4,
                           shingleN: Int = 3, seed: Long = 7L): DataFrame = {
    val withSig = graft.core.Par.spreadForCpu(df)
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("tk"))
      .select(col("id"), shinglesFromTokens(col("tk"), shingleN).as("sh"))
      .select(col("id"), col("sh"),
        transform(col("sh"),
          x => pmod(conv(substring(md5(x), 1, 15), 16, 10).cast("long"), lit(MinhashP)))
          .as("hmod"))
      .select(col("id"), col("sh"), minhashSigFromMods(col("hmod"), k, seed).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = k / bands
    val banded = withSig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        concat_ws(",", slice(col("sig"), b * rows + 1, rows))): _*))
        .as(Seq("band", "key")))
    finishPairs(jaccardVerified(bucketPairs(banded, "key"), withSig, threshold), withSig)
  }

  /** The DuckDB replica of `minhashPairsPortable` over a corpus CTE named
    * `corpus(doc_id, text)` — generated from the SAME `minhashCoeffs`, so
    * the two engines agree bit-for-bit. `corpusSql` supplies the CTE body.
    */
  def minhashPortableOracleSql(corpusSql: String, k: Int = 16, bands: Int = 4,
                               threshold: Double = 0.4, shingleN: Int = 3,
                               seed: Long = 7L): String = {
    val rows = k / bands
    val n = shingleN
    val sigExprs = minhashCoeffs(k, seed).map { case (a, b) =>
      s"list_min(list_transform(hmod, x -> (x * $a + $b) % $MinhashP))"
    }.mkString(",\n  ")
    val bandSelects = (0 until bands).map { bd =>
      s"SELECT doc_id, s, $bd AS band, array_to_string(sg[${bd * rows + 1}:${bd * rows + rows}], ',') AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH corpus AS ($corpusSql),
       |toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM corpus),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(tk) >= $n
       |       THEN list_distinct(list_transform(range(1, len(tk) - $n + 2),
       |            i -> array_to_string(tk[i:i+${n - 1}], ' ')))
       |       ELSE [array_to_string(tk, ' ')] END AS s
       |  FROM toks),
       |hm AS (SELECT doc_id, s,
       |  list_transform(s, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % $MinhashP) AS hmod
       |  FROM sh),
       |sig AS (SELECT doc_id, s, [
       |  $sigExprs] AS sg FROM hm),
       |bands AS (
       |  $bandSelects),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id),
       |jac AS (SELECT id_a, id_b,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |    / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
       |  FROM cand JOIN sh sa ON sa.doc_id = cand.id_a
       |            JOIN sh sb ON sb.doc_id = cand.id_b)
       |SELECT id_a, id_b, round(j, 4) AS jaccard FROM jac
       |WHERE j >= $threshold ORDER BY id_a, id_b""".stripMargin
  }

  // ----- SimHash: one kernel over four signature families ----------------

  /** A simhash signature family: W ∈ {1, 2} signature words of
    * `wordBits` bits each, the band-width ladder the adaptive plan climbs,
    * and how a token's word hashes are built. `md5Words` families take
    * 60-bit slices of one md5 digest, which DuckDB can replay (the
    * `*PortableOracleSql` replicas); the others hash with xxhash64, which
    * it cannot.
    */
  private[graft] sealed abstract class SimhashFamily(val words: Int, val wordBits: Int,
                                                     val widths: Seq[Int], val md5Words: Boolean) {
    def plan(nDocs: Long): (Int, Int) = bandPlan(widths, words, wordBits, nDocs, 16L)
  }
  private[graft] object SimhashFamily {
    case object Fast64 extends SimhashFamily(1, 64, 16 to 32, md5Words = false)
    case object Portable60 extends SimhashFamily(1, 60, 15 to 30, md5Words = true)
    case object Fast128 extends SimhashFamily(2, 64, Seq(16, 32, 64), md5Words = false)
    case object Portable120 extends SimhashFamily(2, 60, Seq(15, 30, 60), md5Words = true)
  }
  import SimhashFamily._

  /** SimHash signature frame `(id, sim0[, sim1])`: per signature bit, sum
    * +1/-1 weighted by the token hash bit, take the sign.
    *
    * One row per input row with non-null text, from one native per-row
    * kernel over `TextOps.tokens(text)` (`SimhashWords`): W·wordBits int
    * counters in a static loop inside whole-stage codegen, so the frame
    * is a narrow projection: no explode, no aggregate, and no exchange
    * but the md5 families' spread of a narrow input (below). Rows are not
    * merged by id; callers pass unique ids.
    *
    * Word hashes: the xxhash64 families hash the token (word 0) and, for
    * W=2, hash it again salt FIRST, `xxhash64(1L, tok)` (r18 ADVICE): the
    * salt-last form `xxhash64(tok, 1L)` folds sequentially = hash(1L,
    * seed=h0), a pure function of h0, so the second word would carry zero
    * extra token entropy; salt-first re-hashes the token bytes under an
    * independent seed. The md5 families take hex chars 1–15 and 17–31 —
    * disjoint 60-bit halves of the same digest. The kernel computes each
    * word bit for bit as those expressions do (`SimhashKernelPropertySpec`).
    *
    * Only the md5 families spread the input (`Par.spreadForCpu`): md5 per
    * token is the expensive part of the kernel. Measured at sf0.1 on 4
    * cores (Bench medians, 3 alternating pairs, all clean), the spread
    * still pays with the per-row kernel: d10 1.32–1.41 s without it vs
    * 1.21–1.31 s with it, d28 1.04–1.12 s vs 0.92–1.08 s. xxhash64 per
    * token is cheap: there the added exchange measured pure cost (r18
    * verdict regressions d06 0.39×, d34 0.62×).
    */
  private[graft] def simhashSignature(fam: SimhashFamily, df: DataFrame, idCol: String,
                                      textCol: String): DataFrame = {
    val words = org.apache.spark.sql.graft.SimhashWords.simhashWords(
      TextOps.tokens(col(textCol)), fam.words, fam.wordBits, fam.md5Words)
    // two projections: the second reads the kernel's output W times, so
    // CollapseProject keeps the (non-cheap) kernel evaluated once per row
    val input = if (fam.md5Words) graft.core.Par.spreadForCpu(df) else df
    input.filter(col(textCol).isNotNull) // a null text has no tokens, so no row
      .select(col(idCol).as("id"), words.as("sig"))
      .select(col("id") +: (0 until fam.words).map(w => col("sig")(w).as(s"sim$w")): _*)
  }

  /** Cardinality-adaptive band plan: (bands, bandWidth).
    *
    * Sizing rule (exact integer arithmetic so the generated DuckDB oracle
    * reproduces it bit-for-bit): the band key space must hold the corpus
    * with slack — pick the SMALLEST width `bw` in the ladder with
    * `2^bw >= loadFactor * nDocs` and `bw <= 62` (else the widest), then
    * tile each signature word with `wordBits / bw` non-overlapping bands.
    * The comparison is `2^bw / loadFactor >= nDocs`, the same predicate
    * without the overflow of `loadFactor * nDocs` at n ≥ 2^59; `bw <= 62`
    * keeps 2^bw a positive Long, so the 2×64 rung is only ever the
    * fallback.
    *
    * Why: with fixed-width bands the expected background collisions per
    * band grow as n² / 2^bw — the round-8 sf1.0 tier measured 17.8×
    * candidate growth for 10× data at the legacy fixed 4×15-bit layout
    * (SCALING.md). Scaling bw with log2(n) keeps the per-bucket load
    * ≤ 1/loadFactor, so background candidates stay ~linear in n. The
    * two-word ladders are the word's divisors, so no band straddles a
    * word boundary and banding stays shift+mask on one Long.
    */
  private def bandPlan(widths: Seq[Int], words: Int, wordBits: Int, nDocs: Long,
                       loadFactor: Long): (Int, Int) = {
    val bw = widths.find(w => w <= 62 && (1L << w) / loadFactor >= nDocs).getOrElse(widths.last)
    (words * (wordBits / bw), bw)
  }

  /** The adaptive plan over one `totalBits` word, widths
    * [minWidth, maxWidth] — see [[simhashCandidates]] for the ladders.
    */
  def simhashBandPlan(nDocs: Long, totalBits: Int, minWidth: Int, maxWidth: Int,
                      loadFactor: Long = 16L): (Int, Int) =
    bandPlan(minWidth to maxWidth, 1, totalBits, nDocs, loadFactor)

  /** The adaptive plan over two words of `wordBits` = 64 (xxhash64 words,
    * ladder {16,32,64}) or 60 (md5 words, {15,30,60}).
    */
  def simhash128BandPlan(nDocs: Long, wordBits: Int = 64,
                         loadFactor: Long = 16L): (Int, Int) = {
    require(wordBits == 64 || wordBits == 60, s"unsupported word width $wordBits")
    val fam = if (wordBits == 64) Fast128 else Portable120
    bandPlan(fam.widths, fam.words, fam.wordBits, nDocs, loadFactor)
  }

  /** Band a signature frame and self-join the buckets: band b reads word
    * `b / perWord` at bit offset `(b % perWord)·bw`; hamming = popcount
    * over all words.
    *
    * `maxBucketDf` (optional) drops buckets hotter than the cap — the same
    * frequent-key cutoff as `substringSpans`' `maxGramDf`: a bucket with
    * more members than the cap is background saturation (or a duplicate
    * mega-cluster better served by exact dedup) and would contribute
    * O(df²) candidate pairs. The df window shares the band/key shuffle key
    * with the self-join that follows, so the guard adds no extra exchange.
    */
  private def bandPairs(fam: SimhashFamily, withSim: DataFrame, bands: Int, bw: Int,
                        maxBucketDf: Option[Int]): DataFrame = {
    val perWord = fam.wordBits / bw
    require(bands <= fam.words * perWord && (fam.words == 1 || fam.wordBits % bw == 0),
      s"band plan ${bands}x$bw does not tile $fam's ${fam.wordBits}-bit words")
    val mask = if (bw == 64) -1L else (1L << bw) - 1
    val sims = (0 until fam.words).map(w => s"sim$w")
    val banded0 = withSim.select((col("id") +: sims.map(col)) :+
      posexplode(array((0 until bands).map(b =>
        shiftright(col(sims(b / perWord)), (b % perWord) * bw).bitwiseAND(mask)): _*))
        .as(Seq("band", "band_bits")): _*)
    val banded = maxBucketDf match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "band_bits")
        banded0.withColumn("bucket_df", count(lit(1)).over(w))
          .filter(col("bucket_df") <= cap).drop("bucket_df")
      case None => banded0
    }
    def side(s: String) = banded.select(col("band") +: col("band_bits") +:
      col("id").as(s"id_$s") +: sims.map(w => col(w).as(s"${w}_$s")): _*)
    side("a").join(side("b"), Seq("band", "band_bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        sims.map(w => bit_count(col(s"${w}_a").bitwiseXOR(col(s"${w}_b"))))
          .reduce(_ + _).cast("long").as("hamming"))
      .distinct()
  }

  /** SimHash near-dup candidates `(id_a, id_b, hamming)`: docs agreeing
    * on any band of the family's signature, on a cardinality-adaptive
    * band plan. Small corpora get the narrowest rung (most bands), large
    * corpora fewer, wider bands so background collisions stay ~linear in
    * n; the plan saturates at the widest rung (n ≈ 2^bw/16), after which
    * per-bucket load, and with it the `maxBucketDf` recall loss, grows
    * linearly. The earlier 64-bit ceilings — 21 (saturated at ~131k docs)
    * and 30 (67M) — did exactly that on any real corpus, and the two-word
    * families exist to move the bound past the 64-bit signature itself:
    * more bands at the same width, so small-corpus guaranteed recall
    * doubles, while the ceiling moves out by ten decades.
    *
    * | family      | ladder       | small-n plan | guaranteed hamming radius                    | saturation n      |
    * |-------------|--------------|--------------|----------------------------------------------|-------------------|
    * | Fast64      | 16 to 32     | 4×16         | 3; 2 at n > 2^16/16; 1 at n > 2^21/16 ≈ 131k | 2^32/16 ≈ 268M    |
    * | Portable60  | 15 to 30     | 4×15         | 3; 2 at n > 2^15/16; 1 at n > 2^20/16 ≈ 65k  | 2^30/16 ≈ 67M     |
    * | Fast128     | {16, 32, 64} | 8×16         | 7; 3 at n > 2^16/16; 1 at n > 2^32/16 ≈ 268M | 2^64/16 ≈ 10^18   |
    * | Portable120 | {15, 30, 60} | 8×15         | 7; 3 at n > 2^15/16; 1 at n > 2^30/16 ≈ 67M  | 2^60/16 ≈ 7·10^16 |
    *
    * RECALL CONTRACT (read before relying on this across corpus sizes):
    * by pigeonhole, a pair is GUARANTEED to surface only when its hamming
    * distance ≤ bands−1 — the Manku et al. (WWW'07) block-permutation
    * trade: table count × block width is fixed by the signature, so
    * halving the tables doubles the reach of each but narrows the
    * guarantee. At 100 TB you want that trade — the alternative is a
    * candidate set that grows quadratically with the corpus. Pairs beyond
    * the bound surface only probabilistically, so the SAME pair can
    * legitimately disappear as the corpus grows and callers filtering at
    * e.g. `hamming <= 6` are sampling, not enumerating, at every corpus
    * size. Pass `bandPlan` to pin a fixed layout (fixed recall, quadratic
    * background risk), or `maxBucketDf` to additionally cap per-bucket
    * membership. The chosen plan is logged per run (slf4j INFO) so runs
    * are auditable.
    *
    * ID CONTRACT: `idCol` must be unique. Each input row gets its own
    * signature; rows sharing an id are not merged, and the `id_a < id_b`
    * self-join never pairs them with each other.
    */
  private def simhashKernel(fam: SimhashFamily, df: DataFrame, idCol: String, textCol: String,
                            bandPlan: Option[(Int, Int)], maxBucketDf: Option[Int]): DataFrame = {
    // persist: both sides of the band self-join read the signature frame,
    // and without materialization each side re-reads the input and
    // re-runs tokenize + the per-row kernel (and, for the md5 families,
    // the spread) — same reasoning as the `withSig` persist in
    // minhashPairs; released via finishPairs below
    val withSim = simhashSignature(fam, df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // adaptive plan sizes off the SIGNATURE frame (one row per doc) so the
    // count materializes the persist instead of re-reading the source
    // (mirrors the SQL replica's count of `sim`)
    val (bands, bw) = bandPlan.getOrElse(fam.plan(withSim.count()))
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"simhash $fam: band plan ${bands}x$bw-bit (guaranteed recall hamming <= ${bands - 1})")
    finishPairs(bandPairs(fam, withSim, bands, bw, maxBucketDf), withSim)
  }

  /** 64-bit xxhash64 simhash candidates ([[simhashKernel]], `Fast64`).
    * `idCol` must be unique (see the id contract there).
    */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        bandPlan: Option[(Int, Int)] = None,
                        maxBucketDf: Option[Int] = None): DataFrame =
    simhashKernel(Fast64, df, idCol, textCol, bandPlan, maxBucketDf)

  /** 60-bit md5 simhash candidates, replayed by [[simhashPortableOracleSql]]
    * ([[simhashKernel]], `Portable60`). `idCol` must be unique.
    */
  def simhashCandidatesPortable(df: DataFrame, idCol: String, textCol: String,
                                bandPlan: Option[(Int, Int)] = None,
                                maxBucketDf: Option[Int] = None): DataFrame =
    simhashKernel(Portable60, df, idCol, textCol, bandPlan, maxBucketDf)

  /** 128-bit (two xxhash64 words) simhash candidates ([[simhashKernel]],
    * `Fast128`). `idCol` must be unique.
    */
  def simhash128Candidates(df: DataFrame, idCol: String, textCol: String,
                           bandPlan: Option[(Int, Int)] = None,
                           maxBucketDf: Option[Int] = None): DataFrame =
    simhashKernel(Fast128, df, idCol, textCol, bandPlan, maxBucketDf)

  /** 120-bit (two md5 words) simhash candidates, replayed by
    * [[simhash128PortableOracleSql]] ([[simhashKernel]], `Portable120`).
    * `idCol` must be unique.
    */
  def simhash128CandidatesPortable(df: DataFrame, idCol: String, textCol: String,
                                   bandPlan: Option[(Int, Int)] = None,
                                   maxBucketDf: Option[Int] = None): DataFrame =
    simhashKernel(Portable120, df, idCol, textCol, bandPlan, maxBucketDf)

  /** DuckDB replica of an md5 family's candidates (+ hamming cutoff) over
    * a `corpus(doc_id, text)` CTE body — generated from the same word
    * layout and replaying the same integer-exact adaptive sizing rule
    * (smallest ladder width with 2^bw >= 16·n, W·(wordBits/bw) bands)
    * inside SQL, so the oracle picks the identical plan at every scale
    * factor without knowing n in advance. Banding by word + offset,
    * all-words popcount hamming.
    */
  private def simhashOracleSql(fam: SimhashFamily, corpusSql: String, maxHamming: Int,
                               maxBucketDf: Option[Int]): String = {
    require(fam.md5Words, s"$fam has no DuckDB replica (xxhash64 words)")
    val (wb, ws) = (fam.wordBits, 0 until fam.words)
    val hashes = ws.map(w =>
      s"CAST(('0x' || substr(md5(tok), ${1 + 16 * w}, 15)) AS BIGINT) AS h$w").mkString(",\n  ")
    val voteExprs = (0 until fam.words * wb).map(bit =>
      s"SUM(CASE WHEN (h${bit / wb} >> ${bit % wb}) & 1 = 1 THEN 1 ELSE -1 END) AS v$bit")
      .mkString(",\n  ")
    val sims = ws.map(w => (0 until wb).map(b =>
      s"(CASE WHEN v${w * wb + b} > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
      .mkString(" | ") + s" AS s$w").mkString(",\n  ")
    val word = ws.map(w => s"WHEN $w THEN s$w").mkString(s"CASE bd.band // ($wb // p.bw) ", " ", " END")
    val hamming = ws.map(w => s"bit_count(xor(a.s$w, b.s$w))").mkString(" + ")
    val dfGuard = maxBucketDf
      .map(cap => s"\n  QUALIFY count(*) OVER (PARTITION BY band, key) <= $cap")
      .getOrElse("")
    s"""WITH corpus AS ($corpusSql),
       |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM corpus),
       |h AS (SELECT doc_id,
       |  $hashes FROM tok),
       |votes AS (SELECT doc_id,
       |  $voteExprs
       |  FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id,
       |  $sims FROM votes),
       |params AS (SELECT CAST(COALESCE(
       |    MIN(CASE WHEN (1::BIGINT << bw) >= 16 * n THEN bw END), ${fam.widths.last}) AS INT) AS bw
       |  FROM (SELECT unnest([${fam.widths.mkString(", ")}]) AS bw), (SELECT count(*) AS n FROM sim)),
       |bands AS (
       |  SELECT sim.*, bd.band AS band,
       |    (($word) >> ((bd.band % ($wb // p.bw)) * p.bw)) & ((1::BIGINT << p.bw) - 1) AS key
       |  FROM sim, params p,
       |    (SELECT CAST(unnest(range(0, ${fam.words * (wb / fam.widths.head)})) AS INT) AS band) bd
       |  WHERE bd.band < (${fam.words} * ($wb // p.bw))$dfGuard),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ($hamming)::BIGINT AS hamming
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM cand
       |WHERE hamming <= $maxHamming ORDER BY id_a, id_b""".stripMargin
  }

  /** [[simhashOracleSql]] for [[simhashCandidatesPortable]]. */
  def simhashPortableOracleSql(corpusSql: String, maxHamming: Int,
                               maxBucketDf: Option[Int] = None): String =
    simhashOracleSql(Portable60, corpusSql, maxHamming, maxBucketDf)

  /** [[simhashOracleSql]] for [[simhash128CandidatesPortable]]. */
  def simhash128PortableOracleSql(corpusSql: String, maxHamming: Int,
                                  maxBucketDf: Option[Int] = None): String =
    simhashOracleSql(Portable120, corpusSql, maxHamming, maxBucketDf)

  /** Embedding-cosine near-duplicate pairs: all (a, b) with cosine ≥
    * threshold. Exact all-pairs form (the oracle-checkable baseline);
    * at corpus scale, generate candidates with `Similarity.lshTopK`
    * buckets first and apply the same threshold to bucket-local pairs.
    *
    * Execution shape: broadcast the (id, vec, norm) matrix and stream the
    * partitioned corpus through a primitive-array dot-product kernel. A
    * dense O(n²) similarity sweep is a BLAS workload, not a join: the
    * per-pair `zip_with` fold allocates an array per pair and measured
    * ~5 μs/pair, while the fused loop is ~25 ns/pair (same left-to-right
    * summation order, so results are bit-identical). The broadcast side
    * is the whole corpus — this operator is only for corpora that fit an
    * executor (exact verification tiers); unbounded corpora go through
    * the LSH candidate path first.
    */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("e"))
      .withColumn("nrm", Similarity.norm(col("e")))
      .as[(Long, Array[Double], Double)]
    val all = base.collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(all)
    val pairs = base.mapPartitions { it =>
      val rows = bc.value
      val n = rows.length
      val ids = rows.map(_._1)
      it.flatMap { case (ida, ea, na) =>
        // rows is sorted by id: start past ida so each pair emits once
        var lo = java.util.Arrays.binarySearch(ids, ida)
        if (lo < 0) lo = -lo - 1 else lo += 1
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var j = lo
        while (j < n) {
          val (idb, eb, nb) = rows(j)
          var acc = 0.0
          var d = 0
          while (d < ea.length) { acc += ea(d) * eb(d); d += 1 }
          val sim = acc / (na * nb)
          if (sim >= threshold) out += ((ida, idb, sim))
          j += 1
        }
        out
      }
    }
    pairs.toDF("id_a", "id_b", "sim")
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Banded embedding near-dup pairs — the SCALE-TRUE form of
    * [[embeddingCosinePairsLSH]]. The sf100 probe measured the fixed
    * single-table version's ceiling: nBits=8 is 256 buckets at every n,
    * so bucket load grows linearly and candidate cosines quadratically
    * (~9.5G pair evaluations at 2.2M vectors — 32× the sf10 wall for 10×
    * data). This form is the minhash-LSH banding shape on embeddings:
    * `bands` independent keys per vector (disjoint hyperplane sets), one
    * shuffle on (band, key), DISTINCT candidates joined back to the
    * vector table, exact cosine ≥ threshold. `bitsPerBand` defaults to
    * the adaptive `Similarity.lshBandBits` rule (2^w ≥ 16n — bucket load
    * bounded, candidates ~linear); pass a fixed width to pin a layout
    * the DuckDB oracle can replay (e11 pins 4×16).
    *
    * Recall contract (the standard hyperplane-LSH trade): a pair at
    * angle θ agrees on one sign bit with p = 1−θ/π, on a w-bit band
    * with p^w, and surfaces with 1−(1−p^w)^bands — exact duplicates
    * (θ→0) always surface;
    * threshold-boundary pairs are SAMPLED, with the sampling rate set by
    * w. Raising `bands` buys recall at linear cost; the adaptive w keeps
    * the candidate set linear at any corpus size.
    */
  def embeddingCosinePairsLSHBanded(df: DataFrame, idCol: String, vecCol: String,
                                    dim: Int, threshold: Double, bands: Int = 4,
                                    bitsPerBand: Option[Int] = None): DataFrame = {
    val w = bitsPerBand.getOrElse(Similarity.lshBandBits(df.count()))
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"embeddingCosinePairsLSHBanded: ${bands}x$w-bit plan (adaptive=${bitsPerBand.isEmpty})")
    // signature table read by the band join AND both sides of the
    // vector join-back: persisted for the call, released via finishPairs
    val sig = Similarity.withBandKeys(df, idCol, vecCol, dim, bands, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keyed = sig.select(col("id"), posexplode(col("keys")).as(Seq("band", "key")))
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val out = cand
      .join(sig.select(col("id").as("id_a"), col("e").as("ea"), col("nrm").as("na")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("e").as("eb"), col("nrm").as("nb")), "id_b")
      .withColumn("sim", Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
    finishPairs(out, sig)
  }

  /** Embedding near-dup pairs via a SINGLE fixed-width LSH table:
    * candidate pairs come only from rows sharing a random-hyperplane
    * bucket; exact cosine + threshold applies within buckets. Recall is
    * governed by nBits (fewer bits → bigger buckets → higher recall,
    * more compute).
    *
    * SCALE BOUND (measured, SCALING.md round-15 sf100 probe): a FIXED
    * nBits is a fixed bucket count, so bucket load grows linearly with
    * the corpus and candidate cosines quadratically — 32× the sf10 wall
    * for 10× the vectors at nBits=8/2.2M rows. This form is the
    * bounded-tier/oracle twin; unbounded corpora go through
    * [[embeddingCosinePairsLSHBanded]], whose per-band width scales with
    * n (and which measured FASTER with HIGHER recall from sf10 up).
    */
  def embeddingCosinePairsLSH(df: DataFrame, idCol: String, vecCol: String,
                              dim: Int, nBits: Int, threshold: Double): DataFrame = {
    val sig = Similarity.withSignatures(df, idCol, vecCol, dim, nBits)
    val a = sig.select(col("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("ea"), col("nrm").as("na"))
    val b = sig.select(col("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 4).as("sim"))
  }

  /** Connected components over an undirected candidate-pair edge set —
    * the resolution step a near-dup pipeline needs after `minhashPairs`/
    * `simhashCandidates`: pairs chain (A~B, B~C ⇒ {A,B,C} is one group),
    * so keep/drop decisions must be made per component, not per pair.
    *
    * Every node is labeled with the minimum id in its component
    * (`cluster_id`). A bounded count of the pair rows picks the path:
    *  - at most `LocalEdgeLimit` rows: one task runs [[unionFind]]
    *    (`repartition(1)` + `mapPartitions`, nothing collected to the
    *    driver). The result is lazy: each evaluation reruns that task;
    *  - more: [[labelPropagation]], rounds of neighbor-min propagation
    *    plus pointer jumps; `maxIters` caps the rounds of this path only,
    *    and labels still moving at the cap throw `IllegalStateException`.
    * The path, the edge count and the round count are logged at INFO.
    * The count and the chosen path each read `pairs`, so an expensive lazy
    * input is best materialized first (the LSH edge builders return
    * checkpointed frames).
    * Ids are cast to long. An edge with a null end joins nothing: its
    * other end is a node of its own, and a single null id, labeled null,
    * stands for all null ends (as in the join semantics of the loop).
    * The reference resolves version chains one row at a time in Python
    * (`lamindb/models/_is_versioned.py:271-336`).
    */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b", maxIters: Int = 25): DataFrame = {
    val ends = pairs.select(col(idACol).cast("long"), col(idBCol).cast("long"))
    val n = ends.limit(LocalEdgeLimit + 1).count()
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    if (n <= LocalEdgeLimit) {
      log.info(s"connected components: single-task union-find over $n edges (limit $LocalEdgeLimit)")
      ends.repartition(1).mapPartitions(unionFind)(Encoders.row(ComponentSchema))
    } else {
      val (labels, rounds) = labelPropagation(pairs, idACol, idBCol, maxIters)
      log.info(s"connected components: label propagation over more than $LocalEdgeLimit edges, $rounds rounds")
      labels
    }
  }

  /** Pair rows up to which [[connectedComponents]] runs [[unionFind]] in
    * one task. Swept on chains of 20 nodes, local[4] on a 4-vCPU host,
    * timing the call plus a distinct count of its labels (ms), with the
    * union-find's array heap:
    *
    *   edges    single task   label loop   arrays
    *   380            277        2,326     < 1 MB
    *   190k           767        7,824       7 MB
    *   1M           1,384       17,788      38 MB
    *   2M           1,794       29,690      81 MB
    *   3M           2,781       44,111     122 MB
    *   4M           3,092       61,552     173 MB
    *   5M           3,761      103,879     193 MB
    *   6M           4,597            —     259 MB
    *
    * The single task never stopped winning, so the heap sets the bound:
    * above 5M edges it passes ~256 MB (on distinct endpoints and the
    * worst growth slack, 48 bytes per edge: 240 MB at 5M). A 5M-edge call
    * also ran in a JVM capped at 640 MB of heap.
    */
  val LocalEdgeLimit: Int = 5000000

  private val ComponentSchema = StructType(Seq(
    StructField("id", LongType), StructField("cluster_id", LongType)))

  /** Components of one partition of `(a, b)` long rows as `(id,
    * cluster_id)` rows, ids ascending: the endpoints are collected into a
    * flat array, sorted and deduplicated into the node table, and a
    * union-find over node indices (path halving, the smaller root wins)
    * keeps every root at its component's minimum. Heap: at most 48 bytes
    * per edge (endpoints with growth slack, sorted nodes, parents).
    */
  private[ext] def unionFind(rows: Iterator[Row]): Iterator[Row] = {
    var ends = new Array[Long](1024)
    var n = 0
    var nullEnd = false
    while (rows.hasNext) {
      val r = rows.next()
      nullEnd ||= r.isNullAt(0) || r.isNullAt(1)
      if (!r.isNullAt(0) || !r.isNullAt(1)) {
        if (n + 2 > ends.length) ends = java.util.Arrays.copyOf(ends, n + (n >> 1))
        // an edge with one null end keeps its other end as a self-loop
        val a = r.getLong(if (r.isNullAt(0)) 1 else 0)
        ends(n) = a
        ends(n + 1) = if (r.isNullAt(1)) a else r.getLong(1)
        n += 2
      }
    }
    val ids = java.util.Arrays.copyOf(ends, n)
    java.util.Arrays.sort(ids)
    var k = 0
    var i = 0
    while (i < n) {
      if (k == 0 || ids(k - 1) != ids(i)) { ids(k) = ids(i); k += 1 }
      i += 1
    }
    val parent = Array.range(0, k)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def node(id: Long) = find(java.util.Arrays.binarySearch(ids, 0, k, id))
    i = 0
    while (i < n) {
      val ra = node(ends(i))
      val rb = node(ends(i + 1))
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
      i += 2
    }
    val labeled = Iterator.range(0, k).map(i => Row(ids(i), ids(find(i))))
    if (nullEnd) Iterator(Row(null, null)) ++ labeled else labeled
  }

  /** The distributed path of [[connectedComponents]]: min-label
    * propagation to a fixpoint, returning the `(id, cluster_id)` labels and
    * the number of rounds run. Each round does one neighbor-min
    * propagation (one shuffle on the edge key) plus a double pointer jump
    * (`comp ← comp(comp)`, a self-join on the label table). Where ids grow
    * along paths (LSH edges point at a bucket's min id) that converges in
    * O(log(component diameter)) rounds; on a path over shuffled ids it
    * takes about half the diameter (85 rounds on chains of up to 150
    * shuffled ids). If labels are still moving after `maxIters` rounds,
    * the cached edges and checkpoints are released and an
    * `IllegalStateException` names the rounds run and the cap.
    */
  private[graft] def labelPropagation(pairs: DataFrame, idACol: String = "id_a",
                                      idBCol: String = "id_b",
                                      maxIters: Int = 25): (DataFrame, Int) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = pairs.sparkSession
    // NOTE (r18 optimization review): pre-partitioning this cache by dst
    // (`.repartition(col("dst"))` before persist) was tried and REVERTED
    // — the per-round edges ⋈ labels join plans as a BroadcastHashJoin
    // of the label frame (verified in the executed plan), so the edge
    // side is never dst-shuffled in any round and the extra build-time
    // exchange is pure cost (b07 5.7 → 6.1 s).
    val edges = pairs
      .select(col(idACol).cast("long").as("src"), col(idBCol).cast("long").as("dst"))
      .union(pairs.select(col(idBCol).cast("long").as("src"), col(idACol).cast("long").as("dst")))
      .distinct()
      .persist(MEMORY_AND_DISK)
    // Per-round checkpoint, TWO layers with distinct jobs:
    //
    //  1. `localCheckpoint(false)` truncates the LINEAGE — the
    //     pointer-jump self-join would otherwise both double the logical
    //     plan every iteration AND chain every round's RDD dependency
    //     graph into the next (task (de)serialization recurses through
    //     that chain: at sf10 round counts it overflows the executor
    //     stack — a plain `rdd.persist` re-wrap is NOT enough, persist
    //     caches data but keeps the dependency chain).
    //  2. the `createDataFrame(ck.rdd, schema)` re-wrap resets the
    //     STATISTICS — localCheckpoint rewrites the origin plan's stats
    //     onto its leaf, and in this loop a round's size estimate is a
    //     product over the previous leaf's (the jump SQUARES it), so the
    //     estimate's bit-length doubles every round; by ~10 rounds the
    //     driver stalls in multi-megabit BigInteger multiplications
    //     inside stats estimation (surfaced by the sf10 tier). With the
    //     re-wrap every round's leaves carry the default estimate, so
    //     the per-round stats computation is constant-cost.
    def ckpt(df: DataFrame): (DataFrame, DataFrame) = {
      val ck = df.localCheckpoint(false)
      (spark.createDataFrame(ck.rdd, df.schema), ck)
    }
    /** Release the persisted blocks behind a localCheckpoint'ed frame.
      * Dataset.unpersist only uncaches cacheManager entries; a checkpoint
      * persists at the RDD level, reachable through the LogicalRDD leaf.
      */
    def freeCheckpoint(df: DataFrame): Unit =
      df.queryExecution.logical match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
    val init = ckpt(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp")))
    var labels = init._1
    var labelsCk = init._2
    labelsCk.count() // eager, like the old eager initial checkpoint
    var iter = 0
    var done = false
    // checkpoints the CURRENT lazy `labels` chain still reads (the
    // stepped frame and the first jump): next round's probe materializes
    // the chain, so they can only be freed AFTER that probe runs.
    var pendingFree: List[DataFrame] = Nil
    while (!done && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("ncomp")), "dst")
        .groupBy(col("src").as("id")).agg(min("ncomp").as("nbr_min"))
      // carry the pre-step label so the convergence probe is a plain
      // filter over the round's result, not a join back to `labels`.
      // stepped must be materialized BEFORE the pointer-jump self-join:
      // its two sides shuffle on different keys, so without
      // materialization the edge join + aggregation would execute twice.
      // LAZY checkpoint + full-scan probe: the probe below is the job
      // that materializes it — probe and materialization fused into ONE
      // job per round instead of an eager pass plus a probe pass.
      val (stepped, steppedCk) = ckpt(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("old_comp"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp")))
      // converged = neighbor-min propagation reached its fixpoint (the
      // jump only accelerates, it can't change the fixpoint) — so the
      // probe runs on stepped and the FINAL round skips the jump join.
      // Deliberately NO limit(1): an early-exit probe would materialize
      // only some checkpoint partitions and push the rest into later
      // consumers. Empty edges converge on round 0, no separate isEmpty.
      done = stepped.filter(col("comp") =!= col("old_comp")).count() == 0
      // the probe materialized `stepped` (and the current lazy `labels`
      // chain that feeds it) — the previous round's lazy inputs are now
      // dead. Without this, every CC call leaked ~2 checkpointed RDDs
      // per round into the block manager (round-11 verdict: later bench
      // entries paid for the accumulated pressure).
      pendingFree.foreach(freeCheckpoint)
      pendingFree = Nil
      if (!done) {
        // DOUBLE pointer jump: follow the label one hop, twice (comp is
        // itself a node id). Simulated on chain graphs: 2 jumps/round
        // cut rounds 5→3 at diameter 20 (the b07 shape) and 10→6 at
        // 1000, and every round saved is one fewer full-edge-set join —
        // the dominant per-round cost at corpus scale. Both jumps are
        // lazy checkpoints: next round's probe job materializes the
        // chain over the ALREADY-cached stepped, no separate eager pass.
        val oldLabelsCk = labelsCk
        def jump(df: DataFrame): (DataFrame, DataFrame) = ckpt(df
          .join(df.select(col("id").as("comp"), col("comp").as("cc")), Seq("comp"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("cc"), col("comp"))).as("comp")))
        val (j1, j1Ck) = jump(stepped)
        val (j2, j2Ck) = jump(j1)
        labels = j2
        labelsCk = j2Ck
        // the jump chain reads stepped → j1; the pre-step labels are dead
        freeCheckpoint(oldLabelsCk)
        pendingFree = List(steppedCk, j1Ck)
      } else {
        // converged: stepped equals labels in comp — the pre-step labels
        // (already materialized) are what we return; drop the duplicate
        freeCheckpoint(steppedCk)
      }
      iter += 1
    }
    edges.unpersist(blocking = false)
    if (!done) {
      // maxIters exhausted with labels still moving: nothing of the
      // unconverged chain is returned, so release all of it
      (labelsCk :: pendingFree).foreach(freeCheckpoint)
      throw new IllegalStateException(
        s"connected components did not converge: labels still moving after $iter rounds (maxIters = $maxIters)")
    }
    (labels.select(col("id"), col("comp").as("cluster_id")), iter)
  }

  /** Per-document duplicate resolution: join the corpus against the
    * connected components of its candidate pairs. Docs in no pair form
    * their own singleton cluster; the canonical doc of a cluster is the
    * minimum id (= the cluster label).
    */
  def resolveDuplicates(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val comps = connectedComponents(pairs).withColumnRenamed("id", idCol)
    docs.join(comps, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol).cast("long")))
      .withColumn("is_canonical", col(idCol).cast("long") === col("cluster_id"))
  }

  /** C4-style cross-document line deduplication: split every doc into
    * fixed-width token lines, keep only the globally FIRST occurrence of
    * each line (ordered by doc id, then position), and rebuild the doc
    * from its surviving lines. Removes boilerplate repeated across the
    * corpus (headers, navigation, license blurbs).
    *
    * One shuffle partitioned by the line content (the first-occurrence
    * window) + one on the doc id (reassembly) — linear in corpus size.
    */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                lineTokens: Int = 8): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")))
    val lines = toks.select(col("id"),
      posexplode(transform(
        sequence(lit(0), ceil(col("n") / lit(lineTokens.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(col("tk"), i * lineTokens + 1, lit(lineTokens)))))
        .as(Seq("line_idx", "line")))
    val w = Window.partitionBy(col("line")).orderBy(col("id"), col("line_idx"))
    lines.withColumn("keep", row_number().over(w) === 1)
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("line_idx").as("i"), col("line").as("l"))))),
          s => s.getField("l"))).as("text_dedup"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                   textCol: String, n: Int = 3): DataFrame = {
    val sh = graft.core.Par.spreadForCpu(docs)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), shinglesFromTokens(col("__toks"), n).as("sh"))
    pairs
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Broder CONTAINMENT for candidate pairs: c_a = |A∩B| / |A| (the
    * fraction of a's n-gram shingles that appear in b) plus the
    * symmetric c_b — the partial-copy detector symmetric Jaccard
    * misses: a document wholly embedded in one 10× larger has
    * jaccard ≈ 0.1 but containment 1.0, and training-data dedup wants
    * to catch exactly that (quoted articles, concatenated dumps).
    * Same plan shape as [[ngramJaccard]]: shingling is map-side, the
    * pair list joins the shingle table twice.
    */
  def ngramContainment(pairs: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String, n: Int = 3): DataFrame = {
    val sh = graft.core.Par.spreadForCpu(docs)
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), shinglesFromTokens(col("__toks"), n).as("sh"))
    pairs
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("__i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .select(col("id_a"), col("id_b"),
        round(col("__i") / size(col("sh_a")), 4).as("containment_a"),
        round(col("__i") / size(col("sh_b")), 4).as("containment_b"))
  }

  /** Cardinality-adaptive gram-df cap — the gram family's
    * `simhashBandPlan`: `max(base, nDocs / freqDenom)`, exact integer
    * arithmetic so the generated DuckDB oracle replays it bit-for-bit
    * without knowing n in advance.
    *
    * Why adaptive: the cap bounds the gram-hash self-join (a kept gram
    * at document frequency df contributes ~df² candidate pairs), but it
    * is ALSO the largest duplicate-cluster size the operator can SEE —
    * every copy of a k-duplicated span raises its grams' df to ~k, so a
    * FIXED cap freezes the recallable cluster size at 50 while the
    * corpus grows: proportionally sized clusters (boilerplate, licenses,
    * templates — the things a 100 TB corpus is deduplicated FOR)
    * silently vanish one decade in. That is the fixture-constant
    * saturation class the sf10 gate exists to kill (SCALING.md
    * round-13b). Scaling the cap as a RELATIVE frequency (default 0.1%
    * of corpus docs, floor `base`) makes the dropped class
    * scale-invariant: "grams occupying >0.1% of the corpus are
    * background" means the same thing at every n, so recall no longer
    * decays with corpus size. Cost trade, stated honestly: worst-case
    * Σdf² over kept grams is cap·Σdf — quadratic only when the corpus
    * is wall-to-wall boilerplate sitting exactly at the threshold; the
    * synthetic tiers measure max df 4 (sf1.0) / 12 (sf10), so the
    * adaptive cap changes nothing on natural text. `RecallContractSpec`
    * gates both sides at the sf0.001 fixture: planted clusters of half
    * the cap are recalled in full, and a block planted past a fixed cap
    * is dropped, or kept at linear cost under `pairBudget`.
    */
  def gramDfCap(nDocs: Long, base: Long = 50L, freqDenom: Long = 1000L): Long =
    math.max(base, nDocs / freqDenom)

  /** Exact substring-span dedup — maximal shared token spans across
    * document pairs (the suffix-array dedup of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * re-expressed relationally): every `gramLen`-token window is
    * hashed; documents sharing a window become candidate pairs; runs of
    * consecutive matching windows on the same alignment diagonal
    * (`pos_a - pos_b`) merge into maximal spans via gaps-and-islands.
    * A span row `(doc_a, doc_b, start_a, start_b, len_tokens)` means
    * `gramLen + k` consecutive tokens are identical between the docs.
    *
    * Scale shape: gram hashing is map-side; the only wide operation is
    * the gram-hash self-join, and the gram-df cap bounds each join
    * group — stop-phrase grams above the cap are dropped exactly like
    * the suffix-array method's frequent-substring cutoff (and like
    * d17's star-edge skew treatment). The cap is CARDINALITY-ADAPTIVE
    * by default (`gramDfCap`: max(50, n/1000), one count job over the
    * input to size it — the same pattern as `simhashBandPlan`), so the
    * largest duplicate cluster the operator can see scales with the
    * corpus instead of freezing at a constant; pass `maxGramDf` to pin
    * a fixed cap (fixed recall ceiling, hard cost bound). One more
    * shuffle groups the diagonal islands per pair. Raise `gramLen`
    * like a minhash band width as the corpus grows. The chosen cap is
    * logged per run (slf4j INFO) so runs are auditable.
    *
    * `pairBudget` is the quadratic-worst-case knob the SCALING.md
    * countdown names: a kept gram at document frequency df normally
    * contributes df·(df−1)/2 candidate pairs, so a boilerplate block on
    * exactly the cap fraction of a 10⁹-doc corpus pays (n/1000)² pairs.
    * With a budget B, grams at df > B switch to STAR pairing — every
    * occurrence pairs only with the gram's canonical occurrence (the
    * minimum doc id, then the minimum position inside it), df−1 pairs
    * instead of df²/2 — the same star-edge treatment d17's
    * connected-components skew guard uses. Cluster RECALL is preserved
    * exactly (every copy of a shared block still spans against the
    * canonical copy, so CC over the pair graph keeps one component);
    * what is given up is the non-canonical pair spans between two
    * later copies, which downstream span-cutting never needed. The
    * rule is integer-exact and deterministic, so a DuckDB oracle
    * replays it bit-for-bit (see d26). Default `None` keeps the
    * all-pairs semantics (d24's oracle shape).
    */
  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
                     gramLen: Int = 13, maxGramDf: Option[Long] = None,
                     pairBudget: Option[Long] = None): DataFrame = {
    val cap = maxGramDf.getOrElse(gramDfCap(docs.count()))
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"substringSpans: gram-df cap $cap (adaptive=${maxGramDf.isEmpty})" +
        pairBudget.fold("")(b => s", per-gram pair budget $b (star above)"))
    val toks = graft.core.Par.spreadForCpu(docs)
      .select(col(idCol).cast("long").as("doc"),
        TextOps.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= gramLen)
    // gram key: two xxhash64 LONGs, not an md5 hex string — the key is
    // a pure join/group key that never reaches the output (spans carry
    // only doc ids + positions), so an effectively-collision-free hash
    // yields identical spans and the DuckDB oracle's md5-keyed replay
    // still matches. 16 key bytes cut the corpus-scale gram shuffle
    // ~2.5× vs the 32-char hex string (the only corpus-wide exchange
    // in this plan): the r18 sf1,000 cost-contract leg exhausted the
    // disk on the md5 keys before the narrower key landed.
    // ONE corpus-wide exchange, shared by every consumer: the raw gram
    // occurrences are explicitly hash-partitioned on (gh0,gh1), so the df
    // aggregate (clustering satisfied — partial+final collapse into
    // the same stage, no second exchange) and the df join (both sides
    // co-partitioned) sit on top of the SAME shuffle, and AQE's stage
    // cache materializes it once across all dense/star subtrees.
    // Without this the probe and aggregate sides shuffle the corpus
    // independently (the partial agg sits below the aggregate's
    // exchange, so those subtrees never canonicalize equal) — 2× the
    // corpus gram table on disk, which is what exhausted the sf1,000
    // leg's disk in r18.
    // 128-bit gram key: TWO INDEPENDENTLY seeded xxhash64 words over the
    // gram string. A single 64-bit key makes cross-gram collisions
    // statistically EXPECTED at the scale this operator targets (~5e9
    // distinct 13-grams at 57M docs -> O(1) birthday collisions, each
    // one either dropping a real duplicate gram group past the df cap
    // or fabricating a span between unrelated docs that cutSpans would
    // then excise) — r18 review. The salt goes FIRST in the second
    // word: Spark's multi-arg xxhash64 folds sequentially, so the
    // salt-LAST form xxhash64(g, 1L) = hash(1L, seed=xxhash64(g)) is a
    // pure function of gh0 and adds ZERO collision resistance (r18
    // ADVICE: any gh0 collision is automatically a gh1 collision).
    // xxhash64(1L, g) = hash(g, seed=hash(1L, 42)) re-hashes the gram
    // BYTES under an independent seed, so the composite key's collision
    // odds really are ~1e-19 at 1e10 grams while the exchange still
    // carries 16 key bytes instead of the md5 path's 32-hex string.
    // The gram string explodes BEFORE hashing so concat_ws/slice run
    // once per gram (inside the transform lambda each of the two hash
    // calls would re-evaluate them — no CSE across lambda boundaries).
    val grams = toks.select(col("doc"),
      posexplode(transform(
        sequence(lit(0), size(col("tk")) - gramLen),
        i => concat_ws(" ", slice(col("tk"), i + 1, lit(gramLen)))))
        .as(Seq("pos", "g")))
      .select(col("doc"), col("pos"),
        xxhash64(col("g")).as("gh0"), xxhash64(lit(1L), col("g")).as("gh1"))
      .repartition(col("gh0"), col("gh1"))
    val gh = Seq("gh0", "gh1")
    val kept = grams.join(
      grams.groupBy(gh.map(col): _*).agg(count(lit(1)).as("df")).filter(col("df") <= cap),
      gh)
    def allPairs(occ: DataFrame): DataFrame =
      occ.as("a").join(occ.as("b"),
          col("a.gh0") === col("b.gh0") && col("a.gh1") === col("b.gh1") &&
            col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
          col("a.pos").cast("long").as("pos_a"), col("b.pos").cast("long").as("pos_b"))
    def islands(pairs: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
        .orderBy(col("pos_a"))
      pairs.withColumn("diag", col("pos_a") - col("pos_b"))
        .withColumn("island", col("pos_a") - row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
          (max("pos_a") - min("pos_a") + gramLen).as("len_tokens"))
        .select("doc_a", "doc_b", "start_a", "start_b", "len_tokens")
    }
    pairBudget match {
      // all-pairs: the self-join shuffles both sides of the SAME subtree
      // on gh, so ReuseExchange serves it from one shuffle — no persist
      // needed
      case None => islands(allPairs(kept.drop("df")))
      case Some(b) =>
        // SINGLE-QUERY two-tier plan, no persist: every consumer of
        // `kept` — the dense self-join's two sides and the star tier's
        // three over-budget reads — sits above the SAME canonical
        // Exchange(grams by gh), so ReuseExchange serves all of them
        // from ONE corpus-scale shuffle, exactly like the unbudgeted
        // path. The earlier shape persisted the entire `kept` set
        // (MEMORY_AND_DISK) to share the df-join across subtrees; at
        // 57M docs that is a SECOND full copy of the corpus gram table
        // on disk on top of the shuffle, and the r18 sf1,000 leg died
        // on disk exhaustion under it. The trade is post-shuffle
        // recompute (the df-join re-executes per consumer above the
        // reused exchange) — CPU-linear, disk-free, and the star-side
        // consumers filter to a vanishing row count (bounded by
        // cap × #over-budget grams) before any further shuffle.
        // dense tier: grams within budget keep the exact all-pairs join
        val dense = allPairs(kept.filter(col("df") <= b).drop("df"))
        // star tier: canonical occurrence = (min doc, then min pos in
        // it); three gh-keyed ops sharing the reused gram exchange
        val over = kept.filter(col("df") > b).drop("df")
        val canonDoc = over.groupBy(gh.map(col): _*).agg(min("doc").as("m_doc"))
        val canon = over.join(canonDoc, gh)
          .filter(col("doc") === col("m_doc"))
          .groupBy(col("gh0"), col("gh1"), col("m_doc")).agg(min("pos").as("m_pos"))
        val star = over.join(canon, gh)
          .filter(col("doc") > col("m_doc"))
          .select(col("m_doc").as("doc_a"), col("doc").as("doc_b"),
            col("m_pos").cast("long").as("pos_a"), col("pos").cast("long").as("pos_b"))
        islands(dense.unionByName(star))
    }
  }

  /** Apply a span table to the corpus — the cut step of Lee et al. 2022
    * (reference `substring` dedup removes all but ONE occurrence of each
    * duplicated span): for every span row, the NON-canonical side
    * (`doc_b`, the larger id) loses tokens `[start_b, start_b+len)`;
    * `doc_a` keeps its copy, and the globally smallest doc of a clique
    * never appears as `doc_b`, so exactly one occurrence survives.
    * Spans shorter than `minLen` tokens are ignored (the paper cuts
    * ≥ 50-token runs; default keeps everything the 13-gram spans found).
    *
    * Shape: one distinct+collect aggregate keyed on the cut doc (cut
    * lists are per-doc small — bounded by the doc's own span count),
    * one join back to the corpus, then a map-only indexed array filter
    * (`transform`/`filter`/`exists` — codegen'd higher-order functions,
    * no explode, no per-token shuffle). Docs without cuts pass through
    * the left join untouched. Output: original token count, kept token
    * count, and the rebuilt text.
    */
  def cutSpans(docs: DataFrame, spans: DataFrame, idCol: String,
               textCol: String, minLen: Long = 13L): DataFrame = {
    val cuts = spans.filter(col("len_tokens") >= minLen)
      .select(col("doc_b").as("__doc"), col("start_b").as("s"),
        (col("start_b") + col("len_tokens")).as("e"))
      .distinct()
      .groupBy("__doc")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__cuts"))
    val indexed = transform(col("__tk"),
      (t, i) => struct(t.as("t"), i.cast("long").as("p")))
    val keptArr = transform(
      filter(indexed, x => not(exists(col("__cuts"), c =>
        x.getField("p") >= c.getField("s") && x.getField("p") < c.getField("e")))),
      x => x.getField("t"))
    docs.join(cuts, col(idCol).cast("long") === col("__doc"), "left")
      .withColumn("__tk", TextOps.tokens(col(textCol)))
      .withColumn("__kept",
        when(col("__cuts").isNull, col("__tk")).otherwise(keptArr))
      .select(col(idCol),
        size(col("__tk")).cast("long").as("n_tokens"),
        size(col("__kept")).cast("long").as("n_tokens_kept"),
        concat_ws(" ", col("__kept")).as("text_dedup"))
  }
}
