package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import ComponentsPropertySpec.singleTask

/** Round-4 corpus-curation operators: connected-component duplicate
  * resolution, C4-style line dedup, benchmark decontamination, domain-mix
  * sampling, and semantic cluster pruning.
  */
class MixOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- connected components ------------------------------------------

  test("connectedComponents groups chains transitively, labels with min id") {
    // two components: {1,2,3,4} (a chain) and {10,11}; 20 is isolated (no edges)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // a 64-node path needs ~log2(64) rounds with jumps, not 64 (the
    // label-propagation loop that runs above Dedup.LocalEdgeLimit edges)
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.labelPropagation(pairs, maxIters = 10)._1
      .as[(Long, Long)].collect()
    assert(cc.length === 64 && cc.forall(_._2 === 0L))
  }

  test("connectedComponents: a null end joins nothing, one null row, on both paths") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (null, 3L), (4L, null), (5L, 5L))
      .toDF("id_a", "id_b")
    val want = Seq("[1,1]", "[2,1]", "[3,3]", "[4,4]", "[5,5]", "[null,null]")
    val cc = Dedup.connectedComponents(pairs)
    assert(singleTask(cc) && cc.collect().map(_.toString).sorted.toSeq === want)
    assert(Dedup.labelPropagation(pairs)._1.collect().map(_.toString).sorted.toSeq === want)
  }

  test("connectedComponents on a small graph: one task, at most 4 jobs with the caller's collect") {
    // 10 chains of 20 nodes (the label-propagation loop takes 24 jobs here)
    val pairs = spark.range(0, 200).filter(col("id") % 20 =!= 19)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    var cc: Array[(Long, Long)] = null
    val jobs = org.apache.spark.ListenerBusDrain.jobs(spark.sparkContext) {
      val df = Dedup.connectedComponents(pairs)
      assert(singleTask(df))
      cc = df.as[(Long, Long)].collect()
    }
    assert(jobs <= 4, s"$jobs Spark jobs")
    assert(cc.toMap === (0L until 200L).map(i => i -> i / 20 * 20).toMap)
  }

  test("exactly LocalEdgeLimit edges take the single task, one more takes the loop") {
    // copies of one edge: the edge count decides, the graph stays two nodes
    def copies(n: Long) = spark.range(0, n).select((col("id") * 0).as("id_a"), (col("id") * 0 + 1).as("id_b"))
    Seq(Dedup.LocalEdgeLimit.toLong -> true, Dedup.LocalEdgeLimit + 1L -> false).foreach { case (n, single) =>
      val cc = Dedup.connectedComponents(copies(n))
      assert(singleTask(cc) === single, n)
      assert(cc.as[(Long, Long)].collect().toSet === Set(0L -> 0L, 1L -> 0L), n)
    }
  }

  test("connectedComponents handles an empty pair set") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
    assert(singleTask(cc) && cc.count() === 0)
    assert(Dedup.labelPropagation(pairs)._1.count() === 0)
  }

  test("resolveDuplicates: singletons are their own canonical cluster") {
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.resolveDuplicates(docs, pairs, "doc_id")
      .select("doc_id", "cluster_id", "is_canonical")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(r === Set((1L, 1L, true), (2L, 2L, true), (3L, 1L, false), (9L, 9L, true)))
  }

  test("resolveDuplicates composes with minhashPairs end to end") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "quick brown fox jumps over the lazy dog again and again"),
      (4L, "completely different content about spark query engines and shuffles here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.4)
    val r = Dedup.resolveDuplicates(docs.select("doc_id"), pairs, "doc_id")
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(r(1L) === 1L && r(2L) === 1L && r(3L) === 1L) // one near-dup cluster
    assert(r(4L) === 4L)                                 // distinct doc untouched
  }

  // ---- line dedup ------------------------------------------------------

  test("lineDedup keeps only the first occurrence of a repeated line") {
    // 8-token boilerplate shared by docs 1 and 2; doc bodies unique
    val header = "a b c d e f g h"
    val docs = Seq(
      (1L, s"$header one two three four five six seven eight"),
      (2L, s"$header nine ten eleven twelve thirteen fourteen fifteen sixteen"),
      (3L, "unrelated body with its own eight tokens here")
    ).toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs, "doc_id", "text", lineTokens = 8)
      .select("doc_id", "n_lines", "n_kept", "text_dedup")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(r(0) === ((1L, 2L, 2L, s"$header one two three four five six seven eight")))
    // doc 2 loses the header but keeps its own body
    assert(r(1) === ((2L, 2L, 1L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")))
    assert(r(2)._2 === 1L && r(2)._3 === 1L)
  }

  test("lineDedup: duplicate line within one doc also dedups (first position wins)") {
    val line = "x1 x2 x3 x4 x5 x6 x7 x8"
    val docs = Seq((5L, s"$line $line")).toDF("doc_id", "text")
    val r = Dedup.lineDedup(docs, "doc_id", "text", lineTokens = 8)
      .select("n_lines", "n_kept", "text_dedup").as[(Long, Long, String)].head()
    assert(r === ((2L, 1L, line)))
  }

  // ---- decontamination -------------------------------------------------

  test("decontaminate flags docs sharing 8-grams with the eval set") {
    val evalSet = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta different tail here now"), // shares 8-grams
      (2L, "totally clean document about nothing related to the benchmark at all what")
    ).toDF("doc_id", "text")
    val byId = TextOps.decontaminate(corpus, evalSet, "doc_id", "text", n = 8)
      .select("doc_id", "n_hits", "contaminated")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L)._1 >= 1L && byId(1L)._2)
    assert(byId(2L) === ((0L, false)))
  }

  test("decontaminate counts distinct matching grams, zero-hit docs included") {
    val evalSet = Seq((9L, "one two three four five six seven eight")).toDF("doc_id", "text")
    // corpus doc repeats the eval text twice -> grams are distinct-reduced,
    // so the repeated window still counts once per distinct gram
    val corpus = Seq((1L, "one two three four five six seven eight one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val r = TextOps.decontaminate(corpus, evalSet, "doc_id", "text", n = 8)
      .select("n_ngrams", "n_hits").as[(Long, Long)].head()
    // 16 tokens -> 9 windows, 8 distinct (the eval gram + 7 wrap-spanning), 1 hit
    assert(r._1 === 8L && r._2 === 1L)
  }

  test("decontaminate short-doc fallback gram is order- and repetition-sensitive") {
    // all docs are under the 8-token gram width, so each contributes the
    // single whole-doc fallback gram. An XOR-style fold would match
    // 'alpha beta' with 'beta alpha' (commutes) and 'xray xray yankee'
    // with 'yankee' (repeats cancel); the chained hash must not.
    val evalSet = Seq(
      (100L, "beta alpha"),
      (101L, "yankee")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta"),        // permutation of eval 100 — NOT a hit
      (2L, "beta alpha"),        // verbatim eval 100 — hit
      (3L, "xray xray yankee"),  // xor-cancels to eval 101 — NOT a hit
      (4L, "yankee")             // verbatim eval 101 — hit
    ).toDF("doc_id", "text")
    val byId = TextOps.decontaminate(corpus, evalSet, "doc_id", "text", n = 8)
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(byId === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
  }

  test("short-doc fallback matching agrees with the string-gram portable path") {
    // the hashed fallback must induce the same equivalence classes as the
    // whole-doc string gram used by shinglesFromTokens / the DuckDB oracles
    val docs = Seq("a b", "b a", "a a b", "a b", "c").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val hashed = docs
      .select(col("id"), Dedup.tokenHashes(col("text")).as("th"))
      .select(col("id"), element_at(Dedup.shingleHashesFromTokenHashes(col("th"), 8), 1).as("g"))
      .as[(Long, Long)].collect().toMap
    val strings = docs
      .select(col("id"), element_at(
        Dedup.shinglesFromTokens(split(trim(col("text")), "\\s+"), 8), 1).as("g"))
      .as[(Long, String)].collect().toMap
    for (i <- hashed.keys; j <- hashed.keys)
      assert((hashed(i) == hashed(j)) === (strings(i) == strings(j)),
        s"fallback equivalence diverges for docs $i vs $j")
  }

  // ---- domain mix --------------------------------------------------------

  private lazy val mixDf = {
    // 60 'a' rows, 30 'b', 10 'c'
    val rows = (0L until 60L).map((_, "a")) ++ (100L until 130L).map((_, "b")) ++
      (200L until 210L).map((_, "c"))
    rows.toDF("id", "domain")
  }

  test("domainMix hits exact quotas pinned by the scarcest domain") {
    // targets 50/30/20: c pins T = 10/0.2 = 50 -> quotas 25/15/10
    val r = Sampling.domainMix(mixDf, "id", "domain",
      Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), salt = "s1")
    val counts = r.groupBy("domain").count().as[(String, Long)].collect().toMap
    assert(counts === Map("a" -> 25L, "b" -> 15L, "c" -> 10L))
  }

  test("domainMix is deterministic across runs and sensitive to salt") {
    def ids(salt: String) = Sampling.domainMix(mixDf, "id", "domain",
      Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), salt)
      .select("id").as[Long].collect().toSet
    assert(ids("s1") === ids("s1"))
    assert(ids("s1") !== ids("other-salt"))
  }

  test("domainMixThreshold approximates quotas without a sort") {
    val r = Sampling.domainMixThreshold(mixDf, "id", "domain",
      Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), salt = "s1")
    val counts = r.groupBy("domain").count().as[(String, Long)].collect().toMap
    // binomial noise on quotas 25/15/10 — sanity bounds only
    assert(counts.getOrElse("a", 0L) > 10L && counts.getOrElse("a", 0L) < 45L)
    assert(counts.getOrElse("c", 0L) <= 10L) // cut rate = quota/count = 1.0 keeps all 10 at most
    // determinism
    val again = Sampling.domainMixThreshold(mixDf, "id", "domain",
      Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2), salt = "s1")
      .groupBy("domain").count().as[(String, Long)].collect().toMap
    assert(counts === again)
  }

  // ---- semantic prune ------------------------------------------------------

  test("semanticPrune keeps the most central members per cluster") {
    // 2 centroids (ids 0,1) along orthogonal axes; members lean toward one
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.8f, 0.2f)), (4L, Array(0.7f, 0.3f)),
      (5L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val r = Similarity.semanticPrune(vecs, "vec_id", "embedding",
        nCentroids = 2, keepPerCluster = 2)
      .select("vec_id", "cluster_id", "cluster_rank", "kept")
      .as[(Long, Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    // cluster 0: members 0,2,3,4 by cosine; ranks: 0 (sim 1.0), then 2, 3, 4
    assert(r(0L)._2 === 0L && r(0L)._3 === 1L && r(0L)._4)
    assert(r(2L)._2 === 0L && r(2L)._3 === 2L && r(2L)._4)
    assert(r(3L)._2 === 0L && r(3L)._3 === 3L && !r(3L)._4)
    assert(r(4L)._2 === 0L && !r(4L)._4)
    // cluster 1: 1 and 5 both kept (only 2 members)
    assert(r(1L)._2 === 1L && r(1L)._4)
    assert(r(5L)._2 === 1L && r(5L)._4)
  }

  test("semanticPrune accepts trained centroids from kmeansFit") {
    val vecs = (0L until 40L).map { i =>
      val angle = (i % 4) * math.Pi / 2 + 0.05 * (i / 4)
      (i, Array(math.cos(angle).toFloat, math.sin(angle).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(vecs, "vec_id", "embedding", k = 4, iters = 2)
    val r = Similarity.semanticPrune(vecs, "vec_id", "embedding",
      keepPerCluster = 5, centroids = Some(cents))
    assert(r.count() === 40)
    val kept = r.filter(col("kept")).groupBy("cluster_id").count()
      .as[(Long, Long)].collect()
    assert(kept.forall(_._2 <= 5L))
  }
  // ---- bloom-routed incremental dedup --------------------------------

  test("newDocs returns exactly the batch rows absent from the corpus") {
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("id", "content")
    val batch = Seq((10L, "alpha"), (11L, "delta"), (12L, "beta"), (13L, "epsilon"))
      .toDF("id", "content")
    val r = Dedup.newDocs(corpus, batch, "id", "content")
      .select("id").as[Long].collect().sorted
    assert(r === Array(11L, 13L))
  }

  test("newDocs stays exact when the bloom is saturated with false positives") {
    // fpp close to 1 routes nearly every row through the verify join;
    // the md5 anti-join must still produce the exact answer
    val corpus = (0L until 200L).map(i => (i, s"doc-$i")).toDF("id", "content")
    val batch = (100L until 300L).map(i => (i + 1000, s"doc-$i")).toDF("id", "content")
    val r = Dedup.newDocs(corpus, batch, "id", "content", fpp = 0.9)
      .select("id").as[Long].collect().sorted
    assert(r === (200L until 300L).map(_ + 1000).toArray)
  }

  test("newDocsAgainstKeys falls back to the shuffled anti-join on a large sliver") {
    // force the guard with a tiny broadcast budget: the mostly-dup batch
    // produces a candidate sliver over the cap, and the fallback plan must
    // still return the exact answer
    val corpus = (0L until 100L).map(i => (i, s"doc-$i")).toDF("id", "content")
    val keys = corpus.select(md5(col("content")).as("__ck"))
    val bloom = Dedup.corpusKeyBloom(keys, "__ck", expectedItems = 100L)
    val batch = (50L until 150L).map(i => (i + 1000, s"doc-$i")).toDF("id", "content")
    val r = Dedup.newDocsAgainstKeys(keys, "__ck", batch, "content", bloom,
        maxBroadcastKeys = 5L)
      .select("id").as[Long].collect().sorted
    assert(r === (100L until 150L).map(_ + 1000).toArray)
  }

  test("corpusKeyBloom sizes past the runtime-bloom conf caps without saturating") {
    // shrink the caps so the default clamp WOULD saturate the sketch; the
    // builder must raise them for the build and restore them after
    val conf = spark.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    conf.set(itemsKey, 10L)
    conf.set(bitsKey, 64L)
    try {
      val corpus = (0L until 2000L).map(i => (i, s"doc-$i")).toDF("id", "content")
      val batch = (0L until 2000L).map(i => (i + 9000, s"new-$i")).toDF("id", "content")
      val keys = corpus.select(md5(col("content")).as("__ck"))
      val bloom = Dedup.corpusKeyBloom(keys, "__ck", expectedItems = 2000L)
      // an all-new batch through a healthy 1% sketch routes only ~fpp of
      // rows to the verify join; a 64-bit clamped sketch would route ~all
      val routed = batch.filter(org.apache.spark.sql.graft.VectorExpressions
        .bloomMightContain(bloom, xxhash64(md5(col("content"))))).count()
      assert(routed < 200L, s"sketch saturated: $routed of 2000 routed")
      // and the caps are restored for the rest of the session
      assert(conf.get(itemsKey) === "10" && conf.get(bitsKey) === "64")
    } finally { conf.unset(itemsKey); conf.unset(bitsKey) }
  }

  test("importanceTopK ranks target-vocabulary docs above off-target ones") {
    // two disjoint vocabularies; target docs use vocab A. A raw doc
    // written in vocab A must outscore every vocab-B doc.
    val docs = ((0L until 20L).map(i => (i, s"alpha beta gamma delta w$i", true)) ++
      Seq((100L, "alpha beta gamma delta", false)) ++
      (101L until 120L).map(i => (i, s"omega psi chi phi v$i", false)))
      .toDF("doc_id", "text", "is_tgt")
    val top = Sampling.importanceTopK(docs.filter(col("doc_id") =!= 999),
      "text", "doc_id", isTarget = col("is_tgt"), k = 5)
    val topIds = top.collect().map(_.getLong(0)).toSet
    assert(topIds.contains(100L), s"vocab-A raw doc must rank in top-5, got $topIds")
    assert(top.columns.toSeq == Seq("doc_id", "n_tokens", "score"))
    // deterministic across runs
    val again = Sampling.importanceTopK(docs, "text", "doc_id",
      isTarget = col("is_tgt"), k = 5).collect().map(_.getLong(0)).toSeq
    val first = Sampling.importanceTopK(docs, "text", "doc_id",
      isTarget = col("is_tgt"), k = 5).collect().map(_.getLong(0)).toSeq
    assert(again == first)
  }

  test("curriculumOrder interleaves tiers round-robin, deterministically") {
    // 4 docs per tier (scores 0/600/1500/3000), thresholds 500/1000/2000
    val docs = (0L until 16L).map(i => (i, (i % 4) match {
      case 0 => 100; case 1 => 600; case 2 => 1500; case _ => 3000
    })).toDF("doc_id", "score")
    val r = Sampling.curriculumOrder(docs, "doc_id", "score",
      thresholds = Seq(500, 1000, 2000), salt = "s").orderBy("pos").collect()
    assert(r.length == 16)
    // with equal tier sizes, pos is dense 0..15 and tiers cycle 0,1,2,3
    assert(r.map(_.getLong(2)).toSeq == (0L until 16L))
    assert(r.map(_.getLong(1)).toSeq == Seq.tabulate(16)(i => (i % 4).toLong))
    // deterministic across runs
    val again = Sampling.curriculumOrder(docs, "doc_id", "score",
      thresholds = Seq(500, 1000, 2000), salt = "s").orderBy("pos")
      .collect().map(_.getLong(0)).toSeq
    assert(again == r.map(_.getLong(0)).toSeq)
    // map-only twin: same tiers, no shuffle in the plan
    val key = Sampling.curriculumKeyMapOnly(docs, "doc_id", "score",
      thresholds = Seq(500, 1000, 2000), salt = "s")
    assert(key.select("tier").distinct().count() == 4)
    assert(!key.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("substringSpans finds maximal shared token runs on the diagonal") {
    val shared = (1 to 20).map(i => s"w$i").mkString(" ") // 20 shared tokens
    val docs = Seq(
      (1L, s"aa bb $shared cc dd"),          // shared at pos 2
      (2L, s"$shared xx yy zz"),             // shared at pos 0
      (3L, "totally different tokens only three")
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, "doc_id", "text", gramLen = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // one maximal span between docs 1 and 2: 20 tokens, starts 2 / 0
    assert(spans.toSeq == Seq((1L, 2L, 2L, 0L, 20L)))
  }

  test("substringSpans drops stop-phrase grams above the df cap") {
    val phrase = (1 to 13).map(i => s"p$i").mkString(" ")
    val docs = (0L until 10L).map(i => (i, s"$phrase tail$i")).toDF("doc_id", "text")
    // df of the shared gram = 10 > cap 5: no pairs survive
    assert(Dedup.substringSpans(docs, "doc_id", "text", maxGramDf = Some(5L)).count() == 0)
    // with the cap lifted, all 45 pairs emerge
    assert(Dedup.substringSpans(docs, "doc_id", "text", maxGramDf = Some(50L)).count() == 45)
  }

  test("gramDfCap: integer-exact, relative-frequency rule with a floor") {
    // the tier counts the oracle replays: greatest(50, n // 1000)
    assert(Dedup.gramDfCap(500L) === 50L)       // sf0.01
    assert(Dedup.gramDfCap(50000L) === 50L)     // sf1.0: exactly at the floor
    assert(Dedup.gramDfCap(50999L) === 50L)     // integer division, no rounding up
    assert(Dedup.gramDfCap(51000L) === 51L)     // first step past the floor
    assert(Dedup.gramDfCap(500000L) === 500L)   // sf10
    assert(Dedup.gramDfCap(5000000L) === 5000L) // sf100
    // monotone in n — a growing corpus never SHRINKS the recallable
    // cluster size
    val caps = (1 to 25).map(e => Dedup.gramDfCap(1L << e))
    assert(caps === caps.sorted)
  }

  test("substringSpans default cap routes through the adaptive rule") {
    val phrase = (1 to 13).map(i => s"q$i").mkString(" ")
    // 60-doc cluster sharing a 13-token phrase in a 200-doc corpus:
    // adaptive cap = max(50, 200/1000) = 50 < 60 -> cluster dropped
    val docs = ((0L until 60L).map(i => (i, s"$phrase solo$i")) ++
      (100L until 240L).map(i => (i, s"unique${i}a " + (1 to 13).map(j => s"u$i-$j").mkString(" "))))
      .toDF("doc_id", "text")
    assert(Dedup.substringSpans(docs, "doc_id", "text").count() === 0L)
    // a pinned cap above the cluster size sees all 1770 pairs
    assert(Dedup.substringSpans(docs, "doc_id", "text",
      maxGramDf = Some(60L)).count() === 60L * 59L / 2L)
  }

  test("substringSpans pairBudget: over-budget grams star against the canonical copy") {
    val phrase = (1 to 20).map(i => s"s$i").mkString(" ") // 20 shared tokens
    // 10 copies of the block, each with a unique tail; df of every block
    // gram = 10
    val docs = (0L until 10L).map(i => (i, s"$phrase tail$i end$i more$i"))
      .toDF("doc_id", "text")
    val full = Dedup.substringSpans(docs, "doc_id", "text",
      maxGramDf = Some(50L))
    assert(full.count() === 45L) // all-pairs: 10·9/2 spans
    // budget 3 < df 10: star tier — every later copy spans ONLY against
    // doc 0 (min doc, min pos), and the span is still the full 20 tokens
    val star = Dedup.substringSpans(docs, "doc_id", "text",
      maxGramDf = Some(50L), pairBudget = Some(3L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(star.toSeq.sorted ===
      (1L until 10L).map(b => (0L, b, 0L, 0L, 20L)).sorted)
    // cluster recall preserved: every copy connects to the canonical doc
    assert(star.map(_._2).toSet === (1L until 10L).toSet)
  }

  test("substringSpans pairBudget at or above every df is exact all-pairs") {
    val shared = (1 to 15).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared a1 a2"), (2L, s"$shared b1 b2"), (3L, s"$shared c1 c2"))
      .toDF("doc_id", "text")
    val exact = Dedup.substringSpans(docs, "doc_id", "text").collect().toSeq
    val budgeted = Dedup.substringSpans(docs, "doc_id", "text",
      pairBudget = Some(3L)).collect().toSeq
    assert(budgeted.map(_.toSeq).sorted(Ordering.by((s: Seq[Any]) => s.mkString(","))) ===
      exact.map(_.toSeq).sorted(Ordering.by((s: Seq[Any]) => s.mkString(","))))
  }

  test("cutSpans removes every non-canonical occurrence, keeps the first") {
    val block = (1 to 20).map(i => s"c$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block alpha beta"),          // canonical: keeps the block
      (2L, s"pre1 pre2 $block mid after"), // loses tokens 2..21
      (3L, s"$block"),                     // fully cut
      (4L, "unrelated words only here"))   // untouched (no spans)
      .toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, "doc_id", "text", maxGramDf = Some(50L))
    val rows = Dedup.cutSpans(docs, spans, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rows(1L) === ((22L, 22L, s"$block alpha beta")))
    assert(rows(2L) === ((24L, 4L, "pre1 pre2 mid after")))
    assert(rows(3L) === ((20L, 0L, "")))
    assert(rows(4L) === ((4L, 4L, "unrelated words only here")))
  }

  test("cutSpans minLen ignores short spans") {
    val short = (1 to 14).map(i => s"m$i").mkString(" ") // 14-token span
    val docs = Seq((1L, s"$short tailA"), (2L, s"$short tailB")).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, "doc_id", "text", maxGramDf = Some(50L))
    // span is 14 tokens: cut at the default threshold, kept at minLen=20
    assert(Dedup.cutSpans(docs, spans, "doc_id", "text")
      .filter(col("doc_id") === 2L).head().getLong(2) === 1L)
    assert(Dedup.cutSpans(docs, spans, "doc_id", "text", minLen = 20L)
      .filter(col("doc_id") === 2L).head().getLong(2) === 15L)
  }

  test("lshBandBits: adaptive bucket-width ladder, integer-exact") {
    import graft.ext.Similarity
    assert(Similarity.lshBandBits(16L) === 8)        // floor
    assert(Similarity.lshBandBits(4096L) === 16)     // 16n = 2^16 exactly
    assert(Similarity.lshBandBits(4097L) === 17)
    assert(Similarity.lshBandBits(2_200_000L) === 26) // the sf100 probe's n
    assert(Similarity.lshBandBits(1L << 50) === 40)  // clamp
    val ws = (1 to 40).map(e => Similarity.lshBandBits(1L << e))
    assert(ws === ws.sorted, "width monotone in n")
  }

  test("embeddingCosinePairsLSHBanded finds exact dups, skips unrelated vectors") {
    def vec(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextDouble() - 0.5)
    }
    // 5 base vectors, each with an exact duplicate at id+100
    val rows = (0 until 5).flatMap { i =>
      Seq((i.toLong, vec(i)), (i + 100L, vec(i)))
    } :+ (500L, vec(999))
    val df = rows.toDF("vec_id", "e")
    val pairs = Dedup.embeddingCosinePairsLSHBanded(df, "vec_id", "e",
        dim = 8, threshold = 0.999, bands = 4, bitsPerBand = Some(8))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every exact-dup pair surfaces (identical vectors share every band)
    (0 until 5).foreach(i => assert(pairs.contains((i.toLong, i + 100L))))
    assert(!pairs.exists(p => p._1 == 500L || p._2 == 500L))
  }

  test("temperatureMix: sqrt-weight quotas upweight low-resource domains") {
    // counts 400/100/16 -> weights 20/10/4 -> with totalKeep 170:
    // quotas = 170*20/34=100, 170*10/34=50, 170*4/34=20 capped to n=16
    val docs = ((0 until 400).map(i => (i.toLong, "big")) ++
      (1000 until 1100).map(i => (i.toLong, "mid")) ++
      (2000 until 2016).map(i => (i.toLong, "small"))).toDF("id", "dom")
    val kept = Sampling.temperatureMix(docs, "id", "dom", totalKeep = 170L, salt = "t1")
    val byDom = kept.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom === Map("big" -> 100L, "mid" -> 50L, "small" -> 16L))
    // proportional keep would give small 170*16/516 = 5 rows; sqrt
    // weighting keeps the whole low-resource domain
    // determinism: the same call returns the same ids
    val ids1 = kept.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val ids2 = Sampling.temperatureMix(docs, "id", "dom", 170L, "t1")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids1 === ids2)
  }

  test("temperatureMixThreshold: map-only twin lands near the exact quotas") {
    val docs = ((0 until 4000).map(i => (i.toLong, "big")) ++
      (10000 until 10400).map(i => (i.toLong, "small"))).toDF("id", "dom")
    val kept = Sampling.temperatureMixThreshold(docs, "id", "dom",
      totalKeep = 2000L, salt = "t2")
    val byDom = kept.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // weights 63/20 -> quotas 1518 and min(400, 481) = 400: the small
    // domain's rate caps at 1.0, so it is kept WHOLE (deterministic);
    // big lands within binomial deviation O(sqrt(q)) of its quota
    assert(byDom("small") === 400L)
    assert(math.abs(byDom("big") - 1518L) < 120, s"big=${byDom("big")}")
  }

  test("ngramContainment: asymmetric partial-copy signal Jaccard misses") {
    val full = (1 to 22).map(i => s"w$i").mkString(" ")    // 20 distinct 3-grams
    val half = (1 to 12).map(i => s"w$i").mkString(" ")    // first 10 of them
    val docs = Seq((1L, full), (2L, half)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val r = Dedup.ngramContainment(pairs, docs, "doc_id", "text").head()
    // token-aligned prefix: every shingle of the half is in the full
    assert(r.getDouble(3) === 1.0)                         // containment_b
    assert(r.getDouble(2) === 0.5)                         // containment_a = 10/20
    // symmetric jaccard on the same pair reads as a weak 0.5 overlap
    val j = Dedup.ngramJaccard(pairs, docs, "doc_id", "text").head().getDouble(2)
    assert(j === 0.5)
  }

  test("newDocs bloom-negative rows bypass the verify join (exactness parity)") {
    val corpus = (0L until 500L).map(i => (i, s"base-$i")).toDF("id", "content")
    val batch = (0L until 500L).map(i => (i + 5000, s"new-$i")).toDF("id", "content")
    // all-new batch: result equals the full batch regardless of routing
    val viaBloom = Dedup.newDocs(corpus, batch, "id", "content", fpp = 0.01)
    assert(viaBloom.count() === 500)
    // and with a supplied expectedItems (skips the corpus count job)
    val sized = Dedup.newDocs(corpus, batch, "id", "content",
      expectedItems = Some(500L))
    assert(sized.count() === 500)
  }
}
