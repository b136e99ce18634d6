package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Worst-case COST contract for the cardinality-adaptive gram-df cap
  * (`Dedup.gramDfCap`) — the `RecallContract` pattern pointed at cost
  * instead of recall.
  *
  * The adaptive cap `max(50, n/1000)` made recall scale-invariant
  * (round 14) at an acknowledged price: a kept gram at document
  * frequency df contributes df·(df-1)/2 candidate pairs, so the
  * worst-case corpus — ONE boilerplate block sitting on exactly 0.1% of
  * docs, i.e. df == cap — pays ~(n/1000)² candidates per block gram
  * where the fixed cap 50 would have dropped the grams entirely (zero
  * cost, zero recall). This tool makes that envelope a measured number
  * instead of a comment:
  *
  * Protocol: plant k = cap copies of a fixed 30-token license block
  * (collision-free ids in the `TextQueries.DupOffset` space) over the
  * real documents table, so every block gram lands at df == cap — kept
  * under the adaptive rule, dropped under fixed 50 whenever cap > 50.
  * Report, for both rules: the EXACT candidate-pair count
  * Σ_{kept grams} df(df-1)/2 (computed from the gram-df aggregate — the
  * same formula that bounds the self-join, no join executed) and the
  * wall-clock of the full `substringSpans` run. Contract assertions:
  * the planted block must be recalled (>0 plant-pair spans) under the
  * adaptive rule at every tier, and the block's candidate cost must be
  * exactly nGrams·k(k-1)/2 — the closed form SCALING.md extrapolates to
  * sf100.
  *
  * Run at sf1.0 (cap == floor 50: both rules identical, the baseline
  * row) and sf10 (cap ≈ 501: the first tier where the trade is live);
  * one JSON line per run, recorded in SCALING.md.
  *
  * Round 15 adds the THIRD column: `pairBudget = 64` (the sf1,000 knob
  * SCALING.md named). Grams above the budget resolve on the star tier —
  * df−1 pairs against the canonical occurrence instead of df(df−1)/2 —
  * so the planted block's candidate cost collapses from quadratic to
  * linear while every planted copy still spans against the canonical
  * copy (contract: exactly k−1 plant-pair spans). At sf1.0 the block
  * df (50) sits under the budget, so the budgeted run is bit-identical
  * to adaptive — the trade only goes live when a cluster outgrows the
  * budget, which is the point.
  */
object CostContract {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-local/sf1.0"
    // budget_only (round-17 verdict ask #4 — execute the pairBudget star
    // tier at sf1,000): the adaptive and fixed-50 WALLS are skipped —
    // at 57M docs the adaptive rule admits ~2.9e10 candidate pairs for
    // the planted block (the closed form below, still computed and
    // printed from the gram-df aggregate with NO join executed), which
    // is precisely the cost the star tier exists to refuse. Only the
    // budgeted substringSpans runs end-to-end; its star-tier contracts
    // (spans == k-1, quadratic->linear candidate collapse) still hold.
    val budgetOnly = args.length > 1 && args(1) == "budget_only"
    // Shuffle-partition count and IO codec are tunable for the
    // corpus-scale legs: at 57M docs the single gram exchange is
    // ~50 GB under lz4 on a 73 GB-free box — zstd buys ~25-30% and
    // more, smaller partitions keep the join's per-task sort spills
    // bounded (the r18 first attempt died spilling, not computing).
    // The partition count comes from SPARK_GRAFT_SHUFFLE_PARTS; the
    // codec is Spark's own `-Dspark.io.compression.codec=zstd` (SparkConf
    // reads `spark.*` system properties; the session factory leaves
    // that key alone, so Spark's lz4 default applies otherwise).
    val spark = graft.core.Session.local(32)
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", "32"))

    val gramLen = 13
    // fixed 30-token block -> 30 - 13 + 1 = 18 block grams, each at df=k
    val block = (1 to 30).map(i => s"licensetoken$i").mkString(" ")
    val nBlockGrams = 30 - gramLen + 1

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val nDocs = docs.count()
    // k copies so that post-plant cap == k exactly: iterate once
    def capFor(extra: Long) = graft.ext.Dedup.gramDfCap(nDocs + extra)
    var k = capFor(0L)
    k = capFor(k)

    val dup = graft.queries.TextQueries.DupOffset
    import spark.implicits._
    val plants = (0L until k).map(j => (dup + j, block)).toDF("doc_id", "text")
    val corpus = docs.unionByName(plants)
    val nCorpus = nDocs + k
    val cap = graft.ext.Dedup.gramDfCap(nCorpus)
    require(cap == k, s"plant sizing drifted: cap=$cap k=$k")

    // exact candidate-pair count from the gram-df aggregate: the
    // self-join's group sizes, no join executed. Scoped in a function
    // so the aggregate's lineage (and with it the corpus-scale shuffle
    // files ContextCleaner can only delete once the ShuffleDependency
    // is unreachable) goes out of scope before the operator's own
    // corpus-scale run — at sf1,000 each phase's gram shuffle is tens
    // of GB and holding both killed this box's disk (r18).
    val budget = 64L
    def gramPhase(): (Long, Long, Long, Long) = {
      // gram key mirrors the operator's xxhash64 long (see
      // Dedup.substringSpans) — only df VALUES matter here, and the
      // 8-byte key is what makes this aggregate shuffle ~3× smaller
      val gramDf = corpus
        .select(col("doc_id"),
          graft.ext.TextOps.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= gramLen)
        .select(posexplode(transform(
          sequence(lit(0), size(col("tk")) - gramLen),
          i => xxhash64(concat_ws(" ", slice(col("tk"), i + 1, lit(gramLen))))))
          .as(Seq("pos", "gh")))
        .groupBy("gh").agg(count(lit(1)).as("df"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // sum df(df-1) as exact longs, halve driver-side (Spark's `/` on
      // integral operands returns double)
      def candidates(capRule: Long): Long = gramDf
        .filter(col("df") <= capRule)
        .select(coalesce(sum(col("df") * (col("df") - 1)), lit(0L)).as("c"))
        .collect()(0).getLong(0) / 2
      val candAdaptive = candidates(cap)
      val candFixed50 = candidates(50L)
      // budgeted rule: all-pairs below the budget, star (df-1 pairs to the
      // canonical occurrence) above it — the star term is an upper bound
      // (exact when the canonical doc holds the gram once, true for the
      // planted block)
      def candidatesBudget(capRule: Long, b: Long): Long = {
        // dense tier bounded by BOTH rules: the operator drops grams above
        // the cap before the budget split, so when cap < budget, grams with
        // df in (cap, budget] contribute nothing (round-15 ADVICE: the
        // unbounded filter overstated the metric at tiers where cap < b)
        val dense = gramDf.filter(col("df") <= math.min(b, capRule))
          .select(coalesce(sum(col("df") * (col("df") - 1)), lit(0L)))
          .collect()(0).getLong(0) / 2
        val star = gramDf.filter(col("df") > b && col("df") <= capRule)
          .select(coalesce(sum(col("df") - 1), lit(0L)))
          .collect()(0).getLong(0)
        dense + star
      }
      val candBudget = candidatesBudget(cap, budget)
      val nStarGrams = gramDf.filter(col("df") > budget && col("df") <= cap).count()
      gramDf.unpersist(blocking = true)
      (candAdaptive, candFixed50, candBudget, nStarGrams)
    }
    val (candAdaptive, candFixed50, candBudget, nStarGrams) = gramPhase()
    // planted-block closed form: nBlockGrams * k(k-1)/2 kept iff cap>=k
    // (printed EARLY, on stderr, so a phase-2 failure — e.g. the disk
    // exhaustion the first sf1,000 attempt hit — still leaves the
    // candidate-collapse measurement on record)
    System.err.println(s"""[cost] phase1 {"n_docs":$nDocs,"n_corpus":$nCorpus,""" +
      s""""cap":$cap,"planted_copies":$k,""" +
      s""""block_candidates_closed_form":${nBlockGrams.toLong * k * (k - 1) / 2},""" +
      s""""candidates_adaptive":$candAdaptive,"candidates_fixed50":$candFixed50,""" +
      s""""candidates_budget$budget":$candBudget,"n_star_grams":$nStarGrams}""")
    // release phase-1 shuffle files before the operator phase: the
    // dependency graph is now unreachable; a GC pass lets the async
    // ContextCleaner delete the on-disk shuffle, and the short wait
    // gives it time to finish before the next corpus-scale write.
    // Only in budget_only mode — that is the disk-constrained
    // corpus-scale leg this exists for; the default small-sf contract
    // check has no disk pressure and should not stall 15 s (r18 review)
    if (budgetOnly) {
      System.gc()
      Thread.sleep(15000)
    }

    // planted-block closed form: nBlockGrams * k(k-1)/2 kept iff cap>=k
    val blockCand = nBlockGrams.toLong * k * (k - 1) / 2

    def plantPairSpans(spans: DataFrame): Long =
      spans.filter(col("doc_a") >= dup && col("doc_b") >= dup).count()
    def timedRun(fixed: Option[Long], b: Option[Long] = None): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = plantPairSpans(graft.ext.Dedup.substringSpans(
        corpus, "doc_id", "text", maxGramDf = fixed, pairBudget = b))
      (n, (System.nanoTime() - t0) / 1e9)
    }
    val (spansAdaptive, tAdaptive) =
      if (budgetOnly) (-1L, -1.0) else timedRun(None)
    val (spansFixed, tFixed) =
      if (budgetOnly) (-1L, -1.0) else timedRun(Some(50L))
    val (spansBudget, tBudget) = timedRun(None, Some(budget))

    println(s"""{"sf_dir":"$sfDir","budget_only":$budgetOnly,""" +
      s""""n_docs":$nDocs,"n_corpus":$nCorpus,"cap":$cap,""" +
      s""""planted_copies":$k,"block_candidates_closed_form":$blockCand,""" +
      s""""candidates_adaptive":$candAdaptive,"candidates_fixed50":$candFixed50,""" +
      s""""candidates_budget$budget":$candBudget,""" +
      s""""plant_pair_spans_adaptive":$spansAdaptive,"plant_pair_spans_fixed50":$spansFixed,""" +
      s""""plant_pair_spans_budget$budget":$spansBudget,""" +
      f""""secs_adaptive":$tAdaptive%.1f,"secs_fixed50":$tFixed%.1f,"secs_budget$budget":$tBudget%.1f}""")
    // contracts: adaptive must SEE the planted block (recall), and its
    // extra cost over fixed-50 must be exactly the closed form when the
    // trade is live (cap > 50), zero when cap == 50. In budget_only mode
    // the adaptive/fixed runs are skipped; the closed-form candidate
    // contract (from the gram-df aggregate) is asserted regardless.
    if (!budgetOnly) require(spansAdaptive > 0,
      "COST CONTRACT: adaptive rule lost the planted block")
    val extra = candAdaptive - candFixed50
    if (cap > 50L) require(extra == blockCand &&
      (budgetOnly || spansFixed == 0),
      s"COST CONTRACT: extra=$extra expected=$blockCand fixedSpans=$spansFixed")
    else require(extra == 0L, s"COST CONTRACT: cap at floor but extra=$extra")
    // budget contracts: when the block outgrows the budget the star tier
    // must keep exactly one span per non-canonical copy (linear recall
    // of the whole cluster); when it doesn't, the budgeted run is the
    // adaptive run
    if (k > budget) {
      require(spansBudget == k - 1,
        s"COST CONTRACT: star tier spans=$spansBudget expected=${k - 1}")
      // when the only over-budget grams are the block's, the collapse is
      // exactly quadratic -> linear: blockCand - nBlockGrams*(k-1)
      if (nStarGrams == nBlockGrams.toLong)
        require(candAdaptive - candBudget == blockCand - nBlockGrams.toLong * (k - 1),
          s"COST CONTRACT: budget collapse mismatch adaptive=$candAdaptive budget=$candBudget")
    } else require(budgetOnly || spansBudget == spansAdaptive,
      s"COST CONTRACT: budget inert but spans $spansBudget != $spansAdaptive")
    spark.stop()
  }
}
