package graft.core

/** Overlap INDEPENDENT Spark jobs from a bounded driver pool (the
  * optimization-guide §2.6 pattern: the scheduler happily runs several
  * jobs at once inside one application; actions are only sequential
  * because driver code calls them sequentially — FIFO scheduling
  * back-fills one job's task tail with the next job's tasks).
  *
  * Use ONLY for jobs with no data or filesystem-path dependency on each
  * other (e.g. writing two disjoint staging directories). Failures
  * propagate: the first thrown exception rethrows after all branches
  * settle, so no branch is silently abandoned mid-write.
  */
object Par {
  /** Spread a NARROW input across the cluster before per-row CPU-heavy
    * work (optimization-guide §2.5: one huge unsplittable input —
    * repartition immediately after the read). The bench fixtures arrive
    * as single-row-group parquet files, so a scan plans 1-2 partitions
    * and the tokenize/md5/regex kernels serialize on 1-2 of the 32
    * cores. Repartition ONLY when the input is narrower than the
    * target: wide inputs (the 100 TB case — thousands of file splits)
    * pass through untouched, so no shuffle is ever added at scale.
    * Callers must be partition-order insensitive (integer vote sums,
    * array mins, per-row expressions, deterministically tie-broken
    * windows) — which every current caller is. Streaming frames pass
    * through (`.rdd` is illegal on a streaming plan).
    *
    * The target is `min(defaultParallelism, ceil(estimatedBytes /
    * spreadFloorBytes))`, NOT bare defaultParallelism (r18 verdict: the
    * driver's 8-core leg beat the 32-core leg on every spread kernel —
    * 32 partitions of a few hundred rows each is scheduling + exchange
    * overhead with no CPU to amortize). The floor only ever bites on
    * small inputs: at production widths `estimatedBytes/floor` dwarfs
    * any core count, so the cap is `defaultParallelism` exactly as
    * before. An unknown size estimate (LogicalRDD leaves report
    * `spark.sql.defaultSizeInBytes` = Long.MaxValue) lands in the same
    * branch — treat unknown as huge, never as empty. The per-partition
    * floor is 64 KiB, sized so the sf0.1 ~600 KB corpus spreads ~10
    * ways, the width its 8-vs-32-core timings say the kernels actually
    * amortize.
    */
  private val SpreadFloorBytes = BigInt(65536)

  /** The write width of a catalog snapshot or an artifact slot: one file
    * while the logical-plan stats estimate is at most 1 GiB (metadata-scale
    * tables stay broadcast-able, small slots stay one object), the
    * incoming partitioning above it (a huge registry or matrix is never
    * funnelled through one task). Plan STATS, not
    * `df.rdd.getNumPartitions`: the latter forces physical planning and
    * mis-fires on buffered local relations, whose default parallelism
    * made 500-row tables write 33 tiny files each.
    */
  def oneFileBelowGiB(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes > (1L << 30)) df else df.coalesce(1)

  def spreadForCpu(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.isStreaming) df
    else if (!isNarrowPlan(df)) df
    else {
      val cores = df.sparkSession.sparkContext.defaultParallelism
      val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val target = ((size + SpreadFloorBytes - 1) / SpreadFloorBytes)
        .min(BigInt(cores)).max(BigInt(1)).toInt
      if (target > 1 && df.rdd.getNumPartitions < target) df.repartition(target) else df
    }

  /** True when the frame is scan-shaped (projections/filters/unions/
    * generators over sources) with NO exchange-introducing operator.
    * Two jobs for one check: (a) a frame that already shuffles upstream
    * redistributes anyway, so spreading it is pointless; (b) under AQE,
    * `Dataset.rdd` on a plan WITH exchanges eagerly executes every
    * upstream query stage just to read a partition count — the caller
    * would pay the upstream work twice (code-review finding, r18). On a
    * narrow plan `.rdd` builds the DAG without running a job, so the
    * partition-count gate stays free exactly where it is used.
    */
  private def isNarrowPlan(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.optimizedPlan.exists {
      case _: Aggregate | _: Join | _: Window | _: Sort | _: GlobalLimit |
           _: Deduplicate => true
      case r: Repartition => r.shuffle // coalesce(n) is narrow; repartition(n) is not
      case _: RepartitionByExpression | _: RebalancePartitions => true
      // clustering-distribution operators (r18 ADVICE): no current caller
      // builds these, but a frame shaped this way would hit the same
      // eager-AQE-stage pathology in Dataset.rdd the gate exists to avoid
      case _: MapGroups | _: CoGroup | _: FlatMapGroupsWithState |
           _: ScriptTransformation => true
      case _ => false
    }
  }

  def jobs(bodies: (() => Unit)*): Unit = {
    results(bodies.map(b => () => { b(); () }), maxThreads = 4)
    ()
  }

  /** `jobs` with return values: run the bodies from a bounded pool,
    * await ALL of them (an abandoned concurrent write could otherwise
    * race a caller's cleanup of the same directory tree — fail-fast
    * Await chains leak exactly that), then rethrow the first failure or
    * return every result in input order. The single shared
    * implementation behind `jobs`, `fromSlots`' slot writes and
    * `slotHash`'s per-slot aggregates (r18 review: three divergent
    * copies of this pool, one of them fail-fast).
    */
  def results[T](bodies: Seq[() => T], maxThreads: Int = 4): Seq[T] = {
    require(bodies.nonEmpty)
    if (bodies.size == 1) return Seq(bodies.head.apply())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(bodies.size, maxThreads))
    try {
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fs = bodies.map(b => scala.concurrent.Future(b())(ec))
      val settled = fs.map(f =>
        scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf).value.get)
      settled.collectFirst { case scala.util.Failure(e) => throw e }
      settled.map(_.get)
    } finally pool.shutdown()
  }
}
