package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.10): the reference has no
  * stream processor — its closest notions are lazy dataset reads and
  * append-style collection growth — so this module is the flagged
  * beyond-reference extension: watermarked tumbling-window aggregation
  * over an append-only events directory, runnable identically as a batch
  * plan (same logical plan, streaming source swapped in).
  */
object EventStream {

  /** events.parquet carries TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ);
    * streaming sources need an explicit schema.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** NTZ → session-TZ TIMESTAMP (shift-free under the UTC session); a
    * legacy nanos-as-long column converts by integer division.
    */
  private def toTimestamp(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** The shared windowed-aggregation plan: 1-hour tumbling windows per
    * event_type (counts + exact decimal sums).
    */
  def windowedCounts(events: DataFrame, withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("sum_value"))
  }

  /** Run `plan` as a REAL streaming query into a memory sink named
    * `queryName`, synchronously drained — the local-mode pattern for
    * exercising the streaming engine against a static directory — and
    * return the collected result table. `plan` is built after the confs
    * below are set. State-store instantiation dominates a one-shot local
    * stream (each shuffle partition opens and commits its own store per
    * microbatch), so the stateful operator runs on `shufflePartitions`
    * (fixed at first start); `noData` keeps the trailing no-data
    * watermark microbatch, which only modes that emit on watermark
    * progress need. Both confs are restored afterwards.
    */
  private def drain(spark: SparkSession, queryName: String, outputMode: String, noData: Boolean,
                    shufflePartitions: Int = 8)(plan: => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.schemaInference", "false")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNoData = spark.conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noData.toString)
    try {
      val q = plan.writeStream.outputMode(outputMode).format("memory").queryName(queryName).start()
      try q.processAllAvailable()
      finally q.stop()
      spark.table(queryName)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevNoData match {
        case Some(v) => spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None    => spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  /** The events directory as a streaming source (FileStreamSource needs
    * a directory or glob, not a bare file path).
    */
  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    toTimestamp(spark.readStream.schema(eventsRawSchema).parquet(s"$dir/events*.parquet"))

  /** Run the windowed aggregation as a REAL streaming query over the
    * events directory (memory sink, complete mode: it never evicts state,
    * so no trailing no-data batch).
    */
  def runStreaming(spark: SparkSession, dir: String, queryName: String = "graft_events_stream"): DataFrame =
    drain(spark, queryName, "complete", noData = false) {
      windowedCounts(eventStream(spark, dir), withWatermark = true)
    }

  /** Same plan, batch source — bit-identical results to the stream. */
  def runBatch(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = toTimestamp(spark.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet"))
    windowedCounts(batch, withWatermark = false)
  }

  /** Stream-static enrichment: join the event stream against a STATIC
    * dimension (broadcast per microbatch — the planner treats the static
    * side like any batch relation, so a small dim broadcasts and the
    * stream never shuffles for the join), then a watermarked per-hour
    * per-segment aggregation. The dimension here derives user segments
    * from the users' own id space so the oracle can rebuild it.
    */
  def enrichedCounts(events: DataFrame, userDim: DataFrame, withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "1 hour") else events
    src.join(broadcast(userDim), Seq("user_id"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("segment"), col("n"), col("sum_value"))
  }

  /** The derived user dimension: deterministic segments from user_id.
    * Sized to the DATA (a batch peek at the max event user id before the
    * stream starts — the production shape: a dim table covers the real
    * user population). Any fixed ceiling is a saturation bug in waiting:
    * 1000 broke at sf0.1, and the 100000 that replaced it broke at sf10
    * — each time as a silent NULL-segment band from the left join,
    * caught only by the oracle gate at the next decade.
    */
  def userSegments(spark: SparkSession, nUsers: Long = 100000L): DataFrame =
    spark.range(0, nUsers).select(col("id").as("user_id"),
      concat(lit("seg"), (col("id") % 7).cast("string")).as("segment"))

  /** Run the stream-static enrichment as a REAL streaming query. */
  def runEnrichedStreaming(spark: SparkSession, dir: String, queryName: String): DataFrame =
    drain(spark, queryName, "complete", noData = false) {
      // Peek with the SAME glob the stream reads — a second matching file
      // with higher user_ids would otherwise reintroduce the silent
      // NULL-segment saturation this sizing exists to prevent. max() is
      // null on an empty source; -1 + 1 = 0 users then (empty dim, no rows).
      val maxUser = Option(spark.read.schema(eventsRawSchema)
        .parquet(s"$dir/events*.parquet")
        .agg(max(col("user_id"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
      enrichedCounts(eventStream(spark, dir), userSegments(spark, maxUser + 1), withWatermark = true)
    }

  /** Session-window aggregation per user: events within `gap` of the
    * previous one merge into the session; the session spans
    * [first_ts, last_ts + gap) (half-open — an event at exactly
    * last_ts + gap starts a NEW session).
    */
  def sessionCounts(events: DataFrame, gap: String, withWatermark: Boolean): DataFrame = {
    val src = if (withWatermark) events.withWatermark("ts", "0 seconds") else events
    src.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))
  }

  /** Session windows as a REAL streaming query (append mode — the only
    * mode that makes sense for sessions: a session is emitted exactly
    * once, when the watermark passes its end). The trailing no-data
    * microbatch is REQUIRED here (it advances the watermark and flushes
    * finalized sessions); sessions still open at the final watermark
    * stay in state, which is the honest streaming answer — the batch
    * twin (`runBatchSessions`) applies the same finalization predicate.
    */
  def runSessionStreaming(spark: SparkSession, dir: String, gap: String,
                          queryName: String, shufflePartitions: Int = 8): DataFrame =
    drain(spark, queryName, "append", noData = true, shufflePartitions) {
      sessionCounts(eventStream(spark, dir), gap, withWatermark = true)
    }

  /** Streaming first-occurrence dedup over the events directory: the
    * engine's dropDuplicates state store keyed on (user_id, event_type),
    * watermark-bounded so state never grows unboundedly (the 100 TB/day
    * requirement). Only the KEY columns are returned: which physical row
    * wins a key is batch-order-dependent, but the surviving key SET is
    * exactly the distinct keys — the deterministic, oracle-checkable
    * contract.
    */
  def runDedupStreaming(spark: SparkSession, dir: String, queryName: String): DataFrame =
    drain(spark, queryName, "append", noData = false) {
      eventStream(spark, dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
    }

  /** Stream-stream interval join (click-attribution shape): purchases
    * matched to the same user's clicks in the `lookback` window leading
    * up to the purchase. The time-interval predicate is what makes the
    * join state BOUNDED: with watermarks on both event-time columns the
    * engine can expire clicks older than watermark − lookback and
    * purchases past the watermark, so state is O(events in the interval
    * window), not O(stream) — the Structured Streaming stream-stream
    * join contract, and the piece a 100 TB/day pipeline needs. Runs
    * identically as a batch plan (same logical join, static sources).
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      withWatermark: Boolean,
                      lookback: String = "30 minutes"): DataFrame = {
    val c0 = clicks.select(col("user_id"), col("ts").as("click_ts"))
    val p0 = purchases.select(col("user_id").as("p_user_id"),
      col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val c = if (withWatermark) c0.withWatermark("click_ts", "1 hour") else c0
    val p = if (withWatermark) p0.withWatermark("purchase_ts", "1 hour") else p0
    p.join(c, col("p_user_id") === col("user_id") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $lookback") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("user_id"), col("purchase_ts"), col("click_ts"), col("purchase_value"))
  }

  /** Run the attribution join as a REAL stream-stream join: two file
    * streams over the same events directory (filtered to each side's
    * event type), inner-joined in append mode. Inner joins emit eagerly
    * on match, so no trailing no-data batch is needed.
    */
  def runAttributionStreaming(spark: SparkSession, dir: String,
                              queryName: String): DataFrame =
    drain(spark, queryName, "append", noData = false) {
      def side(eventType: String) = eventStream(spark, dir).filter(col("event_type") === eventType)
      attributionJoin(side("click"), side("purchase"), withWatermark = true)
    }

  /** Batch twin of the session stream: same sessions, filtered to those
    * the stream has finalized (`finalizedOnly`) — i.e. session end at or
    * before the terminal watermark (max event time, delay 0).
    */
  def runBatchSessions(spark: SparkSession, dir: String, gap: String,
                       finalizedOnly: Boolean): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = toTimestamp(spark.read.schema(eventsRawSchema).parquet(s"$dir/events.parquet"))
    val sessions = sessionCounts(batch, gap, withWatermark = false)
    if (!finalizedOnly) sessions
    else {
      val wm = batch.agg(max(col("ts"))).head().getTimestamp(0)
      // CORRECTNESS TRAP (verified on Spark 4.1.2): session_window is a
      // grouping expression, so Catalyst pushes a `session_end <= wm`
      // filter BELOW the aggregate — legal for ordinary group keys,
      // WRONG for session windows: the pushed predicate becomes
      // `ts + gap <= wm` on the raw scan, dropping tail events
      // pre-merge and truncating sessions (u0's 7-event session loses
      // its last 2 events and reports a closed end it never had).
      // Logical-plan barriers don't survive: an unused nondeterministic
      // column is pruned before pushdown, and even an OR'd
      // nondeterministic disjunct got simplified away. localCheckpoint
      // materializes the POST-merge sessions, which no rule crosses —
      // fine for this batch verification twin (streaming is the
      // production path; its watermark applies post-merge by design).
      sessions.localCheckpoint().filter(col("session_end") <= lit(wm))
    }
  }
}
