package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}

/** The one place a graft JVM builds its Spark session: every main, every
  * tool and the test harness call [[local]], so master, shuffle width,
  * time zone, UI and logging cannot drift between entry points.
  */
object Session {
  /** Core count for the gate mains (Verify, Bench, Smoke, Explain):
    * `SPARK_GRAFT_CPUS`, default 4.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time zone,
    * no UI, WARN logging with the bounded-window warning muted.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    muteBoundedWindowWarning()
    spark
  }

  /** Gate-log hygiene: the verify/bench logs carried ~250
    * `WARN WindowExec: No Partition Defined` lines per run, burying real
    * warnings. Every remaining global-window site in this
    * repo is verified BOUNDED and documented where it stands — the
    * k-survivor ranking after `limit(topK)` (`Retrieval.scala`), the
    * bounded label/family domains (`CoreQueries.scala`,
    * `LifecycleQueries.scala`), loader-tier index bookkeeping
    * (`MappedDataset.scala`), ingest-batch dense-id assignment
    * (`AnnBridge.scala`), and microbatch-sized obs numbering
    * (`ZarrStreamSink.scala`) — so for THIS repo the warning is category
    * noise, not a scale signal.
    *
    * Why a logger level and not a plan change: the obvious fix,
    * `Window.partitionBy(lit(1))`, does not work on Spark 4 — the
    * `EliminateWindowPartitions` optimizer rule (spark-catalyst 4.1.2)
    * removes foldable partition keys before physical planning, so the
    * physical `partitionSpec` is empty again and the warning still
    * prints (measured: 233 warnings with every site literal-partitioned).
    * Restructuring the sites away from windows would trade a correct,
    * bounded single-partition plan for contortions. Instead the sessions
    * graft's own mains build raise this one logger category to ERROR —
    * scoped to those JVMs, so a library consumer building their own
    * session still sees the warning for their own, possibly unbounded,
    * global windows.
    */
  private def muteBoundedWindowWarning(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // absent log4j binding: keep going

  /** JVM warm-up so the first measured query is not charged for it:
    * codegen, the broadcast-exchange path (HashedRelation build + codegen
    * classload — stream-static joins pay this on their first micro-batch
    * otherwise), and the streaming engine (classload + state-store init
    * on a 1-row memory stream, so streaming entries measure the operator,
    * not first-use cost).
    */
  def warm(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).join(broadcast(spark.range(100).toDF()), "id").count()
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = ms.toDF().groupBy(col("value")).count()
      .writeStream.outputMode("complete").format("memory").queryName("warmup").start()
    ms.addData(1L)
    q.processAllAvailable()
    q.stop()
  }
}
