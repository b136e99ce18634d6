package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-stage profile of a bench entry: `ProfEntry <sfDir> <name> [name...]`.
  * Runs the same action the bench times (`queryExecution.toRdd.count()`),
  * once untimed (codegen warm) then once under a stage listener, and
  * prints every stage's wall duration, task count and summed task time —
  * the local stand-in for the Spark UI's stage table (UI is disabled in
  * bench runs). A 1-task stage with most of the wall = an unsplittable
  * scan serializing the map work; wall >> task-time sum = scheduling gaps
  * between many tiny jobs.
  */
object ProfEntry {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("d10_simhash_portable")
    val spark = graft.core.Session.local(32)
    graft.core.Session.warm(spark)

    case class St(name: String, tasks: Int, wallMs: Long, taskMs: Long, submitted: Long)
    val stages = mutable.ArrayBuffer[St]()
    var nJobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { nJobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        val i = sc.stageInfo
        stages += St(i.name.takeWhile(_ != '\n').take(70), i.numTasks,
          (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L),
          i.taskMetrics.executorRunTime, i.submissionTime.getOrElse(0L))
      }
    }

    names.foreach { n =>
      val fn = graft.SparkEntry.queries.get(n)
      // the two CC-loop bench bodies profile the REAL Bench workloads
      // (private[graft] — a hand copy here would silently drift when the
      // bench constants change; code-review finding, r18)
      def body(): Unit = (n, fn) match {
        case ("b07_cc_190k_edges", _) => graft.Bench.benchCC(spark)
        case ("b10_skewed_dups", _) => graft.Bench.benchSkewedDups(spark, sfDir)
        // the two xxhash fast-path drills mirror Bench's inline bodies
        // (same corpus, same hamming cut) so their stage profiles are the
        // bench's, not an approximation
        case ("d06_simhash", _) =>
          graft.ext.Dedup.simhashCandidates(
              graft.queries.TextQueries.corpusWithNearDups(spark, sfDir), "doc_id", "text")
            .filter(org.apache.spark.sql.functions.col("hamming") <= 6)
            .queryExecution.toRdd.count(): Unit
        case ("d34_simhash128", _) =>
          graft.ext.Dedup.simhash128Candidates(
              graft.queries.TextQueries.corpusWithNearDups(spark, sfDir), "doc_id", "text")
            .filter(org.apache.spark.sql.functions.col("hamming") <= 12)
            .queryExecution.toRdd.count(): Unit
        case (_, Some(f)) => f(spark, sfDir).queryExecution.toRdd.count()
        case _ => sys.error(s"unknown entry $n")
      }
      body() // plan/codegen warm, untimed — matches the bench protocol
      stages.clear(); nJobs = 0
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      body()
      val wall = (System.nanoTime() - t0) / 1e9
      // drain the listener bus: poll until the stage table stops growing
      // (a fixed sleep drops late completions on a loaded box and the
      // missing rows are exactly the entry's final stages)
      var seen = -1
      var stable = 0
      while (stable < 3) { // three consecutive 100 ms windows with no growth
        Thread.sleep(100)
        val now = synchronized(stages.size)
        if (now == seen) stable += 1 else { stable = 0; seen = now }
      }
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $n: wall $wall%.3f s, $nJobs jobs, ${stages.size} stages, " +
        f"stage-wall sum ${stages.map(_.wallMs).filter(_ > 0).sum / 1e3}%.3f s, " +
        f"task-time sum ${stages.map(_.taskMs).sum / 1e3}%.3f s")
      stages.sortBy(_.submitted).foreach { s =>
        println(f"   ${s.wallMs}%6d ms wall  ${s.taskMs}%6d ms task  ${s.tasks}%4d tasks  ${s.name}")
      }
    }
    spark.stop()
  }
}
