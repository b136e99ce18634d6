package lakebench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark-side span around a call into a graft layer. Times are
  * epoch milliseconds with sub-millisecond resolution.
  */
final class SpanRec(val id: Int, val layer: String, val name: String, val op: Int,
                    val parent: Int, val t0: Double) {
  var t1: Double = Double.NaN
  var failed: Boolean = false
  def toJson: String = Json(Map("id" -> id, "layer" -> layer, "name" -> name, "op" -> op,
    "parent" -> parent, "t0" -> t0, "t1" -> t1, "failed" -> failed))
}

/** Span recorder. Spans are held in memory and written out once at the
  * end of the run. When disabled, `apply` only evaluates its body.
  *
  * The innermost open span's id rides on the SparkContext local property
  * [[Tracer.SpanKey]]; Spark hands local properties to every job the
  * calling thread (or a thread it starts) submits, so the listener can
  * attribute jobs exactly.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[SpanRec]
  /** Operation index of the spans opened from now on (-1: outside the timed sequence). */
  var op: Int = -1
  /** Spans are recorded only while this is set (the timed sequence). */
  var recording: Boolean = false

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val s = new SpanRec(spans.size, layer, name, op, stack.headOption.map(_.id).getOrElse(-1), nowMs())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.t1 = nowMs()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }
}

object Tracer {
  val SpanKey = "lakebench.span"
}

/** Per-job accounting gathered by [[JobListener]]. */
final class JobRec(val id: Int, val span: Int, val t0: Long) {
  var t1: Long = -1L
  var tasks = 0L
  var failedTasks = 0L
  var taskMs = 0L
  var schedWaitMs = 0L
  var shuffleBytes = 0L
  var recordsRead = 0L
  def toJson: String = Json(Map("id" -> id, "span" -> span, "t0" -> t0, "t1" -> t1,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_ms" -> taskMs,
    "sched_wait_ms" -> schedWaitMs, "shuffle_bytes" -> shuffleBytes, "records_read" -> recordsRead))
}

/** Installed from outside graft: counts jobs, tasks, executor time,
  * scheduler wait (task launch minus stage submission), shuffle write,
  * spill and failed or retried tasks, per job. Jobs carry the span id that
  * was current on the submitting thread; jobs submitted from threads that
  * carry no span (the streaming micro-batch thread) keep span -1 and are
  * attributed by time during analysis.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmitted((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val ti = e.taskInfo
      j.tasks += 1
      if (ti.failed || ti.killed || ti.attemptNumber > 0) j.failedTasks += 1
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { s =>
        j.schedWaitMs += math.max(0L, ti.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.memoryBytesSpilled + m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toList)
}
