package lakebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Outcome of one timed operation, decided after its timer stopped. */
final case class Checked(error: Option[String], units: Long = 0L)

/** A closed-loop, single-client workload: a seeded input set, a seeded
  * operation sequence of fixed length, and a check of every operation's
  * result against the generator's closed form.
  */
trait Workload {
  type Op
  def name: String
  /** How many times set-up is repeated per run (the median is reported). */
  def setupReps: Int
  /** Sizing constant: the timed sequence has `opsFor(seconds)` operations. */
  def secondsPerOp: Double
  def minOps: Int
  def warmupOps: Int
  /** The sequence holds whole blocks (a cycle of kinds, a pipeline run). */
  def block: Int = 1
  def opsFor(seconds: Int): Int = {
    val n = math.max(minOps, math.round(seconds / secondsPerOp).toInt)
    (n + block - 1) / block * block
  }

  /** Pure: the operation sequence for a seed (`stream` separates warm-up from timed). */
  def plan(seed: Long, n: Int, stream: String): IndexedSeq[Op]
  /** Pure: feeds every generated input into `d`. */
  def digestInputs(seed: Long, d: Digest): Unit
  def kind(op: Op): String

  /** Materialises the inputs under `dir` through graft's public calls. */
  def setup(dir: String): Unit
  /** Untimed: builds the inputs the operation hands to graft. */
  def prepare(op: Op): Any = ()
  /** The timed call(s) into graft. */
  def run(op: Op, input: Any): Any
  /** Untimed comparison with the closed form. */
  def check(op: Op, out: Any): Checked
  /** Untimed checks of end state after the sequence: (operation index or -1, message). */
  def verify(): Seq[(Int, String)] = Nil
  /** Workload-specific accounting, measured before and after the sequence. */
  def before(): Unit = ()
  def counters(): Map[String, Double] = Map.empty
  /** Stops anything the workload started (streaming queries). */
  def teardown(): Unit = ()
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, work: String = "", out: String = "",
                        cores: Int = 4, digest: Boolean = false)

  private def parse(argv: Array[String]): Args =
    argv.grouped(2).foldLeft(Args()) {
      case (a, Array("--workload", v)) => a.copy(workload = v)
      case (a, Array("--seed", v))     => a.copy(seed = v.toLong)
      case (a, Array("--seconds", v))  => a.copy(seconds = v.toInt)
      case (a, Array("--trace", v))    => a.copy(trace = v == "1")
      case (a, Array("--work", v))     => a.copy(work = v)
      case (a, Array("--out", v))      => a.copy(out = v)
      case (a, Array("--cores", v))    => a.copy(cores = v.toInt)
      case (a, Array("--digest", v))   => a.copy(digest = v == "1")
      case (_, other) => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }

  def workload(name: String, spark: SparkSession, tracer: Tracer, seed: Long): Workload = name match {
    case "registry_read" => new RegistryRead(spark, tracer, seed)
    case "ingest_write"  => new IngestWrite(spark, tracer, seed)
    case "corpus_dedup"  => new CorpusDedup(spark, tracer, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.digest) { digest(a); return }
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"lakebench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try runWorkload(a, spark, jvmS, sessionS) finally spark.stop()
  }

  private def secondsOf(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  private def runWorkload(a: Args, spark: SparkSession, jvmS: Double, sessionS: Double): Unit = {
    val tracer = new Tracer(a.trace, spark.sparkContext)
    val listener = if (a.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val w = workload(a.workload, spark, tracer, a.seed)

    // set-up: repeated into fresh directories; the last copy is used
    val setupS = (0 until w.setupReps).map { r =>
      val dir = s"${a.work}/data/rep$r"
      val s = secondsOf(w.setup(dir))
      if (r > 0) Disk.delete(s"${a.work}/data/rep${r - 1}")
      println(f"lakebench: set-up $r took $s%.2f s")
      s
    }
    val warm = w.plan(a.seed, w.warmupOps, "warmup")
    val warmupS = secondsOf(warm.foreach { op =>
      val input = w.prepare(op)
      val s = System.nanoTime()
      val err = scala.util.Try(w.check(op, w.run(op, input))).fold(t => Some(t.toString), _.error)
      println(f"lakebench: warm-up ${w.kind(op)} ${(System.nanoTime() - s) / 1e6}%.1f ms ${err.getOrElse("")}")
    })

    val ops = w.plan(a.seed, w.opsFor(a.seconds), "timed")
    w.before()
    val records = mutable.ArrayBuffer.empty[String]
    tracer.recording = true
    var busyNs = 0L
    ops.zipWithIndex.foreach { case (op, i) =>
      tracer.op = i
      val input = w.prepare(op)
      val s = System.nanoTime()
      val s0 = tracer.nowMs()
      val res = scala.util.Try(tracer("op", w.kind(op))(w.run(op, input)))
      val e = System.nanoTime()
      busyNs += e - s
      val checked = res match {
        case scala.util.Success(out) =>
          scala.util.Try(w.check(op, out)).fold(t => Checked(Some(s"check threw: $t")), identity)
        case scala.util.Failure(t) => Checked(Some(s"threw: $t"))
      }
      println(f"lakebench: op $i ${w.kind(op)} ${(e - s) / 1e6}%.1f ms ${checked.error.getOrElse("")}")
      records += Json(Map("i" -> i, "kind" -> w.kind(op), "t0" -> s0, "ms" -> (e - s) / 1e6,
        "ok" -> checked.error.isEmpty, "error" -> checked.error.orNull, "units" -> checked.units))
    }
    // the client's wall time: the operations back to back, without the
    // harness's own input preparation and result checks between them
    val wallS = busyNs / 1e9
    tracer.recording = false
    tracer.op = -1
    val hwm = Disk.vmHwmKb()
    val counters = w.counters()
    val deferred = w.verify()
    w.teardown()
    listener.foreach(_ => org.apache.spark.LakebenchBus.drain(spark.sparkContext))

    val out = new StringBuilder
    out ++= "{"
    out ++= Seq(
      "\"workload\":" + Json(w.name), "\"seed\":" + a.seed, "\"cores\":" + a.cores,
      "\"trace\":" + a.trace, "\"jvm_s\":" + jvmS, "\"session_s\":" + sessionS, "\"setup_reps_s\":" + Json(setupS),
      "\"warmup_s\":" + warmupS, "\"wall_s\":" + wallS, "\"vmhwm_kb\":" + hwm,
      "\"counters\":" + Json(counters),
      "\"deferred_failures\":" + Json(deferred.map { case (i, m) => Map("i" -> i, "error" -> m) }),
      "\"ops\":" + records.mkString("[", ",", "]"),
      "\"spans\":" + tracer.spans.map(_.toJson).mkString("[", ",", "]"),
      "\"jobs\":" + listener.map(_.snapshot().map(_.toJson)).getOrElse(Nil).mkString("[", ",", "]")
    ).mkString(",")
    out ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), out.result())
  }

  /** Prints SHA-256 digests of the input set and of the timed operation
    * sequence for a seed, without starting Spark.
    */
  private def digest(a: Args): Unit = {
    val w = workload(a.workload, null, null, a.seed)
    val di = new Digest
    w.digestInputs(a.seed, di)
    val dops = new Digest
    (w.plan(a.seed, w.warmupOps, "warmup") ++ w.plan(a.seed, w.opsFor(a.seconds), "timed"))
      .foreach(op => dops.add(op))
    println(Json(Map("inputs" -> di.hex, "ops" -> dops.hex)))
  }
}
