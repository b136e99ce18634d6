package graft.tools


/** Standalone host-speed probe: runs the bench suite's fixed-cost
  * calibration workload (`Bench.calibrationHash` — 64M xxhash64 in 8
  * fixed partitions, bit_xor-reduced) in a fresh JVM, one untimed warm
  * pass then N timed runs, and prints one JSON line with the runs and
  * their ratio to the BASELINE.md x00 row.
  *
  * Purpose (round-16 verdict ask #1b): the box changes speed class
  * between rounds — BENCH artifacts must only be published, and
  * BASELINE rows only re-measured, when this probe lands within ~1.3×
  * its row. Run it BEFORE any measurement session; if the ratio is
  * high, wait and re-probe rather than measuring into contamination.
  */
object CalibProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 5
    val spark = graft.core.Session.local(32)
    require(graft.Bench.calibrationHash(spark) != 0L) // warm (codegen/JIT)
    val runs = Seq.fill(n) {
      val t0 = System.nanoTime()
      graft.Bench.calibrationHash(spark)
      (System.nanoTime() - t0) / 1e9
    }
    // true median (average the two middle runs for even n — the
    // upper-middle pick biased even-n probes high; r17 ADVICE)
    val sorted = runs.sorted
    val med =
      if (runs.size % 2 == 1) sorted(runs.size / 2)
      else (sorted(runs.size / 2 - 1) + sorted(runs.size / 2)) / 2.0
    // honor the same baseline override Bench does, so probe and suite
    // can never silently compare against different baselines (r17 ADVICE)
    val base = graft.Bench.parseBaselineMedians(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE_MD", "/root/repo/BASELINE.md"))
      .getOrElse("x00_calibration", 0.0)
    def r3(v: Double) = java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    println(s"""{"runs":[${runs.map(r3).mkString(",")}],"median":${r3(med)},""" +
      s""""x00_baseline":${r3(base)},"ratio":${if (base > 0) r3(med / base) else "null"}}""")
    spark.stop()
  }
}
