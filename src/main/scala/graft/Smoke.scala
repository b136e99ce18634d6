package graft

/** Manual end-to-end smoke: runs the flagship entry exactly like the
  * driver's t1 check (rows > 0 on sf0.001) and prints the result.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Session.local(graft.core.Session.cpus)
    val df = SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println("ENTRY_ROWS=" + df.count())
    spark.stop()
  }
}
