package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.ExactSum

/** Head-to-head: q21 with vs without the pre-join partial aggregation of
  * lineitem by l_orderkey, same session, alternating runs — adjudicates
  * the reformulation at a tier (run at sf1.0 and sf10).
  */
object ProfQ21 {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/repo/testdata-local/sf10"
    val spark = graft.core.Session.local(32)
    graft.core.Session.warm(spark)

    def t(name: String): DataFrame = spark.read.parquet(s"$sfDir/$name.parquet")
    def base = {
      val o = t("orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      (o, t("customer"), t("nation"))
    }
    def flat(): DataFrame = {
      val (o, c, n) = base
      t("lineitem").join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(ExactSum.sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }
    def preagg(): DataFrame = graft.SparkEntry.queries("q21_join_agg_revenue")(spark, sfDir)

    // one variant per JVM (arg 2: flat|preagg|both) — interleaving the
    // two plans in one session cross-charges GC/cache effects
    val variants: Seq[(String, () => DataFrame)] =
      (if (args.length > 1) args(1) else "both") match {
        case "flat"   => Seq("flat" -> flat _)
        case "preagg" => Seq("preagg" -> preagg _)
        case _        => Seq("flat" -> flat _, "preagg" -> preagg _)
      }
    (1 to 3).foreach { i =>
      variants.foreach { case (nm, f) =>
        val t0 = System.nanoTime()
        val cnt = f().queryExecution.toRdd.count()
        println(f"$nm%-8s run$i ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($cnt rows)")
      }
    }
    spark.stop()
  }
}
