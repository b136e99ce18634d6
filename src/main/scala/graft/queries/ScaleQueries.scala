package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.Skew

/** Join-shape queries exercising the scale toolbox: multi-join
  * aggregation (broadcast dims + shuffled fact join) and the salted-join
  * equivalence check.
  */
object ScaleQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q21_join_agg_revenue" -> ((spark, dir) => {
      val li = t(spark, dir, "lineitem")
      val o = t(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val c = t(spark, dir, "customer")
      val n = t(spark, dir, "nation")
      // Single-stage plan: fact joins (orders date-filtered, nation
      // broadcast), one final 25-group aggregate. A round-14 rewrite
      // pre-aggregated lineitem by l_orderkey before the joins on the
      // theory that ~4x fewer join rows would win; measured head-to-head
      // in fresh JVMs (SCALING.md, round 15) it LOST at both tiers —
      // 2.4x slower at sf0.1 and 3.3x at sf10 (25.3 s vs 7.5 s median) —
      // because a hash aggregate over the full lineitem keyspace (one
      // group PER ORDER: 15M groups at sf10, growing linearly forever)
      // costs far more than the join-row reduction saves, at every scale.
      // The 25-group final aggregate already does its reduction map-side.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(ExactSum.sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    "q22_salted_join" -> ((spark, dir) => {
      // skew-adaptive path: detect hot keys, salt only those. l_orderkey
      // is uniform (≤7 rows/key), so this resolves to detection + plain
      // shuffle join — the correct production plan; blanket salting
      // (saltedJoin) replicates the whole orders side 8x for nothing and
      // is covered by ExtSpec on synthetically skewed data.
      Skew.skewJoin(
          t(spark, dir, "lineitem"), t(spark, dir, "orders"),
          "l_orderkey", "o_orderkey", nSalts = 8, hotKeyThreshold = 100000,
          saltBy = Seq("l_orderkey", "l_linenumber"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          ExactSum.sumFixed(col("l_quantity"), 2).as("sum_qty"))
        .orderBy("o_orderstatus")
    })
  )

  val oracle: Map[String, String] = Map(
    "q21_join_agg_revenue" ->
      s"""SELECT n_name,
        |  ${ExactSum.sumRevenueSql("l_extendedprice", "l_discount")} AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q22_salted_join" ->
      s"""SELECT o_orderstatus, count(*) AS n,
        |  ${ExactSum.sumFixedSql("l_quantity", 2)} AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
  )
}
