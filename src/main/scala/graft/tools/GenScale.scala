package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver testdata tier: replicates every table
  * `copies`× with disjoint key ranges, so sf0.1 → sf1.0 (6M lineitem rows)
  * without touching the read-only driver data.
  *
  * The replication must not manufacture cross-copy duplicate structure —
  * otherwise every document would sit in a `copies`-clique and the dedup/ANN
  * benches would measure data composition, not plan scaling. Two invariants
  * guarantee clean scaling:
  *
  *  - **Text**: each copy applies a bijective word remap (≈half the vocab,
  *    selected by `xxhash64(word, copy)`, gets a copy-specific suffix).
  *    A bijective token remap preserves every within-copy shingle equality
  *    (exact dups stay exact, planted near-dups stay near), while two copies
  *    share only ~25% of vocab unchanged → cross-copy trigram-shingle
  *    Jaccard ≈ (1/4)^3 ≈ 2% — dead for minhash/simhash thresholds.
  *  - **Embeddings**: each copy multiplies by a deterministic ±1 diagonal
  *    (sign-flip per dimension from `xxhash64(copy, dim)`). diag(±1) is
  *    orthogonal, so within-copy cosines/norms are preserved EXACTLY; cross-
  *    copy cosines collapse toward 0 (random sign agreement).
  *
  * Copy 0 is the identity — the original tier embeds verbatim.
  *
  * Usage: GenScale <inDir> <outDir> [copies=10] [tables=t1,t2,...]
  * The optional 4th arg restricts generation to the named tables — the
  * sf100 doc-family spot tier scales only documents+embeddings (the
  * tables its probes read) instead of paying for a 600M-row lineitem.
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val inDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/root/repo/testdata-local/sf1.0"
    val copies = if (args.length > 2) args(2).toInt else 10
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').map(_.trim).filter(_.nonEmpty).toSet)
      else None
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    val spark = graft.core.Session.local(32)
    // events.ts is parquet TIMESTAMP(NANOS): read it as raw long nanos.
    // Spark cannot write NANOS back, so GenScale emits ts as INT64 and
    // tools/genscale_ts.py re-types it to timestamp[ns] afterwards, giving
    // byte-identical semantics to the input tier for BOTH readers (Spark
    // nanosAsLong and the DuckDB oracle).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val cp = spark.range(copies).select(col("id").cast("int").as("cp"))

    def table(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")

    /** stride = max(key)+1 per key column, computed from the data so the
      * same tool scales any tier. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    def shifted(name: String, keysByName: => Seq[(String, Long)], parts: Int,
                extra: DataFrame => DataFrame = identity): Unit = {
      if (!wanted(name)) return
      val keys = keysByName
      val src = table(name)
      val rep = keys.foldLeft(src.crossJoin(cp)) { case (df, (k, s)) =>
        df.withColumn(k, col(k) + col("cp").cast("long") * s)
      }
      extra(rep).drop("cp")
        .repartition(parts).sortWithinPartitions(keys.head._1)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    // dimension tables replicate verbatim (TPC-H doesn't scale them)
    for (t <- Seq("region", "nation") if wanted(t)) {
      table(t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"$t: copied")
    }

    // strides are computed lazily so a table-filtered run never reads
    // tables it won't write
    lazy val custS = stride(table("customer"), "c_custkey")
    lazy val suppS = stride(table("supplier"), "s_suppkey")
    lazy val partS = stride(table("part"), "p_partkey")
    lazy val ordS = stride(table("orders"), "o_orderkey")
    lazy val evS = stride(table("events"), "event_id")
    lazy val userS = stride(table("events"), "user_id")
    lazy val docS = stride(table("documents"), "doc_id")
    lazy val vecS = stride(table("embeddings"), "vec_id")

    shifted("customer", Seq("c_custkey" -> custS), 4)
    shifted("supplier", Seq("s_suppkey" -> suppS), 2)
    shifted("part", Seq("p_partkey" -> partS), 4)
    shifted("orders", Seq("o_orderkey" -> ordS, "o_custkey" -> custS), 8)
    shifted("lineitem", Seq("l_orderkey" -> ordS, "l_partkey" -> partS,
      "l_suppkey" -> suppS), 32)
    shifted("events", Seq("event_id" -> evS, "user_id" -> userS), 8)

    // documents: bijective per-copy word remap; n_chars recomputed
    shifted("documents", Seq("doc_id" -> docS), 8, rep => {
      val word = (w: org.apache.spark.sql.Column) =>
        when(col("cp") === 0 || length(w) === 0, w)
          .otherwise(when(pmod(xxhash64(w, col("cp")), lit(2)) === 0,
            concat(w, lit("q"), col("cp").cast("string"))).otherwise(w))
      rep.withColumn("text", array_join(transform(split(col("text"), " "), word), " "))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    // embeddings: per-copy orthogonal sign flip, element type stays float
    shifted("embeddings", Seq("vec_id" -> vecS), 4, rep =>
      rep.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(col("cp") === 0, x).otherwise(
            when(pmod(xxhash64(col("cp"), i), lit(2)) === 0, -x)
              .otherwise(x)).cast("float"))))

    spark.stop()
  }
}
