package graft.core

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the `Par.spreadForCpu` gate that parallelizes CPU-heavy text
  * kernels over narrow (single-row-group) inputs:
  *  - narrow input → round-robin repartition to
  *    `min(defaultParallelism, ceil(estimatedBytes / 64 KiB))` —
  *    the r19 input-size floor (r18 verdict: bare defaultParallelism
  *    over-partitioned every small corpus; the 8-core suite beat the
  *    32-core suite);
  *  - tiny narrow input → returned UNTOUCHED (size-capped target 1);
  *  - unknown size estimate (LogicalRDD leaf) → treated as huge,
  *    spread to defaultParallelism;
  *  - already-wide input → returned UNTOUCHED (no shuffle added — the
  *    production case, where a corpus scan arrives as thousands of
  *    splits);
  *  - streaming frame → untouched (`.rdd` is illegal on streaming plans);
  *  - row content is preserved exactly (only placement changes).
  */
class SpreadForCpuSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("narrow input above the floor is spread to defaultParallelism") {
    // range stats: 8 B/row → 1M rows = 8 MB >> 4 × 64 KiB
    val one = spark.range(1 << 20).coalesce(1).toDF()
    assert(one.rdd.getNumPartitions == 1)
    val spread = Par.spreadForCpu(one)
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(spread.count() == (1 << 20))
  }

  test("tiny narrow input passes through untouched (size floor)") {
    // 100 rows × 8 B = 800 B → ceil(800/65536) = 1 target partition:
    // spreading a few hundred rows is pure exchange overhead
    val tiny = spark.range(100).coalesce(1).toDF()
    assert(Par.spreadForCpu(tiny) eq tiny)
  }

  test("mid-size narrow input gets a size-capped target below defaultParallelism") {
    // 20000 rows × 8 B = 160 KB → ceil(160000/65536) = 3 partitions
    val mid = spark.range(20000).coalesce(1).toDF()
    val spread = Par.spreadForCpu(mid)
    val expected = math.min(spark.sparkContext.defaultParallelism, 3)
    assert(spread.rdd.getNumPartitions == expected)
    assert(spread.count() == 20000)
  }

  test("unknown size estimate (LogicalRDD) is treated as huge, not empty") {
    // createDataFrame over an RDD plans a LogicalRDD leaf whose stats are
    // spark.sql.defaultSizeInBytes (Long.MaxValue) — the checkpoint-fenced
    // shape every CC/pair-set consumer sees; it must spread fully
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
    val rdd = spark.sparkContext.parallelize((0L until 100L).map(org.apache.spark.sql.Row(_)), 1)
    val df = spark.createDataFrame(rdd, schema)
    val spread = Par.spreadForCpu(df)
    assert(spread.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
  }

  test("wide input passes through untouched") {
    val target = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1 << 20, 1, target + 2).toDF()
    assert(Par.spreadForCpu(wide) eq wide, "an already-wide frame must be returned as-is")
  }

  test("input with exactly defaultParallelism partitions passes through (strict-< gate)") {
    val target = spark.sparkContext.defaultParallelism
    val exact = spark.range(0, 1 << 20, 1, target).toDF()
    assert(Par.spreadForCpu(exact) eq exact)
  }

  test("a frame with an upstream shuffle passes through (no .rdd materialization)") {
    // spreading after an exchange is pointless (the shuffle already
    // redistributes) and Dataset.rdd on an AQE plan with query stages
    // would EXECUTE them just to read a partition count — the gate must
    // return such frames untouched without planning their RDD
    val agg = spark.range(1 << 20).coalesce(1).groupBy((col("id") % 7).as("k"))
      .agg(sum("id").as("s"))
    assert(Par.spreadForCpu(agg) eq agg)
  }

  test("streaming frame passes through") {
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val out = Par.spreadForCpu(ms.toDF())
    assert(out.isStreaming)
  }

  test("spread preserves the exact row multiset") {
    val df = spark.range(1 << 17)
      .select(col("id"), md5(col("id").cast("string")).as("h")).coalesce(1)
    // bit_xor, not sum: a long sum of 64-bit hashes overflows (ANSI error)
    val a = df.agg(expr("bit_xor(xxhash64(id, h))")).head.getLong(0)
    val spread = Par.spreadForCpu(df)
    assert(spread.rdd.getNumPartitions > 1, "fixture must actually spread")
    val b = spread.agg(expr("bit_xor(xxhash64(id, h))")).head.getLong(0)
    assert(a == b)
  }
}
