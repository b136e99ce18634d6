package graft.h5

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** DataSource V2 surface: spark.read.format("h5ad") over the fixtures. */
class H5adSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val dense = "fixtures/h5ad/dense.h5ad"
  private val sparse = "fixtures/h5ad/sparse.h5ad"
  private def xval(i: Long, j: Long): Double = ((i * 31 + j * 17) % 97) * 0.5
  // the sparse fixture's stored entries (tools/gen_h5ad.py write_csr)
  private val csrEntries = (for {
    i <- 0L until 300; j <- 0L until 40 if (i * 7 + j * 13) % 5 == 0
  } yield (i, j, xval(i, j))).sorted

  test("dense X equals the closed form") {
    val dsv2 = spark.read.format("h5ad").load(dense)
    assert(dsv2.columns.toSeq == Seq("obs_id", "var_id", "value"))
    assert(dsv2.count() == 300L * 40)
    val expected = (for (i <- 0L until 300; j <- 0L until 40) yield xval(i, j)).sum
    val viaDsv2 = dsv2.agg(sum("value")).collect().head.getDouble(0)
    assert(viaDsv2 == expected)
  }

  test("slot option exposes layers; values match the closed form") {
    val scaled = spark.read.format("h5ad")
      .option("slot", "layers/scaled").load(dense)
    val r = scaled.filter(col("obs_id") === 10 && col("var_id") === 7)
      .collect().head.getDouble(2)
    assert(r == xval(10, 7) + 0.5)
  }

  test("pushed obs_id/var_id bounds prune chunks before any read") {
    val full = spark.read.format("h5ad").load(dense)
    assert(full.rdd.getNumPartitions == 15) // 5x3 chunk grid (64x16 chunks)
    val rowSlice = full.filter(col("obs_id") < 64)
    assert(rowSlice.rdd.getNumPartitions == 3, "one chunk row stripe")
    val cell = full.filter(col("obs_id") === 70 && col("var_id") === 20)
    assert(cell.rdd.getNumPartitions == 1, "point lookup = one chunk")
    // filters still re-applied by Spark on top of pruning
    assert(rowSlice.count() == 64L * 40)
    val got = cell.collect()
    assert(got.length == 1 && got.head.getDouble(2) == xval(70, 20))
  }

  test("csr slot: row-range partitions equal the closed form") {
    val dsv2 = spark.read.format("h5ad").load(sparse)
    val got = dsv2.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got.toSeq == csrEntries)
    // csr partitions prune on obs_id row ranges
    val full = dsv2.rdd.getNumPartitions
    val sliced = spark.read.format("h5ad").load(sparse)
      .filter(col("obs_id") < 10).rdd.getNumPartitions
    assert(sliced < full)
  }

  test("chunk bundling: big chunk counts collapse into byte-bounded tasks") {
    // bench fixture: 40 chunks. With the threshold lowered under 40 and a
    // tiny byte target, bundling kicks in — fewer partitions, same data.
    val bundled = spark.read.format("h5ad")
      .option("bundleThreshold", 8).option("bundleBytes", 256 * 1024)
      .load("fixtures/h5ad/bench.h5ad")
    val plain = spark.read.format("h5ad").load("fixtures/h5ad/bench.h5ad")
    assert(plain.rdd.getNumPartitions == 40)
    val np = bundled.rdd.getNumPartitions
    assert(np < 40 && np > 1, s"expected bundled partitions, got $np")
    assert(bundled.count() == 20000L * 256)
    val s1 = bundled.agg(sum("value")).collect().head.getDouble(0)
    val s2 = plain.agg(sum("value")).collect().head.getDouble(0)
    assert(s1 == s2)
  }

  test("range planning scales with store rows — no fixed partition cap") {
    val obs = spark.read.format("h5ad").option("slot", "obs")
      .option("targetRowsPerTask", 25).load(dense)
    assert(obs.rdd.getNumPartitions == 12, // 300 rows / 25
      s"got ${obs.rdd.getNumPartitions}")
    assert(obs.count() == 300)
    val csr = spark.read.format("h5ad")
      .option("targetRowsPerTask", 30).load(sparse)
    assert(csr.rdd.getNumPartitions == 10)
    assert(csr.agg(sum("value")).head().getDouble(0) == csrEntries.map(_._3).sum)
  }

  test("column pruning: projected schema reaches the reader") {
    val onlyValue = spark.read.format("h5ad").load(dense).select("value")
    assert(onlyValue.columns.toSeq == Seq("value"))
    val s = onlyValue.agg(sum("value")).collect().head.getDouble(0)
    val expect = (for (i <- 0 until 300; j <- 0 until 40) yield xval(i, j)).sum
    assert(s == expect)
  }

  test("obs frame slot: schema from the dataframe encoding, values exact") {
    val obs = spark.read.format("h5ad").option("slot", "obs").load(dense)
    assert(obs.columns.toSeq ==
      Seq("obs_id", "obs_name", "cell_type", "n_counts", "sample"))
    assert(obs.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "row ranges floored at defaultParallelism, not one driver task")
    val rows = obs.orderBy("obs_id").collect()
    assert(rows.length == 300)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("obs_name") == s"cell_$i")
      assert(r.getAs[String]("cell_type") == s"type_${i % 5}")
      assert(r.getAs[Double]("n_counts") == (i * 37 % 1000) + 0.5)
      assert(r.getAs[String]("sample") == s"s${i % 7}")
    }
  }

  test("var frame slot keys by var_id/var_name") {
    val vars = spark.read.format("h5ad").option("slot", "var").load(dense)
    assert(vars.columns.take(2).toSeq == Seq("var_id", "var_name"))
    val hv = vars.filter(col("highly_variable") === 1).count()
    assert(hv == (0 until 40).count(_ % 3 == 0))
  }

  test("frame slot: pushed row-id bounds prune row ranges; columns prune") {
    val obs = spark.read.format("h5ad").option("slot", "obs").load(dense)
    val sliced = obs.filter(col("obs_id") < 10)
    assert(sliced.rdd.getNumPartitions <= 2,
      s"expected <=2 of 32 row ranges, got ${sliced.rdd.getNumPartitions}")
    assert(sliced.count() == 10)
    // projecting one column decodes only that column's bytes (plus the
    // synthesized row id) — correctness of the narrow read:
    val one = obs.select("n_counts").agg(sum("n_counts")).collect().head.getDouble(0)
    assert(one == (0 until 300).map(i => (i * 37 % 1000) + 0.5).sum)
  }
}
