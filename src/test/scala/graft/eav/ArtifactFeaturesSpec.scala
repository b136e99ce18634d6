package graft.eav

import java.sql.{Date, Timestamp}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Catalog

/** Artifact annotation writes: each value, label and link is stored once,
  * and every scalar type reads back through the wide export.
  */
class ArtifactFeaturesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Artifacts 1..3; feature `n_cells` (int) with value 1 on artifact 1. */
  private def built(): Catalog = {
    val cat = Catalog.deterministic(spark, TestSpark.tmpDir("af"))
    (1 to 3).foreach(a => cat.insert("artifact", Map("key" -> s"data/a$a.parquet", "kind" -> "dataset")))
    new ArtifactFeatures(cat).addValues(1L, Map("n_cells" -> 1L))
    cat
  }

  test("datetime and date values read back through the wide export") {
    val cat = built()
    val af = new ArtifactFeatures(cat)
    val ts = new Timestamp(1700000000000L)
    val day = Date.valueOf("2024-02-29")
    af.addValues(2L, Map("taken_at" -> ts, "day" -> day,
      "local_day" -> java.time.LocalDate.parse("2024-03-01")))
    val row = af.toDataFrame(cat.table("artifact")).filter(col("id") === 2L).head()
    assert(row.getAs[Timestamp]("taken_at") === ts)
    assert(row.getAs[Date]("day") === day)
    assert(row.getAs[Date]("local_day") === Date.valueOf("2024-03-01"))
    assert(af.querySet.filter("day" -> "2024-02-29").count() === 1)
  }

  test("a categorical value added twice leaves one label and one link") {
    val cat = built()
    cat.insert("feature", Map("name" -> "tissue", "dtype" -> "cat"))
    val af = new ArtifactFeatures(cat)
    af.addValues(2L, Map("tissue" -> "lung"))
    af.addValues(2L, Map("tissue" -> "lung"))
    assert(cat.table("ulabel").count() === 1)
    assert(cat.table("artifact_ulabels").count() === 1)
  }

  test("a label repeated within one addLabels call is linked once") {
    val cat = built()
    new ArtifactFeatures(cat).addLabels(2L, Seq(5L, 5L))
    assert(cat.table("artifact_ulabels").filter(col("artifact_id") === 2L).count() === 1)
  }

  // 5 jobs at the commit before `Catalog.ensure`: three reads of `feature`
  // (stored dtype, id, categorical check), the json_value lookup and the
  // link check.
  test("addValues of one scalar on an existing feature: one job per table it ensures") {
    val cat = built()
    cat.flushAll()
    val jobs = ListenerBusDrain.jobs(spark.sparkContext)(
      new ArtifactFeatures(cat).addValues(2L, Map("n_cells" -> 7L)))
    info(s"addValues: $jobs jobs")
    assert(jobs === 3) // feature, json_value, artifact_json_values
    assert(cat.table("json_value").count() === 2)
    assert(cat.table("artifact_json_values").count() === 2)
  }
}
