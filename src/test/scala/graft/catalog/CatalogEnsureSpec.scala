package graft.catalog

import org.apache.spark.ListenerBusDrain
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `Catalog.ensure`: the one idempotent insert of the registry layer. */
class CatalogEnsureSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def link(a: Long, l: Long, f: java.lang.Long = null): Map[String, Any] =
    Map("artifact_id" -> a, "ulabel_id" -> l, "feature_id" -> f)
  private val LinkKey = Seq("artifact_id", "ulabel_id", "feature_id")

  test("an existing row is returned as stored; a missing one is inserted") {
    val cat = Catalog.deterministic(spark, TestSpark.tmpDir("ensure"))
    val stored = cat.insert("feature", Map("name" -> "n_cells", "dtype" -> "int"))
    cat.flushAll()
    val Seq(hit, miss) = cat.ensure("feature", Seq("name"), Seq(
      Map("name" -> "n_cells", "dtype" -> "num"), Map("name" -> "tissue", "dtype" -> "str")))
    assert(hit("id") === stored("id"))
    assert(hit("uid") === stored("uid"))
    assert(hit("dtype") === "int") // the stored row wins over the input's values
    assert(miss("dtype") === "str")
    assert(cat.table("feature").count() === 2)
    // a second call finds both
    assert(cat.ensure("feature", Seq("name"), Seq(Map("name" -> "tissue")))
      .map(_("id")) === Seq(miss("id")))
    assert(cat.table("feature").count() === 2)
  }

  test("a null key value matches a stored null, missing or explicit") {
    val cat = Catalog.deterministic(spark, TestSpark.tmpDir("ensure_null"))
    val plain = cat.insert("artifact_ulabels", link(1L, 2L))
    val scoped = cat.insert("artifact_ulabels", link(1L, 2L, 9L))
    cat.flushAll()
    val got = cat.ensure("artifact_ulabels", LinkKey, Seq(
      Map("artifact_id" -> 1L, "ulabel_id" -> 2L), link(1L, 2L), link(1L, 2L, 9L), link(1L, 2L, 8L)))
    assert(got.take(3).map(_("id")) === Seq(plain("id"), plain("id"), scoped("id")))
    assert(!Set(plain("id"), scoped("id")).contains(got(3)("id")))
    assert(cat.table("artifact_ulabels").count() === 3)
  }

  test("a key repeated within one call is inserted once; inserts keep input order") {
    val cat = Catalog.deterministic(spark, TestSpark.tmpDir("ensure_batch"))
    val got = cat.ensure("ulabel", Seq("name"), Seq(
      Map("name" -> "b", "description" -> "first"), Map("name" -> "a"),
      Map("name" -> "b", "description" -> "second"), Map("name" -> "c")))
    assert(got(0) eq got(2))
    assert(got.map(_("id")) === Seq(1L, 2L, 1L, 3L))
    val stored = cat.table("ulabel").filter("name = 'b'").collect()
    assert(stored.length === 1 && stored.head.getAs[String]("description") === "first")
    assert(cat.ensure("ulabel", Seq("name"), Seq.empty) === Seq.empty)
  }

  test("one Spark job per call on a flushed catalog, hit or miss") {
    val cat = Catalog.deterministic(spark, TestSpark.tmpDir("ensure_jobs"))
    (1L to 20L).foreach(a => cat.insert("artifact_ulabels", link(a, a % 3)))
    cat.flushAll()
    val sc = spark.sparkContext
    val hit = ListenerBusDrain.jobs(sc)(
      cat.ensure("artifact_ulabels", LinkKey, (1L to 5L).map(a => link(a, a % 3))))
    val miss = ListenerBusDrain.jobs(sc)(
      cat.ensure("artifact_ulabels", LinkKey, (1L to 5L).map(a => link(a, 7L))))
    val empty = ListenerBusDrain.jobs(sc)(cat.ensure("artifact_ulabels", LinkKey, Seq.empty))
    assert((hit, miss, empty) === ((1, 1, 0)))
    assert(cat.table("artifact_ulabels").count() === 25)
  }
}
