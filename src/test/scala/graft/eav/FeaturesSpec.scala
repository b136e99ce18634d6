package graft.eav

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class FeaturesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // records: samples; features: gc_content (num), status (str), cell_type (cat)
  private lazy val records = Seq(1L, 2L, 3L, 4L).toDF("id")
  private lazy val features = Seq(
    (1L, "gc_content", "num"), (2L, "status", "str"), (3L, "cell_type", "cat[ULabel]")
  ).toDF("id", "name", "dtype")
  private lazy val values = Seq(
    (1L, 1L, "0.3"), (2L, 1L, "0.7"), (3L, 1L, "0.55"),
    (1L, 2L, "\"ok\""), (2L, 2L, "\"bad\"")
    // record 4 has no values at all
  ).toDF("record_id", "feature_id", "value_json")
  private lazy val labels = Seq((10L, "T cell"), (11L, "B cell")).toDF("id", "name")
  private lazy val links = Seq(
    (1L, 3L, 10L), (2L, 3L, 11L), (3L, 3L, 10L)
  ).toDF("record_id", "feature_id", "label_id")

  private def store = new FeatureStore(features, values, Some(links), Some(labels))

  test("numeric feature predicates (json cast)") {
    assert(store.filter(records, "id", F("gc_content") > 0.5).count() === 2)
    assert(store.filter(records, "id", F("gc_content") >= 0.3).count() === 3)
    assert(store.filter(records, "id", F("gc_content") < 0.5).count() === 1)
  }

  test("string equality and __ne anti-join") {
    assert(store.filter(records, "id", F("status") === "ok").count() === 1)
    // ne = NOT EXISTS of the equality subquery: records without status=ok
    val ne = store.filter(records, "id", F("status") =!= "ok")
      .select("id").as[Long].collect().sorted
    assert(ne.toSeq === Seq(2L, 3L, 4L))
  }

  test("isnull presence/absence") {
    val noGc = store.filter(records, "id", F("gc_content").isNull)
      .select("id").as[Long].collect().sorted
    assert(noGc.toSeq === Seq(4L))
    assert(store.filter(records, "id", F("gc_content").isNotNull).count() === 3)
  }

  test("categorical feature resolves labels through link table") {
    val t = store.filter(records, "id", F("cell_type") === "T cell")
      .select("id").as[Long].collect().sorted
    assert(t.toSeq === Seq(1L, 3L))
    intercept[graft.query.DoesNotExist](
      store.filter(records, "id", F("cell_type") === "no such label").count())
  }

  test("QuerySet feature hook routes unknown fields to EAV") {
    val hooked = new graft.query.QuerySet(
      graft.catalog.TableDef("record", records.schema), records,
      new graft.query.QuerySet.MapEnv(Map("record" -> (graft.catalog.TableDef("record", records.schema), records))),
      featureHook = Some(store.hook))
    assert(hooked.filter("gc_content__gt" -> 0.5).count() === 2)
    assert(hooked.filter("status" -> "ok").count() === 1)
    intercept[graft.query.FieldError](hooked.filter("not_a_feature" -> 1).df)
  }

  test("hook path: f__isnull and f__ne negate like the direct filter path") {
    val hooked = new graft.query.QuerySet(
      graft.catalog.TableDef("record", records.schema), records,
      new graft.query.QuerySet.MapEnv(Map("record" -> (graft.catalog.TableDef("record", records.schema), records))),
      featureHook = Some(store.hook))
    // isnull=true → records WITHOUT any gc_content value (reference:
    // queryset.exclude for isnull=True)
    assert(hooked.filter("gc_content__isnull" -> true)
      .df.select("id").as[Long].collect().sorted.toSeq === Seq(4L))
    // isnull=false → records WITH a value
    assert(hooked.filter("gc_content__isnull" -> false)
      .df.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // ne → NOT EXISTS(status == ok): includes records lacking the feature
    assert(hooked.filter("status__ne" -> "ok")
      .df.select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L, 4L))
    // exclude inverts back: exclude(isnull=true) = records WITH the feature
    assert(hooked.exclude("gc_content__isnull" -> true)
      .df.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    // direct-path parity
    assert(hooked.filter("status__ne" -> "ok").df.select("id").as[Long].collect().sorted.toSeq
      === store.filter(records, "id", F("status") =!= "ok").select("id").as[Long].collect().sorted.toSeq)
  }

  test("pivot wide: typed columns, multi-value sets, left join keeps empty records") {
    val wide = store.pivotWide(records, "id").orderBy("id")
    assert(wide.columns.toSeq === Seq("id", "cell_type", "gc_content", "status"))
    val rows = wide.collect()
    assert(rows.length === 4)
    val r1 = rows(0)
    assert(r1.getAs[Double]("gc_content") === 0.3)
    assert(r1.getAs[String]("status") === "ok")
    assert(r1.getAs[String]("cell_type") === "T cell")
    val r4 = rows(3)
    assert(r4.isNullAt(r4.fieldIndex("gc_content")))
    assert(r4.isNullAt(r4.fieldIndex("status")))
  }

  test("pivot multi-valued cell exports as sorted pipe-joined set") {
    val extraLinks = links.union(Seq((1L, 3L, 11L)).toDF("record_id", "feature_id", "label_id"))
    val s2 = new FeatureStore(features, values, Some(extraLinks), Some(labels))
    val wide = s2.pivotWide(records, "id").orderBy("id")
    assert(wide.collect()(0).getAs[String]("cell_type") === "B cell|T cell")
  }

  test("compiling a multi-predicate filter runs ONE job (cached dictionary)") {
    val sc = spark.sparkContext
    val s = store // fresh store, dictionary not collected yet
    // plan (don't execute) a 3-predicate filter: the only cluster work
    // allowed is the single dictionary collect — the per-predicate
    // head()/isEmpty() round-trips are gone
    val first = org.apache.spark.ListenerBusDrain.jobs(sc)(s.filter(records, "id",
      F("gc_content") > 0.5, F("status") === "ok", F("gc_content").isNotNull))
    // (0 when the dictionary source is a local relation whose collect
    // short-circuits; 1 when it actually scans)
    assert(first <= 1, s"expected <=1 job, saw $first")
    // second compile on the same store: ZERO further jobs
    assert(org.apache.spark.ListenerBusDrain.jobs(sc)(s.filter(records, "id", F("status") === "ok")) === 0)
  }
}
