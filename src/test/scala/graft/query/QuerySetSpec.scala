package graft.query

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.catalog.Catalog

class QuerySetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** in-memory ulabel-like registry with branch + versioned uid */
  private lazy val labels = Seq(
    // (id, uid(8), name, synonyms, branch_id)
    (1L, "aaaa0000", "T cell", "T-cell|T lymphocyte", 1L),
    (2L, "bbbb0000", "B cell", "B-cell", 1L),
    (3L, "cccc0000", "NK cell", null, -1L), // trashed
    (4L, "dddd0000", "monocyte", null, 0L), // archived
    (5L, "eeee0000", "T helper cell", null, 2L) // other branch
  ).toDF("id", "uid", "name", "synonyms", "branch_id")

  private def qs = QuerySet.over(labels, "ulabel", uidLen = 8)

  test("branch injection: default hides trash/archive/other branches") {
    assert(qs.filter("name__contains" -> "cell").df.count() === 2)
    assert(qs.count() === 2)
  }

  test("branch injection: current branch adds to main") {
    val onBranch2 = QuerySet.over(labels, "ulabel", uidLen = 8, currentBranchId = 2L)
    assert(onBranch2.count() === 3) // branch 2 + main
  }

  test("explicit branch filter wins over injection") {
    assert(qs.filter("branch_id" -> -1L).count() === 1) // trash only
    assert(qs.filter("branch_id__in" -> Seq(-1L, 0L, 1L, 2L)).count() === 5)
    // `branch` aliases branch_id on branch-carrying registries
    assert(qs.filter("branch" -> -1L).count() === 1)
    assert(qs.filter("branch__in" -> Seq(1L, 2L)).count() === 3)
    // branch=None disables injection WITHOUT constraining: all rows
    assert(qs.filter("branch_id" -> null).count() === 5)
    assert(qs.filter("branch" -> null, "name__contains" -> "cell").count() === 4)
  }

  test("id/uid/hash keys bypass injection") {
    assert(qs.filter("uid" -> "cccc0000").count() === 1) // trashed but addressable
    assert(qs.filter("id" -> 4L).count() === 1)
  }

  test("lookup suite") {
    assert(qs.filter("name__startswith" -> "T").count() === 1)
    assert(qs.filter("name__istartswith" -> "t").count() === 1)
    assert(qs.filter("name__icontains" -> "CELL").count() === 2)
    assert(qs.filter("name__in" -> Seq("T cell", "B cell")).count() === 2)
    assert(qs.filter("synonyms__isnull" -> true).count() === 0) // visible rows all have synonyms
    assert(qs.filter("name__regex" -> "^[TB] cell$").count() === 2)
    assert(qs.filter("id__gte" -> 2).filter("id__lt" -> 3).count() === 1)
  }

  test("Q algebra: OR / AND / NOT") {
    assert(qs.filterQ(Q("name" -> "T cell") | Q("name" -> "B cell")).count() === 2)
    assert(qs.filterQ(!Q("name__contains" -> "T")).count() === 1)
    assert(qs.excludeQ(Q("name__contains" -> "T")).count() === 1)
  }

  test("unknown field raises FieldError with available fields") {
    val e = intercept[FieldError](qs.filter("nonexistent" -> 1).df)
    assert(e.getMessage.contains("nonexistent"))
    assert(e.getMessage.contains("name"))
  }

  test("one/first/exceptions") {
    assert(qs.filter("name" -> "T cell").one().getAs[String]("name") === "T cell")
    intercept[DoesNotExist](qs.filter("name" -> "no such").one())
    intercept[MultipleResultsFound](qs.filter("name__contains" -> "cell").one())
    assert(qs.filter("name" -> "no such").oneOrNone().isEmpty)
    assert(qs.orderBy("name").first().get.getAs[String]("name") === "B cell")
  }

  test("get by id / full uid / prefix") {
    assert(qs.get(2L).getAs[String]("name") === "B cell")
    assert(qs.get("bbbb0000").getAs[String]("name") === "B cell")
    assert(qs.get("bbb").getAs[String]("name") === "B cell")
    intercept[DoesNotExist](qs.get("zzzz"))
  }

  test("get prefix ladder gated at stem length; longer prefixes can raise") {
    // versioned 20-char uids: 16-char stem + 4-char base62 suffix
    val arts = Seq(
      (1L, "stemAAAAstemAAAA0000", false, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, "stemAAAAstemAAAA0001", true, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (3L, "stemBBBBstemBBBB0000", true, java.sql.Timestamp.valueOf("2024-01-03 00:00:00"))
    ).toDF("id", "uid", "is_latest", "created_at")
    val vqs = QuerySet.over(arts, "artifact", uidLen = 20, versioned = true)
    // prefix <= 16 chars: forgiving ladder picks the is_latest head
    assert(vqs.get("stemAAAA").getAs[Long]("id") === 2L)
    assert(vqs.get("stemAAAAstemAAAA").getAs[Long]("id") === 2L)
    // 17-19 char prefix matching several rows: one_helper semantics raise
    intercept[MultipleResultsFound](vqs.get("stemAAAAstemAAAA0"))
    // 17-19 char prefix matching exactly one row resolves regardless of is_latest
    assert(vqs.get("stemAAAAstemAAAA0000").getAs[Long]("id") === 1L) // full uid
    assert(vqs.get("stemBBBBstemBBBB0").getAs[Long]("id") === 3L)
    intercept[DoesNotExist](vqs.get("zzzz"))
  }

  test("search ranks exact > word > contains, limit + ties stable") {
    val r = qs.search("T cell", fields = Seq("name", "synonyms"), limit = 10)
      .select("name", "rank").as[(String, Int)].collect()
    assert(r.head._1 === "T cell") // exact match ranks first
    assert(r.map(_._1).contains("T helper cell") === false) // branch-hidden
    val r2 = qs.search("cell", fields = Seq("name"), limit = 1)
    assert(r2.count() === 1)
  }

  test("search finds pipe-delimited synonyms at synonym weight") {
    val r = qs.search("T-cell", fields = Seq("name", "synonyms"), limit = 10)
      .select("name", "rank").as[(String, Int)].collect()
    assert(r.head._1 === "T cell")
    assert(r.head._2 >= 200) // synonym-delimited match weight
  }

  test("toDataFrame: default -id order, limit + truncation flag, order preserved") {
    val many = (1L to 30L).map(i => (i, f"uid$i%04d0000", s"label $i", null: String, 1L))
      .toDF("id", "uid", "name", "synonyms", "branch_id")
    val mqs = QuerySet.over(many, "ulabel", uidLen = 8)
    val (df20, trunc) = mqs.toDataFrame()
    assert(trunc === true)
    val ids = df20.select("id").as[Long].collect().toSeq
    assert(ids === (30L to 11L by -1L)) // -id default order survives the limit
    val (dfAll, t2) = mqs.toDataFrame(limit = None)
    assert(t2 === false && dfAll.count() === 30)
    val (df5, t3) = mqs.orderBy("id").toDataFrame(limit = Some(5))
    assert(t3 === true)
    assert(df5.select("id").as[Long].collect().toSeq === Seq(1L, 2L, 3L, 4L, 5L)) // explicit order wins
  }

  test("toDataFrame: a non-unique pk returns each row once, limit and order kept") {
    // the ids-then-join rebuild returned [3,a],[3,b],[3,a],[3,b] here:
    // every row of a duplicated id came back once per kept id
    val dup = Seq((3L, "a"), (3L, "b"), (2L, "c"), (1L, "d")).toDF("doc_id", "v")
    val (df, truncated) = QuerySet.over(dup, "docs", pk = "doc_id")
      .toDataFrame(limit = Some(2), defaultOrder = Some("-doc_id"))
    val rows = df.as[(Long, String)].collect().toSeq
    assert(truncated === true)
    assert(rows.length === 2)
    assert(rows.map(_._1) === Seq(3L, 3L))
    assert(rows.map(_._2).toSet === Set("a", "b"))
    assert(df.schema === dup.schema)
  }

  test("searchQs.toDataFrame preserves rank order after the limit rebuild") {
    val (ranked, _) = qs.searchQs("cell", fields = Seq("name"), limit = 2).toDataFrame(limit = Some(2))
    val names = ranked.select("name").as[String].collect().toSeq
    assert(names.length === 2)
    // same order as the raw search
    val raw = qs.search("cell", fields = Seq("name"), limit = 2).select("name").as[String].collect().toSeq
    assert(names === raw)
  }

  test("suggestSimilarNames: exact hit returns record, near-miss suggests") {
    val (hit, _) = qs.suggestSimilarNames("name", "T cell")
    assert(hit.isDefined && hit.get.getAs[String]("name") === "T cell")
    val (none, similar) = qs.suggestSimilarNames("name", "T cells") // plural near-miss
    assert(none.isEmpty)
    assert(similar.contains("T cell"))
  }

  test("orderBy desc + limit") {
    val names = qs.orderBy("-name").limit(1).df.select("name").as[String].collect()
    assert(names === Array("T cell"))
  }

  /** rows spread across spaces (1 = "all"; 2/3 restricted; null = unset
    * db_default, i.e. the all space) — reference Space RLS semantics
    * (`models/sqlrecord.py:1702`, `tests/permissions/`)
    */
  private lazy val spaced = Seq(
    (1L, "aaaa0000", "T cell", 1L, Option(1L)),
    (2L, "bbbb0000", "B cell", 1L, Option(2L)),
    (3L, "cccc0000", "NK cell", 1L, Option(3L)),
    (4L, "dddd0000", "monocyte", 1L, None: Option[Long]),
    (5L, "eeee0000", "T helper cell", -1L, Option(1L)) // trashed
  ).toDF("id", "uid", "name", "branch_id", "space_id")

  private def sqs = QuerySet.over(spaced, "ulabel", uidLen = 8)

  test("space injection: default sees only the all space (incl. unset)") {
    assert(sqs.df.select("id").as[Long].collect().sorted === Array(1L, 4L))
  }

  test("space injection: granted spaces widen visibility") {
    val granted = QuerySet.over(spaced, "ulabel", uidLen = 8,
      visibleSpaceIds = Seq(1L, 2L))
    assert(granted.df.select("id").as[Long].collect().sorted === Array(1L, 2L, 4L))
  }

  test("explicit space filter wins over injection; space aliases space_id") {
    assert(sqs.filter("space_id" -> 3L).count() === 1)
    assert(sqs.filter("space" -> 3L).count() === 1)
    assert(sqs.filter("space__in" -> Seq(2L, 3L)).count() === 2)
  }

  test("space injection: id/uid bypass, like branch") {
    assert(sqs.filter("uid" -> "cccc0000").count() === 1)
    assert(sqs.filter("id" -> 2L).count() === 1)
  }
}
