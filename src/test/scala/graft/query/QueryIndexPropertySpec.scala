package graft.query

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.Catalog
import graft.eav.ArtifactFeatures

/** Differential property test of the index path against the semi-join
  * path. Each of 8 small catalogs, drawn from a fixed seed, holds null
  * keys (transform keys, label types and descriptions, artifact runs),
  * trashed artifacts and labels, repeated link rows, two scalar features
  * and a categorical one, and rows left unflushed in the buffer. Over
  * each, 25 random `QNode` trees (200 cases in all) mix FK and M2M
  * traversals (`ulabels__…`, `ulabels`, `run__transform__…`, the
  * `transform` alias) with EAV `__gt`/`__exact`/`__in`/`__isnull` and
  * categorical lookups under `filter`, `exclude`, `QAnd`, `QOr` and
  * `QNot`. Values are Int or Long (either against an Int column), of the
  * wrong type (digit strings and doubles for id columns), status names
  * for an enum-coded column, null, or match nothing.
  *
  * Each case runs twice: through the catalog (tables under the broadcast
  * threshold resolve through `Catalog.index`), and through an
  * environment over the same rows that offers no index, which compiles
  * the semi-join plan that a catalog above the threshold keeps
  * (`CatalogMemoSpec` lowers the threshold itself). Both must give the
  * same `count` and the same id list, or both fail.
  */
class QueryIndexPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private final class Gen(seed: Long) {
    val r = new java.util.Random(seed)
    def int(n: Int): Int = r.nextInt(n)
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[T](xs: Seq[T]): T = xs(int(xs.size))
  }

  /** Sizes of one generated catalog, for drawing lookup values. */
  private final case class Shape(transforms: Int, runs: Int, labels: Int, artifacts: Int)

  private def build(seed: Long, flush: Boolean = true): (Catalog, Shape) = {
    val g = new Gen(seed)
    val cat = Catalog.deterministic(spark, TestSpark.tmpDir("qidx"), seed)
    val sh = Shape(2 + g.int(2), 3 + g.int(3), 3 + g.int(4), 6 + g.int(8))
    def branch(p: Double) = if (g.chance(p)) Catalog.TrashBranchId else Catalog.MainBranchId
    def orNull(p: Double)(v: => Any): Any = if (g.chance(p)) null else v
    (1 to sh.transforms).foreach(_ => cat.insert("transform", Map("key" -> orNull(0.3)(s"t${g.int(2)}"))))
    (1 to sh.runs).foreach(_ => cat.insert("run",
      Map("transform_id" -> (1L + g.int(sh.transforms)), "status_code" -> (g.int(3) - 1))))
    def label(): Unit = cat.insert("ulabel", Map("name" -> s"l${g.int(sh.labels)}",
      "type_id" -> orNull(0.5)(1L + g.int(sh.labels)), "description" -> orNull(0.5)(s"d${g.int(2)}"),
      "branch_id" -> branch(0.2)))
    (1 to sh.labels).foreach(_ => label())
    def artifact(i: Int): Unit = cat.insert("artifact", Map("key" -> s"k$i",
      "run_id" -> orNull(0.25)(1L + g.int(sh.runs)), "branch_id" -> branch(0.15)))
    (1 to sh.artifacts).foreach(artifact)
    def link(): Unit = cat.insert("artifact_ulabels",
      Map("artifact_id" -> (1L + g.int(sh.artifacts)), "ulabel_id" -> (1L + g.int(sh.labels))))
    (1 to 2 * sh.artifacts).foreach(_ => link()) // repeats included
    Seq("n_cells" -> "int", "score" -> "float", "tissue" -> "cat[ULabel]").foreach { case (n, d) =>
      cat.insert("feature", Map("name" -> n, "dtype" -> d))
    }
    (0 until 5).foreach(v => cat.insert("json_value", Map("feature_id" -> 1L, "value_json" -> v.toString)))
    Seq("0.25", "0.75").foreach(v => cat.insert("json_value", Map("feature_id" -> 2L, "value_json" -> v)))
    def values(a: Long): Unit = {
      if (g.chance(0.7)) cat.insert("artifact_json_values", Map("artifact_id" -> a, "json_value_id" -> (1L + g.int(5))))
      if (g.chance(0.5)) cat.insert("artifact_json_values", Map("artifact_id" -> a, "json_value_id" -> (6L + g.int(2))))
      if (g.chance(0.3)) cat.insert("artifact_ulabels",
        Map("artifact_id" -> a, "ulabel_id" -> (1L + g.int(sh.labels)), "feature_id" -> 3L))
    }
    (1L to sh.artifacts.toLong).foreach(values)
    graft.catalog.Schemas.all.foreach(t => if (g.chance(0.5) && flush) cat.flush(t.name))
    // rows that stay buffered
    val more = 1 + g.int(3)
    (1 to more).foreach(i => artifact(sh.artifacts + i))
    label()
    val grown = sh.copy(labels = sh.labels + 1, artifacts = sh.artifacts + more)
    (1 to 3).foreach(_ => cat.insert("artifact_ulabels",
      Map("artifact_id" -> (1L + g.int(grown.artifacts)), "ulabel_id" -> (1L + g.int(grown.labels)))))
    (sh.artifacts + 1L to grown.artifacts.toLong).foreach(values)
    (cat, grown)
  }

  /** An id of 1..n+1 (n+1 matches nothing): Int, Long, a digit string or
    * a double.
    */
  private def idValue(g: Gen, n: Int): Any = {
    val id = 1 + g.int(n + 1)
    g.int(6) match {
      case 0 => id
      case 1 => id.toString
      case 2 => id.toDouble
      case _ => id.toLong
    }
  }

  private def leaf(g: Gen, sh: Shape): QNode = {
    def name = s"l${g.int(sh.labels + 1)}"
    def key: Any = if (g.chance(0.2)) null else s"t${g.int(3)}"
    def list(v: => Any): Seq[Any] = Seq.fill(1 + g.int(3))(if (g.chance(0.15)) null else v)
    g.int(21) match {
      case 0 => QPred("ulabels__name", name)
      case 1 => QPred("ulabels__name__in", list(name))
      case 2 => QPred("ulabels", if (g.chance(0.1)) null else idValue(g, sh.labels))
      case 3 => QPred("ulabels__in", list(idValue(g, sh.labels)))
      case 4 => QPred("ulabels__type", if (g.chance(0.3)) null else idValue(g, sh.labels))
      case 5 => QPred("ulabels__type__name", name)
      case 6 => QPred("ulabels__description", if (g.chance(0.5)) null else s"d${g.int(3)}")
      case 7 => QPred("ulabels__name__startswith", "l1")
      case 8 => QPred("run__transform__key", key)
      case 9 => QPred("run__transform__key__in", list(key))
      case 10 => QPred("transform__key", key)
      case 11 => QPred("run__transform", idValue(g, sh.transforms))
      case 12 => QPred("run__status_code", if (g.chance(0.3)) (g.int(3) - 1).toLong else g.int(3) - 1)
      case 13 => QPred("run__status_code", g.pick(Seq("started", "completed", "errored")))
      case 14 => QPred("n_cells__gt", g.pick(Seq[Any](g.int(5), g.int(5).toLong, "2", 1.5)))
      case 15 => QPred(g.pick(Seq("n_cells", "n_cells__exact")), g.pick(Seq[Any](g.int(6), g.int(6).toLong)))
      case 16 => QPred("n_cells__in", list(g.int(6)))
      case 17 => QPred(g.pick(Seq("n_cells__isnull", "score__isnull")), g.chance(0.5))
      case 18 => QPred("score__lt", 0.5)
      case 19 => QPred(g.pick(Seq("tissue", "tissue__in")), name)
      case _ => if (g.chance(0.5)) QPred("run", idValue(g, sh.runs)) else QPred("key__startswith", "k1")
    }
  }

  private def tree(g: Gen, sh: Shape, depth: Int): QNode =
    if (depth == 0 || g.chance(0.35)) leaf(g, sh)
    else g.int(3) match {
      case 0 => QAnd(Seq.fill(2)(tree(g, sh, depth - 1)))
      case 1 => QOr(Seq.fill(2)(tree(g, sh, depth - 1)))
      case _ => QNot(tree(g, sh, depth - 1))
    }

  private def query(g: Gen, sh: Shape): QuerySet => QuerySet = {
    val a = tree(g, sh, 2)
    g.int(3) match {
      case 0 => _.filterQ(a)
      case 1 => _.excludeQ(a)
      case _ => val b = leaf(g, sh); _.filterQ(a).excludeQ(b)
    }
  }

  private type Result = Either[String, (Long, Seq[Long])]

  /** The sorted ids of each frame, collected in one union; a frame that
    * failed to plan, or fails alone when the union fails, gives its
    * failure's class.
    */
  private def ids(frames: Seq[Try[DataFrame]]): Seq[Either[String, Seq[Long]]] = {
    def one(df: DataFrame) = df.select("id").collect().map(_.getLong(0)).toSeq.sorted
    val planned = frames.zipWithIndex.collect { case (Success(df), i) => df.select(col("id"), lit(i).as("case")) }
    val batch = Try(if (planned.isEmpty) Map.empty[Int, Seq[Long]]
      else planned.reduce(_ union _).collect().toSeq.groupMap(_.getInt(1))(_.getLong(0)))
    frames.zipWithIndex.map {
      case (Failure(e), _) => Left(e.getClass.getName)
      case (Success(df), i) =>
        batch.map(_.getOrElse(i, Nil).sorted).orElse(Try(one(df))).toEither.left.map(_.getClass.getName)
    }
  }

  /** The index path: each query over the catalog, its `count` and ids,
    * and whether its plan has no join.
    */
  private def indexed(cat: Catalog, queries: Seq[QuerySet => QuerySet]): Seq[(Result, Boolean)] = {
    val sets = queries.map(q => Try(q(new ArtifactFeatures(cat).querySet)))
    val frames = sets.map(_.map(_.df))
    ids(frames).zip(sets).zip(frames).map { case ((got, qs), df) =>
      val result = for (xs <- got; n <- Try(qs.get.count()).toEither.left.map(_.getClass.getName))
        yield (n, xs)
      (result, df.toOption.exists(_.queryExecution.analyzed.collect { case j: Join => j }.isEmpty))
    }
  }

  /** The semi-join path: the same rows, all left in the buffer of a second
    * catalog (local relations keep Spark's work small), behind an
    * environment that offers no index, with the feature store's own hook.
    * A query's count is the length of its id list.
    */
  private def semiJoin(cat: Catalog, queries: Seq[QuerySet => QuerySet]): Seq[Result] = {
    val env = new QuerySet.MapEnv(Seq("artifact", "artifact_ulabels", "ulabel", "run", "transform")
      .map(n => n -> (cat.tableDef(n), cat.table(n))).toMap)
    val hook = new ArtifactFeatures(cat).store.hook
    ids(queries.map(q => Try(q(new QuerySet(cat.tableDef("artifact"), cat.table("artifact"), env,
      featureHook = Some(hook))).df))).map(_.map(xs => (xs.size.toLong, xs)))
  }

  private val Catalogs = 8
  private val PerCatalog = 25

  /** Catalog `c` (flushed in part), the same rows unflushed, and its queries. */
  private def draw(c: Int): (Catalog, Catalog, Seq[QuerySet => QuerySet]) = {
    val (cat, sh) = build(20261019L + c)
    val g = new Gen(c)
    (cat, build(20261019L + c, flush = false)._1, Seq.fill(PerCatalog)(query(g, sh)))
  }

  test("index path equals the semi-join path (200 seeded cases)") {
    // one catalog per task, four at a time: a catalog is single-writer
    // state, the session runs the tasks' small jobs side by side
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val outcomes =
      try (0 until Catalogs).map { c =>
        pool.submit(() => {
          val (cat, buffered, queries) = draw(c)
          indexed(cat, queries).zip(semiJoin(buffered, queries))
        })
      }.map(_.get())
      finally pool.shutdown()
    var cases, joinFree, matched = 0
    outcomes.zipWithIndex.foreach { case (catalog, c) =>
      catalog.zipWithIndex.foreach { case (((got, noJoin), want), i) =>
        assert(got === want, s"catalog $c, case $i")
        cases += 1
        if (noJoin) joinFree += 1
        if (got.exists(_._1 > 0)) matched += 1
      }
    }
    info(s"$cases cases: $joinFree answered without a join, $matched with a non-empty match")
    assert(cases === 200)
    // most cases exercise the index path, and most match rows
    assert(joinFree >= cases / 3 && matched >= cases / 3)
  }

  test("a wrong-type value on a string column fails on both paths") {
    val (cat, buffered, _) = draw(0)
    val q: QuerySet => QuerySet = _.filter("ulabels__name" -> 5)
    assert(indexed(cat, Seq(q)).head._1.isLeft)
    assert(semiJoin(buffered, Seq(q)).head.isLeft)
  }
}
