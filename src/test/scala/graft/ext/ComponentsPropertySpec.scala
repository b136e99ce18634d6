package graft.ext

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.MapPartitions
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Differential property test of `Dedup.connectedComponents` against an
  * in-memory union-find.
  *
  * 240 cases, drawn from a fixed seed, cycle through six shapes: random
  * graphs (self-loops, duplicate and reversed edges mixed in), forced
  * stars (the center anywhere in the id order, sometimes two stars
  * bridged by a leaf), long chains over shuffled ids (diameter 50 to 99,
  * random edge directions), self-loops only, an empty edge set, and
  * random graphs on ids near `Long.MaxValue` (including it). Every case
  * owns a disjoint id range, so the union of any cases has exactly their
  * components. The union-find kernel runs on every case alone, the
  * single-task path on unions of 8 consecutive cases, and the
  * label-propagation loop once on the union of all cases (its rounds
  * grow with the longest chain, not with the case count). MixOpsSpec runs
  * an empty edge set through both Spark paths.
  */
class ComponentsPropertySpec extends AnyFunSuite {
  import ComponentsPropertySpec._

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val shapes = Seq("random", "star", "chain", "loops", "empty", "maxid")

  private def genCase(id: Int, shape: String): Gen[Case] = {
    // maxid cases count down from Long.MaxValue, the others up from id * Span
    def node(k: Long) =
      if (shape == "maxid") Long.MaxValue - id / shapes.size * Span - k else id * Span + k
    // the range's first id is always a node, so case 5 holds Long.MaxValue
    def ids(n: Int) = Gen.listOfN(n, Gen.choose(0L, Span - 1)).map(ks => (0L +: ks).map(node).distinct)
    def randomEdges(nodes: Seq[Long], max: Int) = for {
      m <- Gen.choose(0, max)
      es <- Gen.listOfN(m, Gen.zip(Gen.oneOf(nodes), Gen.oneOf(nodes)))
      dups <- Gen.someOf(es)
      revs <- Gen.someOf(es)
    } yield es ++ dups ++ revs.map(_.swap)
    val edges: Gen[Seq[(Long, Long)]] = shape match {
      case "random" | "maxid" =>
        for {
          nodes <- Gen.choose(2, 30).flatMap(ids)
          es <- randomEdges(nodes, 3 * nodes.size)
        } yield if (shape == "maxid") (nodes.head -> nodes.last) +: es else es
      case "star" =>
        for {
          leaves <- Gen.choose(5, 60).flatMap(ids)
          center <- Gen.oneOf(leaves)
          split <- Gen.choose(0, leaves.size - 1)
          bridge <- Gen.oneOf(true, false)
        } yield {
          val (a, b) = leaves.filter(_ != center).splitAt(split)
          val spokes = a.map(center -> _)
          // a second star centered on b.head, bridged by one leaf
          if (bridge && b.nonEmpty) spokes ++ b.tail.map(b.head -> _) :+ (b.head -> a.headOption.getOrElse(center))
          else spokes ++ b.map(_ -> center)
        }
      case "chain" =>
        for {
          n <- Gen.choose(51, 100)
          picked <- Gen.pick(n, (0L until Span).map(node))
          keys <- Gen.listOfN(n, Gen.long)
          flips <- Gen.listOfN(n - 1, Gen.oneOf(true, false))
        } yield {
          val path = picked.toSeq.zip(keys).sortBy(_._2).map(_._1)
          path.zip(path.tail).zip(flips).map { case (e, f) => if (f) e.swap else e }
        }
      case "loops" =>
        Gen.choose(1, 20).flatMap(ids).flatMap(ns => Gen.someOf(ns).map(d => (ns ++ d).map(x => x -> x)))
      case "empty" => Gen.const(Nil)
    }
    edges.map(Case(id, shape, _))
  }

  private val cases: Seq[Case] = {
    val seeds = Iterator.iterate(Seed(20261018L))(_.next)
    (0 until 240).map(i => genCase(i, shapes(i % shapes.size)).pureApply(Gen.Parameters.default, seeds.next()))
  }

  private def labels(df: DataFrame): Map[Long, Long] = {
    val rows = df.as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length === rows.length)
    rows.toMap
  }

  test("cases cover every shape, long chains, stars, loops, duplicates and max ids") {
    assert(cases.size >= 200)
    assert(cases.map(_.shape).toSet === shapes.toSet)
    val chainDiameters = cases.filter(_.shape == "chain").map(_.edges.size)
    assert(chainDiameters.min >= 50)
    assert(cases.filter(_.shape == "star").map(c => model(c.edges).values.groupBy(identity).values
      .map(_.size).max).max >= 40)
    assert(cases.exists(c => c.shape == "random" && c.edges.exists { case (a, b) => a == b }))
    assert(cases.exists(c => c.edges.distinct.size < c.edges.size))
    assert(cases.exists(c => c.shape == "random" &&
      c.edges.exists { case (a, b) => a != b && c.edges.contains((b, a)) }))
    assert(cases.filter(_.shape == "empty").forall(_.edges.isEmpty))
    val maxIds = cases.filter(_.shape == "maxid").flatMap(_.nodes)
    assert(maxIds.contains(Long.MaxValue) && maxIds.min > Long.MaxValue - 40 * Span)
  }

  test("union-find kernel equals the model on every case") {
    cases.foreach { c =>
      val got = Dedup.unionFind(c.edges.iterator.map { case (a, b) => Row(a, b) })
        .map(r => r.getLong(0) -> r.getLong(1)).toSeq
      assert(got.map(_._1) === got.map(_._1).sorted.distinct, c)
      assert(got.toMap === model(c.edges), c)
    }
  }

  /** Labels of `got` restricted to each case, against the case's model. */
  private def assertPerCase(got: Map[Long, Long], cs: Seq[Case]): Unit = {
    cs.foreach(c => assert(c.nodes.map(n => n -> got.getOrElse(n, n)).toMap === model(c.edges), c))
    assert(got.size === cs.map(_.nodes.size).sum)
  }

  test("single-task path equals the model on unions of 8 consecutive cases") {
    cases.grouped(8).foreach { cs =>
      val cc = Dedup.connectedComponents(cs.flatMap(_.edges).toDF("id_a", "id_b"))
      assert(singleTask(cc), cs.map(_.id))
      assertPerCase(labels(cc), cs)
    }
  }

  test("label-propagation loop converges to the model on the union of all cases") {
    // rounds grow with the longest chain: about half its diameter when ids
    // are shuffled along the path, so the default cap of 25 is lifted
    val (cc, rounds) = Dedup.labelPropagation(cases.flatMap(_.edges).toDF("id_a", "id_b"),
      maxIters = 200)
    assert(rounds < 200)
    assertPerCase(labels(cc), cases)
  }
}

object ComponentsPropertySpec {
  final case class Case(id: Int, shape: String, edges: Seq[(Long, Long)]) {
    def nodes: Seq[Long] = edges.flatMap(e => Seq(e._1, e._2)).distinct
  }

  /** Id range owned by one case. */
  val Span = 1000L

  /** True when `connectedComponents` took the single-task union-find. */
  def singleTask(cc: DataFrame): Boolean =
    cc.queryExecution.analyzed.find(_.isInstanceOf[MapPartitions]).isDefined

  /** Min id of each node's component, by a union-find over a map. */
  def model(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
