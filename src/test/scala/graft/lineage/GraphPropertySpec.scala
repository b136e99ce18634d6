package graft.lineage

import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Differential property test of `Graph` against a textbook queue BFS.
  *
  * 240 fixed-seed cases cycle through five shapes (random with
  * self-loops, ring with a self-loop, layered diamonds, long chains, a
  * start node with no edges), each with a few random extra edges, and
  * through the depth caps -1, 0, 1 and k in 2..5. Every case runs the
  * driver adjacency walk in both directions and the edge-table path
  * (collect + walk, the tables being far below `Graph.DriverEdgeLimit`).
  * The per-level loop and the distributed loop are reached by lowering
  * `localFrontierLimit`: below the edge count (and above everything the
  * BFS reaches) the loop runs to the end; at the start set's size the
  * loop restarts distributed after level 1; below it the distributed loop
  * runs from the start. These run once per depth cap over the disjoint
  * union of that cap's cases (case i owns node ids [1000 i, 1000 i +
  * 1000)), where a multi-source BFS equals the per-case BFS on every
  * component.
  */
class GraphPropertySpec extends AnyFunSuite {
  import GraphPropertySpec._

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val shapes = Seq("random", "ring", "diamonds", "chain", "isolated")

  private val cases: Seq[Case] = (0 until 240).map { i =>
    val r = new java.util.Random(20261017L + i)
    val shape = shapes(i % shapes.size)
    val maxDepth = Seq(-1, 0, 1, 2 + r.nextInt(4))((i / shapes.size) % 4)
    def rnd(n: Int): Long = r.nextInt(n).toLong
    val (n, body) = shape match {
      case "random" =>
        val n = 2 + r.nextInt(12)
        (n, Seq.fill(r.nextInt(3 * n))((rnd(n), rnd(n))))
      case "ring" =>
        val n = 2 + r.nextInt(12)
        val loop = rnd(n)
        (n, (0L until n).map(k => (k, (k + 1) % n)) :+ ((loop, loop)))
      case "diamonds" =>
        // root 0 -> every node of layer 0 -> every node of layer 1 -> ...
        val (layers, width) = (2 + r.nextInt(4), 2 + r.nextInt(3))
        def node(l: Int, j: Int) = 1L + l * width + j
        val fan = (0 until width).map(j => (0L, node(0, j)))
        val lattice = for (l <- 0 until layers - 1; a <- 0 until width; b <- 0 until width)
          yield (node(l, a), node(l + 1, b))
        (1 + layers * width, fan ++ lattice)
      case "chain" =>
        val n = 10 + r.nextInt(16)
        (n, (0L until n - 1L).map(k => (k, k + 1)))
      case "isolated" =>
        val n = 3 + r.nextInt(10)
        (n, Seq.fill(r.nextInt(2 * n))((1 + rnd(n - 1), 1 + rnd(n - 1))))
    }
    val extra =
      if (shape == "isolated") Nil
      else Seq.fill(r.nextInt(3))((rnd(n), rnd(n)))
    val start =
      if (shape != "isolated" && r.nextInt(4) == 0) Seq(0L, rnd(n)).distinct else Seq(0L)
    Case(i, shape, body ++ extra, start, maxDepth)
  }

  test("cases cover every shape, depth class and a start node with no edges") {
    assert(cases.size >= 200)
    assert(cases.map(_.shape).toSet === shapes.toSet)
    assert(cases.map(c => math.min(c.maxDepth, 2)).toSet === Set(-1, 0, 1, 2))
    assert(cases.exists(c => c.edges.exists { case (a, b) => a == b }))
    assert(cases.filter(_.shape == "isolated")
      .forall(c => !c.edges.exists { case (a, b) => a == 0L || b == 0L }))
    assert(cases.filter(_.shape == "chain").map(_.edges.size).max >= 20)
  }

  test("driver adjacency walk equals the model, forward and reversed") {
    cases.foreach { c =>
      val fwd = Graph.walk(Graph.adjacency(c.edges), c.start, c.maxDepth)
      assert(fwd.map(_._1).distinct.size === fwd.size, c)
      assert(fwd.toMap === bfs(c.edges, c.start, c.maxDepth), c)
      val rev = Graph.walk(Graph.adjacency(c.edges.map(_.swap)), c.start, c.maxDepth)
      assert(rev.toMap === bfs(c.edges.map(_.swap), c.start, c.maxDepth), c)
    }
  }

  test("edge-table driver path equals the model") {
    cases.foreach { c =>
      val got = Graph.descendants(c.edges.toDF("parent", "child"), c.start.toDF("node"),
        "parent", "child", c.maxDepth).as[(Long, Int)].collect()
      assert(got.map(_._1).distinct.length === got.length, c)
      assert(got.toMap === bfs(c.edges, c.start, c.maxDepth), c)
    }
  }

  test("per-level and distributed loops (lowered localFrontierLimit) equal the model") {
    cases.groupBy(_.maxDepth).toSeq.sortBy(_._1).foreach { case (maxDepth, cs) =>
      val edges = cs.flatMap(c => c.edges.map { case (a, b) => (off(c, a), off(c, b)) })
      val start = cs.flatMap(c => c.start.map(off(c, _)))
      val (edf, sdf) = (edges.toDF("parent", "child"), start.toDF("node"))
      val reached = cs.map(c => bfs(c.edges, c.start, c.maxDepth).size).sum
      assert(reached <= edges.size - 1 && start.size > 1)
      Seq(edges.size - 1, start.size, start.size - 1).foreach { limit =>
        val got = Graph.reachable(edf, sdf, "parent", "child", maxDepth, localFrontierLimit = limit)
          .as[(Long, Int)].collect().groupBy(_._1 / Span)
        cs.foreach { c =>
          val want = bfs(c.edges, c.start, c.maxDepth).map { case (k, d) => off(c, k) -> d }
          val rows = got.getOrElse(c.id.toLong, Array.empty[(Long, Int)])
          assert(rows.map(_._1).distinct.length === rows.length, (limit, c))
          assert(rows.toMap === want, (limit, c))
        }
      }
    }
  }
}

object GraphPropertySpec {
  final case class Case(id: Int, shape: String, edges: Seq[(Long, Long)], start: Seq[Long],
                        maxDepth: Int)

  val Span = 1000L
  def off(c: Case, n: Long): Long = c.id * Span + n

  /** Min depth from `start` by a FIFO queue; `maxDepth < 0` = unbounded. */
  def bfs(edges: Seq[(Long, Long)], start: Seq[Long], maxDepth: Int): Map[Long, Int] = {
    val succ = edges.groupBy(_._1)
    val depth = mutable.Map.empty[Long, Int]
    val queue = mutable.Queue.empty[Long]
    start.foreach(s => if (!depth.contains(s)) { depth(s) = 0; queue.enqueue(s) })
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      if (maxDepth < 0 || depth(u) < maxDepth)
        succ.getOrElse(u, Nil).foreach { case (_, v) =>
          if (!depth.contains(v)) { depth(v) = depth(u) + 1; queue.enqueue(v) }
        }
    }
    depth.toMap
  }
}
