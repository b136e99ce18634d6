package lakebench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.Dedup

/** One generated corpus batch. `clusters(0)` is the large skewed cluster
  * (reformatted copies of one document); the others hold a document and
  * near duplicates with one word replaced. Every cluster lists its seed
  * document first.
  */
final case class CorpusBatch(docs: IndexedSeq[(Long, String)], clusters: IndexedSeq[IndexedSeq[Long]],
                             exactCopies: Int)

/** `corpus_dedup`: one seeded batch per operation, with planted
  * near-duplicate clusters (one large and skewed) and exact copies,
  * through exact dedup, the three candidate kernels and connected
  * components, keeping one document per component.
  */
final class CorpusDedup(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import CorpusDedup._
  type Op = Int // batch index

  val name = "corpus_dedup"
  val setupReps = 1 // nothing is stored: each batch is built before its operation's timer starts
  val secondsPerOp = 5.0
  val minOps = 2
  val warmupOps = 1

  def kind(op: Int): String = "batch"
  def plan(seed: Long, n: Int, stream: String): IndexedSeq[Int] =
    if (stream == "warmup") 0 until n else (warmupOps until warmupOps + n)

  private def doc(r: Rng): IndexedSeq[String] = IndexedSeq.fill(DocWords)(r.pick(Vocab.words))
  /** A near duplicate: one word replaced at a random position. */
  private def edit(r: Rng, words: IndexedSeq[String]): String =
    words.updated(r.int(words.length), r.pick(Vocab.words)).mkString(" ")
  /** A reformatted copy: the same words with other whitespace between and
    * around them, so its tokens, and every signature built from them, equal
    * the original's while its bytes differ.
    */
  private def reformat(r: Rng, words: IndexedSeq[String]): String = {
    val seps = IndexedSeq(" ", "  ", "\n", "\t", " \n")
    words.map(w => w + r.pick(seps)).mkString(r.pick(IndexedSeq("", " ", "\n")), "", "")
  }

  def batch(b: Int): CorpusBatch = {
    val r = Rng(seed, s"corpus-$b")
    val singles = IndexedSeq.fill(Singles)(doc(r).mkString(" "))
    val skewSeed = doc(r)
    val skew = skewSeed.mkString(" ") +: Iterator.continually(reformat(r, skewSeed))
      .distinct.filter(_ != skewSeed.mkString(" ")).take(SkewSize - 1).toIndexedSeq
    val small = IndexedSeq.fill(Clusters)(r.between(2, 7)).map { n =>
      val s = doc(r); s.mkString(" ") +: IndexedSeq.fill(n - 1)(edit(r, s))
    }
    val copies = r.distinct(ExactCopies, r.int(Singles)).map(singles)
    // (text, cluster index * 10000 + member index, or -1), shuffled, then numbered
    val planted = skew +: small
    val all = r.shuffle(singles.map(_ -> -1) ++ copies.map(_ -> -1) ++
      planted.zipWithIndex.flatMap { case (ds, c) => ds.zipWithIndex.map { case (d, i) => d -> (c * 10000 + i) } })
    val base = b * 1000000L
    val docs = all.zipWithIndex.map { case ((t, _), i) => (base + i, t) }
    val clusters = planted.indices.map { c =>
      all.zipWithIndex.collect { case ((_, tag), i) if tag >= 0 && tag / 10000 == c => (tag % 10000, base + i) }
        .sortBy(_._1).map(_._2)
    }
    CorpusBatch(docs, clusters, ExactCopies)
  }

  def digestInputs(seed: Long, d: Digest): Unit = (0 until 4).foreach(b => batch(b).docs.foreach(d.add))

  def setup(dir: String): Unit = ()

  private var timed = false
  private var docs, candidates, kept = 0L
  override def before(): Unit = timed = true
  override def counters(): Map[String, Double] =
    Map("docs" -> docs.toDouble, "candidate_pairs" -> candidates.toDouble, "kept_pairs" -> kept.toDouble)

  private val schema = StructType(Seq(StructField("id", LongType, false), StructField("text", StringType, false)))
  private def pairs(df: DataFrame): DataFrame = df.select(col("id_a"), col("id_b")).localCheckpoint()

  override def prepare(b: Int): Any = {
    val cb = batch(b)
    (cb, spark.createDataFrame(cb.docs.map { case (i, t) => Row(i, t) }.asJava, schema))
  }

  /** Returns (batch, exact duplicates removed, candidate edge frames, id -> component). */
  def run(b: Int, prepared: Any): Any = {
    val (cb, input) = prepared.asInstanceOf[(CorpusBatch, DataFrame)]
    val uniq = tr("ext", "exact") {
      Dedup.exact(input, "id", "text").filter(!col("is_dup")).select("id", "text").localCheckpoint()
    }
    val nUniq = uniq.count()
    val sim = tr("ext", "simhash")(pairs(Dedup.simhashCandidates(uniq, "id", "text").filter(col("hamming") <= 8)))
    val sim128 = tr("ext", "simhash128")(pairs(Dedup.simhash128Candidates(uniq, "id", "text")
      .filter(col("hamming") <= 16)))
    val mh = tr("ext", "minhash")(pairs(Dedup.minhashClusterEdges(uniq, "id", "text")))
    val edges = Seq(sim, sim128, mh)
    val comp = tr("ext", "cc") {
      Dedup.connectedComponents(edges.reduce(_ union _)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    (cb, cb.docs.length - nUniq, edges, comp)
  }

  def check(b: Int, out: Any): Checked = {
    val (cb, removed, edges, comp) =
      out.asInstanceOf[(CorpusBatch, Long, Seq[DataFrame], Map[Long, Long])]
    val edgeList = edges.flatMap(_.collect().map(r => (r.getLong(0), r.getLong(1))))
    def label(id: Long) = comp.getOrElse(id, id)
    val clusterOf = cb.clusters.zipWithIndex.flatMap { case (ms, c) => ms.map(_ -> c) }.toMap
    val small = cb.clusters.tail
    val members = small.map(_.length).sum
    val found = small.map(ms => ms.count(m => label(m) == label(ms.head))).sum
    val recall = found.toDouble / members
    val skew = cb.clusters.head
    val skewLabels = skew.map(label).toSet
    // a component may not span two planted clusters, nor a planted cluster and a single
    val merged = comp.keys.groupBy(label).values.exists { ids =>
      ids.flatMap(clusterOf.get).toSet.size > 1 ||
        (ids.exists(clusterOf.contains) && ids.exists(id => !clusterOf.contains(id)))
    }
    val nKept = cb.docs.length - removed - comp.count { case (id, c) => id != c }
    if (timed) {
      docs += cb.docs.length
      candidates += edgeList.length
      kept += edgeList.distinct.count { case (a, c) => clusterOf.get(a).exists(clusterOf.get(c).contains) }
    }
    val errors = Seq(
      if (removed != cb.exactCopies) Some(s"exact dedup removed $removed, want ${cb.exactCopies}") else None,
      if (comp != CorpusDedup.components(edgeList)) Some("components differ from those of the candidate edges")
      else None,
      if (recall < RecallFloor) Some(f"planted-cluster recall $recall%.4f < $RecallFloor") else None,
      if (skewLabels.size != 1) Some(s"skewed cluster split into ${skewLabels.size} components") else None,
      if (merged) Some("a component merges distinct planted clusters or singles") else None
    ).flatten
    Checked(if (errors.isEmpty) None else Some(s"batch $b: " + errors.mkString("; ")), nKept)
  }
}

object CorpusDedup {
  val Singles = 200
  val ExactCopies = 15
  val Clusters = 15
  val SkewSize = 50
  val DocWords = 50
  val RecallFloor = 0.95

  /** Closed form of connected components over an edge list: every node
    * labelled with the smallest id it reaches (union-find, driver-side).
    */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
