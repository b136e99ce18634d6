package graft.catalog

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.eav.ArtifactFeatures
import graft.lineage.{Graph, Lineage}
import graft.query.{QPred, QuerySet}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join

/** `Catalog.memo` as registry reads use it: the lineage run DAG, the
  * feature dictionary and the traversal indexes are collected once per
  * content generation, every write path invalidates them, a flush does
  * not, and repeated reads of an unchanged catalog run no Spark job for
  * them.
  */
class CatalogMemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs 1..9 in three layers of three; run r produces artifacts 2r-1
    * and 2r; each run of layers 1 and 2 consumes the first artifact of
    * the run above it and the second of that run's right neighbour.
    * Artifacts 19..24 have no run. Four ulabels, two links per artifact;
    * feature `n_cells` = artifact id mod 5. Everything is flushed.
    */
  private def built(): (String, Catalog) = {
    val root = TestSpark.tmpDir("graft_memo")
    val cat = Catalog.deterministic(spark, root)
    val tr = cat.insert("transform", Map("key" -> "pipeline.scala"))("id")
    (1 to 9).foreach(_ => cat.insert("run", Map("transform_id" -> tr, "status_code" -> 0)))
    (1 to 24).foreach { a =>
      val run = if (a <= 18) java.lang.Long.valueOf((a + 1) / 2) else null
      cat.insert("artifact", Map("key" -> s"data/a$a.parquet", "kind" -> "dataset",
        "run_id" -> run))
    }
    for (run <- 4L to 9L) {
      val above = run - 3
      val right = if (above % 3 == 0) above - 2 else above + 1
      cat.insert("run_inputs", Map("run_id" -> run, "artifact_id" -> (2 * above - 1)))
      cat.insert("run_inputs", Map("run_id" -> run, "artifact_id" -> 2 * right))
    }
    (1 to 4).foreach(l => cat.insert("ulabel", Map("name" -> s"l$l")))
    (1L to 24L).foreach { a =>
      Seq(a % 4 + 1, (a + 1) % 4 + 1).foreach(l =>
        cat.insert("artifact_ulabels", Map("artifact_id" -> a, "ulabel_id" -> l)))
    }
    val f = cat.insert("feature", Map("name" -> "n_cells", "dtype" -> "int"))("id")
    (0 until 5).foreach(v => cat.insert("json_value", Map("feature_id" -> f,
      "value_json" -> v.toString, "hash" -> graft.core.Hashing.md5String(v.toString))))
    (1L to 24L).foreach(a =>
      cat.insert("artifact_json_values", Map("artifact_id" -> a, "json_value_id" -> (a % 5 + 1))))
    cat.flushAll()
    (root, cat)
  }

  private def nodes(df: DataFrame): Map[Long, Int] =
    df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** (downstream of run 1, upstream of run 9) through the memo. */
  private def traverse(cat: Catalog): (Map[Long, Int], Map[Long, Int]) = {
    val lin = new Lineage(cat)
    (nodes(lin.downstreamRuns(1L)), nodes(lin.upstreamRuns(9L)))
  }

  /** The same traversal over the edge table, without the memo. */
  private def overEdgeTable(cat: Catalog): (Map[Long, Int], Map[Long, Int]) = {
    val edges = new Lineage(cat).artifactRunEdges
    def start(r: Long) = spark.range(r, r + 1).toDF("node")
    (nodes(Graph.descendants(edges, start(1L), "parent", "child")),
      nodes(Graph.ancestors(edges, start(9L), "parent", "child")))
  }

  test("every write path invalidates the lineage memo") {
    val (root, cat) = built()
    val before = traverse(cat)
    assert(before._1 === Map(1L -> 0, 4L -> 1, 6L -> 1, 7L -> 2, 9L -> 2, 8L -> 2))
    assert(before === overEdgeTable(cat))
    assert(before === traverse(Catalog.deterministic(spark, root)))

    // unflushed insert: run 10 consumes run 9's second artifact (18)
    val run10 = cat.insert("run", Map("transform_id" -> 1L, "status_code" -> 0))("id")
    cat.insert("run_inputs", Map("run_id" -> run10, "artifact_id" -> 18L))
    val buffered = traverse(cat)
    assert(buffered._1(10L) === 3)
    assert(buffered === overEdgeTable(cat))

    // flush: same edges, new manifest versions; a fresh catalog agrees
    cat.flushAll()
    assert(traverse(cat) === buffered)
    assert(traverse(Catalog.deterministic(spark, root)) === buffered)

    // update of an artifact row: artifact 18 loses its producer
    cat.update("artifact", col("id") === 18L, "run_id" -> lit(null))
    val updated = traverse(cat)
    assert(!updated._1.contains(10L))
    assert(updated === overEdgeTable(cat))
    assert(updated === traverse(Catalog.deterministic(spark, root)))

    // overwrite: run 9's inputs are dropped
    cat.overwrite("run_inputs", cat.table("run_inputs").filter(col("run_id") =!= 9L))
    val overwritten = traverse(cat)
    assert(overwritten._2 === Map(9L -> 0))
    assert(overwritten === overEdgeTable(cat))
    assert(overwritten === traverse(Catalog.deterministic(spark, root)))
  }

  test("a feature added through addValues is filterable at once") {
    val (_, cat) = built()
    assert(new ArtifactFeatures(cat).querySet.filter("n_cells__gt" -> 2).count() === 10)
    new ArtifactFeatures(cat).addValues(3L, Map("tissue_score" -> 7L))
    assert(new ArtifactFeatures(cat).querySet.filter("tissue_score" -> 7L).count() === 1)
    assert(new ArtifactFeatures(cat).querySet.filter("n_cells__gt" -> 2).count() === 10)
  }

  // Counts at commit be2fcbe, before the memo (one broadcast join per
  // BFS level, toDataFrame's ids-then-join rebuild, a dictionary collect
  // per feature store), on this catalog: repeated traversal 12 jobs each
  // way; toDataFrame 9 jobs against 3 for its head alone; EAV filter 5
  // jobs, then 5 again; dictionary lookup 1.
  test("repeated registry reads run only their own jobs") {
    val (_, cat) = built()
    val sc = spark.sparkContext
    def jobs(body: => Any): Int = ListenerBusDrain.jobs(sc)(body)

    new Lineage(cat).downstreamRuns(1L).count()
    val down = jobs(new Lineage(cat).downstreamRuns(1L).count())
    val up = jobs(new Lineage(cat).upstreamRuns(9L).count())
    info(s"repeated traversal: $down jobs down, $up jobs up")
    assert(down <= 2 && up <= 2)

    val m2m = QuerySet(cat, "artifact").filter("ulabels__name" -> "l1")
    m2m.toDataFrame(limit = Some(5)) // builds the traversal's indexes
    val tdf = jobs {
      val (df, truncated) = m2m.toDataFrame(limit = Some(5))
      assert(df.collect().length === 5 && truncated)
    }
    val head = jobs(m2m.excludeQ(QPred("kind__startswith", "__lamindb")).orderBy("-id").df.head(6))
    info(s"to_dataframe: $tdf jobs, its head alone: $head")
    assert(tdf === head)

    val first = jobs(new ArtifactFeatures(cat).querySet.filter("n_cells__gt" -> 2).count())
    val second = jobs(new ArtifactFeatures(cat).querySet.filter("n_cells__gt" -> 2).count())
    val lookup = jobs(new ArtifactFeatures(cat).store.knows("n_cells"))
    info(s"EAV filter: $first jobs, then $second; dictionary lookup: $lookup")
    // the matching json_value ids, then the count
    assert(second <= 2)
    assert(lookup === 0)
  }

  // Counts at commit 6ad7cf4, before the indexes (a broadcast semi-join
  // per traversal, `Dataset.count`'s exchange), on this catalog: field
  // count 2 jobs, fk 4, m2m 4, toDataFrame(limit) 3, EAV filter 5.
  test("repeated registry reads: one job per count and per toDataFrame page") {
    val (_, cat) = built()
    def artifacts = QuerySet(cat, "artifact")
    val reads: Seq[(String, () => Any, Any, Int)] = Seq(
      ("field", () => artifacts.filter("key__startswith" -> "data/a1", "kind" -> "dataset").count(), 11L, 1),
      ("fk", () => artifacts.filter("run__transform__key" -> "pipeline.scala").count(), 18L, 1),
      ("m2m", () => artifacts.filter("ulabels__name" -> "l1").count(), 12L, 1),
      ("m2m by id", () => artifacts.filter("ulabels__in" -> Seq(1, 2L)).count(), 18L, 1),
      ("toDataFrame", () => artifacts.filter("ulabels__name" -> "l1").toDataFrame(limit = Some(5))._1.collect().length,
        5, 1),
      ("EAV", () => new ArtifactFeatures(cat).querySet.filter("n_cells__gt" -> 2).count(), 10L, 2))
    reads.foreach { case (kind, read, want, maxJobs) =>
      assert(read() === want, kind)
      val n = ListenerBusDrain.jobs(spark.sparkContext)(assert(read() === want, kind))
      info(s"$kind: $n jobs")
      assert(n <= maxJobs, kind)
    }
  }

  test("memoized reads survive a flush of unchanged content") {
    val (root, cat) = built()
    def jobs(body: => Any): Int = ListenerBusDrain.jobs(spark.sparkContext)(body)
    // buffered rows: the indexes and the run DAG are built over snapshot ∪ buffer
    val l5 = cat.insert("ulabel", Map("name" -> "l5"))("id")
    cat.insert("artifact_ulabels", Map("artifact_id" -> 1L, "ulabel_id" -> l5))
    val labelled = QuerySet(cat, "artifact").filter("ulabels__name" -> "l5")
    assert(labelled.count() === 1)
    val before = traverse(cat)
    new ArtifactFeatures(cat).store.knows("n_cells")

    cat.flushAll()
    cat.vacuum(keepLast = 1)
    assert(jobs(cat.index("ulabel", "name", "id")) === 0)
    assert(jobs(cat.index("artifact_ulabels", "ulabel_id", "artifact_id")) === 0)
    assert(jobs(new ArtifactFeatures(cat).store.knows("n_cells")) === 0)
    assert(jobs(new Lineage(cat).downstreamRuns(1L)) === 0)
    assert(jobs(labelled.count()) === 1)
    assert(traverse(cat) === before)
    assert(traverse(Catalog.deterministic(spark, root)) === before)

    // a write after the flush still invalidates
    cat.insert("artifact_ulabels", Map("artifact_id" -> 2L, "ulabel_id" -> l5))
    assert(labelled.count() === 2)
  }

  test("an index rebuilt after an insert takes one job; its row gate none") {
    val (_, cat) = built()
    def jobs(body: => Any): Int = ListenerBusDrain.jobs(spark.sparkContext)(body)
    val m2m = QuerySet(cat, "artifact").filter("ulabels__name" -> "l1")
    assert(m2m.count() === 12)
    cat.insert("artifact_ulabels", Map("artifact_id" -> 2L, "ulabel_id" -> 1L))
    assert(jobs(assert(cat.fits("artifact_ulabels"))) === 0)
    assert(jobs(cat.index("artifact_ulabels", "ulabel_id", "artifact_id")) === 1)
    assert(jobs(cat.index("artifact_ulabels", "ulabel_id", "artifact_id")) === 0)
    assert(m2m.count() === 13)
  }

  private def semiJoins(qs: QuerySet): Int =
    qs.df.queryExecution.optimizedPlan.collect { case j: Join if j.joinType == LeftSemi => j }.size

  test("a traversal stays indexed above a lowered broadcast threshold") {
    val (_, cat) = built()
    val m2m = QuerySet(cat, "artifact").filter("ulabels__name" -> "l1")
    val fk = QuerySet(cat, "artifact").filter("run__transform__key" -> "pipeline.scala")
    def eav = new ArtifactFeatures(cat).querySet.filter("n_cells__gt" -> 2)
    val indexed = (m2m.count(), fk.count(), eav.count())

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    val linkBytes = cat.table("artifact_ulabels").queryExecution.optimizedPlan.stats.sizeInBytes
    spark.conf.set(key, (linkBytes - 1).toString)
    try {
      assert(cat.fits("artifact_ulabels"))
      assert(cat.index("artifact_ulabels", "ulabel_id", "artifact_id").isDefined)
      assert(semiJoins(m2m) === 0 && semiJoins(fk) === 0 && semiJoins(eav) === 0)
      assert((m2m.count(), fk.count(), eav.count()) === indexed)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("above IndexRowLimit rows a traversal keeps its semi-join plan") {
    val (_, cat) = built()
    val n = Catalog.IndexRowLimit
    // link i: artifact i % 24 + 1, ulabel i % 4 + 1, so l1 (id 1) labels 1, 5, ..., 21
    cat.overwrite("artifact_ulabels", spark.range(1, n + 1).select(col("id"),
      (col("id") % 24 + 1).as("artifact_id"), (col("id") % 4 + 1).as("ulabel_id"),
      lit(null).cast("long").as("feature_id")))
    val m2m = QuerySet(cat, "artifact").filter("ulabels__name" -> "l1")
    assert(m2m.count() === 6)
    assert(cat.index("artifact_ulabels", "ulabel_id", "artifact_id").isDefined)
    assert(semiJoins(m2m) === 0)

    cat.insert("artifact_ulabels", Map("artifact_id" -> 2L, "ulabel_id" -> 1L))
    assert(cat.index("artifact_ulabels", "ulabel_id", "artifact_id").isEmpty)
    assert(semiJoins(m2m) >= 1)
    assert(m2m.count() === 7)

    // the EAV filter: n_cells = artifact id mod 5, so 10 artifacts are > 2
    def eav = new ArtifactFeatures(cat).querySet.filter("n_cells__gt" -> 2)
    assert(eav.count() === 10)
    assert(semiJoins(eav) === 0)
    // one more than IndexRowLimit value links: artifacts 1..24 as built,
    // the rest on artifact ids that do not exist
    cat.overwrite("artifact_json_values", spark.range(1, n + 2).select(col("id"),
      when(col("id") <= 24, col("id")).otherwise(col("id") + 1000).as("artifact_id"),
      (col("id") % 5 + 1).as("json_value_id")))
    assert(cat.index("artifact_json_values", "json_value_id", "artifact_id").isEmpty)
    assert(semiJoins(eav) >= 1)
    assert(eav.count() === 10)
  }
}
