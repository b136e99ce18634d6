package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.artifact.{ArtifactStore, Versions}
import graft.core.Versioning
import graft.lineage.Lineage
import graft.query.QuerySet

class CatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("insert/flush/reload round-trip with deterministic uids") {
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val u = cat.insert("ulabel", Map("name" -> "label1"))
    assert(u("id") === 1L)
    assert(u("branch_id") === 1L)
    assert(cat.table("ulabel").count() === 1)
    cat.flush("ulabel")
    // a fresh catalog instance sees the flushed row
    val cat2 = Catalog.deterministic(spark, root)
    assert(cat2.table("ulabel").count() === 1)
    assert(cat2.nextId("ulabel") === 2L) // id sequence resumes after max
  }

  test("space lifecycle: insert defaults to the all space; visibility follows grants") {
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val u1 = cat.insert("ulabel", Map("name" -> "public"))
    assert(u1("space_id") === Catalog.AllSpaceId)
    cat.currentSpaceId = Some(7L) // write context: a restricted space
    val u2 = cat.insert("ulabel", Map("name" -> "restricted"))
    assert(u2("space_id") === 7L)
    cat.currentSpaceId = None
    // default read: only the all space
    assert(QuerySet(cat, "ulabel").count() === 1)
    // grant space 7 -> both visible
    cat.visibleSpaceIds = Seq(Catalog.AllSpaceId, 7L)
    assert(QuerySet(cat, "ulabel").count() === 2)
    cat.visibleSpaceIds = Seq(Catalog.AllSpaceId)
    // uid addressing bypasses visibility, mirroring branch semantics
    assert(QuerySet(cat, "ulabel").filter("uid" -> u2("uid")).count() === 1)
  }

  test("artifact ingest is idempotent on content hash") {
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val a1 = store.registerPath(s"${TestSpark.sf0001}/region.parquet", "tpch/region", root)
    val a2 = store.registerPath(s"${TestSpark.sf0001}/region.parquet", "tpch/region", root)
    assert(a1("uid") === a2("uid")) // same content -> same artifact
    assert(cat.table("artifact").count() === 1)
  }

  test("same key + new content creates a new version; is_latest flips") {
    import spark.implicits._
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val v1 = store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "dataset/x", root)
    val v2 = store.fromDataFrame(Seq((2, "b")).toDF("id", "v"), "dataset/x", root)
    assert(v1("uid").toString.take(16) === v2("uid").toString.take(16)) // same stem
    assert(v1("uid").toString.takeRight(4) === "0000")
    assert(v2("uid").toString.takeRight(4) === "0001")
    val heads = cat.table("artifact").filter(col("is_latest")).select("uid")
      .collect().map(_.getString(0))
    assert(heads.toSeq === Seq(v2("uid"))) // only the new head is latest
    // re-ingesting v1's content is idempotent, returns the old version
    val v1again = store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "dataset/x", root)
    assert(v1again("uid") === v1("uid"))
  }

  test("open() reads artifacts back as one scan; trash hides; restore unhides") {
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val a = store.registerPath(s"${TestSpark.sf0001}/region.parquet", "tpch/region", root)
    val df = store.openByUid(a("uid").toString)
    assert(df.count() === 5)

    val id = a("id").asInstanceOf[Long]
    store.trash(Seq(id))
    assert(store.querySet.count() === 0) // default visibility hides trash
    assert(store.querySet.filter("branch_id" -> -1L).count() === 1)
    assert(store.querySet.filter("uid" -> a("uid")).count() === 1) // uid bypass
    store.restore(Seq(id))
    assert(store.querySet.count() === 1)
  }

  test("created_by_id audit default fills from the current user context") {
    val cat = Catalog.deterministic(spark, TestSpark.tmpDir("audit"))
    val u = cat.insert("user", Map("handle" -> "alice"))
    cat.currentUserId = Some(u("id").asInstanceOf[Long])
    val l = cat.insert("ulabel", Map("name" -> "owned"))
    assert(l("created_by_id") === u("id"))
    // explicit value wins; no context -> stays null
    cat.currentUserId = None
    val l2 = cat.insert("ulabel", Map("name" -> "orphan"))
    assert(!l2.contains("created_by_id") || l2("created_by_id") == null)
  }

  test("run status filters accept names, codes, and __in lists; invalid raises") {
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    cat.insert("transform", Map("key" -> "t.scala"))
    cat.insert("run", Map("transform_id" -> 1L, "status_code" -> 0))
    cat.insert("run", Map("transform_id" -> 1L, "status_code" -> -1))
    val qs = QuerySet(cat, "run")
    assert(qs.filter("status" -> "completed").count() === 1)
    assert(qs.filter("status" -> "started").count() === 1)
    assert(qs.filter("status" -> 0).count() === 1) // raw codes pass through
    assert(qs.filter("status__in" -> Seq("completed", "started")).count() === 2)
    val e = intercept[graft.query.FieldError](qs.filter("status" -> "finished").count())
    assert(e.getMessage.contains("completed"))
  }

  test("versioning across branches preserves main's latest head") {
    // reference test_artifact_versioning_across_branches_preserves_main_latest
    import spark.implicits._
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val v1 = store.fromDataFrame(Seq((10, "a")).toDF("id", "v"), "branch/x", root)
    cat.currentBranchId = 2L
    val v2 = store.fromDataFrame(Seq((12, "b")).toDF("id", "v"), "branch/x", root)
    assert(v2("branch_id") === 2L)
    assert(v2("uid").toString.endsWith("0001"))
    def latest(): Map[String, Long] = cat.table("artifact").filter(col("is_latest"))
      .select("uid", "branch_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // main's head stays latest; the contribution branch gets its own head
    assert(latest() === Map(v1("uid").toString -> 1L, v2("uid").toString -> 2L))
    // a third version on the branch increments from the FAMILY max uid and
    // demotes only the creation branch's head, leaving main's intact
    val v3 = store.fromDataFrame(Seq((14, "c")).toDF("id", "v"), "branch/x", root)
    assert(v3("uid").toString.endsWith("0002"))
    assert(v3("uid").toString.take(16) === v1("uid").toString.take(16))
    assert(latest() === Map(v1("uid").toString -> 1L, v3("uid").toString -> 2L))
    cat.currentBranchId = 1L
  }

  test("trashing a versioned head demotes it and promotes the newest survivor") {
    import spark.implicits._
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val v1 = store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "ds/y", root)
    val v2 = store.fromDataFrame(Seq((2, "b")).toDF("id", "v"), "ds/y", root)
    val v3 = store.fromDataFrame(Seq((3, "c")).toDF("id", "v"), "ds/y", root)
    def head(): Seq[String] = cat.table("artifact")
      .filter(col("is_latest") && col("branch_id") === 1L)
      .select("uid").collect().map(_.getString(0)).toSeq
    assert(head() === Seq(v3("uid")))
    // trash the head: v2 (newest survivor on main) must be promoted
    store.trash(Seq(v3("id").asInstanceOf[Long]))
    assert(head() === Seq(v2("uid")))
    // permanent delete of the promoted head: v1 is the only main survivor
    store.deletePermanently(Seq(v2("id").asInstanceOf[Long]), root)
    assert(head() === Seq(v1("uid")))
    // trashing a NON-head (v3 sits in trash, not latest) flips nothing
    val before = head()
    store.trash(Seq(v3("id").asInstanceOf[Long]))
    assert(head() === before)
    // restore brings v3 back WITHOUT reclaiming headship (sqlrecord restore)
    store.restore(Seq(v3("id").asInstanceOf[Long]))
    assert(head() === Seq(v1("uid")))
  }

  test("bumpVersion bumps major/minor, errors or ignores non-numeric") {
    assert(Versioning.bumpVersion("1") === "1.1")
    assert(Versioning.bumpVersion("1.4") === "1.5")
    assert(Versioning.bumpVersion("1.4", "major") === "2")
    assert(Versioning.bumpVersion("2", "major") === "3")
    intercept[IllegalArgumentException](Versioning.bumpVersion("v1-beta"))
    assert(Versioning.bumpVersion("v1-beta", behavior = "ignore") === "?")
  }

  test("mixed-suffix open is rejected") {
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    store.registerPath(s"${TestSpark.sf0001}/region.parquet", "a", root)
    val csv = java.nio.file.Paths.get(root, "x.csv")
    java.nio.file.Files.writeString(csv, "c1\n1\n")
    store.registerPath(csv.toString, "b", root)
    val e = intercept[IllegalArgumentException](store.open(cat.table("artifact")))
    assert(e.getMessage.contains("mixed suffixes"))
  }

  test("lineage: track/finish + run-input auto-linking + BFS") {
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val lin = new Lineage(cat)

    val (_, run1) = lin.track("step1.scala", "v1")
    val a = store.registerPath(s"${TestSpark.sf0001}/region.parquet", "r", root)
    // a is produced by run1 (run_id set on artifact)
    assert(a("run_id") === run1)
    lin.finish()

    val (_, run2) = lin.track("step2.scala", "v1")
    store.openByUid(a("uid").toString).count() // auto-links as run2 input
    lin.finish()
    val inputs = cat.table("run_inputs").select("run_id", "artifact_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(inputs.toSeq === Seq((run2, a("id"))))

    // BFS: run1 -> artifact -> run2
    val down = lin.downstreamRuns(run1).orderBy("node").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(down.toSeq === Seq((run1, 0), (run2, 1)))
    // statuses: both completed
    val statuses = cat.table("run").select("status_code").collect().map(_.getInt(0)).toSet
    assert(statuses === Set(0))
    // identical source hash reuses the transform even across keys (the
    // reference's rename prompt defaults to reuse, transform.py:553-563)
    assert(cat.table("transform").count() === 1)
    // ... unless the caller declares an intentional copy
    val (t3, _) = lin.track("step3.scala", "v1", asCopy = true)
    lin.finish()
    assert(cat.table("transform").count() === 2)
    assert(cat.table("transform").filter(col("id") === t3).head()
      .getAs[String]("key") === "step3.scala")
  }

  test("track then finish commits one run version") {
    val root = TestSpark.tmpDir("cat")
    val cat = Catalog.deterministic(spark, root)
    val lin = new Lineage(cat)
    val before = TestSpark.manifestVersion(root, "run")
    val (_, runId) = lin.track("step.scala", "v1")
    lin.finish()
    // the buffered run row and its status change land in ONE snapshot
    assert(TestSpark.manifestVersion(root, "run") === before + 1)
    val run = cat.table("run").filter(col("id") === runId).head()
    assert(run.getAs[Int]("status_code") === 0)
    assert(run.getAs[java.sql.Timestamp]("finished_at") != null)
  }

  test("is_latest window recompute honors base62 decoded order") {
    import spark.implicits._
    val stem = "s" * 16
    val rows = Seq(
      (stem + "000Z", 1L), (stem + "000a", 1L), (stem + "0009", 1L)
    ).toDF("uid", "branch_id")
    val heads = Versions.recomputeIsLatest(rows)
      .filter(col("is_latest")).select("uid").as[String].collect()
    assert(heads.toSeq === Seq(stem + "000a")) // a > Z in base62, not in collation
  }

  test("base62Value column decode agrees with Base62.decode") {
    import spark.implicits._
    val samples = Seq("0001", "0000", "zzzz", "000a", "00Zz", "1000")
    val got = samples.toDF("s")
      .select(Versions.base62Value(col("s")).as("v")).as[Long].collect()
    assert(got.toSeq === samples.map(graft.core.Base62.decode))
    assert(got(0) === 1L) // the split("") trailing-empty trap multiplied by 62
  }

  test("vacuum removes superseded snapshots, keeps the readable current version") {
    val root = TestSpark.tmpDir("vacuum")
    val cat = Catalog.deterministic(spark, root)
    (1 to 4).foreach { i =>
      cat.insert("ulabel", Map("name" -> s"l$i")); cat.flush("ulabel")
    }
    val dir = java.nio.file.Paths.get(root, "ulabel")
    def versions = java.nio.file.Files.list(dir).iterator()
    def count = { var n = 0; val it = versions; while (it.hasNext) { it.next(); n += 1 }; n }
    assert(count === 4)
    val removed = cat.vacuum(keepLast = 2)
    assert(removed === 2)
    assert(count === 2)
    // the catalog still reads the current snapshot and can keep writing
    assert(cat.table("ulabel").count() === 4)
    cat.insert("ulabel", Map("name" -> "l5")); cat.flush("ulabel")
    assert(cat.table("ulabel").count() === 5)
    assert(cat.vacuum(keepLast = 1) === 2)
    assert(cat.table("ulabel").count() === 5)
    intercept[IllegalArgumentException](cat.vacuum(0))
  }

  test("flushAll is all-or-nothing: one blocked table commits no table") {
    val root = TestSpark.tmpDir("flush")
    val cat = Catalog.deterministic(spark, root)
    cat.insert("storage", Map("root" -> "/data/s1"))
    cat.insert("ulabel", Map("name" -> "l1"))
    cat.insert("record", Map("name" -> "r1"))
    val tables = Seq("storage", "ulabel", "record")
    def counts(c: Catalog) = tables.map(c.table(_).count())
    // a plain file where the ulabel snapshot directory must go
    val block = java.nio.file.Paths.get(root, "ulabel")
    java.nio.file.Files.writeString(block, "not a directory")
    intercept[Exception](cat.flushAll())
    assert(counts(Catalog.deterministic(spark, root)) === Seq(0L, 0L, 0L))
    assert(counts(cat) === Seq(1L, 1L, 1L))
    assert(tables.map(cat.buffered) === Seq(1, 1, 1))
    java.nio.file.Files.delete(block)
    cat.flushAll()
    assert(tables.map(cat.buffered) === Seq(0, 0, 0))
    assert(counts(Catalog.deterministic(spark, root)) === Seq(1L, 1L, 1L))
    assert(counts(cat) === Seq(1L, 1L, 1L))
  }

  test("a catalog rooted at a file: URI commits, indexes, vacuums and reopens there") {
    val dir = TestSpark.tmpDir("caturi")
    val root = "file:" + dir
    val cat = Catalog.deterministic(spark, root)
    val lin = new Lineage(cat)
    lin.track("a.py", "1"); cat.flush("transform", "run")
    lin.track("b.py", "2"); cat.flush("transform", "run")
    val env = new java.io.File(lin.trackEnvironment().stripPrefix("file:"))
    assert(env.isFile && env.getPath.startsWith(dir))
    // the FK filter resolves through the index, whose gate reads footers
    assert(cat.index("transform", "key", "id").isDefined)
    assert(QuerySet(cat, "run").filter("transform__key" -> "b.py").count() === 1)
    assert(cat.vacuum(keepLast = 1) === 2)
    Seq("transform", "run").foreach { t =>
      assert(!new java.io.File(s"$dir/$t/v1").exists && new java.io.File(s"$dir/$t/v2").isDirectory, t)
    }
    val reopened = Catalog.deterministic(spark, root)
    assert(reopened.table("run").count() === 2)
    assert(QuerySet(reopened, "run").filter("transform__key" -> "a.py").count() === 1)
    assert(TestSpark.manifestVersion(dir, "run") === 2)
    assert(!new java.io.File(dir, "._manifest.json.crc").exists)
    assert(!new java.io.File("file:").exists)
  }
}
