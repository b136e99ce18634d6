package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.ListenerBusDrain
import graft.TestSpark
import graft.artifact.ArtifactStore
import graft.lineage.Lineage

class ArtifactOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("getByPath resolves managed and referenced artifacts") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val managed = store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "m", root)
    val referenced = store.registerPath(s"${TestSpark.sf0001}/region.parquet", "tpch/region", root)
    val managedPath = s"$root/.lamindb/${managed("uid")}.parquet"
    assert(store.getByPath(managedPath)("uid") === managed("uid"))
    assert(store.getByPath(s"${TestSpark.sf0001}/region.parquet")("uid") === referenced("uid"))
    intercept[graft.query.DoesNotExist](store.getByPath("/no/such/path"))
  }

  test("cache copies once, detects staleness by size") {
    val root = TestSpark.tmpDir("ops")
    val cacheDir = TestSpark.tmpDir("cache")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val a = store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "m", root)
    val p1 = store.cache(a, root, cacheDir)
    assert(spark.read.parquet(p1).count() === 1)
    // corrupt the cache; re-cache restores it
    val fs = graft.core.Fs.fileSystem(p1)
    fs.delete(new org.apache.hadoop.fs.Path(p1), true)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p1), "corrupt")
    val p2 = store.cache(a, root, cacheDir)
    assert(p2 === p1)
    assert(spark.read.parquet(p2).count() === 1)
  }

  test("replace swaps content under the same uid without a new version") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val a = store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "m", root)
    val uid = a("uid").toString
    val oldHash = a("hash")
    val replaced = store.replace(uid, Seq((2, "b"), (3, "c")).toDF("id", "v"), root)
    assert(replaced("uid") === uid)
    assert(replaced("hash") !== oldHash)
    assert(cat.table("artifact").count() === 1) // no new version
    assert(cat.table("artifact").filter(col("uid") === uid)
      .head().getAs[Long]("n_observations") === 2L)
    assert(store.openByUid(uid).count() === 2) // storage payload swapped
    // replacing with content identical to an existing artifact returns it
    val b = store.fromDataFrame(Seq((9, "z")).toDF("id", "v"), "other", root)
    val same = store.replace(uid, Seq((9, "z")).toDF("id", "v"), root)
    assert(same("uid") === b("uid"))
    // referenced artifacts refuse replace
    val ref = store.registerPath(s"${TestSpark.sf0001}/region.parquet", "tpch/region", root)
    intercept[IllegalArgumentException](
      store.replace(ref("uid").toString, Seq((1, "x")).toDF("id", "v"), root))
  }

  test("fromDataFrames and replace: one hash lookup per staged artifact (Spark jobs pinned)") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val sc = spark.sparkContext
    def frame(i: Int) = Seq((i, s"v$i")).toDF("id", "v")
    // flushed before each call: every lookup scans an artifact snapshot,
    // as on a long-lived catalog (a buffer-only table answers on the driver)
    store.fromDataFrame(frame(0), "seed", root)
    cat.flushAll()
    // new content: the storage map (rebuilt once: the first call's
    // `ensure` inserted the root after the map was built; the flush since
    // leaves it), staged write, ONE hash lookup, family collect
    val newJobs = ListenerBusDrain.jobs(sc)(store.fromDataFrames(Seq(frame(1) -> "a"), root))
    cat.flushAll()
    // duplicate content: staged write, the hash lookup's hit (the storage
    // root is answered from the map, no job)
    val dupJobs = ListenerBusDrain.jobs(sc)(store.fromDataFrames(Seq(frame(1) -> "b"), root))
    cat.flushAll()
    // replace: uid lookup, staged write (n_observations rides it), hash
    // lookup, one catalog update; no count job over the input
    val uid = cat.table("artifact").filter(col("key") === "a").head().getAs[String]("uid")
    val replaceJobs = ListenerBusDrain.jobs(sc)(store.replace(uid, frame(2).union(frame(3)), root))
    cat.flushAll()
    // replace with content another artifact holds: uid lookup, staged
    // write, the hash lookup's hit
    val replaceDupJobs = ListenerBusDrain.jobs(sc)(store.replace(uid, frame(0), root))
    info(s"new frame: $newJobs jobs, duplicate: $dupJobs, replace: $replaceJobs, replace by duplicate: $replaceDupJobs")
    assert(newJobs === 4)
    assert(dupJobs === 2)
    assert(replaceJobs === 4)
    assert(replaceDupJobs === 3)
    assert(cat.table("artifact").filter(col("uid") === uid).head().getAs[Long]("n_observations") === 2L)
  }

  test("fromDataFrames looks up a batch's hashes in one job; the first in-batch occurrence wins") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    def frame(i: Int) = Seq((i, s"v$i")).toDF("id", "v")
    val seed = store.fromDataFrame(frame(0), "seed", root)
    store.fromDataFrame(frame(1), "warm", root) // rebuilds the storage map after the root's insert
    cat.flushAll()
    // frame 2 new, frame 0 held by the catalog, frame 3 new, frame 2 again
    val batch = Seq(frame(2) -> "a", frame(0) -> "b", frame(3) -> "c", frame(2) -> "d")
    var rows = Seq.empty[Map[String, Any]]
    // four staged writes, ONE hash lookup, a family collect per new artifact
    val jobs = ListenerBusDrain.jobs(spark.sparkContext) { rows = store.fromDataFrames(batch, root) }
    info(s"4-frame batch with a catalog and an in-batch duplicate: $jobs jobs")
    assert(jobs === 7)
    assert(rows.map(_("key")) === Seq("a", "seed", "c", "a"))
    assert(rows(1)("uid") === seed("uid"))
    assert(rows(3)("uid") === rows(0)("uid"))
    assert(cat.table("artifact").count() === 4)
    assert(store.openByUid(rows(3)("uid").toString).as[(Int, String)].collect().toSeq === Seq((2, "v2")))
    // every duplicate's stage was deleted
    val staging = new java.io.File(s"$root/.staging")
    assert(Option(staging.list()).forall(_.isEmpty))
  }

  test("Collections.open resolves its members in one collect and infers no schema") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val colls = new graft.artifact.Collections(cat, store)
    val ids = (1 to 3).map(i => store.fromDataFrame((1 to i).map(j => (i, j)).toDF("a", "b"), s"m$i", root))
      .map(_("id").asInstanceOf[Long])
    val cid = colls.create("c", ids)("id").asInstanceOf[Long]
    cat.flushAll()
    def jobs(body: => Any): Int = ListenerBusDrain.jobs(spark.sparkContext)(body)
    val noRun = jobs(colls.open(cid))
    val lin = new Lineage(cat)
    lin.track("open.scala", "src")
    val withRun = jobs(colls.open(cid))
    // a parquet open's only job is the member collect: no schema inference
    val uid = cat.table("artifact").filter(col("id") === ids.head).head().getAs[String]("uid")
    val byUid = jobs(store.openByUid(uid))
    val runId = cat.currentRunId.get
    lin.finish()
    info(s"Collections.open: $noRun jobs without a run, $withRun with one; openByUid: $byUid")
    assert(noRun <= 2 && withRun <= 3)
    assert(byUid === 1)
    assert(colls.open(cid).count() === 6)
    assert(cat.table("run_inputs").filter(col("run_id") === runId).select("artifact_id")
      .as[Long].collect().toSet === ids.toSet)
  }

  test("a parquet open's footer schema equals spark.read.parquet's") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val colls = new graft.artifact.Collections(cat, store)
    def same(members: Seq[Map[String, Any]]): Unit = {
      val opened = store.open(cat.table("artifact").filter(col("id").isin(members.map(_("id")): _*)))
      val read = spark.read.parquet(members.map(store.artifactPath(_, root)): _*)
      assert(opened.schema === read.schema)
      assert(opened.collect().map(_.toString).sorted === read.collect().map(_.toString).sorted)
    }
    // Spark-written members: non-nullable, decimal, timestamp and nested columns
    val typed = (1 to 2).map(i => store.fromDataFrame(spark.range(i).selectExpr("id",
      "cast(id as decimal(12, 3)) as d", "timestamp_seconds(id) as ts", "named_struct('x', id, 'y', array(id)) as s",
      "map('k', id) as m"), s"typed$i", root))
    same(typed)
    val cid = colls.create("typed", typed.map(_("id").asInstanceOf[Long]))("id").asInstanceOf[Long]
    assert(colls.open(cid).schema === spark.read.parquet(typed.map(store.artifactPath(_, root)): _*).schema)
    // written by pyarrow: no Spark row metadata in the footer
    val points = "fixtures/zarr/spatial.zarr/points/transcripts/points.parquet/part-0.parquet"
    same(Seq(store.registerPath(points, "points", root)))
    // members whose columns differ: both read with the first file's schema
    val differ = Seq(Seq((1L, "x")).toDF("id", "v"), Seq((2L, 9.9)).toDF("id", "w"), Seq(3).toDF("z"))
      .zipWithIndex.map { case (df, i) => store.fromDataFrame(df, s"differ$i", root) }
    same(differ)
    same(differ.reverse.take(2))
  }

  test("cross-instance transfer upserts by uid") {
    val cat1 = Catalog.deterministic(spark, TestSpark.tmpDir("src"), seed = 1)
    val cat2 = Catalog.deterministic(spark, TestSpark.tmpDir("dst"), seed = 2)
    val store1 = new ArtifactStore(cat1)
    cat1.insert("ulabel", Map("name" -> "shared"))
    val uid = cat1.table("ulabel").select("uid").head().getString(0)
    assert(store1.transferTo(cat2, "ulabel", Seq(uid)) === 1)
    assert(store1.transferTo(cat2, "ulabel", Seq(uid)) === 0) // idempotent
    assert(cat2.table("ulabel").filter(col("uid") === uid).count() === 1)
  }

  test("transfer remaps FK columns through parent uid, creating missing parents") {
    val cat1 = Catalog.deterministic(spark, TestSpark.tmpDir("src"), seed = 1)
    val cat2 = Catalog.deterministic(spark, TestSpark.tmpDir("dst"), seed = 2)
    val store1 = new ArtifactStore(cat1)
    // source graph: artifact -> storage, run -> transform
    val st = cat1.insert("storage", Map("root" -> "/data/src"))
    val tr = cat1.insert("transform", Map("key" -> "t.scala"))
    val run = cat1.insert("run", Map("transform_id" -> tr("id"), "status_code" -> 0))
    val art = cat1.insert("artifact", Map("key" -> "x.parquet", "hash" -> "h1",
      "storage_id" -> st("id"), "run_id" -> run("id")))
    // skew target ids so a verbatim FK copy would dangle or hit the wrong row
    (1 to 5).foreach(i => cat2.insert("storage", Map("root" -> s"/other/$i")))
    (1 to 3).foreach(i => cat2.insert("transform", Map("key" -> s"other$i.scala")))

    // 4 rows created: artifact + storage + run + transform (parents first)
    assert(store1.transferTo(cat2, "artifact", Seq(art("uid").toString)) === 4)
    val got = cat2.table("artifact").filter(col("uid") === art("uid")).head()
    val gotStorage = cat2.table("storage")
      .filter(col("id") === got.getAs[Long]("storage_id")).head()
    assert(gotStorage.getAs[String]("uid") === st("uid"))
    assert(gotStorage.getAs[String]("root") === "/data/src")
    val gotRun = cat2.table("run").filter(col("id") === got.getAs[Long]("run_id")).head()
    assert(gotRun.getAs[String]("uid") === run("uid"))
    // and the run's own transform FK was remapped transitively
    val gotTransform = cat2.table("transform")
      .filter(col("id") === gotRun.getAs[Long]("transform_id")).head()
    assert(gotTransform.getAs[String]("uid") === tr("uid"))
    assert(gotTransform.getAs[String]("key") === "t.scala")
    // idempotent re-transfer creates nothing new
    assert(store1.transferTo(cat2, "artifact", Seq(art("uid").toString)) === 0)
    assert(cat2.table("storage").filter(col("uid") === st("uid")).count() === 1)
  }

  test("transfer remaps catalog-local branch ids through the branch registry") {
    val cat1 = Catalog.deterministic(spark, TestSpark.tmpDir("src"), seed = 11)
    val cat2 = Catalog.deterministic(spark, TestSpark.tmpDir("dst"), seed = 12)
    val store1 = new ArtifactStore(cat1)
    cat1.insert("branch", Map("name" -> "main", "status_code" -> 0)) // id 1 = main
    val dev = cat1.insert("branch", Map("name" -> "dev", "status_code" -> 0))
    val devId = dev("id").asInstanceOf[Long]
    assert(devId >= 2L)
    val onDev = cat1.insert("ulabel", Map("name" -> "wip", "branch_id" -> devId))
    // skew the target's branch table so a verbatim id copy lands wrong
    cat2.insert("branch", Map("name" -> "main", "status_code" -> 0))
    cat2.insert("branch", Map("name" -> "unrelated", "status_code" -> 0))
    store1.transferTo(cat2, "ulabel", Seq(onDev("uid").toString))
    val got = cat2.table("ulabel").filter(col("uid") === onDev("uid")).head()
    val gotBranch = cat2.table("branch")
      .filter(col("id") === got.getAs[Long]("branch_id")).head()
    assert(gotBranch.getAs[String]("uid") === dev("uid"))
    assert(gotBranch.getAs[String]("name") === "dev")
    // universal-constant branches (main/archive/trash) pass through as-is
    val onMain = cat1.insert("ulabel", Map("name" -> "plain"))
    store1.transferTo(cat2, "ulabel", Seq(onMain("uid").toString))
    val gotMain = cat2.table("ulabel").filter(col("uid") === onMain("uid")).head()
    assert(gotMain.getAs[Long]("branch_id") === Catalog.MainBranchId)
  }

  test("transfer carries M2M members by uid; same-name local rows coexist") {
    // reference tests/transfer: schema members transfer by uid even when a
    // local feature with the same NAME (different uid) already exists
    val cat1 = Catalog.deterministic(spark, TestSpark.tmpDir("src"), seed = 5)
    val cat2 = Catalog.deterministic(spark, TestSpark.tmpDir("dst"), seed = 6)
    val store1 = new ArtifactStore(cat1)
    val feat = cat1.insert("feature", Map("name" -> "tissue", "dtype" -> "str"))
    val schema = cat1.insert("schema", Map("name" -> "transfer_schema"))
    cat1.insert("schema_features", Map(
      "schema_id" -> schema("id"), "feature_id" -> feat("id"), "position" -> 0))
    // a local same-name feature with a DIFFERENT uid already exists
    val localFeat = cat2.insert("feature", Map("name" -> "tissue", "dtype" -> "str"))
    assert(localFeat("uid") !== feat("uid"))

    store1.transferTo(cat2, "schema", Seq(schema("uid").toString))
    val tgtSchemaId = cat2.table("schema").filter(col("uid") === schema("uid"))
      .head().getAs[Long]("id")
    val memberIds = cat2.table("schema_features")
      .filter(col("schema_id") === tgtSchemaId).select("feature_id")
      .collect().map(_.getLong(0))
    assert(memberIds.length === 1)
    val member = cat2.table("feature").filter(col("id") === memberIds.head).head()
    assert(member.getAs[String]("uid") === feat("uid")) // transferred, not the local one
    assert(cat2.table("feature").filter(col("name") === "tissue").count() === 2) // coexist
    // idempotent: re-transfer adds no links
    store1.transferTo(cat2, "schema", Seq(schema("uid").toString))
    assert(cat2.table("schema_features").filter(col("schema_id") === tgtSchemaId).count() === 1)
  }

  test("transfer carries artifact label links through artifact_ulabels") {
    val cat1 = Catalog.deterministic(spark, TestSpark.tmpDir("src"), seed = 7)
    val cat2 = Catalog.deterministic(spark, TestSpark.tmpDir("dst"), seed = 8)
    val store1 = new ArtifactStore(cat1)
    val st = cat1.insert("storage", Map("root" -> "/data/src"))
    val art = cat1.insert("artifact", Map("key" -> "l.parquet", "hash" -> "h9",
      "storage_id" -> st("id"), "is_latest" -> true))
    val lab = cat1.insert("ulabel", Map("name" -> "curated"))
    cat1.insert("artifact_ulabels", Map(
      "artifact_id" -> art("id"), "ulabel_id" -> lab("id")))
    cat2.insert("ulabel", Map("name" -> "occupies-id-1")) // skew target ids

    store1.transferTo(cat2, "artifact", Seq(art("uid").toString))
    val tgtArt = cat2.table("artifact").filter(col("uid") === art("uid")).head()
    val linkLabels = cat2.table("artifact_ulabels")
      .filter(col("artifact_id") === tgtArt.getAs[Long]("id"))
      .join(cat2.table("ulabel").select(col("id").as("ulabel_id"), col("name"), col("uid")), "ulabel_id")
      .select("name", "uid").collect()
    assert(linkLabels.length === 1)
    assert(linkLabels.head.getString(0) === "curated")
    assert(linkLabels.head.getString(1) === lab("uid"))
  }

  test("transfer keeps a label linked under two features, each link's feature remapped") {
    val cat1 = Catalog.deterministic(spark, TestSpark.tmpDir("src"), seed = 9)
    val cat2 = Catalog.deterministic(spark, TestSpark.tmpDir("dst"), seed = 10)
    val store1 = new ArtifactStore(cat1)
    val st = cat1.insert("storage", Map("root" -> "/data/src"))
    val art = cat1.insert("artifact", Map("key" -> "f.parquet", "hash" -> "h10",
      "storage_id" -> st("id"), "is_latest" -> true))
    val lab = cat1.insert("ulabel", Map("name" -> "T cell"))
    val features = Seq("cell_type", "cell_type_curated")
      .map(n => cat1.insert("feature", Map("name" -> n, "dtype" -> "cat[ULabel]")))
    features.foreach(f => cat1.insert("artifact_ulabels", Map(
      "artifact_id" -> art("id"), "ulabel_id" -> lab("id"), "feature_id" -> f("id"))))
    // skew target ids so a verbatim feature_id copy would hit the wrong row
    (1 to 3).foreach(i => cat2.insert("feature", Map("name" -> s"other$i", "dtype" -> "str")))

    store1.transferTo(cat2, "artifact", Seq(art("uid").toString))
    val tgtArt = cat2.table("artifact").filter(col("uid") === art("uid")).head().getAs[Long]("id")
    val links = cat2.table("artifact_ulabels").filter(col("artifact_id") === tgtArt)
      .join(cat2.table("feature").select(col("id").as("feature_id"), col("uid").as("feature_uid")), "feature_id")
      .join(cat2.table("ulabel").select(col("id").as("ulabel_id"), col("uid").as("ulabel_uid")), "ulabel_id")
      .select("feature_uid", "ulabel_uid").as[(String, String)].collect().toSet
    assert(links === features.map(f => (f("uid").toString, lab("uid").toString)).toSet)
    // re-linking in place: a second transfer of the same links adds none
    store1.transferTo(cat2, "artifact", Seq(art("uid").toString))
    assert(cat2.table("artifact_ulabels").count() === 2)
  }

  test("transfer survives self-referential FK chains (record.type_id)") {
    val cat1 = Catalog.deterministic(spark, TestSpark.tmpDir("src"), seed = 3)
    val cat2 = Catalog.deterministic(spark, TestSpark.tmpDir("dst"), seed = 4)
    val store1 = new ArtifactStore(cat1)
    val typ = cat1.insert("record", Map("name" -> "CellType", "is_type" -> true))
    val rec = cat1.insert("record", Map("name" -> "T cell", "type_id" -> typ("id")))
    cat2.insert("record", Map("name" -> "occupies-id-1")) // skew target ids
    assert(store1.transferTo(cat2, "record", Seq(rec("uid").toString)) === 2) // rec + its type
    val gotRec = cat2.table("record").filter(col("uid") === rec("uid")).head()
    val gotTyp = cat2.table("record").filter(col("id") === gotRec.getAs[Long]("type_id")).head()
    assert(gotTyp.getAs[String]("uid") === typ("uid"))
    assert(gotTyp.getAs[String]("name") === "CellType")
  }

  test("withIncluded annotates FK chains single-valued and M2M paths as sets") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val lin = new Lineage(cat)
    lin.track("annotate.scala", "src-v1")
    val a = store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "m", root)
    lin.finish()
    val aid = a("id").asInstanceOf[Long]
    Seq("batch1", "batch2").foreach { n =>
      val lid = cat.insert("ulabel", Map("name" -> n))("id").asInstanceOf[Long]
      cat.insert("artifact_ulabels", Map("artifact_id" -> aid, "ulabel_id" -> lid))
    }
    val qs = store.querySet
    val wide = qs.withIncluded(Seq("run__transform__key", "ulabels__name"))
    val row = wide.filter(col("id") === aid).head()
    assert(row.getAs[String]("run__transform__key") === "annotate.scala")
    assert(row.getAs[Seq[String]]("ulabels__name") === Seq("batch1", "batch2"))
    // unknown path raises with context
    intercept[graft.query.FieldError](qs.withIncluded(Seq("nope__name")))
  }

  test("field alias traversal: version -> version_tag, transform -> run__transform") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val lin = new Lineage(cat)
    lin.track("pipeline.scala", "src-v1")
    store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "m", root)
    lin.finish()
    val qs = store.querySet
    assert(qs.filter("version__isnull" -> true).count() === 1) // version -> version_tag
    assert(qs.filter("transform__key" -> "pipeline.scala").count() === 1) // via run FK
    assert(qs.filter("transform__key" -> "other.scala").count() === 0)
  }

  test("distinct dedups after fan-out, toDataFrame hides internal kinds") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    val af = new graft.eav.ArtifactFeatures(cat)
    store.fromDataFrame(Seq((1, "a")).toDF("id", "v"), "visible", root)
    cat.insert("artifact", Map("uid" -> cat.uid(20), "key" -> "hidden",
      "kind" -> "__lamindb_run__", "is_latest" -> true))
    assert(store.querySet.count() === 2)
    assert(af.toDataFrame(cat.table("artifact")).count() === 1)
    assert(af.toDataFrame(cat.table("artifact"), excludeInternal = false).count() === 2)
    assert(store.querySet.distinct().count() === 2)
    // QuerySet.toDataFrame hides __lamindb* kinds on unfiltered querysets
    assert(store.querySet.toDataFrame(limit = None)._1.count() === 1)
    // ...but an explicit kind filter bypasses the exclusion
    assert(store.querySet.filter("kind__startswith" -> "__lamindb")
      .toDataFrame(limit = None)._1.count() === 1)
  }

  test("fromDir registers one artifact per file, hierarchy in keys, dup hashes dropped") {
    val root = TestSpark.tmpDir("ops")
    val cat = Catalog.deterministic(spark, root)
    val store = new ArtifactStore(cat)
    // a small tree: two distinct files, a nested file, and a false
    // duplicate (distinct path, identical content)
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("fromdir"), "sample_001")
    java.nio.file.Files.createDirectories(dir.resolve("nested"))
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "alpha")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "beta")
    java.nio.file.Files.writeString(dir.resolve("nested/c.csv"), "1,2,3")
    java.nio.file.Files.writeString(dir.resolve("nested/a_copy.txt"), "alpha")
    val r = store.fromDir(dir.toString, root)
    // 4 files, 1 false duplicate dropped (first occurrence a.txt wins)
    assert(r.artifacts.length === 3)
    assert(r.droppedDuplicateKeys === Seq("sample_001/nested/a_copy.txt"))
    val keys = r.artifacts.map(_("key").toString)
    assert(keys === Seq("sample_001/a.txt", "sample_001/b.txt", "sample_001/nested/c.csv"))
    assert(r.artifacts.forall(_("n_files") === 1L))
    assert(r.artifacts.map(_("suffix").toString) === Seq(".txt", ".txt", ".csv"))
    // explicit key overrides the folder name; re-ingest is idempotent by
    // hash: the SAME artifact rows come back, no new catalog rows
    val again = store.fromDir(dir.toString, root, key = Some("renamed"))
    assert(again.artifacts.map(_("uid")) === r.artifacts.map(_("uid")))
    assert(cat.table("artifact").count() === 3)
  }
}
