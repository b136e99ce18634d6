package lakebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import graft.artifact.{AnnDataset, ArtifactStore, Collections}
import graft.catalog.Catalog
import graft.curate.{FeatureSpec, SchemaSpec, SchemaValidator, ValidationReport}
import graft.eav.ArtifactFeatures
import graft.lineage.Lineage
import graft.query.QuerySet
import graft.streaming.ArtifactSink
import graft.h5.{AnnH5, AnnH5Writer}
import graft.zarr.{AnnZarr, AnnZarrWriter}

/** `ingest_write`: repeated pipeline runs over a catalog that starts at
  * [[IngestWrite.NKeys]] keys. Every call of a pipeline run is one
  * operation (see [[IngestWrite.Steps]]); a run's calls depend on the ids
  * its earlier calls returned, so the sequence always holds whole runs.
  * Each run also reads back what it wrote: a selective scan of its Parquet
  * collection, a zarr scan of the appended rows and an h5ad export and
  * scan of the same cells.
  */
final class IngestWrite(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import IngestWrite._
  type Op = IOp

  val name = "ingest_write"
  val setupReps = 2
  val secondsPerOp = 0.7
  val minOps = Steps.length
  val warmupOps = Steps.length
  override val block = Steps.length

  private lazy val model = new RegistryModel(seed, nKeys = NKeys, nLabels = NLabels)
  private lazy val versioned = model.families.filter(_.length > 1)

  def kind(op: IOp): String = op.step
  def digestInputs(seed: Long, d: Digest): Unit = {
    model.digest(d)
    d.add(Cells.obs(seed, "base", ZarrObs).mkString(","))
    Cells.x(seed, "base", ZarrObs, ZarrVars).foreach(d.add)
    (0 until 4).foreach { p =>
      (0 until 3).foreach(sh => shard(p, sh).foreach(d.add))
      lineitems(p).foreach(d.add); statEntries(p).foreach(d.add)
      Cells.x(seed, s"append-$p", AppendObs, ZarrVars).foreach(d.add); streamRows(p).foreach(d.add)
    }
  }

  /** Whole pipeline runs: warm-up runs are 0 until `warmupOps / steps`,
    * timed runs follow.
    */
  def plan(seed: Long, n: Int, stream: String): IndexedSeq[IOp] = {
    val first = if (stream == "warmup") 0 else warmupOps / Steps.length
    val runs = (n + Steps.length - 1) / Steps.length
    for { p <- first until first + runs; s <- Steps } yield IOp(s, p)
  }

  // --------------------------------------------------- seeded contents

  private val shardSchema = StructType(Seq(StructField("id", LongType), StructField("qty", IntegerType),
    StructField("price", DoubleType), StructField("flag", StringType)))

  /** Rows of shard `s` of pipeline run `p`; shard 3 repeats shard 0 of run p - 1. */
  def shard(p: Int, s: Int): IndexedSeq[Row] =
    if (s == 3 && p > 0) shard(p - 1, 0)
    else {
      val r = Rng(seed, s"shard-$p-$s")
      (0 until ShardRows).map(i => Row(i.toLong, r.int(50), r.int(100000) / 100.0, model.labels(r.int(20))))
    }

  /** Curation input of run `p`: `p % 5` nulls planted in `qty`, `p % 3`
    * unknown `flag` values.
    */
  def lineitems(p: Int): IndexedSeq[Row] = {
    val r = Rng(seed, s"lineitem-$p")
    (0 until ValidateRows).map { i =>
      val qty: Any = if (i < p % 5) null else r.int(50)
      val flag = if (i >= ValidateRows - p % 3) s"unknown_$i" else model.labels(r.int(20))
      Row(i.toLong, qty, r.int(100000) / 100.0, flag)
    }
  }

  /** Stat entries of run `p`: 70 new hashes, 30 already in the catalog. */
  def statEntries(p: Int): IndexedSeq[(String, Long, String)] = {
    val r = Rng(seed, s"stat-$p")
    val fresh = (0 until 70).map(i => (f"stat$p%05d${r.base62(17)}", 1000L + r.int(100000), s"ref/p$p/f$i.bin"))
    val known = r.distinct(30, r.int(model.artifacts.length)).map { i =>
      val a = model.artifacts(i); (a.hash, a.size, s"ref/known/${a.id}.bin")
    }
    r.shuffle(fresh ++ known)
  }

  def streamRows(p: Int): IndexedSeq[(Long, Double)] = {
    val r = Rng(seed, s"stream-$p")
    (0 until StreamRows).map(i => (p * 100000L + i, r.int(10000) / 4.0))
  }

  /** (non-zeros, value sum) of the cells appended by run `p`. */
  private def appended(p: Int): (Long, Double) = {
    val x = Cells.x(seed, s"append-$p", AppendObs, ZarrVars)
    (x.length.toLong, x.map(_._3).sum)
  }

  private def family(p: Int): IndexedSeq[GenArtifact] = versioned(Rng(seed, s"family-$p").int(versioned.length))

  // ------------------------------------------------------------ state

  private var dir: String = _
  private var cat: Catalog = _
  private var store: ArtifactStore = _
  private var colls: Collections = _
  private var lin: Lineage = _
  private var stream: MemoryStream[(Long, Double)] = _
  private var query: StreamingQuery = _
  private def storageRoot = s"$dir/storage"
  private def zarrPath = s"$storageRoot/cells.zarr"

  private val transformOf = mutable.Map.empty[Int, Long]
  private val shard0Id = mutable.Map.empty[Int, Long]
  private val newIds = mutable.Map.empty[Int, Seq[Long]]
  private val familyHead = mutable.Map.empty[String, String] // stem -> expected head uid
  private var collectionId = -1L
  private var collectionSize = 0
  private val runIds = mutable.ArrayBuffer.empty[(Int, Long)]
  private var appendedObs = 0L
  private var appendedSum = 0.0
  private var microbatches = 0
  private val members = mutable.ArrayBuffer.empty[(Int, Int)] // (run, shard) in the collection
  private var zarrBytes0, lastAppendBytes = 0L
  // counters of the timed sequence
  private var timed = false
  private var registered = 0L
  private var dedupHits = 0L
  private var userBytes = 0L
  private var rowsValidated = 0L
  private var parquetMatched = 0L
  private var zarrScanned, h5Scanned = 0L
  private var catBytes0, storeBytes0, versions0 = 0L

  def setup(d: String): Unit = {
    teardown()
    dir = d
    Seq(transformOf, shard0Id, newIds, familyHead).foreach(_.clear())
    collectionId = -1L; collectionSize = 0; runIds.clear()
    appendedObs = 0L; appendedSum = 0.0; microbatches = 0; members.clear()
    cat = Catalog.deterministic(spark, s"$dir/catalog", seed)
    store = new ArtifactStore(cat)
    colls = new Collections(cat, store)
    lin = new Lineage(cat)
    model.materialise(spark, cat, storageRoot)
    val base = Cells.dataset(spark, seed, "base", ZarrObs, ZarrVars, 0L)
    AnnZarrWriter.write(base, zarrPath)
    zarrBytes0 = Disk.bytes(zarrPath)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$storageRoot/exports"))
    stream = MemoryStream[(Long, Double)](spark)(Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble))
    query = ArtifactSink.streamToArtifacts(stream.toDF().toDF("id", "value"), cat, storageRoot,
      "stream", s"$dir/checkpoint")
  }

  override def teardown(): Unit = if (query != null) { query.stop(); query = null }

  override def before(): Unit = {
    timed = true
    catBytes0 = Disk.bytes(s"$dir/catalog"); storeBytes0 = Disk.bytes(storageRoot); versions0 = snapshotVersions()
  }

  private def snapshotVersions(): Long = {
    val m = java.nio.file.Paths.get(s"$dir/catalog/_manifest.json")
    """"[^"]+"\s*:\s*(\d+)""".r.findAllMatchIn(java.nio.file.Files.readString(m)).map(_.group(1).toLong).sum
  }

  override def counters(): Map[String, Double] = {
    val catBytes = Disk.bytes(s"$dir/catalog") - catBytes0
    val storeBytes = Disk.bytes(storageRoot) - storeBytes0
    Map("artifacts_registered" -> registered.toDouble, "dedup_hits" -> dedupHits.toDouble,
      "user_bytes" -> userBytes.toDouble, "catalog_bytes" -> catBytes.toDouble,
      "stored_bytes" -> (catBytes + storeBytes).toDouble,
      "snapshot_versions" -> (snapshotVersions() - versions0).toDouble,
      "rows_validated" -> rowsValidated.toDouble, "parquet_rows_matched" -> parquetMatched.toDouble,
      "zarr_bytes_scanned" -> zarrScanned.toDouble, "h5_bytes_scanned" -> h5Scanned.toDouble)
  }

  private def df(rows: IndexedSeq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def spec: SchemaSpec = SchemaSpec(Seq(
    FeatureSpec("id", "int", nullable = false),
    FeatureSpec("qty", "int", nullable = false),
    FeatureSpec("price", "float"),
    FeatureSpec("flag", "cat", catRegistry = Some((cat.table("ulabel"), "name")))))

  /** Inputs of each call, built before its timer starts. */
  override def prepare(op: IOp): Any = {
    val p = op.run
    op.step match {
      case "validate" => df(lineitems(p), shardSchema)
      case "from_dataframes" =>
        (0 until 4).map(s => df(shard(p, s), shardSchema) -> s"ingest/p$p/shard_$s.parquet")
      case "new_version" =>
        df(shard(p, 1).map(r => Row(r.getLong(0) + 1, r.getInt(1), r.getDouble(2), r.getString(3))), shardSchema)
      case "register_batch" =>
        val st = store
        statEntries(p).map { case (h, size, path) =>
          st.StatEntry(h, "md5", size, 1L, path, ".bin", Some(s"$storageRoot/$path"))
        }
      case "zarr_append" | "h5_export" => Cells.localDataset(spark, seed, s"append-$p", AppendObs, ZarrVars)
      case _ => ()
    }
  }

  private def exportPath(p: Int) = s"$storageRoot/exports/p$p.h5ad"

  def run(op: IOp, input: Any): Any = {
    val p = op.run
    op.step match {
      case "track" =>
        tr("lineage", "track")(lin.track(s"ingest_pipeline_${p % 3}", s"// ingest step ${p % 3}\nrun()",
          Map("run" -> p)))
      case "validate" =>
        tr("curate", "validate")(SchemaValidator.validate(input.asInstanceOf[DataFrame], spec))
      case "from_dataframes" =>
        tr("artifact", "from_dataframes")(store.fromDataFrames(
          input.asInstanceOf[Seq[(DataFrame, String)]], storageRoot))
      case "new_version" =>
        tr("artifact", "from_dataframes")(store.fromDataFrames(
          Seq(input.asInstanceOf[DataFrame] -> family(p).head.key), storageRoot).head)
      case "register_batch" =>
        val st = store
        tr("artifact", "register_batch")(st.registerBatch(input.asInstanceOf[Seq[st.StatEntry]], 1L))
      case "add_values" =>
        val af = new ArtifactFeatures(cat)
        tr("eav", "add_values")(af.addValues(newIds(p).head, Map("n_cells" -> (p * 7 % 200),
          "tissue" -> s"tissue_${p % 4}")))
      case "add_labels" =>
        val af = new ArtifactFeatures(cat)
        tr("eav", "add_labels")(af.addLabels(newIds(p).head, Seq(1L + p % 7, 8L + p % 5, 20L)))
      case "collection" =>
        tr("artifact", "collection") {
          if (collectionId < 0) colls.create("ingest/collection", newIds(p))
          else colls.append(collectionId, newIds(p))
        }
      case "collection_open" =>
        tr("artifact", "open")(countSum(colls.open(collectionId).filter(col("qty") === p % 50), "id"))
      case "zarr_append" =>
        val ds = input.asInstanceOf[AnnDataset]
        tr("zarr", "append")(AnnZarrWriter.appendRows(ds.obs, ds.x, zarrPath))
      case "zarr_scan" =>
        val first = ZarrObs + appendedObs - AppendObs
        tr("zarr", "scan")(countSum(spark.read.format("zarr").load(zarrPath).filter(col("obs_id") >= first), "value"))
      case "h5_export" =>
        tr("h5", "write")(AnnH5Writer.write(input.asInstanceOf[AnnDataset], exportPath(p)))
      case "h5_scan" =>
        tr("h5", "scan")(countSum(AnnH5.open(spark, exportPath(p)).x, "value"))
      case "microbatch" =>
        tr("streaming", "microbatch") {
          stream.addData(streamRows(p))
          query.processAllAvailable()
        }
      case "flush" =>
        tr("catalog", "flush")(cat.flushAll())
      case "finish" =>
        tr("lineage", "finish")(lin.finish())
    }
  }

  private def countSum(d: DataFrame, c: String): (Long, Double) = {
    val r = d.agg(count(lit(1)), coalesce(sum(col(c)).cast("double"), lit(0.0))).head()
    (r.getLong(0), r.getDouble(1))
  }

  private def fail(msg: String) = Checked(Some(msg))

  def check(op: IOp, out: Any): Checked = {
    val p = op.run
    (op.step, out) match {
      case ("track", (transformId: Long, runId: Long)) =>
        runIds += ((p, runId))
        transformOf.get(p % 3) match {
          case Some(t) if t != transformId => fail(s"track: transform $transformId, want reuse of $t")
          case _ => transformOf(p % 3) = transformId; Checked(None, 1)
        }
      case ("validate", rep: ValidationReport) =>
        if (timed) rowsValidated += ValidateRows
        val want = (if (p % 5 > 0) Set(("null_values", "qty", (p % 5).toLong)) else Set.empty) ++
          (ValidateRows - p % 3 until ValidateRows).map(i => ("non_validated", "flag", 1L)).toSet
        val got = rep.issues.map(i => (i.check, i.column, i.n)).toSet
        val nUnknown = rep.issues.count(_.check == "non_validated")
        if (got == want && nUnknown == p % 3 && rep.passed == want.isEmpty) Checked(None, ValidateRows)
        else fail(s"validate: issues $got, want $want")
      case ("from_dataframes", rows: Seq[_]) =>
        val ms = rows.asInstanceOf[Seq[Map[String, Any]]]
        val ids = ms.map(_("id").asInstanceOf[Long])
        val fresh = ids.take(3)
        tally(4, if (p > 0) 1 else 0, ms.take(if (p > 0) 3 else 4).map(_("size").asInstanceOf[Long]).sum)
        shard0Id(p) = ids.head
        newIds(p) = fresh
        if (fresh.distinct.length != 3 || fresh.exists(_ <= model.artifacts.length))
          fail(s"from_dataframes: new ids $fresh")
        else if (p > 0 && !shard0Id.get(p - 1).forall(_ == ids(3)))
          fail(s"from_dataframes: duplicate shard got id ${ids(3)}, want ${shard0Id(p - 1)}")
        else if (p == 0 && ids.distinct.length != 4) fail(s"from_dataframes: ids $ids")
        else Checked(None, 4)
      case ("new_version", row: Map[_, _]) =>
        val m = row.asInstanceOf[Map[String, Any]]
        val f = family(p)
        val stem = f.head.uid.take(16)
        val prev = familyHead.getOrElse(stem, f.last.uid)
        val want = stem + graft.core.Base62.increment(prev.drop(16))
        familyHead(stem) = want
        tally(1, 0, m("size").asInstanceOf[Long])
        if (m("uid") == want) Checked(None, 1) else fail(s"new_version: uid ${m("uid")}, want $want")
      case ("register_batch", (nNew: Long, nDup: Long)) =>
        tally(100, 30, 0L)
        if ((nNew, nDup) == (70L, 30L)) Checked(None, 100) else fail(s"register_batch: ($nNew, $nDup), want (70, 30)")
      case ("zarr_append", _) =>
        appendedObs += AppendObs
        appendedSum += appended(p)._2
        val bytes = Disk.bytes(zarrPath)
        lastAppendBytes = bytes - zarrBytes0
        zarrBytes0 = bytes
        Checked(None, AppendObs)
      case ("collection_open", got: (Long, Double) @unchecked) =>
        val rows = members.flatMap { case (pp, sh) => shard(pp, sh) }.filter(_.getInt(1) == p % 50)
        val want = (rows.length.toLong, rows.map(_.getLong(0)).sum.toDouble)
        if (timed) parquetMatched += got._1
        if (got == want) Checked(None, got._1) else fail(s"collection_open: got $got, want $want")
      case ("zarr_scan" | "h5_scan", got: (Long, Double) @unchecked) =>
        val want = appended(p)
        if (timed) {
          if (op.step == "zarr_scan") zarrScanned += lastAppendBytes
          else h5Scanned += java.nio.file.Files.size(java.nio.file.Paths.get(exportPath(p)))
        }
        if (got == want) Checked(None, got._1) else fail(s"${op.step}: got $got, want $want")
      case ("add_values", _) | ("add_labels", _) | ("h5_export", _) | ("flush", _) | ("finish", _) =>
        Checked(None, 1)
      case ("collection", row: Map[_, _]) =>
        val m = row.asInstanceOf[Map[String, Any]]
        collectionId = m("id").asInstanceOf[Long]
        collectionSize += 3
        members ++= (0 until 3).map(sh => (p, sh))
        if (m("is_latest") == true && m("key") == "ingest/collection") Checked(None, 1)
        else fail(s"collection: row $m")
      case ("microbatch", _) =>
        microbatches += 1
        tally(1, 0, 0L)
        Checked(None, StreamRows)
      case (s, other) => fail(s"$s: unexpected result $other")
    }
  }

  private def tally(artifacts: Long, hits: Long, bytes: Long): Unit = if (timed) {
    registered += artifacts; dedupHits += hits; userBytes += bytes
  }

  /** End state: version heads, collection membership, stream artifacts,
    * finished runs and the appended zarr store.
    */
  override def verify(): Seq[(Int, String)] = {
    val out = mutable.ArrayBuffer.empty[(Int, String)]
    val arts = cat.table("artifact")
    familyHead.foreach { case (stem, want) =>
      val heads = arts.filter(col("uid").startsWith(stem) && col("is_latest")).select("uid").collect().map(_.getString(0))
      if (heads.toSeq != Seq(want)) out += ((-1, s"family $stem heads ${heads.mkString(",")}, want $want"))
    }
    if (colls.orderedArtifactIds(collectionId).length != collectionSize)
      out += ((-1, s"collection $collectionId does not hold $collectionSize members"))
    val streamed = QuerySet(cat, "artifact").filter("key__startswith" -> "stream/batch_")
      .df.agg(count(lit(1)), coalesce(sum("n_observations"), lit(0L))).head()
    if ((streamed.getLong(0), streamed.getLong(1)) != (microbatches.toLong, microbatches.toLong * StreamRows))
      out += ((-1, s"stream artifacts (count, rows) = (${streamed.getLong(0)}, ${streamed.getLong(1)}), " +
        s"want ($microbatches, ${microbatches.toLong * StreamRows})"))
    val open = cat.table("run").filter(col("id").isin(runIds.map(_._2).toSeq: _*) && col("status_code") =!= 0).count()
    if (open != 0) out += ((-1, s"$open tracked runs not finished"))
    val z = AnnZarr.open(spark, zarrPath)
    val nObs = z.obs.count()
    val got = z.x.agg(sum("value")).head().getDouble(0)
    val wantSum = Cells.x(seed, "base", ZarrObs, ZarrVars).map(_._3).sum + appendedSum
    if (nObs != ZarrObs + appendedObs || math.abs(got - wantSum) > 1e-6 * math.max(1.0, wantSum))
      out += ((-1, s"zarr store: $nObs obs, sum $got; want ${ZarrObs + appendedObs}, $wantSum"))
    out.toSeq
  }
}

object IngestWrite {
  val NKeys = 2000
  val NLabels = 200
  val ShardRows = 2000
  val ValidateRows = 20000
  val StreamRows = 500
  val ZarrObs = 2000
  val ZarrVars = 200
  val AppendObs = 200
  /** One pipeline run, one operation per call. */
  val Steps: IndexedSeq[String] = IndexedSeq("track", "validate", "from_dataframes", "new_version",
    "register_batch", "add_values", "add_labels", "collection", "collection_open", "zarr_append",
    "zarr_scan", "h5_export", "h5_scan", "microbatch", "flush", "finish")
}

/** One call of pipeline run `run`. */
final case class IOp(step: String, run: Int)
