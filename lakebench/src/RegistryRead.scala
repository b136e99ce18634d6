package lakebench

import org.apache.spark.sql.SparkSession
import graft.artifact.ArtifactStore
import graft.catalog.Catalog
import graft.eav.ArtifactFeatures
import graft.lineage.Lineage
import graft.query.QuerySet

/** `registry_read`: a seeded read mix over a static catalog. Keys are
  * drawn Zipf-skewed; the operation kinds follow fixed shares (a shuffled
  * cycle of 20), so every seed does the same mix.
  */
final class RegistryRead(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import RegistryRead._
  type Op = ROp

  val name = "registry_read"
  val setupReps = 2
  val secondsPerOp = 0.25
  val minOps = Cycle.length
  val warmupOps = Cycle.length
  override val block = Cycle.length

  private lazy val model = new RegistryModel(seed, nKeys = NKeys, nLabels = NLabels)
  private var cat: Catalog = _
  private var store: ArtifactStore = _
  private var storageRoot: String = _

  def kind(op: ROp): String = op.kind

  private lazy val lastLayerRuns = (1L to model.nRuns).filter(model.runLayer(_) == model.nLayers - 1)
  private lazy val fullDepthRoots =
    (1L to model.nRuns).filter(r => model.runLayer(r) == 0 && model.depth(r, upstream = false) == model.nLayers - 1)
  def digestInputs(seed: Long, d: Digest): Unit = model.digest(d)

  def plan(seed: Long, n: Int, stream: String): IndexedSeq[ROp] = {
    val r = Rng(seed, s"registry-ops-$stream")
    val arts = r.shuffle(model.artifacts)
    val artZipf = new Zipf(arts.length)
    val heads = r.shuffle(model.families.filter(_.last.visible).map(_.last))
    val headZipf = new Zipf(heads.length)
    val labelZipf = new Zipf(model.nLabels)
    val wordZipf = new Zipf(300)
    val trZipf = new Zipf(model.nTransforms)
    val kinds = Iterator.continually(r.shuffle(Cycle)).flatten.take(n).toIndexedSeq
    kinds.map {
      case "get_uid" =>
        val a = arts(artZipf.sample(r)); ROp("get_uid", Seq(a.uid), a.id)
      case "get_prefix" =>
        val a = heads(headZipf.sample(r)); ROp("get_prefix", Seq(a.uid.take(8)), a.id)
      case "field" =>
        val p = s"proj${r.int(20)}/"; val lt = 100000L + r.int(900000)
        ROp("field", Seq(p, lt), model.countField(p, lt))
      case "fk" =>
        val t = trZipf.sample(r); ROp("fk", Seq(model.transformKeys(t)), model.countFk(t))
      case "m2m" =>
        val l = labelZipf.sample(r) + 1L; ROp("m2m", Seq(model.labels((l - 1).toInt)), model.countM2m(l))
      case "eav" =>
        val v = r.int(model.nValues); ROp("eav", Seq(v), model.countEav(v))
      case "search" =>
        val w = Vocab.words(wordZipf.sample(r)); ROp("search", Seq(w), math.min(20L, model.countSearch(w)))
      case "to_dataframe" =>
        val l = labelZipf.sample(r) + 1L
        ROp("to_dataframe", Seq(model.labels((l - 1).toInt)), model.countM2m(l))
      case "lookup" => ROp("lookup", Nil, model.nLabels.toLong)
      case "get_by_paths" =>
        val as = Seq.fill(5)(arts(artZipf.sample(r))).distinct
        ROp("get_by_paths", as.map(_.uid), as.map(_.id).sum)
      case "lineage" =>
        // upstream from the last layer, or downstream from a first-layer run
        // whose descendants reach the last layer: every traversal crosses
        // all five layers
        val up = r.chance(0.5)
        val run = if (up) r.pick(lastLayerRuns) else r.pick(fullDepthRoots)
        ROp("lineage", Seq(run, up), model.lineage(run, up))
    }
  }

  def setup(dir: String): Unit = {
    storageRoot = s"$dir/storage"
    cat = Catalog.deterministic(spark, s"$dir/catalog", seed)
    store = new ArtifactStore(cat)
    model.materialise(spark, cat, storageRoot)
  }

  private def artifacts: QuerySet = tr("catalog", "table")(QuerySet(cat, "artifact"))

  def run(op: ROp, input: Any): Any = op.kind match {
    case "get_uid" | "get_prefix" =>
      val qs = artifacts
      tr("query", "get")(qs.get(op.args.head.asInstanceOf[String]).getAs[Long]("id"))
    case "field" =>
      val qs = artifacts
      tr("query", "filter")(qs.filter("key__startswith" -> op.args(0), "size__lt" -> op.args(1)).count())
    case "fk" =>
      val qs = artifacts
      tr("query", "fk")(qs.filter("run__transform__key" -> op.args.head).count())
    case "m2m" =>
      val qs = artifacts
      tr("query", "m2m")(qs.filter("ulabels__name" -> op.args.head).count())
    case "eav" =>
      tr("eav", "feature_filter") {
        new ArtifactFeatures(cat).querySet.filter("n_cells__gt" -> op.args.head).count()
      }
    case "search" =>
      val qs = artifacts
      tr("query", "search")(qs.search(op.args.head.asInstanceOf[String], Seq("key", "description"))
        .collect().length.toLong)
    case "to_dataframe" =>
      val qs = artifacts
      tr("query", "to_dataframe") {
        val (df, truncated) = qs.filter("ulabels__name" -> op.args.head).toDataFrame()
        (df.collect().length.toLong, truncated)
      }
    case "lookup" =>
      val qs = tr("catalog", "table")(QuerySet(cat, "ulabel"))
      tr("query", "lookup")(qs.lookup("name").size.toLong)
    case "get_by_paths" =>
      val paths = op.args.map(u => s"$storageRoot/.lamindb/$u.parquet")
      tr("artifact", "get_by_paths")(store.getByPaths(paths).values.map(_("id").asInstanceOf[Long]).sum)
    case "lineage" =>
      val lin = new Lineage(cat)
      val run = op.args(0).asInstanceOf[Long]
      tr("lineage", "traverse") {
        (if (op.args(1) == true) lin.upstreamRuns(run) else lin.downstreamRuns(run)).count()
      }
  }

  def check(op: ROp, out: Any): Checked = (op.kind, out) match {
    case ("to_dataframe", (rows: Long, truncated: Boolean)) =>
      val want = (math.min(20L, op.expect), op.expect > 20L)
      if ((rows, truncated) == want) Checked(None, rows)
      else Checked(Some(s"to_dataframe ${op.args.head}: got ($rows, $truncated), want $want"))
    case (k, got: Long) =>
      val units = if (k == "get_uid" || k == "get_prefix" || k == "get_by_paths") 1L else got
      if (got == op.expect) Checked(None, units)
      else Checked(Some(s"$k ${op.args.mkString(",")}: got $got, want ${op.expect}"))
    case (k, other) => Checked(Some(s"$k: unexpected result $other"))
  }
}

object RegistryRead {
  val NKeys = 8000
  val NLabels = 1000
  /** Operation shares, out of 20: get 15%, field lookups 15%, FK 10%,
    * M2M 15%, EAV 10%, search 10%, toDataFrame 10%, lookup 5%,
    * getByPaths 5%, lineage 5%.
    */
  val Cycle: IndexedSeq[String] = IndexedSeq(
    "get_uid", "get_uid", "get_prefix", "field", "field", "field", "fk", "fk",
    "m2m", "m2m", "m2m", "eav", "eav", "search", "search", "to_dataframe", "to_dataframe",
    "lookup", "get_by_paths", "lineage")
}

/** One registry read; `expect` is the generator's closed form. */
final case class ROp(kind: String, args: Seq[Any], expect: Long)
