package graft.artifact

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.curate.{SchemaSpec, SlotsCurator}

/** Spark-native AnnData (the SURVEY §7.4 ingest bridge).
  *
  * The reference's core datatype is a backed AnnData file: an
  * observations × variables matrix `X` with aligned metadata frames
  * `obs` and `var`, sliceable without loading
  * (`core/storage/_anndata_accessor.py:516-700`,
  * `_backed_access.py:108-121`) and ingested via `Artifact.from_anndata`
  * (`models/artifact.py:2374`). HDF5/zarr have no JVM/Spark reader, so
  * this bridge re-expresses the same object model in the engine's own
  * terms rather than parsing those containers:
  *
  *  - `obs`  — one row per observation, keyed `obs_id`;
  *  - `vars` — one row per variable, keyed `var_id` with a `var_name`;
  *  - `x`    — the matrix in COO long form `(obs_id, var_id, value)`.
  *
  * COO is the deliberate 100 TB layout: it is sparse-natural (absent
  * entries cost nothing), partitionable on `obs_id` so obs-slicing is
  * partition-pruned, and every downstream op (slice, per-var aggregate,
  * matrix join) is an equi-join/group-by Catalyst can plan — none of
  * which holds for a dense row-major array column. A dense view stays
  * one `pivot` away for bounded variable counts (`xWide`).
  *
  * Slicing mirrors `AnnDataAccessorSubset.__getitem__`
  * (`_anndata_accessor.py:636-655`): predicates restrict `obs`/`vars`,
  * and `x` plus per-axis aux matrices follow through semi-joins —
  * declared lazily, so Catalyst pushes the predicate into every scan and
  * the matrix is never materialized wider than the slice.
  */
/** One `uns` (unstructured metadata) value: scalar, 1-D array, or nested
  * mapping — the anndata element encodings `numeric-scalar`/`string`/
  * `array`/`string-array`/`dict` (`_anndata_accessor.py:516-700`). Axis
  * metadata is driver-sized by contract; `uns` follows the same rule.
  */
sealed trait UnsValue
object UnsValue {
  final case class Scalar(value: Any) extends UnsValue
  final case class Arr(values: Seq[Any]) extends UnsValue
  final case class Mapping(items: Map[String, UnsValue]) extends UnsValue
}

/** One `uns` leaf in the element encoding both containers write: `dtype`
  * is 'b' (bool), 's' (string), 'f' (f8) or 'i' (i8), and `values` are
  * boxed as Boolean, String, Double or Long to match.
  */
private[graft] final case class UnsLeaf(dtype: Char, values: IndexedSeq[Any], scalar: Boolean) {
  /** The anndata `encoding-type` of the leaf's node. */
  def encoding: String =
    if (scalar) { if (dtype == 's') "string" else "numeric-scalar" }
    else if (dtype == 's') "string-array" else "array"
}

private[graft] object UnsLeaf {
  /** The one element classification: all Boolean → bool, all String →
    * string, integral numbers with any Float or Double → f8, all integral
    * → i8, an empty array → f8. Anything else (null, mixed kinds, other
    * numbers) is rejected.
    */
  def classify(xs: Seq[Any], scalar: Boolean): UnsLeaf = {
    def integral(x: Any) = x match {
      case _: Long | _: Int | _: Short | _: Byte => true
      case _ => false
    }
    val dtype =
      if (xs.isEmpty) 'f'
      else if (xs.forall(_.isInstanceOf[Boolean])) 'b'
      else if (xs.forall(_.isInstanceOf[String])) 's'
      else if (xs.forall(integral)) 'i'
      else if (xs.forall(x => integral(x) || x.isInstanceOf[Float] || x.isInstanceOf[Double])) 'f'
      else throw new UnsupportedOperationException(
        s"uns ${if (scalar) "scalar" else "array"} of unsupported element types (${xs.take(3)})")
    UnsLeaf(dtype, dtype match {
      case 'i' => xs.map(_.asInstanceOf[Number].longValue: Any).toIndexedSeq
      case 'f' => xs.map(_.asInstanceOf[Number].doubleValue: Any).toIndexedSeq
      case _ => xs.toIndexedSeq
    }, scalar)
  }
}

/** The `raw` slot: the pre-filter variable axis and matrix an AnnData
  * carries alongside the working X (`adata.raw`).
  */
final case class RawSlots(vars: DataFrame, x: DataFrame,
                          varm: Map[String, DataFrame] = Map.empty)

final case class AnnDataset(obs: DataFrame, vars: DataFrame, x: DataFrame,
                            obsm: Map[String, DataFrame] = Map.empty,
                            layers: Map[String, DataFrame] = Map.empty,
                            varm: Map[String, DataFrame] = Map.empty,
                            obsp: Map[String, DataFrame] = Map.empty,
                            uns: Map[String, UnsValue] = Map.empty,
                            raw: Option[RawSlots] = None) {

  def nObs: Long = obs.count()
  def nVars: Long = vars.count()
  def shape: (Long, Long) = (nObs, nVars)

  /** `adata[mask, :]` — restrict observations; X / layers / obsm follow,
    * obsp on both of its obs axes. `raw` X follows too (raw keeps its own
    * var axis but shares obs). `uns`/`varm` are obs-independent.
    */
  def subsetObs(pred: Column): AnnDataset = {
    val kept = obs.filter(pred)
    val keptIds = kept.select("obs_id")
    copy(
      obs = kept,
      x = x.join(keptIds, Seq("obs_id"), "left_semi"),
      obsm = obsm.map { case (k, m) => k -> m.join(keptIds, Seq("obs_id"), "left_semi") },
      layers = layers.map { case (k, l) => k -> l.join(keptIds, Seq("obs_id"), "left_semi") },
      obsp = obsp.map { case (k, p) => k ->
        p.join(keptIds, Seq("obs_id"), "left_semi")
          .join(keptIds.withColumnRenamed("obs_id", "obs_id_2"), Seq("obs_id_2"), "left_semi") },
      raw = raw.map(r => r.copy(x = r.x.join(keptIds, Seq("obs_id"), "left_semi"))))
  }

  /** `adata[:, mask]` — restrict variables; X / layers / varm follow.
    * `raw` is by definition NOT var-sliced (it keeps the full axis).
    */
  def subsetVars(pred: Column): AnnDataset = {
    val kept = vars.filter(pred)
    // broadcast the kept var ids: the var axis is the bounded feature
    // dimension (same justification as the perVarStats name-attach
    // broadcast below), and the native X frames expose no size stats,
    // so without the hint the planner shuffle-sorts the FULL matrix for
    // a semi-join against a handful of ids (SortMergeJoin in a05's
    // plan) — at corpus scale that is a full-matrix exchange for a
    // feature-space filter
    val keptIds = broadcast(kept.select("var_id"))
    copy(
      vars = kept,
      x = x.join(keptIds, Seq("var_id"), "left_semi"),
      layers = layers.map { case (k, l) => k -> l.join(keptIds, Seq("var_id"), "left_semi") },
      varm = varm.map { case (k, m) => k -> m.join(keptIds, Seq("var_id"), "left_semi") })
  }

  /** Dense view: one row per obs, one column per var_name (the in-memory
    * AnnData orientation, `to_memory`). Only sane for bounded var counts
    * — the pivot is capped to guard against accidentally materializing a
    * 100 TB matrix wide.
    */
  def xWide(maxVars: Int = 10000): DataFrame = {
    val names = vars.orderBy("var_id").select("var_id", "var_name")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    require(names.length <= maxVars,
      s"xWide on ${names.length} vars exceeds maxVars=$maxVars; stay in COO form at this width")
    val byName = x.join(broadcast(vars.select("var_id", "var_name")), "var_id")
    byName.groupBy("obs_id")
      .pivot("var_name", names.map(_._2).toSeq)
      .agg(first("value"))
  }

  /** Per-variable aggregate over the current slice — the bridge's
    * workhorse (mean expression per gene, etc.): ONE shuffle on var_id.
    */
  def perVarStats: DataFrame =
    x.groupBy("var_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("value").cast("decimal(28,10)")).as("sum_value"))
      .join(broadcast(vars.select("var_id", "var_name")), "var_id")
}

object AnnDataset {

  /** The matrix slot groups of the anndata layout with their engine axis
    * columns (row, column). A store matrix is COO `(obs_id, var_id,
    * value)` on disk in both containers; `raw/X` and `raw/varm` take X's
    * and varm's names.
    */
  private val Axes = Map("X" -> ("obs_id", "var_id"), "obsm" -> ("obs_id", "dim_id"),
    "layers" -> ("obs_id", "var_id"), "varm" -> ("var_id", "dim_id"),
    "obsp" -> ("obs_id", "obs_id_2"))

  private def aux(ds: AnnDataset): Seq[(String, Map[String, DataFrame])] =
    Seq("obsm" -> ds.obsm, "layers" -> ds.layers, "varm" -> ds.varm, "obsp" -> ds.obsp)

  /** Every frame and matrix slot of `ds` as a layout path ("obs",
    * "obsm/X_pca", "raw/varm/PCs", ...).
    */
  private[graft] def slots(ds: AnnDataset): Seq[String] = {
    def names(g: String, ms: Map[String, DataFrame]) = ms.keys.toSeq.sorted.map(n => s"$g/$n")
    Seq("obs", "var", "X") ++ aux(ds).flatMap { case (g, ms) => names(g, ms) } ++
      ds.raw.toSeq.flatMap(r => Seq("raw/var", "raw/X") ++ names("raw/varm", r.varm))
  }

  /** The members of `s` under `prefix/`, relative to it. */
  private def scoped(prefix: String, s: Set[String]): Set[String] =
    s.collect { case k if k.startsWith(prefix + "/") => k.stripPrefix(prefix + "/") }

  /** An anndata group opened slot by slot as lazy DataSource V2 scans —
    * `spark.read.format(format).option("slot", …).load(path)` — the one
    * slot surface of [[graft.h5.AnnH5.open]] and
    * [[graft.zarr.AnnZarr.open]]. `p` is the group prefix ("" or ending
    * in "/"); `children(slot)` lists a slot group's members (Nil when
    * absent); `checkMatrix(slot)` validates a matrix slot before it is
    * scanned. Matrix scans are COO `(obs_id, var_id, value)`, renamed to
    * the engine's axis naming ([[Axes]]).
    */
  private[graft] def scan(spark: SparkSession, format: String, path: String, p: String,
                          children: String => Seq[String], checkMatrix: String => Unit,
                          uns: Map[String, UnsValue]): AnnDataset = {
    def load(slot: String): DataFrame =
      spark.read.format(format).option("slot", p + slot).load(path)
    def matrix(slot: String): DataFrame = { checkMatrix(p + slot); load(slot) }
    def matrices(group: String): Map[String, DataFrame] = {
      val (row, c) = Axes(group.stripPrefix("raw/"))
      children(group).map(n => n ->
        matrix(s"$group/$n").withColumnRenamed("var_id", c).withColumnRenamed("obs_id", row)).toMap
    }
    AnnDataset(
      obs = load("obs"), vars = load("var"), x = matrix("X"),
      obsm = matrices("obsm"), layers = matrices("layers"),
      varm = matrices("varm"), obsp = matrices("obsp"),
      uns = uns,
      raw = if (children("raw").isEmpty) None
        else Some(RawSlots(load("raw/var"), matrix("raw/X"), matrices("raw/varm"))))
  }

  /** The node encoders of one container, driven by [[write]]. `N` is what
    * a written node hands its parent group (h5ad: the object-header
    * address; zarr: nothing). Paths are relative to the container root.
    */
  private[graft] trait Sink[N] {
    /** An axis frame keyed by `rowId`, `idName` as its index; returns the
      * node and the frame's row count.
      */
    def frame(rel: String, df: DataFrame, rowId: String, idName: String,
              cats: Set[String]): (N, Long)

    /** A COO matrix as a dense 2-D `array` or a `csr_matrix` group. */
    def matrix(rel: String, coo: DataFrame, rowCol: String, colCol: String,
               nRows: Long, nCols: Long, dense: Boolean): N

    def uns(rel: String, leaf: UnsLeaf): N

    /** A group with `encoding` (type, version). Each child is written when
      * its thunk runs, so the container puts the group's own metadata
      * before its children (zarr) or after them (h5ad, whose header holds
      * their addresses).
      */
    def group(rel: String, encoding: (String, String), children: Seq[(String, () => N)]): N
  }

  private val Dict = ("dict", "0.1.0")

  /** Write `ds` as one anndata group at `rel` through `sink` — the one
    * slot walk of [[graft.h5.AnnH5Writer]] and
    * [[graft.zarr.AnnZarrWriter]], with [[scan]]'s slot names and axes:
    * obs, var, X, obsm, layers, varm, obsp, uns and raw (var, X, varm).
    * Slots named in `denseSlots` write dense, frame columns named in
    * `categoricalCols` categorical (both relative to the group, e.g.
    * "obsm/X_pca", "obs/cell_type"). The obs and var extents are the
    * frame writes' row counts; a `dim_id` extent is max + 1.
    */
  private[graft] def write[N](sink: Sink[N], rel: String, ds: AnnDataset,
                              denseSlots: Set[String], categoricalCols: Set[String]): N = {
    def at(slot: String) = if (rel.isEmpty) slot else s"$rel/$slot"
    def frame(slot: String, df: DataFrame, axis: String): (N, Long) =
      sink.frame(at(slot), df, s"${axis}_id", s"${axis}_name", scoped(slot, categoricalCols))
    lazy val obs = frame("obs", ds.obs, "obs")
    lazy val vars = frame("var", ds.vars, "var")
    // `kind` keys Axes; a dim-axis matrix may carry its second axis as var_id
    def matrix(kind: String, slot: String, m: DataFrame, nVar: => Long): N = {
      val (row, c0) = Axes(kind)
      val c = if (c0 == "dim_id" && !m.columns.contains(c0)) "var_id" else c0
      def extent(axis: String): Long = if (axis == "var_id") nVar else obs._2
      val nCols =
        if (c0 == "dim_id") m.agg(coalesce(max(col(c)), lit(-1L))).collect().head.getLong(0) + 1
        else extent(c)
      sink.matrix(at(slot), m, row, c, extent(row), nCols, denseSlots(slot))
    }
    def group(slot: String, ms: Map[String, DataFrame], nVar: => Long): Seq[(String, () => N)] = {
      val kind = slot.split('/').last
      if (ms.isEmpty) Nil
      else Seq(kind -> (() => sink.group(at(slot), Dict, ms.toSeq.sortBy(_._1).map { case (n, m) =>
        n -> (() => matrix(kind, s"$slot/$n", m, nVar))
      })))
    }
    def uns(slot: String, v: UnsValue): N = v match {
      case UnsValue.Mapping(items) => sink.group(at(slot), Dict, items.toSeq.sortBy(_._1).map {
        case (k, cv) => k -> (() => uns(s"$slot/$k", cv))
      })
      case UnsValue.Scalar(x) => sink.uns(at(slot), UnsLeaf.classify(Seq(x), scalar = true))
      case UnsValue.Arr(xs) => sink.uns(at(slot), UnsLeaf.classify(xs, scalar = false))
    }
    sink.group(rel, ("anndata", "0.1.0"),
      Seq("obs" -> (() => obs._1), "var" -> (() => vars._1),
        "X" -> (() => matrix("X", "X", ds.x, vars._2))) ++
        aux(ds).flatMap { case (g, ms) => group(g, ms, vars._2) } ++
        (if (ds.uns.isEmpty) Nil else Seq("uns" -> (() => uns("uns", UnsValue.Mapping(ds.uns))))) ++
        ds.raw.toSeq.map { r => "raw" -> (() => {
          lazy val rawVars = frame("raw/var", r.vars, "var")
          sink.group(at("raw"), ("raw", "0.1.0"),
            Seq("var" -> (() => rawVars._1), "X" -> (() => matrix("X", "raw/X", r.x, rawVars._2))) ++
              group("raw/varm", r.varm, rawVars._2))
        })
        })
  }

  /** Write a MuData container through `sink`: the root carries the MuData
    * encoding and `mod/` one anndata group per modality ([[write]]), with
    * `denseSlots`/`categoricalCols` qualified by modality
    * ("rna/obsm/X_pca").
    */
  private[graft] def writeMu[N](sink: Sink[N], mods: Map[String, AnnDataset],
                                denseSlots: Set[String], categoricalCols: Set[String]): N =
    sink.group("", ("MuData", "0.1.0"), Seq("mod" -> (() =>
      sink.group("mod", Dict, mods.toSeq.sortBy(_._1).map { case (m, ds) =>
        m -> (() => write(sink, s"mod/$m", ds, scoped(m, denseSlots), scoped(m, categoricalCols)))
      }))))
}

object AnnBridge {

  /** `Artifact.from_anndata` (`artifact.py:2374-2498`): persist the three
    * aligned tables as ONE managed directory artifact with
    * `otype="AnnData"` and `n_observations` from `obs`. Aux matrices
    * (obsm embeddings, layers) persist as additional slots. Content-hash
    * idempotent like every artifact constructor.
    */
  /** `Artifact.from_anndata(path)` over a NATIVE `.h5ad` file: the
    * container is parsed in the JVM (graft.h5 — no h5py, no bridge
    * pre-conversion) and ingested through the standard slot path.
    */
  def ingestH5ad(store: ArtifactStore, spark: org.apache.spark.sql.SparkSession,
                 h5adPath: String, key: String, storageRoot: String): Map[String, Any] =
    ingest(store, graft.h5.AnnH5.open(spark, h5adPath), key, storageRoot)

  def ingest(store: ArtifactStore, ds: AnnDataset, key: String, storageRoot: String,
             description: String = null, validateShape: Boolean = false): Map[String, Any] = {
    if (validateShape) {
      // X must be aligned: every coordinate resolves in obs/vars
      val orphanObs = ds.x.join(ds.obs.select("obs_id"), Seq("obs_id"), "left_anti").count()
      val orphanVar = ds.x.join(ds.vars.select("var_id"), Seq("var_id"), "left_anti").count()
      require(orphanObs == 0 && orphanVar == 0,
        s"X is misaligned: $orphanObs entries without obs row, $orphanVar without var row")
    }
    // n_observations = the obs slot's row count, measured on the slot's
    // own write job (nObsSlot) — not a separate ds.obs.count() pass
    store.fromSlots(slotsOf(ds), key, storageRoot, suffix = ".anndata", otype = "AnnData",
      description = description, nObsSlot = Some("obs"))
  }

  /** The persisted slots of a dataset, in write order: obs, var, X, then
    * the obsm and layers matrices sorted by name.
    */
  private def slotsOf(ds: AnnDataset): Seq[(String, DataFrame)] =
    Seq("obs" -> ds.obs, "var" -> ds.vars, "X" -> ds.x) ++
      ds.obsm.toSeq.sortBy(_._1).map { case (k, m) => s"obsm.$k" -> m } ++
      ds.layers.toSeq.sortBy(_._1).map { case (k, l) => s"layers.$k" -> l }

  /** Backed open: every slot is a lazy Parquet scan — nothing loads until
    * a query touches it (the accessor's backed contract).
    */
  def open(store: ArtifactStore, uid: String): AnnDataset = {
    val slots = store.listSlots(uid)
    require(Seq("obs", "var", "X").forall(slots.contains),
      s"artifact $uid is not an AnnData bridge artifact (slots: ${slots.mkString(", ")})")
    AnnDataset(
      obs = store.openSlot(uid, "obs"),
      vars = store.openSlot(uid, "var"),
      x = store.openSlot(uid, "X"),
      obsm = slots.filter(_.startsWith("obsm."))
        .map(s => s.stripPrefix("obsm.") -> store.openSlot(uid, s)).toMap,
      layers = slots.filter(_.startsWith("layers."))
        .map(s => s.stripPrefix("layers.") -> store.openSlot(uid, s)).toMap)
  }

  /** Slot holding the registration ledger (appended-slice content hashes)
    * inside the bridge artifact — the persisted analog of tiledbsoma's
    * `registration_mapping` resume state.
    */
  private val LedgerSlot = "registered_slices"

  /** Deterministic content hash of a slice (obs + var + X + aux slots):
    * per-slot commutative sum of per-row xxhash64 over all columns, slot
    * sums md5-combined. Row order and partitioning can't change it, so a
    * re-run of the same ingest batch hashes identically.
    */
  def sliceHash(ds: AnnDataset): String = {
    // per-slot hash jobs are independent — overlap them via the shared
    // await-all pool (guide §2.6; Par.results); the md5 combine keeps
    // the deterministic slot order
    val parts = graft.core.Par.results(slotsOf(ds).map { case (name, df) =>
      () => {
        // to_json keeps field names, so a null/missing field can't alias a
        // neighboring column's value the way a plain concat would
        val cols = df.columns.sorted.map(c => col(c).cast("string").as(c))
        // decimal sum: a long sum of 64-bit hashes overflows (ANSI error)
        val s = df.select(xxhash64(to_json(struct(cols.toIndexedSeq: _*)))
            .cast("decimal(38,0)").as("h"))
          .agg(coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
          .head.getDecimal(0)
        s"$name:$s"
      }
    })
    graft.core.Hashing.md5String(parts.mkString("|"))
  }

  /** Append-with-reindex — the growing-corpus ingest path, the engine's
    * analog of `save_tiledbsoma_experiment(..., revises=artifact)`
    * (`core/storage/_tiledbsoma.py:166-351`): append a new obs slice into
    * an existing bridge artifact as a NEW VERSION of the same family.
    *
    *  - Obs axis always grows (soma registers every incoming obs row as a
    *    fresh joinid): incoming obs are reindexed to sequential global ids
    *    starting past the current axis — `max(obs_id)+1` in this bridge's
    *    caller-supplied-id model, the dense-joinid equivalent of "offset
    *    by current n_obs". X / obsm / layers follow through the mapping.
    *  - Var axis registers BY NAME (`var_id_name` registration): an
    *    incoming var whose name exists reuses the existing var_id; unseen
    *    names get fresh ids past the current max, ordered by name.
    *  - Idempotent resume (`registration_mapping`): the artifact carries a
    *    ledger slot of appended-slice content hashes; re-appending an
    *    already-registered slice returns the current artifact untouched,
    *    so a crashed-and-rerun ingest job cannot double-append.
    */
  def appendObs(store: ArtifactStore, baseUid: String, slice: AnnDataset,
                storageRoot: String, description: String = null): Map[String, Any] = {
    import org.apache.spark.sql.expressions.Window
    val art = store.getByUid(baseUid)
    val key = art("key").toString
    val base = open(store, baseUid)
    val spark = slice.obs.sparkSession
    import spark.implicits._

    // the slice hash (per-slot agg jobs) and the two axis-offset
    // aggregates are independent read-only probes — overlap them from
    // the shared driver pool (guide §2.6) instead of paying three full
    // sequential job latencies; the offsets are computed speculatively
    // on the resume path (two tiny max() jobs wasted there, hidden
    // under the slice-hash wall)
    val probes = graft.core.Par.results[Any](Seq(
      () => sliceHash(slice),
      () => base.obs.agg(coalesce(max(col("obs_id")), lit(-1L))).head.getLong(0) + 1,
      () => base.vars.agg(coalesce(max(col("var_id")), lit(-1L))).head.getLong(0) + 1))
    val sh = probes(0).asInstanceOf[String]
    val ledger =
      if (store.listSlots(baseUid).contains(LedgerSlot)) store.openSlot(baseUid, LedgerSlot)
      else Seq.empty[String].toDF("slice_hash")
    if (ledger.filter(col("slice_hash") === sh).head(1).nonEmpty)
      return art // slice already registered: resume is a no-op

    // ---- obs registration: sequential ids past the current axis ------
    // the registration step is a bounded global sort over the INCOMING
    // batch only (row_number over one window) — never over the store
    val obsOffset = probes(1).asInstanceOf[Long]
    val obsMap = slice.obs.select(col("obs_id").as("__src_obs"))
      .distinct()
      .withColumn("__dst_obs",
        lit(obsOffset) + row_number().over(Window.orderBy("__src_obs")) - 1)

    // ---- var registration by name --------------------------------------
    val varOffset = probes(2).asInstanceOf[Long]
    val byName = slice.vars
      .select(col("var_id").as("__src_var"), col("var_name"))
      .join(base.vars.select(col("var_name"), col("var_id").as("__dst_var")),
        Seq("var_name"), "left")
    val freshVars = byName.filter(col("__dst_var").isNull)
      .withColumn("__dst_var",
        lit(varOffset) + row_number().over(Window.orderBy("var_name")) - 1)
    val varMap = byName.filter(col("__dst_var").isNotNull)
      .unionByName(freshVars)
      .select(col("__src_var"), col("__dst_var"), col("var_name"))

    def remapObs(df: DataFrame): DataFrame = df
      .join(obsMap, df("obs_id") === obsMap("__src_obs"))
      .drop("obs_id", "__src_obs").withColumnRenamed("__dst_obs", "obs_id")
    def remapVar(df: DataFrame): DataFrame = df
      .join(varMap.select("__src_var", "__dst_var"), df("var_id") === col("__src_var"))
      .drop("var_id", "__src_var").withColumnRenamed("__dst_var", "var_id")

    val mergedObs = base.obs.unionByName(remapObs(slice.obs))
    val mergedVars = base.vars.unionByName(
      freshVars.select(col("__dst_var").as("var_id"), col("var_name")))
    val mergedX = base.x.unionByName(
      remapVar(remapObs(slice.x)).select("obs_id", "var_id", "value"))
    def mergeAux(b: Map[String, DataFrame], s: Map[String, DataFrame],
                 remap: DataFrame => DataFrame): Map[String, DataFrame] =
      (b.keySet ++ s.keySet).map { k =>
        k -> ((b.get(k), s.get(k)) match {
          case (Some(bd), Some(sd)) => bd.unionByName(remap(sd))
          case (Some(bd), None)     => bd
          case (None, Some(sd))     => remap(sd)
          case _                    => sys.error("unreachable")
        })
      }.toMap
    val mergedObsm = mergeAux(base.obsm, slice.obsm, remapObs)
    val mergedLayers = mergeAux(base.layers, slice.layers,
      df => remapVar(remapObs(df)).select("obs_id", "var_id", "value"))

    val slots = slotsOf(AnnDataset(mergedObs, mergedVars, mergedX, mergedObsm, mergedLayers)) :+
      (LedgerSlot -> ledger.unionByName(Seq(sh).toDF("slice_hash")))
    // same key + new content hash → the family machinery mints the next
    // version uid and flips is_latest heads (the registration commit).
    // n_observations rides the obs slot's write (nObsSlot): counting the
    // merged obs would re-run the whole base∪remapped-slice obs plan for
    // a count the write already materializes.
    store.fromSlots(slots, key, storageRoot, suffix = ".anndata", otype = "AnnData",
      description = description, nObsSlot = Some("obs"))
  }

  /** `AnnDataCurator` (`curators/core.py:1155`): slot-wise curation over
    * the REAL slots this bridge materializes. The reference validates
    * `obs` columns and the columns of `var.T` (i.e. the var NAMES, e.g.
    * gene ids); in relational form the latter is exactly a categorical
    * membership check of `var_name` — express it in `varSpec` with a
    * `catRegistry` on `var_name`.
    */
  def curate(ds: AnnDataset, obsSpec: SchemaSpec, varSpec: SchemaSpec)
      : Seq[SlotsCurator.SlotReport] =
    SlotsCurator.validate(Map("obs" -> (ds.obs, obsSpec), "var" -> (ds.vars, varSpec)))
}
