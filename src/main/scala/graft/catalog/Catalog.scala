package graft.catalog

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import graft.core.{Base62, Fs, Par, Versioning}

/** Parquet-backed metadata catalog with copy-on-write snapshots.
  *
  * Mirrors the role of the reference's SQL metadata database
  * (SQLite/Postgres behind Django, `lamindb/models/sqlrecord.py`), adapted
  * to an immutable data-lake substrate:
  *
  *  - the root may be any Hadoop URI (a local path, `file:`, an object
  *    store); every byte goes through [[graft.core.Fs]];
  *  - each registry table is a directory of versioned parquet snapshots
  *    `<root>/<table>/v<N>`; `<root>/_manifest.json` (`{"table": N}`)
  *    points at the current versions. A commit replaces it whole
  *    (`Fs.replace`: on a local root `_manifest.json.tmp`, then one
  *    rename over it, no `.crc` sidecar; on an object store one
  *    overwriting PUT), so a reader sees the old or the new manifest. One writer per catalog root is the caller's
  *    contract; nothing enforces it yet (ROADMAP direction 1);
  *  - inserts accumulate in a driver-side buffer (the reference batches
  *    bulk saves at 10k rows, `models/save.py:31`) and are unioned into
  *    reads until flushed. `flush(names*)` (and `flushAll`, over every
  *    table) is one commit over several tables: their new versions are
  *    written concurrently, then one manifest save installs them all, so
  *    a failed write leaves the manifest and every buffer unchanged;
  *  - idempotent inserts enter through `ensure` (the reference's
  *    `get_or_create`, `feature.py:1703-1716`): each input row is matched
  *    on its key columns against snapshot ∪ buffer with one filtered
  *    collect; a key matches null-safely (a null or missing key value
  *    matches a stored null), the first stored match is returned, and
  *    the first row of a key repeated within one call is the one
  *    inserted (later repeats return it). Inserts keep input order;
  *  - row updates enter through `update` (set columns where a predicate
  *    holds) and `insertVersion` (new head of a version family, demoting
  *    the family's other heads on the current branch); both are one
  *    whole-table copy-on-write rewrite of snapshot ∪ buffer, and
  *    `insertVersion` buffers the new head before that rewrite, so the
  *    demotion and the new head become durable in one snapshot. Registry
  *    tables are metadata (small relative to the data plane), and
  *    rewrites are Spark jobs so they scale with the cluster, not the
  *    driver. `overwrite` stays for rewrites that drop rows or need a
  *    different predicate per column;
  *  - driver values derived from registry tables (the lineage run DAG's
  *    adjacency, the feature dictionary, the storage-root map, the
  *    indexes below) are memoized through `memo`, keyed by each source
  *    table's content generation: `insert` and `overwrite` (so `ensure`,
  *    `update` and `insertVersion` through them) bump it, while `flush`
  *    and `vacuum` move the same rows into new files and leave it. A
  *    memoized value is recomputed exactly when a read of its tables
  *    could differ, and successive reads of an unchanged catalog, flushed
  *    or not, run no Spark job for it;
  *  - `index(table, keyCol, valueCol)` is a memoized driver multimap from
  *    a column's values to the ids in another column of the same rows
  *    (snapshot ∪ buffer), built with one two-column collect. It is
  *    offered only while the table holds at most `IndexRowLimit` rows
  *    (counted from parquet footers, no job), the measured size up to
  *    which a read right after a write still gains and which bounds the
  *    driver heap an index holds; otherwise callers keep their join plan.
  *    The session's broadcast threshold plays no part: a plan-stats size
  *    estimate bounds no heap. QuerySet
  *    traversals and the EAV filter resolve `exact`/`in` lookups through
  *    these to an `id IN (...)` predicate.
  *
  * `seed` makes uid generation and the clock deterministic, which the
  * correctness harness needs; production use passes seed=None semantics via
  * `Catalog.random`.
  */
final class Catalog(
    val spark: SparkSession,
    val root: String,
    rng: java.util.Random,
    val clock: () => Timestamp
) {
  import Catalog._

  private val buffers = mutable.Map.empty[String, mutable.ArrayBuffer[Row]]
  private val maxIds = mutable.Map.empty[String, Long]
  private val snapshotCache = mutable.Map.empty[String, DataFrame]
  private val snapshotRows = mutable.Map.empty[String, Long] // "<table>/v<N>" -> rows, for `fits`
  private val manifest = mutable.Map.empty[String, Int] // table -> version
  private val memos = mutable.Map.empty[String, (Seq[Long], Any)]
  /** table -> content generation: bumped by every write that can change
    * what `table(name)` returns, never by a flush.
    */
  private val generations = mutable.Map.empty[String, Long]

  /** Branch visibility context (reference: `branch_id` on SQLRecord). */
  var currentBranchId: Long = MainBranchId
  /** Spaces this catalog's caller reads BY DEFAULT (reference: Space,
    * `models/sqlrecord.py:1702`); the "all" space is always included.
    * Drives the default-visibility injection in QuerySet — a scoping
    * convenience, not the reference's non-bypassable Postgres RLS (an
    * explicit space filter or id/uid/hash addressing reads outside it).
    */
  var visibleSpaceIds: Seq[Long] = Seq(AllSpaceId)
  /** Space new records are written into when set (reference: run-context /
    * settings space, `models/sqlrecord.py:1193-1205`); None = "all" space.
    */
  var currentSpaceId: Option[Long] = None
  /** Active run for lineage auto-linking; set by Lineage.track. */
  var currentRunId: Option[Long] = None
  /** Audit identity: fills `created_by_id` on insert when set (the
    * reference's `current_user_id` default on every TracksRun model).
    */
  var currentUserId: Option[Long] = None

  locally { loadManifest() }

  def uid(n: Int): String = Base62.randomWith(n, rng)
  def newUidFor(t: TableDef): String =
    if (t.versioned) Versioning.createUid(rng) else uid(t.uidLen)

  def tableDef(name: String): TableDef =
    Schemas.byName.getOrElse(name, throw new IllegalArgumentException(s"unknown registry '$name'"))

  // ---------------------------------------------------------------- reads

  private def snapshotDf(name: String): Option[DataFrame] =
    manifest.get(name).map { v =>
      snapshotCache.getOrElseUpdate(s"$name/v$v",
        spark.read.schema(tableDef(name).schema).parquet(s"$root/$name/v$v"))
    }

  private def bufferDf(name: String): Option[DataFrame] =
    buffers.get(name).filter(_.nonEmpty).map { rows =>
      spark.createDataFrame(rows.toList.asJava, tableDef(name).schema)
    }

  /** Current view of a registry table (snapshot ∪ unflushed buffer). */
  def table(name: String): DataFrame = {
    val t = tableDef(name)
    (snapshotDf(name), bufferDf(name)) match {
      case (Some(s), Some(b)) => s.unionByName(b)
      case (Some(s), None)    => s
      case (None, Some(b))    => b
      case (None, None)       => spark.createDataFrame(List.empty[Row].asJava, t.schema)
    }
  }

  /** `compute`'s value, reused while every table in `tables` keeps its
    * content generation. One entry per `key`.
    */
  def memo[T](key: String, tables: Seq[String])(compute: => T): T = {
    val state = tables.map(generations.getOrElse(_, 0L))
    memos.get(key) match {
      case Some((`state`, v)) => v.asInstanceOf[T]
      case _ =>
        val v = compute
        memos(key) = (state, v)
        v
    }
  }

  /** Rows inserted into `name` since its last flush or rewrite. */
  def buffered(name: String): Int = buffers.get(name).fold(0)(_.size)

  /** Whether `name` passes `index`'s gate: snapshot ∪ buffer holds at
    * most `IndexRowLimit` rows. Counted without a Spark job: the buffer's
    * size plus the snapshot version's row count, read once per version
    * from its parquet footers (until the sum passes the limit).
    */
  def fits(name: String): Boolean =
    buffered(name) + manifest.get(name).fold(0L)(v => snapshotRows.getOrElseUpdate(s"$name/v$v", {
      val parts = Fs.parquetLeaves(s"$root/$name/v$v").iterator.filterNot(_.getPath.getName.startsWith("_"))
      var rows = 0L
      while (rows <= IndexRowLimit && parts.hasNext)
        rows += Fs.footer(parts.next(), rowGroups = true).getBlocks.asScala.map(_.getRowCount).sum
      rows
    })) <= IndexRowLimit

  /** Driver multimap from `keyCol`'s values (String, Long or Int; null
    * included) to the non-null `valueCol` ids (Long) of the same rows of
    * snapshot ∪ buffer. Built with one two-column collect and memoized
    * per content generation; None when `name` does not `fit` or the
    * column types are not indexable, so the caller keeps its Spark plan.
    */
  def index(name: String, keyCol: String, valueCol: String): Option[Index] = {
    val schema = tableDef(name).schema
    val keyType = schema(keyCol).dataType
    if (!IndexKeyTypes(keyType) || schema(valueCol).dataType != LongType || !fits(name)) None
    else Some(memo(s"index/$name/$keyCol/$valueCol", Seq(name)) {
      val byKey = mutable.HashMap.empty[Any, mutable.ArrayBuilder.ofLong]
      table(name).select(keyCol, valueCol).filter(col(valueCol).isNotNull).collect().foreach { r =>
        byKey.getOrElseUpdate(r.get(0), new mutable.ArrayBuilder.ofLong) += r.getLong(1)
      }
      new Index(keyType, byKey.map { case (k, ids) => k -> ids.result() }.toMap)
    })
  }

  // --------------------------------------------------------------- writes

  def nextId(name: String): Long = {
    val cur = maxIds.getOrElseUpdate(name, {
      snapshotDf(name) match {
        case Some(df) => Option(df.agg(org.apache.spark.sql.functions.max("id")).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        case None => 0L
      }
    })
    maxIds(name) = cur + 1
    cur + 1
  }

  /** Insert one row given by field map; fills id/uid/audit/branch defaults.
    * Returns the completed row as a Map.
    */
  def insert(name: String, values: Map[String, Any]): Map[String, Any] = {
    val t = tableDef(name)
    val withDefaults: Map[String, Any] = {
      var m = values
      if (!m.contains("id")) m += "id" -> nextId(name)
      if (t.uidLen > 0 && !m.contains("uid")) m += "uid" -> newUidFor(t)
      if (t.hasBranch && !m.contains("branch_id")) m += "branch_id" -> currentBranchId
      if (t.fieldNames.contains("space_id") && !m.contains("space_id"))
        m += "space_id" -> currentSpaceId.getOrElse(AllSpaceId)
      if (t.fieldNames.contains("is_latest") && !m.contains("is_latest")) m += "is_latest" -> true
      if (t.fieldNames.contains("created_at") && !m.contains("created_at")) m += "created_at" -> clock()
      if (t.fieldNames.contains("created_by_id") && !m.contains("created_by_id"))
        currentUserId.foreach(u => m += "created_by_id" -> u)
      m
    }
    requireFields(t, withDefaults.keySet)
    val row = Row.fromSeq(t.schema.fields.map(f => withDefaults.get(f.name).orNull).toSeq)
    buffers.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += row
    bump(name)
    withDefaults
  }

  def insertAll(name: String, rows: Seq[Map[String, Any]]): Seq[Map[String, Any]] =
    rows.map(insert(name, _))

  /** For each row, the stored row whose `key` columns match it, else the
    * row `insert` completes for it. One filtered collect per call: each
    * key column is narrowed to the batch's values (`isin`, plus `isNull`
    * when a value is null or missing) and the exact key match is made on
    * the driver. A key repeated within `rows` is inserted once.
    */
  def ensure(name: String, key: Seq[String], rows: Seq[Map[String, Any]]): Seq[Map[String, Any]] = {
    requireFields(tableDef(name), key.toSet)
    def keyOf(m: Map[String, Any]): Seq[Any] = key.map(m.getOrElse(_, null))
    val keys = rows.map(keyOf).distinct
    if (keys.isEmpty) return Seq.empty
    val narrowed = key.indices.map { i =>
      val values = keys.map(_(i)).distinct
      val present = values.filter(_ != null)
      val in = if (present.isEmpty) lit(false) else col(key(i)).isin(present: _*)
      if (present.size < values.size) in || col(key(i)).isNull else in
    }.reduce(_ && _)
    val found = mutable.Map.empty[Seq[Any], Map[String, Any]]
    table(name).filter(narrowed).collect().foreach { r =>
      val m = r.getValuesMap[Any](r.schema.fieldNames)
      found.getOrElseUpdate(keyOf(m), m)
    }
    rows.map(r => found.getOrElseUpdate(keyOf(r), insert(name, r)))
  }

  private def requireFields(t: TableDef, names: Set[String]): Unit = {
    val unknown = names -- t.fieldNames
    require(unknown.isEmpty, s"unknown fields $unknown for registry '${t.name}'")
  }

  /** Insert the next version of a family (`_is_versioned.py:271-338`).
    * The family is the uids of the rows where `family` holds (one
    * collect); none starts a new family (`newUidFor`) and the row stays
    * buffered. Otherwise the uid is the family's next suffix: the new row
    * is buffered, then one `update` demotes the family's other heads on
    * `currentBranchId`, so the new head and the demotion land in one
    * snapshot and no crash leaves the family without a head. The new row
    * is the head (`is_latest = true`). `beforeWrite` sees the completed
    * row before anything is written (a caller places the row's content
    * there). Returns the completed row.
    */
  def insertVersion(name: String, family: Column, values: Map[String, Any],
                    beforeWrite: Map[String, Any] => Unit = _ => ()): Map[String, Any] = {
    val uids = table(name).filter(family).select("uid").collect().map(_.getString(0)).toSeq
    val uid = if (uids.isEmpty) newUidFor(tableDef(name)) else Versioning.nextUidInFamily(uids)
    val row = insert(name, values ++ Map("uid" -> uid, "is_latest" -> true))
    beforeWrite(row)
    if (uids.nonEmpty)
      update(name, Versioning.sameFamily(uid) && col("branch_id") === currentBranchId && col("uid") =!= uid,
        "is_latest" -> lit(false))
    row
  }

  /** Set columns on the rows where `where` holds: one copy-on-write
    * rewrite of snapshot ∪ buffer into a new version. The buffer is
    * dropped only after the write succeeds.
    */
  def update(name: String, where: Column, set: (String, Column)*): Unit = {
    val t = tableDef(name)
    val values = set.toMap
    requireFields(t, values.keySet)
    overwrite(name, table(name).select(t.schema.fields.toIndexedSeq.map { f =>
      values.get(f.name).fold(col(f.name))(v =>
        when(where, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
    }: _*))
  }

  /** Copy-on-write full-table rewrite for changes `update` cannot state
    * (row deletes, a different predicate per column). The new content
    * replaces snapshot AND buffer.
    */
  def overwrite(name: String, df: DataFrame): Unit = {
    val t = tableDef(name)
    val v = manifest.getOrElse(name, 0) + 1
    writeVersion(name, v, df.select(t.schema.fieldNames.map(col).toIndexedSeq: _*))
    commit(Seq(name -> v))
    buffers.remove(name)
    bump(name)
  }

  private def bump(name: String): Unit = generations(name) = generations.getOrElse(name, 0L) + 1

  /** Persist the buffered inserts of `names` as one commit: each buffered
    * table's frame is built on the caller thread, the new versions are
    * written concurrently (`Par.results`), and once every write has
    * succeeded one manifest save installs them all and the buffers are
    * dropped. A failed write leaves the manifest and every buffer as they
    * were.
    */
  def flush(names: String*): Unit = {
    val pending = names.distinct.filter(n => buffers.get(n).exists(_.nonEmpty))
      .map(n => (n, manifest.getOrElse(n, 0) + 1, table(n)))
    if (pending.nonEmpty) {
      Par.results(pending.map { case (n, v, df) => () => writeVersion(n, v, df) })
      commit(pending.map { case (n, v, _) => n -> v })
      pending.foreach { case (n, _, _) => buffers.remove(n) }
    }
  }

  def flushAll(): Unit = flush(Schemas.all.map(_.name): _*)

  /** Write `df` as `<root>/<name>/v<v>`. Touches no catalog state, so
    * several run at once.
    */
  private def writeVersion(name: String, v: Int, df: DataFrame): Unit =
    // a registry CAN be huge (the reference claims 1e9 runs)
    Par.oneFileBelowGiB(df).write.mode("overwrite").parquet(s"$root/$name/v$v")

  /** Point the manifest at the written `versions` with one save. */
  private def commit(versions: Seq[(String, Int)]): Unit = {
    saveManifest(manifest.toMap ++ versions)
    versions.foreach { case (name, v) =>
      manifest(name) = v
      snapshotCache.remove(s"$name/v${v - 1}")
    }
  }

  /** Snapshot retention: every write creates `<table>/v<N>`, so a
    * long-lived catalog accumulates dead versions. Vacuum deletes all
    * but the newest `keepLast` versions per table (never the manifest's
    * current version — readers resolve through the manifest, so removing
    * superseded snapshots is safe in this single-writer design). Returns
    * the number of snapshot directories removed.
    */
  def vacuum(keepLast: Int = 2): Int = {
    require(keepLast >= 1, "must keep at least the current version")
    var removed = 0
    manifest.foreach { case (name, current) =>
      Fs.list(s"$root/$name").foreach { st =>
        val fn = st.getPath.getName
        if (fn.startsWith("v") && fn.drop(1).forall(_.isDigit)) {
          val v = fn.drop(1).toInt
          if (v <= current - keepLast) {
            Fs.delete(st.getPath.toString)
            snapshotCache.remove(s"$name/v$v")
            removed += 1
          }
        }
      }
    }
    removed
  }

  // ------------------------------------------------------------- manifest

  private def manifestPath = s"$root/_manifest.json"

  private def loadManifest(): Unit =
    Fs.read(manifestPath).foreach { bytes =>
      """"([^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn(new String(bytes, UTF_8)).foreach { m =>
        manifest(m.group(1)) = m.group(2).toInt
      }
    }

  private def saveManifest(versions: Map[String, Int]): Unit =
    Fs.replace(manifestPath, versions.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}").getBytes(UTF_8))
}

object Catalog {
  /** `Catalog.index`'s multimap. */
  final class Index private[catalog] (keyType: DataType, byKey: Map[Any, Array[Long]]) {
    /** The ids of the rows whose key equals one of `keys` (a null key
      * matches the rows with a null key). An Int or Long key matches an
      * Int or Long column by value, as Spark widens one to the other
      * (Scala compares boxed numbers by value). None when a key is of any
      * other type than the column's, so that the caller keeps the Spark
      * plan and its type coercion.
      */
    def get(keys: Iterable[Any]): Option[Set[Long]] = {
      val typed = keys.map {
        case null => Some(null)
        case s: String if keyType == StringType => Some(s)
        case n @ (_: Int | _: Long) if keyType != StringType => Some(n)
        case _ => None
      }
      if (typed.exists(_.isEmpty)) None
      else Some(typed.iterator.flatMap(k => byKey.getOrElse(k.get, Array.emptyLongArray)).toSet)
    }
  }

  private val IndexKeyTypes: Set[DataType] = Set(StringType, LongType, IntegerType)

  /** Rows up to which a table is indexed. Measured on synthetic catalogs
    * (link rows L, L/2 artifacts, L/20 runs, 1,000 labels, 100
    * transforms), local[4] on a 4-vCPU host, p50 ms of the index path
    * against the semi-join path. A repeated `ulabels__name` count: 83 vs
    * 291 at L = 10k, 80 vs 264 at 100k, and, with this limit lifted, 96
    * vs 280 at 300k, 126 vs 318 at 1M, 124 vs 338 at 1.2M (a link table
    * of 9.8 MB on disk); `run__transform__key`
    * 68-130 vs 200-270 over the same range. The first count after an
    * insert into the link table (the row count and the index rebuilt):
    * 251 vs 254 at 10k, 250 vs 272 at 50k, 251 vs 256 at 100k, 294 vs
    * 241 at 140k and 333 vs 283 at 190k, so a read that follows every
    * write stops gaining at about 100k rows. Heap held by an index after
    * GC: about 9 bytes per row for a link table's few keys, 74-88 for
    * unique Long keys and 105-121 for unique String keys (12 MB at this
    * limit).
    */
  val IndexRowLimit: Long = 100000L

  val MainBranchId = 1L
  val TrashBranchId = -1L
  val ArchiveBranchId = 0L
  /** The built-in "all" space, readable by every collaborator
    * (`models/sqlrecord.py:1702`, db_default 1 on every space FK).
    */
  val AllSpaceId = 1L

  /** Default visible branches: current + main (`query_set.py:71-90`). */
  def defaultBranchIds(current: Long): Seq[Long] =
    if (current == MainBranchId) Seq(MainBranchId) else Seq(current, MainBranchId)

  /** Deterministic catalog (fixed seed + fixed clock) for tests/verify. */
  def deterministic(spark: SparkSession, root: String, seed: Long = 42L): Catalog =
    new Catalog(spark, root, new java.util.Random(seed),
      () => new Timestamp(1700000000000L))

  def random(spark: SparkSession, root: String): Catalog =
    new Catalog(spark, root, new java.security.SecureRandom(),
      () => new Timestamp(System.currentTimeMillis()))
}
