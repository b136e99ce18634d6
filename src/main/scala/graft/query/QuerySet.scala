package graft.query

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.IdSets
import graft.catalog.{Catalog, Schemas, TableDef, FK, M2M}

/** A lazily-composed registry query — the Spark re-expression of the
  * reference's `QuerySet` (`lamindb/models/query_set.py`).
  *
  * Everything stays one Catalyst plan: lookups compile to `Column`
  * predicates, relation traversals compile to joins (semi-joins for filter
  * semantics), branch visibility is injected exactly like
  * `process_expressions` (`query_set.py:216-305`), and terminal operations
  * (`one/first/count/exists/toDF`) trigger execution.
  *
  * A traversal whose innermost predicate is an `exact` or `in` lookup on
  * a field or FK column (`ulabels__name`, `ulabels`, `run__transform__key`,
  * chains of any depth) resolves on the driver instead when the
  * environment offers an index for every table it crosses
  * (`Catalog.index`: catalog querysets, tables of at most
  * `Catalog.IndexRowLimit` rows): the matching ids become `col IN (ids)`
  * on this table and the read is one scan. Any other lookup, a table
  * above the limit, or a `MapEnv`/`over` frame keeps the semi-join plan
  * from that table on.
  *
  * Immutable: every chained call returns a new QuerySet.
  */
/** Resolution environment: how a QuerySet finds related tables. */
trait QueryEnv {
  def table(name: String): DataFrame
  def tableDef(name: String): TableDef
  def currentBranchId: Long
  /** Spaces the caller may read; the "all" space (id 1) is every
    * collaborator's default (reference: `Space`, `models/sqlrecord.py:1702`).
    */
  def visibleSpaceIds: Seq[Long] = Seq(Catalog.AllSpaceId)
  /** `Catalog.index` over `name`, when this environment offers one. */
  def index(name: String, keyCol: String, valueCol: String): Option[Catalog.Index] = None
}

final class QuerySet(
    val t: TableDef,
    baseDf: DataFrame,
    env: QueryEnv,
    filters: Seq[QNode] = Nil,
    excludes: Seq[QNode] = Nil,
    order: Seq[(String, Boolean)] = Nil, // (field, ascending)
    limitN: Option[Int] = None,
    featureHook: Option[QuerySet.FeatureHook] = None
) {
  import QuerySet._

  private def tables(name: String): DataFrame = env.table(name)
  private def currentBranchId: Long = env.currentBranchId

  private def copyWith(
      filters: Seq[QNode] = filters, excludes: Seq[QNode] = excludes,
      order: Seq[(String, Boolean)] = order, limitN: Option[Int] = limitN): QuerySet =
    new QuerySet(t, baseDf, env, filters, excludes, order, limitN, featureHook)

  // ------------------------------------------------------------ chaining

  def filter(kwargs: (String, Any)*): QuerySet =
    copyWith(filters = filters ++ kwargs.map { case (k, v) => QPred(k, v) })

  def filterQ(qs: QNode*): QuerySet = copyWith(filters = filters ++ qs)

  def exclude(kwargs: (String, Any)*): QuerySet =
    copyWith(excludes = excludes ++ kwargs.map { case (k, v) => QPred(k, v) })

  def excludeQ(qs: QNode*): QuerySet = copyWith(excludes = excludes ++ qs)

  /** `order_by("-created_at", "id")` — leading '-' means descending. */
  def orderBy(fields: String*): QuerySet =
    copyWith(order = fields.map { f =>
      if (f.startsWith("-")) (f.drop(1), false) else (f, true)
    })

  def limit(n: Int): QuerySet = copyWith(limitN = Some(n))

  /** Row-level dedup after fan-out joins (`query_set.py:834,1007`). */
  def distinct(): QuerySet = {
    val d = df.dropDuplicates(t.pk)
    new QuerySet(t, d, env, Nil, Nil, order, None, featureHook)
  }

  private def hasExplicitOrder: Boolean = order.nonEmpty

  // ---------------------------------------------------------- compilation

  private def allNodes: Seq[QNode] = filters ++ excludes

  /** Branch-default injection (`query_set.py:268-293`): inject
    * `branch_id IN defaults` unless the query references id/uid/hash
    * directly or filters branch explicitly.
    */
  private def branchInjection: Option[Column] =
    if (!t.hasBranch || scopedBy("branch")) None
    else Some(col("branch_id").isin(Catalog.defaultBranchIds(currentBranchId): _*))

  /** True when the query addresses rows directly (id/uid/hash) or
    * filters `field` (the FK or its `_id` column) itself: either replaces
    * a default scope.
    */
  private def scopedBy(field: String): Boolean = {
    val exact = Set("id", "uid", "hash", "id__in", "uid__in", "hash__in", field, s"${field}_id")
    allNodes.flatMap(_.keys).map(aliased).exists(k =>
      exact(k) || k.startsWith(s"${field}__") || k.startsWith(s"${field}_id__"))
  }

  /** Space DEFAULT-VISIBILITY injection — a query-scoping convenience
    * that mirrors branch injection, NOT an access-control re-expression.
    * Every row lives in a space (`space` FK, db_default 1 = the "all"
    * space; `models/sqlrecord.py:1702`), and an unscoped read defaults to
    * the caller's granted spaces. Like branch, direct id/uid/hash
    * addressing or an explicit space/space_id filter REPLACES the default
    * scope — so this is weaker than the reference's Postgres row-level
    * security (`tests/permissions/`), where ungranted-space rows stay
    * invisible no matter how they are addressed and writes are rejected
    * ("new row violates row-level security policy", sqlrecord.py). True
    * enforcement needs a non-bypassable layer (storage ACLs / view
    * grants) outside this engine; q29_space_bypass pins the convenience
    * semantics deliberately. NULL space_id is the unset db_default, i.e.
    * the "all" space.
    */
  private def spaceInjection: Option[Column] =
    if (!t.fieldNames.contains("space_id") || scopedBy("space")) None
    else Some(col("space_id").isNull || col("space_id").isin(env.visibleSpaceIds: _*))

  private def aliased(key: String): String = {
    val seg = key.split("__", 2)
    t.aliases.get(seg(0)) match {
      case Some(mapped) => if (seg.length == 2) s"${mapped}__${seg(1)}" else mapped
      case None         => key
    }
  }

  private sealed trait Compiled
  /** A predicate on the rows; `keys`, when set, states it as an equality
    * that an index can resolve.
    */
  private final case class Cond(c: Column, keys: Option[Keys] = None) extends Compiled
  /** `localCol` equals one of `values`. */
  private final case class Keys(localCol: String, values: Iterable[Any])
  /** base.`localCol` IN (ids — a single-column DataFrame) */
  private final case class Sub(localCol: String, ids: DataFrame) extends Compiled {
    /** `x`'s rows whose `localCol` is (`left_semi`) or is not
      * (`left_anti`) among `ids`.
      */
    def join(x: DataFrame, how: String): DataFrame =
      x.join(ids.withColumnRenamed(ids.columns.head, localCol), localCol, how)
  }

  private def fieldError(name: String, forT: TableDef): Nothing = {
    val available = forT.schema.fieldNames.toSeq ++ forT.fks.keys ++ forT.m2ms.keys
    val hint = if (forT.fks.contains(name) || forT.m2ms.contains(name))
      s" Did you mean '${name}__name'?" else ""
    throw new FieldError(
      s"Unknown field '$name' for ${forT.name}. Available: ${available.sorted.mkString(", ")}.$hint")
  }

  /** Compile one `path__lookup=value` predicate against table `forT` whose
    * DataFrame is `forDf`. Relation traversal recurses into related tables.
    */
  private def compilePred(forT: TableDef, forDf: DataFrame, key: String, value: Any): Compiled = {
    val k0 = if (forT eq t) aliased(key) else key
    // `branch` is filterable like an FK on every branch-carrying registry
    // (`filter(branch=branch)` / `branch_id=...`, test_get_filter_branch);
    // an explicit branch/branch_id of None means "no branch constraint"
    // (the reference drops it after it has disabled injection), NOT
    // "branch IS NULL".
    val segs0 = k0.split("__").toList
    val segs = segs0 match {
      case "branch" :: rest if forT.hasBranch && !forT.fieldNames.contains("branch") =>
        "branch_id" :: rest
      case "space" :: rest
          if forT.fieldNames.contains("space_id") && !forT.fieldNames.contains("space") =>
        "space_id" :: rest
      case other => other
    }
    segs match {
      case "branch_id" :: Nil if value == null => Cond(lit(true))
      case _ => compileSegs(forT, forDf, segs, value)
    }
  }

  /** String→code translation for enum-coded columns (`_map_status_value`,
    * `query_set.py:164-181`): names map to codes, raw codes pass through,
    * unknown names raise with the expected values listed.
    */
  private def mapEnum(forT: TableDef, field: String, value: Any): Any =
    forT.enumMaps.get(field) match {
      case None => value
      case Some(m) =>
        def one(v: Any): Any = v match {
          case s: String => m.getOrElse(s, throw new FieldError(
            s"Invalid ${forT.name} status '$s'. Expected one of: ${m.keys.toSeq.sorted.mkString("'", "', '", "'")}."))
          case other => other
        }
        value match {
          case seq: Seq[_] => seq.map(one)
          case other       => one(other)
        }
    }

  private def compileSegs(forT: TableDef, forDf: DataFrame, segs: List[String], value: Any): Compiled =
    segs match {
      case field :: Nil if forT.fieldNames.contains(field) =>
        lookup(field, "exact", mapEnum(forT, field, value))
      case field :: l :: Nil if forT.fieldNames.contains(field) && Lookups.all.contains(l) =>
        lookup(field, l, mapEnum(forT, field, value))
      case fkName :: rest if forT.fks.contains(fkName) =>
        val fk = forT.fks(fkName)
        rest match {
          case Nil                                 => lookup(fk.localCol, "exact", value)
          case l :: Nil if Lookups.all.contains(l) => lookup(fk.localCol, l, value)
          case _ =>
            val target = env.tableDef(fk.target)
            within(fk.localCol,
              compileToIds(target, tables(fk.target), QPred(rest.mkString("__"), value), fk.targetCol))
        }
      case m2mName :: rest if forT.m2ms.contains(m2mName) =>
        val m = forT.m2ms(m2mName)
        val onLink = rest match {
          case Nil                                 => lookup(m.rightCol, "exact", value)
          case l :: Nil if Lookups.all.contains(l) => lookup(m.rightCol, l, value)
          case _ =>
            val target = env.tableDef(m.target)
            within(m.rightCol,
              compileToIds(target, tables(m.target), QPred(rest.mkString("__"), value), target.pk))
        }
        within(forT.pk, idsOf(m.link, tables(m.link), onLink, m.leftCol))
      case field :: restOrNil if featureHook.isDefined && (forT eq t) =>
        // not a model field: route to the EAV feature layer
        // (`filter_with_features`, `_feature_manager.py:1036-1089`); an
        // exclusion set is complemented against the base table so the
        // result keeps positive-match semantics (then exclude()/QNot
        // invert it back correctly)
        featureHook.get.compile(field, restOrNil, value) match {
          case Some((ids, negate)) =>
            val matching = within(t.pk, ids)
            if (negate) complement(forT, forDf, matching) else matching
          case None => fieldError(field, forT)
        }
      case field :: _ => fieldError(field, forT)
      case Nil        => throw new FieldError("empty lookup key")
    }

  /** `localCol`'s `lookup` predicate. An `exact` or `in` lookup also
    * states the keys it matches by equality, as `Lookups.compile` does
    * (`exact` null matches null keys, an `in` list's nulls match
    * nothing), so that an index can resolve it.
    */
  private def lookup(localCol: String, op: String, value: Any): Compiled = {
    val keys = op match {
      case "exact" => Some(Seq(value))
      case "in" =>
        Some((value match {
          case vs: Iterable[_] => vs.toSeq
          case vs: Array[_]    => vs.toSeq
          case v               => Seq(v)
        }).filter(_ != null))
      case _ => None
    }
    Cond(Lookups.compile(col(localCol), op, value), keys.map(Keys(localCol, _)))
  }

  /** The rows whose `localCol` is one of `ids`. */
  private def within(localCol: String, ids: Ids): Compiled = ids match {
    case Right(set) => Cond(IdSets.isIn(col(localCol), set), Some(Keys(localCol, set)))
    case Left(frame) => Sub(localCol, frame)
  }

  /** The `idCol` values of the rows of table `name` (frame `forDf`) that
    * `compiled` selects: a driver set when `compiled` is an equality that
    * the environment's index from its column to `idCol` resolves, else a
    * one-column frame (the semi-join plan).
    */
  private def idsOf(name: String, forDf: DataFrame, compiled: Compiled, idCol: String): Ids =
    compiled match {
      case Cond(c, keys) =>
        keys.flatMap(k => env.index(name, k.localCol, idCol).flatMap(_.get(k.values)))
          .toRight(forDf.filter(c).select(idCol))
      case s: Sub =>
        Left(if (s.localCol == idCol) s.ids else s.join(forDf, "left_semi").select(idCol))
    }

  /** Compile a node over a (possibly related) table into the matching
    * `idCol` values.
    */
  private def compileToIds(forT: TableDef, forDf: DataFrame, node: QNode, idCol: String): Ids =
    idsOf(forT.name, forDf, compileNode(forT, forDf, node), idCol)

  /** The rows of `forT` that `c` does not select. */
  private def complement(forT: TableDef, forDf: DataFrame, c: Compiled): Compiled = c match {
    case Cond(cc, _) => Cond(!coalesce(cc, lit(false)))
    case s: Sub      => Sub(forT.pk, s.join(forDf, "left_anti").select(forT.pk))
  }

  private def compileNode(forT: TableDef, forDf: DataFrame, node: QNode): Compiled = node match {
    case QPred(k, v) => compilePred(forT, forDf, k, v)
    case QAnd(cs) =>
      val compiled = cs.map(compileNode(forT, forDf, _))
      if (compiled.forall(_.isInstanceOf[Cond]))
        Cond(compiled.collect { case Cond(c, _) => c }.reduce(_ && _))
      else {
        var ids = forDf
        compiled.foreach {
          case Cond(c, _) => ids = ids.filter(c)
          case s: Sub     => ids = s.join(ids, "left_semi")
        }
        Sub(forT.pk, ids.select(forT.pk))
      }
    case QOr(cs) =>
      val compiled = cs.map(compileNode(forT, forDf, _))
      if (compiled.forall(_.isInstanceOf[Cond]))
        Cond(compiled.collect { case Cond(c, _) => c }.reduce(_ || _))
      else {
        val idDfs = compiled.map {
          case Cond(c, _) => forDf.filter(c).select(forT.pk)
          case s: Sub     => s.join(forDf, "left_semi").select(forT.pk)
        }
        Sub(forT.pk, idDfs.reduce(_ union _))
      }
    case QNot(c) => complement(forT, forDf, compileNode(forT, forDf, c))
  }

  private def applyNode(df: DataFrame, node: QNode, negate: Boolean): DataFrame =
    compileNode(t, df, node) match {
      case Cond(c, _) => if (negate) df.filter(!coalesce(c, lit(false))) else df.filter(c)
      case s: Sub     => s.join(df, if (negate) "left_anti" else "left_semi")
    }

  /** The resolved, still-lazy plan. */
  def df: DataFrame = {
    var d = baseDf
    branchInjection.foreach(c => d = d.filter(c))
    spaceInjection.foreach(c => d = d.filter(c))
    filters.foreach(n => d = applyNode(d, n, negate = false))
    excludes.foreach(n => d = applyNode(d, n, negate = true))
    if (order.nonEmpty)
      d = d.orderBy(order.map { case (f, asc) => if (asc) col(f).asc else col(f).desc }: _*)
    limitN.foreach(n => d = d.limit(n))
    d
  }

  // ------------------------------------------------------------ terminals

  /** One job with no exchange for a filter-only plan: the rows of the
    * column-pruned, unordered plan are counted where they are read (a
    * `Dataset.count` is a partial aggregate, an exchange and a final
    * stage); a limit caps the count.
    */
  def count(): Long = {
    val n = copyWith(order = Nil, limitN = None).df.select().queryExecution.toRdd.count()
    limitN.fold(n)(l => math.min(l.toLong, n))
  }
  def exists(): Boolean = !df.isEmpty

  def first(): Option[Row] = {
    val qs = if (order.isEmpty) orderBy(t.pk) else this
    qs.df.head(1).headOption
  }

  def one(): Row = {
    val rows = df.head(2)
    if (rows.isEmpty) throw new DoesNotExist(s"no ${t.name} matching the query")
    if (rows.length > 1) throw new MultipleResultsFound(s"multiple ${t.name} rows match the query")
    rows.head
  }

  def oneOrNone(): Option[Row] = {
    val rows = df.head(2)
    if (rows.length > 1) throw new MultipleResultsFound(s"multiple ${t.name} rows match the query")
    rows.headOption
  }

  def valuesList(field: String): Seq[Any] = df.select(field).collect().map(_.get(0)).toSeq

  /** `get` decision tree (`query_set.py:308-366`): by int id; by full uid;
    * by uid prefix with the is_latest retry ladder — non-standard semantics
    * ported exactly.
    */
  def get(idlike: Any): Row = idlike match {
    case i: Int  => filter("id" -> i.toLong).one()
    case i: Long => filter("id" -> i).one()
    case s: String =>
      if (t.uidLen > 0 && s.length == t.uidLen) filter("uid" -> s).one()
      else {
        val base = filter("uid__startswith" -> s)
        // the forgiving is_latest retry ladder only applies to prefixes up
        // to the 16-char stem; longer prefixes (17-19 chars) go through
        // one_helper semantics and CAN raise MultipleResultsFound
        // (`query_set.py` get(): stem-length gate)
        if (t.versioned && t.fieldNames.contains("is_latest")
            && s.length <= graft.core.Versioning.StemLen) {
          val latest = base.filter("is_latest" -> true)
          val rows = latest.df.head(2)
          if (rows.length == 1) rows.head
          else if (rows.length > 1)
            // a stem matching several latest heads never raises: most recent wins
            latest.orderBy("-created_at", "id").df.head(1).headOption
              .getOrElse(throw new DoesNotExist(s"no ${t.name} with uid prefix '$s'"))
          else
            base.orderBy("-created_at", "id").df.head(1).headOption
              .getOrElse(throw new DoesNotExist(s"no ${t.name} with uid prefix '$s'"))
        } else base.one()
      }
    case other => throw new FieldError(s"get() accepts an int id or uid(-prefix) string, got $other")
  }

  def get(kwargs: (String, Any)*): Row = filter(kwargs: _*).one()

  /** Weighted search (`query_manager.py:36-172`). Returns a QuerySet-like
    * DataFrame ranked by `rank` desc (deterministic tie-break on pk),
    * limited to `limit` (reference default 20).
    */
  def search(query: String, fields: Seq[String] = Nil, limit: Int = Search.DefaultLimit,
             caseSensitive: Boolean = false): DataFrame = {
    val searchFields = if (fields.nonEmpty) fields else defaultSearchFields
    Search.rank(df, query, searchFields, limit, caseSensitive, t.pk)
  }

  /** Search returning a QuerySet whose rank ordering is RECORDED, so a
    * following `toDataFrame(limit=…)` preserves it (the reference rebuilds
    * a sliced queryset with a positional CASE — `query_set.py:1171-1181`).
    */
  def searchQs(query: String, fields: Seq[String] = Nil, limit: Int = Search.DefaultLimit,
               caseSensitive: Boolean = false): QuerySet = {
    val ranked = search(query, fields, limit, caseSensitive)
    new QuerySet(t, ranked, env, Nil, Nil,
      order = Seq(("rank", false), (t.pk, true)), limitN = Some(limit),
      featureHook = featureHook)
  }

  /** `to_dataframe` subset semantics (`query_set.py:1143-1181`): default
    * limit 20 ordered by `-id` when no ordering was requested; Artifact
    * querysets with no explicit `kind` filter and no slicing hide internal
    * `__lamindb*` kinds; limited results preserve the pre-limit ordering
    * and report whether rows were truncated.
    *
    * Returns (rows, isTruncated).
    */
  def toDataFrame(limit: Option[Int] = Some(Search.DefaultLimit),
                  defaultOrder: Option[String] = Some("-id")): (DataFrame, Boolean) = {
    val kindFiltered = allNodes.flatMap(_.keys).map(aliased)
      .exists(k => k == "kind" || k.startsWith("kind__"))
    val base0 =
      if (t.name == "artifact" && t.fieldNames.contains("kind") && !kindFiltered && limitN.isEmpty)
        excludeQ(QPred("kind__startswith", "__lamindb"))
      else this
    val ordered =
      if (!base0.hasExplicitOrder && defaultOrder.isDefined) base0.orderBy(defaultOrder.get)
      else base0
    limit match {
      case None => (ordered.df, false)
      case Some(n) =>
        // one pass: the first n+1 rows of the ordered plan decide
        // truncation, and the first n come back as a local frame, so the
        // caller's collect runs no second job and the pre-limit order
        // holds by construction
        val plan = ordered.df
        val rows = plan.head(n + 1)
        import scala.jdk.CollectionConverters._
        val out = baseDf.sparkSession.createDataFrame(rows.take(n).toList.asJava, plan.schema)
        (out, rows.length > n)
    }
  }

  /** `to_dataframe(include=[...])` annotation columns
    * (`query_set.py:1191-1260` + `reshape_annotate_result`): FK paths
    * (`run__transform__key`) join through and land as a single-valued
    * column named by the path; M2M paths (`ulabels__name`) aggregate to a
    * sorted set per row (`analyze_lookup_cardinality`: to-many → set,
    * to-one → first).
    */
  def withIncluded(paths: Seq[String]): DataFrame =
    paths.foldLeft(df)((acc, p) => includeOne(acc, p))

  private def includeOne(acc: DataFrame, path: String): DataFrame = {
    val segs = aliased(path).split("__").toList
    segs match {
      case m2mName :: rest if t.m2ms.contains(m2mName) =>
        val m = t.m2ms(m2mName)
        val targetT = env.tableDef(m.target)
        val field = rest match {
          case Nil      => "name"
          case f :: Nil => f
          case other    => throw new FieldError(s"include path too deep: ${other.mkString("__")}")
        }
        val values = env.table(m.link)
          .join(env.table(m.target)
              .select(col(targetT.pk).as(m.rightCol), col(field).as("__v")),
            m.rightCol)
          .groupBy(col(m.leftCol).as(t.pk))
          .agg(sort_array(collect_set(col("__v"))).as(path))
        acc.join(values, Seq(t.pk), "left")
      case fkName :: rest if t.fks.contains(fkName) && rest.nonEmpty =>
        // walk the FK chain, carrying the local join key forward
        var fk = t.fks(fkName)
        var joined = env.table(fk.target)
        var remaining = rest
        var curT = env.tableDef(fk.target)
        while (remaining.length > 1 && curT.fks.contains(remaining.head)) {
          val next = curT.fks(remaining.head)
          joined = joined.join(
            env.table(next.target).withColumnRenamed(next.targetCol, s"__k_${next.target}"),
            col(next.localCol) === col(s"__k_${next.target}"))
          curT = env.tableDef(next.target)
          remaining = remaining.tail
        }
        val field = remaining match {
          case f :: Nil if joined.columns.contains(f) => f
          case other => throw new FieldError(s"cannot resolve include path '$path' at ${other.mkString("__")}")
        }
        val lookup = joined.select(col(fk.targetCol).as(fk.localCol), col(field).as(path))
        acc.join(broadcast(lookup), Seq(fk.localCol), "left")
      case _ => throw new FieldError(s"cannot include '$path': not an FK or M2M path on ${t.name}")
    }
  }

  /** `suggest_records_with_similar_names` (`sqlrecord.py:608-650`): exact
    * match on the name field (within the type subset for typed registries)
    * returns the record; otherwise a truncated fuzzy search proposes up to
    * 3 similar names and None is returned.
    */
  def suggestSimilarNames(nameField: String, value: String,
                          typeId: Option[Any] = None): (Option[Row], Seq[String]) = {
    val subset =
      if (t.fieldNames.contains("type_id")) typeId match {
        case Some(v) => filter("type_id" -> v)
        case None    => filter("type_id__isnull" -> true)
      }
      else this
    val exact = subset.filter(nameField -> value).first()
    if (exact.isDefined) (exact, Nil)
    else {
      val similar = Search.rank(subset.df, value, Seq(nameField), limit = 3,
        caseSensitive = false, pk = t.pk, truncateString = true, nameField = Some(nameField))
        .select(nameField).collect().map(_.getString(0)).toSeq
      (None, similar)
    }
  }

  private def defaultSearchFields: Seq[String] =
    t.schema.fields.filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name).toSeq

  /** Auto-complete lookup object (`Registry.lookup()`): all visible rows
    * keyed by `field` — last-in wins on duplicates, like dict building.
    * `pythonic = true` applies the reference's identifier normalization
    * (non-word chars and a leading digit become '_', so keys are valid
    * attribute names on the returned namespace).
    */
  def lookup(field: String = "name", pythonic: Boolean = false): Map[String, Row] =
    df.collect().iterator.map { r =>
      val k = r.getAs[Any](field).toString
      (if (pythonic) k.replaceAll("\\W|^(?=\\d)", "_") else k) -> r
    }.toMap
}

object QuerySet {
  /** Matching ids: a one-column frame (`Left`, joined into the plan) or
    * a driver set (`Right`, compiled to `col IN (ids)`).
    */
  type Ids = Either[DataFrame, Set[Long]]

  /** EAV dispatch hook: given (featureName, lookupSegs, value), return the
    * matching base-table pk ids plus a negate flag, or None if the name is
    * no known feature. `negate = true`
    * means the returned ids are the set to EXCLUDE (the reference
    * compiles `isnull=True` via `queryset.exclude` and `__ne` via an
    * anti-join — `_feature_manager.py` `_filter_one_feature_clause` /
    * `filter_with_feature_predicates`); the QuerySet complements them
    * against the base table so the compiled predicate always carries
    * positive-match semantics.
    */
  trait FeatureHook {
    def compile(feature: String, lookupSegs: List[String], value: Any): Option[(Ids, Boolean)]
  }

  /** QuerySet over a catalog registry. */
  def apply(cat: Catalog, registry: String,
            featureHook: Option[FeatureHook] = None): QuerySet = {
    val envImpl = new QueryEnv {
      def table(name: String): DataFrame = cat.table(name)
      def tableDef(name: String): TableDef = cat.tableDef(name)
      def currentBranchId: Long = cat.currentBranchId
      override def visibleSpaceIds: Seq[Long] = cat.visibleSpaceIds
      override def index(name: String, keyCol: String, valueCol: String): Option[Catalog.Index] =
        cat.index(name, keyCol, valueCol)
    }
    new QuerySet(cat.tableDef(registry), cat.table(registry), envImpl, featureHook = featureHook)
  }

  /** Environment over an ad-hoc set of (TableDef, DataFrame) pairs —
    * lets the full lookup language (FK/M2M traversal included) run over
    * arbitrary DataFrames, not just catalog registries.
    */
  final class MapEnv(defs: Map[String, (TableDef, DataFrame)],
                     val currentBranchId: Long = Catalog.MainBranchId,
                     override val visibleSpaceIds: Seq[Long] = Seq(Catalog.AllSpaceId))
      extends QueryEnv {
    def table(name: String): DataFrame =
      defs.getOrElse(name, throw new FieldError(s"no related table '$name'"))._2
    def tableDef(name: String): TableDef =
      defs.getOrElse(name, throw new FieldError(s"no related table '$name'"))._1
    def querySet(name: String): QuerySet = {
      val (t, df) = defs(name)
      new QuerySet(t, df, this)
    }
  }

  /** QuerySet over an arbitrary standalone DataFrame (registry-like
    * semantics: branch injection iff a `branch_id` column exists).
    */
  def over(df: DataFrame, name: String = "anon", pk: String = "id",
           uidLen: Int = 0, versioned: Boolean = false,
           currentBranchId: Long = Catalog.MainBranchId,
           aliases: Map[String, String] = Map.empty,
           visibleSpaceIds: Seq[Long] = Seq(Catalog.AllSpaceId)): QuerySet = {
    val t = TableDef(name, df.schema, uidLen = uidLen, versioned = versioned,
      hasBranch = df.columns.contains("branch_id"), aliases = aliases, pk = pk)
    new QuerySet(t, df, new MapEnv(Map(name -> (t, df)), currentBranchId, visibleSpaceIds))
  }
}
