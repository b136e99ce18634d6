package graft.eav

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.query.{FieldError, QuerySet}

/** Typed feature predicate DSL — the Spark analog of the reference's
  * `Feature.__gt__`-style operator overloads (`lamindb/models/feature.py:
  * 76-87, 1388-1413`): `F("gc_content") > 0.5` builds a predicate that the
  * EAV layer turns into a semi-join; `=!=` is the NOT-EXISTS anti-join
  * (`filter_with_feature_predicates`, `_feature_manager.py:975-997`).
  */
final case class FeaturePredicate(feature: String, comparator: String, value: Any)

final case class F(name: String) {
  def ===(v: Any) = FeaturePredicate(name, "exact", v)
  def =!=(v: Any) = FeaturePredicate(name, "ne", v)
  def >(v: Any) = FeaturePredicate(name, "gt", v)
  def >=(v: Any) = FeaturePredicate(name, "gte", v)
  def <(v: Any) = FeaturePredicate(name, "lt", v)
  def <=(v: Any) = FeaturePredicate(name, "lte", v)
  def isNull = FeaturePredicate(name, "isnull", true)
  def isNotNull = FeaturePredicate(name, "isnull", false)
}

/** EAV feature-value store bound to one record table.
  *
  * Long-form layout (SURVEY §1.1 "Record"): scalar values live in
  * `values(record_id, feature_id, value_json)` (JSON-encoded, like the
  * reference's `RecordJson`/`JsonValue` rows), categorical links in
  * `labelLinks(record_id, feature_id, label_id)` against `labels(id,
  * name)`. The feature dictionary is `features(id, name, dtype)`.
  *
  * All predicates compile to semi/anti joins on the record pk; numeric
  * comparisons CAST the JSON scalar to double exactly like the reference
  * does on SQLite (`_feature_manager.py:884-921`).
  */
final class FeatureStore(
    val features: DataFrame,
    val values: DataFrame,
    val labelLinks: Option[DataFrame] = None,
    val labels: Option[DataFrame] = None,
    dictionary: Option[() => Map[String, (Long, String)]] = None
) {

  /** Feature dictionary (name -> (id, dtype)), collected ONCE per store,
    * lazily, unless the caller supplies it (`ArtifactFeatures` keeps one
    * per catalog state). The dictionary is metadata-scale by definition;
    * caching it turns predicate compilation into pure driver work — a
    * 3-predicate filter used to launch a lookup job (`head`/`isEmpty`) per
    * predicate before planning a single semi-join.
    */
  private lazy val dict: Map[String, (Long, String)] =
    dictionary.fold(FeatureStore.dictionary(features))(_())

  /** Is the feature name known to this store? (No cluster job.) */
  def knows(name: String): Boolean = dict.contains(name)

  /** value rows of one feature — an id-literal filter, not a join. */
  private def valuesOf(name: String): DataFrame =
    dict.get(name) match {
      case Some((id, _)) => values.filter(col("feature_id") === id)
      case None          => values.filter(lit(false))
    }

  /** JSON scalar extracted as string ('"x"' -> x, '1.5' -> 1.5). */
  private def extracted: Column = get_json_object(col("value_json"), "$")

  /** Numeric view of the JSON scalar. try_cast, not cast: Catalyst may
    * push this predicate below the feature-id join, where it meets other
    * features' non-numeric values — those must yield NULL, not error.
    */
  private def extractedNum: Column =
    expr("try_cast(get_json_object(value_json, '$') AS double)")

  private val numericComparators = Set("gt", "gte", "lt", "lte")

  /** DataFrame of record ids matching `feature <comparator> value`. */
  def matchingIds(p: FeaturePredicate): DataFrame = {
    val forFeature = valuesOf(p.feature)
    p.comparator match {
      case "isnull" =>
        // presence/absence of any value row (`_feature_manager.py:855-877`)
        forFeature.select(col("record_id")).distinct()
      case "ne" =>
        // handled by the caller as anti-join of the equality set
        matchingIds(p.copy(comparator = "exact"))
      case c if numericComparators.contains(c) =>
        val pred = graft.query.Lookups.compile(extractedNum, c, p.value)
        forFeature.filter(pred).select(col("record_id"))
      case "exact" =>
        if (usesLabels(p)) categoricalIds(p.feature, Seq(p.value))
        else {
          val asStr = p.value match { case _: String => lit(p.value) case _ => lit(p.value).cast("string") }
          forFeature.filter(extracted === asStr).select(col("record_id"))
        }
      case "in" =>
        val vs = p.value match {
          case it: Iterable[_] => it.toSeq
          case a: Array[_]     => a.toSeq
          case v               => Seq(v)
        }
        if (usesLabels(p)) categoricalIds(p.feature, vs)
        else forFeature.filter(extracted.isin(vs.map(_.toString): _*)).select(col("record_id"))
      case "contains" =>
        forFeature.filter(extracted.contains(lit(p.value))).select(col("record_id"))
      case other => throw new FieldError(s"unsupported feature comparator '$other'")
    }
  }

  /** Whether `matchingIds(p)` resolves label names through the label
    * registry (a categorical feature's `exact` on a string or `in`)
    * rather than the scalar values.
    */
  def usesLabels(p: FeaturePredicate): Boolean =
    labels.isDefined && labelLinks.isDefined && dict.get(p.feature).exists(_._2.startsWith("cat")) &&
      (p.comparator match {
        case "exact" | "ne" => p.value.isInstanceOf[String]
        case "in"           => true
        case _              => false
      })

  /** Resolve label names in the label registry then follow the link table
    * (`_feature_manager.py:934-971`). Raises if no label matches.
    */
  private def categoricalIds(feature: String, labelNames: Seq[Any]): DataFrame = {
    val lbls = labels.get.filter(col("name").isin(labelNames: _*)).select(col("id").as("label_id"))
    if (lbls.isEmpty)
      throw new graft.query.DoesNotExist(s"no label matching $labelNames for feature '$feature'")
    val fid = dict(feature)._1
    labelLinks.get
      .filter(col("feature_id") === fid)
      .join(broadcast(lbls), "label_id")
      .select(col("record_id"))
  }

  /** Filter a record DataFrame by feature predicates: semi-joins, with
    * `ne` compiled as the anti-join of the equality subquery.
    */
  def filter(records: DataFrame, pk: String, preds: FeaturePredicate*): DataFrame =
    preds.foldLeft(records) { (df, p) =>
      val joinType = if (p.comparator == "ne" || (p.comparator == "isnull" && p.value == true))
        "left_anti" else "left_semi"
      val ids = matchingIds(p).withColumnRenamed("record_id", pk)
      df.join(ids, Seq(pk), joinType)
    }

  /** The predicate a `featureName__lookup` filter key states, with a
    * negate flag; None when `feature` is no known feature. `isnull=true`
    * and `ne` are exclusion predicates in the reference
    * (`_filter_one_feature_clause` uses queryset.exclude for isnull=True;
    * `filter_with_feature_predicates` anti-joins __ne): `matchingIds`
    * returns the positive set, so the flag asks for its negation.
    */
  def predicate(feature: String, lookupSegs: List[String], value: Any): Option[(FeaturePredicate, Boolean)] =
    if (!knows(feature)) None
    else {
      val comparator = lookupSegs match {
        case Nil      => "exact"
        case c :: Nil => c
        case other    => throw new FieldError(s"unsupported feature lookup path $other")
      }
      val negate = comparator == "ne" ||
        (comparator == "isnull" && (value == true || value == "true"))
      Some((FeaturePredicate(feature, comparator, value), negate))
    }

  /** QuerySet feature hook: routes `filter("featureName__lookup" -> v)`
    * keys that are not model fields into this store
    * (`filter_with_features`, `_feature_manager.py:1036-1089`).
    */
  def hook: QuerySet.FeatureHook = (feature, lookupSegs, value) =>
    predicate(feature, lookupSegs, value).map { case (p, negate) =>
      (Left(matchingIds(p).withColumnRenamed("record_id", "id")), negate)
    }

  /** Long→wide pivot (`reshape_annotate_result`, `query_set.py:802-1009`):
    * one column per feature over the record pk, multi-values aggregated as
    * a set, single-element sets unwrapped and cast per feature dtype.
    * Multi-valued cells export as a sorted pipe-joined string (the
    * reference keeps Python sets; a deterministic string is the faithful
    * columnar equivalent).
    */
  def pivotWide(records: DataFrame, pk: String): DataFrame = {
    val names = dict.keys.toSeq.sorted
    val dtypes = dict.map { case (n, (_, d)) => n -> d }

    val scalarLong = values
      .join(broadcast(features.select(col("id").as("feature_id"), col("name"))), "feature_id")
      .select(col("record_id"), col("name"), get_json_object(col("value_json"), "$").as("v"))
    val catLong = (labelLinks, labels) match {
      case (Some(links), Some(lbls)) =>
        links.join(broadcast(features.select(col("id").as("feature_id"), col("name"))), "feature_id")
          .join(lbls.select(col("id").as("label_id"), col("name").as("label_name")), "label_id")
          .select(col("record_id"), col("name"), col("label_name").as("v"))
      case _ => null
    }
    val long = if (catLong == null) scalarLong else scalarLong.unionByName(catLong)

    val pivoted = long.groupBy(col("record_id").as(pk))
      .pivot("name", names)
      .agg(sort_array(collect_set(col("v"))))

    // single-element unwrap + per-dtype cast (`query_set.py:850-979`)
    val typed = names.foldLeft(pivoted) { (df, n) =>
      val c = col(s"`$n`")
      val scalar = when(size(c) === 1, element_at(c, 1))
      val multi = when(size(c) > 1, array_join(c, "|"))
      val unwrapped = coalesce(scalar, multi)
      val cast = dtypes(n) match {
        case d if d.startsWith("num") || d.startsWith("float") => unwrapped.cast("double")
        case d if d.startsWith("int")                          => unwrapped.cast("long")
        case d if d.startsWith("bool")                         => unwrapped.cast("boolean")
        case d if d.startsWith("datetime")                     => unwrapped.cast("timestamp")
        case d if d.startsWith("date")                         => unwrapped.cast("date")
        case _                                                  => unwrapped
      }
      df.withColumn(n, cast)
    }
    records.select(col(pk)).join(typed, Seq(pk), "left")
  }
}

object FeatureStore {
  /** Collects a `features(id, name, dtype)` frame as name -> (id, dtype);
    * a null dtype reads as "str".
    */
  def dictionary(features: DataFrame): Map[String, (Long, String)] =
    features.select("id", "name", "dtype").collect()
      .map(r => r.getString(1) -> (r.getLong(0), Option(r.getString(2)).getOrElse("str")))
      .toMap

  /** A scalar as the JSON text stored in `value_json`: strings, datetimes
    * (ISO instant) and dates (ISO date) quoted, anything else as is.
    */
  def toJson(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case t: java.sql.Timestamp => "\"" + t.toInstant.toString + "\""
    case d @ (_: java.sql.Date | _: java.time.LocalDate) => "\"" + d.toString + "\""
    case other => String.valueOf(other)
  }
}

/** FilteredRelation-style annotation (`get_feature_annotate_kwargs`,
  * `query_set.py:679-691`): records LEFT-join their label links with the
  * label's branch visibility as an EXTRA join predicate — trashed or
  * archived labels never annotate, but records whose only labels are
  * hidden still appear (with an empty set), unlike a post-join filter
  * which would drop them.
  */
object Annotate {
  def labels(records: DataFrame, pk: String,
             links: DataFrame, linkRecordCol: String, linkLabelCol: String,
             labelTable: DataFrame, labelPk: String, labelValueCol: String,
             visibleBranchIds: Seq[Long] = Seq(1L),
             out: String = "labels"): DataFrame = {
    val vis = labelTable.filter(col("branch_id").isin(visibleBranchIds: _*))
      .select(col(labelPk).as("__lid"), col(labelValueCol).as("__lval"))
    val linked = links
      .select(col(linkRecordCol).as(pk), col(linkLabelCol).as("__lid"))
      .join(vis, "__lid")
    val agg = linked.groupBy(pk).agg(sort_array(collect_set(col("__lval"))).as(out))
    records.join(agg, Seq(pk), "left")
      .withColumn(out, coalesce(col(out), array().cast("array<string>")))
  }
}
