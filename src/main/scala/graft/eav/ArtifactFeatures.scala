package graft.eav

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.query.QuerySet

/** Feature annotation on artifacts (`_feature_manager.py`): scalar values
  * land in the deduplicated `json_value` table (`JsonValue.get_or_create`,
  * `feature.py:1703-1716`) linked through `artifact_json_values`;
  * categorical labels in `artifact_ulabels` keyed by feature. Powers both
  * `filter("featureName__gt" -> x)` dispatch on Artifact and the
  * `to_dataframe(include="features")` wide annotation export.
  */
final class ArtifactFeatures(cat: Catalog) {
  /** ArtifactULabel's unique key. */
  private val LabelLinkKey = Seq("artifact_id", "ulabel_id", "feature_id")

  /** `artifact.features.add_values({...})`: ensure each feature (dtype
    * inferred on first sight; a stored dtype wins), then link a JSON value
    * (scalars) or a ULabel named by the value (categorical dtypes).
    */
  def addValues(artifactId: Long, values: Map[String, Any]): Unit =
    values.foreach { case (name, v) =>
      val feature = ensureFeature(name, v)
      if (String.valueOf(feature("dtype")).startsWith("cat")) {
        val label = cat.ensure("ulabel", Seq("name"), Seq(Map("name" -> v.toString))).head
        cat.ensure("artifact_ulabels", LabelLinkKey, Seq(Map("artifact_id" -> artifactId,
          "ulabel_id" -> label("id"), "feature_id" -> feature("id"))))
      } else
        cat.ensure("artifact_json_values", Seq("artifact_id", "json_value_id"),
          Seq(Map("artifact_id" -> artifactId, "json_value_id" -> jsonValueId(feature, v))))
    }

  /** `artifact.labels.add(...)`: link ulabels (optionally under a
    * feature); duplicates are no-ops. Link uniqueness is the reference's
    * ArtifactULabel (artifact, ulabel, feature) triple — the same label
    * may be linked again under a DIFFERENT feature (`_label_manager.py`).
    */
  def addLabels(artifactId: Long, labelIds: Seq[Long], featureId: Option[Long] = None): Unit =
    cat.ensure("artifact_ulabels", LabelLinkKey, labelIds.map(lid =>
      Map("artifact_id" -> artifactId, "ulabel_id" -> lid) ++ featureId.map("feature_id" -> _)))

  /** `artifact.labels.remove(...)`. */
  def removeLabels(artifactId: Long, labelIds: Seq[Long]): Unit = {
    cat.overwrite("artifact_ulabels",
      cat.table("artifact_ulabels").filter(
        !(col("artifact_id") === artifactId && col("ulabel_id").isin(labelIds: _*))))
  }

  /** `artifact.labels.add_from(other)`: copy every label link (with its
    * feature association) from another artifact; idempotent on existing
    * links (`_label_manager.py:310` area). Returns the links created.
    */
  def addLabelsFrom(targetId: Long, sourceId: Long): Long = {
    val src = cat.table("artifact_ulabels").filter(col("artifact_id") === sourceId)
      .select("ulabel_id", "feature_id").collect()
    val before = cat.buffered("artifact_ulabels")
    cat.ensure("artifact_ulabels", LabelLinkKey, src.toIndexedSeq.map(r =>
      Map("artifact_id" -> targetId, "ulabel_id" -> r.get(0), "feature_id" -> r.get(1))))
    (cat.buffered("artifact_ulabels") - before).toLong
  }

  /** Run-side scalar annotation through the SAME deduplicated json_value
    * rows (`JsonValue.runs` M2M, `feature.py:1695`) — run params share
    * value storage with artifact annotations.
    */
  def addRunValues(runId: Long, values: Map[String, Any]): Unit =
    values.foreach { case (name, v) =>
      cat.ensure("run_json_values", Seq("run_id", "json_value_id"),
        Seq(Map("run_id" -> runId, "json_value_id" -> jsonValueId(ensureFeature(name, v), v))))
    }

  private def ensureFeature(name: String, v: Any): Map[String, Any] =
    cat.ensure("feature", Seq("name"),
      Seq(Map("name" -> name, "dtype" -> graft.dtype.Dtype.infer(v).asString))).head

  /** `JsonValue.get_or_create`: one row per (feature, value hash), so the
    * same annotation on many artifacts and runs stores ONE value row.
    */
  private def jsonValueId(feature: Map[String, Any], v: Any): Any = {
    val json = FeatureStore.toJson(v)
    cat.ensure("json_value", Seq("feature_id", "hash"), Seq(Map("feature_id" -> feature("id"),
      "value_json" -> json, "hash" -> graft.core.Hashing.md5String(json)))).head("id")
  }

  /** Flattened (record_id, feature_id, value_json) view over the dedup'd
    * json_value + link tables — what the EAV predicate layer consumes.
    */
  def valuesView: DataFrame =
    cat.table("artifact_json_values")
      .join(cat.table("json_value")
          .select(col("id").as("json_value_id"), col("feature_id"), col("value_json")),
        "json_value_id")
      .select(col("artifact_id").as("record_id"), col("feature_id"), col("value_json"))

  def store: FeatureStore = new FeatureStore(
    features,
    valuesView,
    Some(cat.table("artifact_ulabels")
      .select(col("artifact_id").as("record_id"), col("feature_id"),
        col("ulabel_id").as("label_id"))),
    Some(cat.table("ulabel").select("id", "name")),
    Some(dictionary))

  private def features: DataFrame = cat.table("feature").select("id", "name", "dtype")
  private val dictionary: () => Map[String, (Long, String)] = () =>
    cat.memo("eav.featureDictionary", Seq("feature"))(FeatureStore.dictionary(cat.table("feature")))

  /** Artifact QuerySet with EAV dispatch: unknown filter keys route to
    * the feature layer (`filter_with_features`).
    */
  def querySet: QuerySet = QuerySet(cat, "artifact", featureHook = Some(hook))

  /** `store.hook`, except that a scalar predicate resolves on the driver
    * while `json_value` and `artifact_json_values` each hold at most
    * `Catalog.IndexRowLimit` rows (`Catalog.fits`, `Catalog.index`): the
    * same predicate over the `json_value` rows collects the matching
    * value ids (one job), and the `artifact_json_values` index maps them
    * to artifact ids. Label predicates keep the store's plan.
    */
  private def hook: QuerySet.FeatureHook = {
    val s = store
    lazy val valueRows = new FeatureStore(features,
      cat.table("json_value").select(col("id").as("record_id"), col("feature_id"), col("value_json")),
      dictionary = Some(dictionary))
    (feature, lookupSegs, value) => s.predicate(feature, lookupSegs, value).map { case (p, negate) =>
      val ids =
        if (s.usesLabels(p) || !cat.fits("json_value")) None
        else cat.index("artifact_json_values", "json_value_id", "artifact_id").flatMap(links =>
          links.get(valueRows.matchingIds(p).filter(col("record_id").isNotNull).collect().map(_.getLong(0))))
      (ids.toRight(s.matchingIds(p).withColumnRenamed("record_id", "id")), negate)
    }
  }

  /** `to_dataframe(include="features")`: artifact rows annotated wide
    * with one column per feature (set-agg + single-element unwrap).
    */
  def toDataFrame(artifacts: DataFrame, excludeInternal: Boolean = true): DataFrame = {
    // internal-kind exclusion on unfiltered export (`query_set.py:1155-1165`)
    val base =
      if (excludeInternal)
        artifacts.filter(!coalesce(col("kind"), lit("")).startsWith("__lamindb"))
      else artifacts
    val wide = store.pivotWide(base.select(col("id")), "id")
    base.select(col("id"), col("uid"), col("key"), col("suffix"), col("kind"))
      .join(wide, Seq("id"), "left")
  }
}
