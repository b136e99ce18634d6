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
  private val records = new Records(cat)

  /** `artifact.features.add_values({...})`: infer/ensure features, write
    * JSON values (scalars) or label links (strings naming ULabels when
    * the feature dtype is categorical).
    */
  def addValues(artifactId: Long, values: Map[String, Any]): Unit =
    values.foreach { case (name, v) =>
      val dtype = graft.dtype.Dtype.infer(v).asString
      val fid = records.ensureFeature(name, inferredOrExisting(name, dtype))
      val isCat = Option(cat.table("feature").filter(col("id") === fid)
        .select("dtype").head().getString(0)).exists(_.startsWith("cat"))
      if (isCat) {
        val label = cat.table("ulabel").filter(col("name") === v.toString).select("id").head(1)
        val labelId = label.headOption.map(_.getLong(0)).getOrElse(
          cat.insert("ulabel", Map("name" -> v.toString))("id").asInstanceOf[Long])
        cat.insert("artifact_ulabels",
          Map("artifact_id" -> artifactId, "ulabel_id" -> labelId, "feature_id" -> fid))
      } else {
        val jvId = getOrCreateJsonValue(fid, toJson(v))
        val linked = !cat.table("artifact_json_values")
          .filter(col("artifact_id") === artifactId && col("json_value_id") === jvId)
          .isEmpty
        if (!linked)
          cat.insert("artifact_json_values",
            Map("artifact_id" -> artifactId, "json_value_id" -> jvId))
      }
    }

  /** `artifact.labels.add(...)`: link ulabels (optionally under a
    * feature); duplicates are no-ops. Link uniqueness is the reference's
    * ArtifactULabel (artifact, ulabel, feature) triple — the same label
    * may be linked again under a DIFFERENT feature (`_label_manager.py`).
    */
  def addLabels(artifactId: Long, labelIds: Seq[Long], featureId: Option[Long] = None): Unit = {
    val existing = existingLinkKeys(artifactId)
    labelIds.filterNot(lid => existing((lid, featureId))).foreach { lid =>
      cat.insert("artifact_ulabels", Map("artifact_id" -> artifactId,
        "ulabel_id" -> lid) ++ featureId.map("feature_id" -> _))
    }
  }

  /** (ulabel_id, feature_id) pairs already linked to an artifact. */
  private def existingLinkKeys(artifactId: Long): Set[(Long, Option[Long])] =
    cat.table("artifact_ulabels").filter(col("artifact_id") === artifactId)
      .select("ulabel_id", "feature_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet

  /** `artifact.labels.remove(...)`. */
  def removeLabels(artifactId: Long, labelIds: Seq[Long]): Unit = {
    cat.overwrite("artifact_ulabels",
      cat.table("artifact_ulabels").filter(
        !(col("artifact_id") === artifactId && col("ulabel_id").isin(labelIds: _*))))
  }

  /** `artifact.labels.add_from(other)`: copy every label link (with its
    * feature association) from another artifact; idempotent on existing
    * links (`_label_manager.py:310` area).
    */
  def addLabelsFrom(targetId: Long, sourceId: Long): Long = {
    val src = cat.table("artifact_ulabels").filter(col("artifact_id") === sourceId)
      .select("ulabel_id", "feature_id").collect()
    val existing = existingLinkKeys(targetId)
    var n = 0L
    src.foreach { r =>
      val key = (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
      if (!existing(key)) {
        cat.insert("artifact_ulabels", Map(
          "artifact_id" -> targetId, "ulabel_id" -> r.getLong(0),
          "feature_id" -> key._2.map(Long.box).orNull))
        n += 1
      }
    }
    n
  }

  /** Run-side scalar annotation through the SAME deduplicated json_value
    * rows (`JsonValue.runs` M2M, `feature.py:1695`) — run params share
    * value storage with artifact annotations.
    */
  def addRunValues(runId: Long, values: Map[String, Any]): Unit =
    values.foreach { case (name, v) =>
      val dtype = graft.dtype.Dtype.infer(v).asString
      val fid = records.ensureFeature(name, inferredOrExisting(name, dtype))
      val jvId = getOrCreateJsonValue(fid, toJson(v))
      val linked = !cat.table("run_json_values")
        .filter(col("run_id") === runId && col("json_value_id") === jvId)
        .isEmpty
      if (!linked)
        cat.insert("run_json_values", Map("run_id" -> runId, "json_value_id" -> jvId))
    }

  /** `JsonValue.get_or_create`: dedup on (feature, value-hash) — the same
    * (feature, value) annotation on many artifacts stores ONE value row.
    */
  private def getOrCreateJsonValue(featureId: Long, valueJson: String): Long = {
    val hash = graft.core.Hashing.md5String(valueJson)
    val existing = cat.table("json_value")
      .filter(col("feature_id") === featureId && col("hash") === hash)
      .select("id").head(1)
    existing.headOption.map(_.getLong(0)).getOrElse(
      cat.insert("json_value", Map(
        "feature_id" -> featureId, "value_json" -> valueJson, "hash" -> hash))("id")
        .asInstanceOf[Long])
  }

  private def inferredOrExisting(name: String, inferred: String): String = {
    val ex = cat.table("feature").filter(col("name") === name).select("dtype").head(1)
    ex.headOption.flatMap(r => Option(r.getString(0))).getOrElse(inferred)
  }

  private def toJson(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other     => String.valueOf(other)
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
    cat.table("feature").select("id", "name", "dtype"),
    valuesView,
    Some(cat.table("artifact_ulabels")
      .select(col("artifact_id").as("record_id"), col("feature_id"),
        col("ulabel_id").as("label_id"))),
    Some(cat.table("ulabel").select("id", "name")),
    Some(() => cat.memo("eav.featureDictionary", Seq("feature"))(
      FeatureStore.dictionary(cat.table("feature")))))

  /** Artifact QuerySet with EAV dispatch: unknown filter keys route to
    * the feature layer (`filter_with_features`).
    */
  def querySet: QuerySet = QuerySet(cat, "artifact", featureHook = Some(store.hook))

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
