package graft.catalog

import org.apache.spark.sql.types._

/** Foreign key: `fieldName` traverses to `target` registry joining
  * `localCol == target.pk`.
  */
final case class FK(field: String, target: String, localCol: String, targetCol: String = "id")

/** Many-to-many: `fieldName` traverses through `link` table. */
final case class M2M(field: String, link: String, leftCol: String, rightCol: String, target: String)

/** Registry (table) definition: schema + query-relevant metadata.
  *
  * Mirrors the reference's model layer (`lamindb/models/sqlrecord.py`):
  * every registry has `id` (catalog-local) + `uid` (universal base62);
  * registries with `hasBranch` carry `branch_id` visibility semantics
  * (`branch_id = -1` trash, `0` archived, `1` default main).
  */
final case class TableDef(
    name: String,
    schema: StructType,
    uidLen: Int = 0,
    versioned: Boolean = false,
    hasBranch: Boolean = false,
    searchFields: Seq[String] = Seq("name"),
    fks: Map[String, FK] = Map.empty,
    m2ms: Map[String, M2M] = Map.empty,
    aliases: Map[String, String] = Map.empty,
    /** Per-column string→code maps (reference `_map_status_value`,
      * `query_set.py:164-181`): lets `filter(status = "completed")`
      * reach an integer code column; raw codes pass through.
      */
    enumMaps: Map[String, Map[String, Any]] = Map.empty,
    pk: String = "id"
) {
  def fieldNames: Set[String] = schema.fieldNames.toSet
}

/** All registry table definitions (SURVEY §1.1). */
object Schemas {
  private def f(n: String, t: DataType, nullable: Boolean = true) = StructField(n, t, nullable)
  private val S = StringType; private val L = LongType; private val I = IntegerType
  private val B = BooleanType; private val T = TimestampType; private val D = DoubleType

  private val audit = Seq(f("created_at", T), f("created_by_id", L))
  private val branchSpace = Seq(f("branch_id", L, nullable = false), f("space_id", L))

  val storage = TableDef(
    "storage",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("root", S, false),
      f("typ", S), f("region", S)) ++ audit),
    uidLen = 12, searchFields = Seq("root"))

  val artifact = TableDef(
    "artifact",
    StructType(Seq(
      f("id", L, false), f("uid", S, false), f("key", S), f("suffix", S),
      // real_path: physical location of ingest-by-reference artifacts
      // (the reference's `_real_key` resolution, `artifact_set.py:421-437`)
      f("real_path", S),
      f("kind", S), f("otype", S), f("description", S),
      f("size", L), f("hash", S), f("hash_type", S),
      f("n_files", L), f("n_observations", L),
      f("storage_id", L), f("run_id", L), f("schema_id", L),
      f("version_tag", S), f("is_latest", B, false)) ++ branchSpace ++ audit),
    uidLen = 20, versioned = true, hasBranch = true,
    searchFields = Seq("key", "description"),
    fks = Map(
      "storage" -> FK("storage", "storage", "storage_id"),
      "run" -> FK("run", "run", "run_id"),
      "schema" -> FK("schema", "schema", "schema_id")),
    m2ms = Map(
      "ulabels" -> M2M("ulabels", "artifact_ulabels", "artifact_id", "ulabel_id", "ulabel"),
      "collections" -> M2M("collections", "collection_artifacts", "artifact_id", "collection_id", "collection"),
      "references" -> M2M("references", "artifact_references", "artifact_id", "reference_id", "reference"),
      "projects" -> M2M("projects", "artifact_projects", "artifact_id", "project_id", "project")),
    aliases = Map("version" -> "version_tag", "transform" -> "run__transform"))

  val collection = TableDef(
    "collection",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("key", S),
      f("description", S), f("hash", S),
      f("version_tag", S), f("is_latest", B, false)) ++ branchSpace ++ audit),
    uidLen = 20, versioned = true, hasBranch = true,
    searchFields = Seq("key", "description"),
    m2ms = Map("artifacts" -> M2M("artifacts", "collection_artifacts", "collection_id", "artifact_id", "artifact")),
    aliases = Map("version" -> "version_tag"))

  val collectionArtifacts = TableDef(
    "collection_artifacts",
    StructType(Seq(f("id", L, false), f("collection_id", L, false),
      f("artifact_id", L, false), f("position", I))))

  val transform = TableDef(
    "transform",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("key", S),
      f("typ", S), f("description", S), f("source_code", S), f("source_code_hash", S),
      f("version_tag", S), f("is_latest", B, false)) ++ branchSpace ++ audit),
    uidLen = 16, versioned = true, hasBranch = true,
    searchFields = Seq("key", "description"),
    aliases = Map("version" -> "version_tag"))

  val run = TableDef(
    "run",
    StructType(Seq(f("id", L, false), f("uid", S, false),
      f("transform_id", L, false), f("status_code", I, false),
      f("started_at", T), f("finished_at", T), f("params_json", S)) ++ audit),
    uidLen = 20,
    fks = Map("transform" -> FK("transform", "transform", "transform_id")),
    aliases = Map("status" -> "status_code"),
    enumMaps = Map("status_code" -> Map(
      "scheduled" -> -3, "restarted" -> -2, "started" -> -1,
      "completed" -> 0, "errored" -> 1, "aborted" -> 2)),
    searchFields = Seq("uid"))

  val runInputs = TableDef(
    "run_inputs",
    StructType(Seq(f("id", L, false), f("run_id", L, false), f("artifact_id", L, false))))

  val feature = TableDef(
    "feature",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("name", S, false),
      f("dtype", S), f("description", S), f("synonyms", S),
      f("is_latest", B, false)) ++ branchSpace ++ audit),
    uidLen = 12, hasBranch = true)

  val schemaT = TableDef(
    "schema",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("name", S),
      f("itype", S), f("hash", S),
      f("minimal_set", B), f("maximal_set", B), f("ordered_set", B),
      f("coerce", B), f("flexible", B), f("n_features", I),
      f("is_latest", B, false)) ++ branchSpace ++ audit),
    uidLen = 20, hasBranch = true,
    m2ms = Map("features" -> M2M("features", "schema_features", "schema_id", "feature_id", "feature")))

  val schemaFeatures = TableDef(
    "schema_features",
    StructType(Seq(f("id", L, false), f("schema_id", L, false),
      f("feature_id", L, false), f("position", I), f("optional", B))))

  val ulabel = TableDef(
    "ulabel",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("name", S, false),
      f("type_id", L), f("is_type", B), f("synonyms", S), f("description", S)) ++ branchSpace ++ audit),
    uidLen = 8, hasBranch = true,
    fks = Map("type" -> FK("type", "ulabel", "type_id")),
    m2ms = Map("parents" -> M2M("parents", "ulabel_parents", "child_id", "parent_id", "ulabel")))

  val ulabelParents = TableDef(
    "ulabel_parents",
    StructType(Seq(f("id", L, false), f("child_id", L, false), f("parent_id", L, false))))

  val artifactUlabels = TableDef(
    "artifact_ulabels",
    StructType(Seq(f("id", L, false), f("artifact_id", L, false),
      f("ulabel_id", L, false), f("feature_id", L))),
    fks = Map("feature" -> FK("feature", "feature", "feature_id")))

  val artifactSchemas = TableDef(
    "artifact_schemas",
    StructType(Seq(f("id", L, false), f("artifact_id", L, false),
      f("schema_id", L, false), f("slot", S))))

  /** Deduplicated scalar feature values (`JsonValue`,
    * `models/feature.py:1666`): one row per distinct (feature, value),
    * identified by a value hash (unique_together (feature, hash)).
    */
  val jsonValue = TableDef(
    "json_value",
    StructType(Seq(f("id", L, false), f("feature_id", L),
      f("value_json", S), f("hash", S)) ++ audit),
    fks = Map("feature" -> FK("feature", "feature", "feature_id")))

  /** Artifact ↔ JsonValue M2M link (`ArtifactJsonValue`,
    * `models/artifact.py:3692`; unique (artifact, jsonvalue)).
    */
  val artifactJsonValues = TableDef(
    "artifact_json_values",
    StructType(Seq(f("id", L, false), f("artifact_id", L, false),
      f("json_value_id", L, false))))

  /** Run ↔ JsonValue M2M link (`JsonValue.runs`, `models/feature.py:1695` —
    * runs are annotated with the same deduplicated values as artifacts).
    */
  val runJsonValues = TableDef(
    "run_json_values",
    StructType(Seq(f("id", L, false), f("run_id", L, false),
      f("json_value_id", L, false))))

  val record = TableDef(
    "record",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("name", S),
      f("type_id", L), f("is_type", B), f("description", S)) ++ branchSpace ++ audit),
    uidLen = 16, hasBranch = true,
    fks = Map("type" -> FK("type", "record", "type_id")))

  val recordJson = TableDef(
    "record_json",
    StructType(Seq(f("id", L, false), f("record_id", L, false),
      f("feature_id", L, false), f("value_json", S))))

  val recordRecord = TableDef(
    "record_record",
    StructType(Seq(f("id", L, false), f("record_id", L, false),
      f("feature_id", L, false), f("value_record_id", L, false))))

  val recordUlabel = TableDef(
    "record_ulabel",
    StructType(Seq(f("id", L, false), f("record_id", L, false),
      f("feature_id", L, false), f("ulabel_id", L, false))))

  val recordArtifact = TableDef(
    "record_artifact",
    StructType(Seq(f("id", L, false), f("record_id", L, false),
      f("feature_id", L, false), f("artifact_id", L, false))))

  val user = TableDef(
    "user",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("handle", S, false), f("name", S)) ++ audit),
    uidLen = 8, searchFields = Seq("handle", "name"))

  val branch = TableDef(
    "branch",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("name", S, false),
      f("status_code", I)) ++ audit),
    uidLen = 12,
    aliases = Map("status" -> "status_code"),
    enumMaps = Map("status_code" -> Map(
      "closed" -> -2, "merged" -> -1, "standalone" -> 0,
      "draft" -> 1, "review" -> 2)))

  val space = TableDef(
    "space",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("name", S, false)) ++ audit),
    uidLen = 12)

  val project = TableDef(
    "project",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("name", S, false),
      f("description", S)) ++ branchSpace ++ audit),
    uidLen = 12, hasBranch = true,
    m2ms = Map(
      "references" -> M2M("references", "project_references", "project_id", "reference_id", "reference"),
      "users" -> M2M("users", "project_users", "project_id", "user_id", "user"),
      "artifacts" -> M2M("artifacts", "artifact_projects", "project_id", "artifact_id", "artifact")))

  /** References — papers, internal studies, documents, URLs
    * (`models/project.py:45-249`): a typed registry (self-FK `type_id`
    * like ULabel) with bibliographic fields and M2M links to artifacts /
    * transforms / collections.
    */
  val reference = TableDef(
    "reference",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("name", S, false),
      f("description", S), f("abbr", S), f("url", S),
      f("pubmed_id", L), f("doi", S), f("text", S), f("date", DateType),
      f("type_id", L), f("is_type", B)) ++ branchSpace ++ audit),
    uidLen = 12, hasBranch = true,
    searchFields = Seq("name", "abbr", "text"),
    fks = Map("type" -> FK("type", "reference", "type_id")),
    m2ms = Map(
      "artifacts" -> M2M("artifacts", "artifact_references", "reference_id", "artifact_id", "artifact"),
      "transforms" -> M2M("transforms", "transform_references", "reference_id", "transform_id", "transform"),
      "collections" -> M2M("collections", "collection_references", "reference_id", "collection_id", "collection"),
      "projects" -> M2M("projects", "project_references", "reference_id", "project_id", "project")))

  /** Link tables for Reference (`ArtifactReference` is feature-scoped
    * like `ArtifactULabel`: unique on (artifact, reference, feature),
    * `project.py:480-507`).
    */
  val artifactReferences = TableDef(
    "artifact_references",
    StructType(Seq(f("id", L, false), f("artifact_id", L, false),
      f("reference_id", L, false), f("feature_id", L))),
    fks = Map("feature" -> FK("feature", "feature", "feature_id")))

  val transformReferences = TableDef(
    "transform_references",
    StructType(Seq(f("id", L, false), f("transform_id", L, false),
      f("reference_id", L, false))))

  val collectionReferences = TableDef(
    "collection_references",
    StructType(Seq(f("id", L, false), f("collection_id", L, false),
      f("reference_id", L, false))))

  val projectReferences = TableDef(
    "project_references",
    StructType(Seq(f("id", L, false), f("project_id", L, false),
      f("reference_id", L, false))))

  val artifactProjects = TableDef(
    "artifact_projects",
    StructType(Seq(f("id", L, false), f("artifact_id", L, false),
      f("project_id", L, false), f("feature_id", L))),
    fks = Map("feature" -> FK("feature", "feature", "feature_id")))

  /** Project membership with a role (`ProjectUser`, `project.py:541-550`:
    * unique on (project, user, role)) — the reference's person-link
    * surface, since contributors are User rows.
    */
  val projectUsers = TableDef(
    "project_users",
    StructType(Seq(f("id", L, false), f("project_id", L, false),
      f("user_id", L, false), f("role", S))))

  /** Markdown blocks (`models/block.py:206` `Block(BaseBlock, SQLRecord)`):
    * versioned readme-kind content keyed like artifacts, unversioned
    * comments, optional self-anchor (comment → issue, sub-post → post).
    */
  val block = TableDef(
    "block",
    StructType(Seq(f("id", L, false), f("uid", S, false), f("key", S),
      f("content", S), f("hash", S), f("kind", S),
      f("anchor_id", L),
      f("version_tag", S), f("is_latest", B, false)) ++ branchSpace ++ audit),
    uidLen = 20, versioned = true, hasBranch = true,
    searchFields = Seq("key", "content"),
    fks = Map("anchor" -> FK("anchor", "block", "anchor_id")),
    aliases = Map("version" -> "version_tag"))

  /** Record-attached blocks (`RecordBlock`, `models/block.py:396`): same
    * versioning machinery, scoped to a record instead of a key.
    */
  val recordBlock = TableDef(
    "record_block",
    StructType(Seq(f("id", L, false), f("uid", S, false),
      f("record_id", L, false), f("content", S), f("hash", S), f("kind", S),
      f("version_tag", S), f("is_latest", B, false)) ++ branchSpace ++ audit),
    uidLen = 20, versioned = true, hasBranch = true,
    fks = Map("record" -> FK("record", "record", "record_id")),
    aliases = Map("version" -> "version_tag"))

  val all: Seq[TableDef] = Seq(
    block, recordBlock,
    storage, artifact, collection, collectionArtifacts, transform, run,
    runInputs, feature, schemaT, schemaFeatures, ulabel, ulabelParents,
    artifactUlabels, artifactSchemas, jsonValue, artifactJsonValues,
    runJsonValues, record, recordJson, recordRecord, recordUlabel,
    recordArtifact, user, branch, space, project,
    reference, artifactReferences, transformReferences, collectionReferences,
    projectReferences, artifactProjects, projectUsers)

  val byName: Map[String, TableDef] = all.map(t => t.name -> t).toMap
}
