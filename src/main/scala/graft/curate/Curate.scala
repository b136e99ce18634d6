package graft.curate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.dtype.{Cat, Dtype, ListOf, Simple}

/** Validation / curation operators — the reference's signature capability
  * (`lamindb/models/can_curate.py`, `curators/core.py`), re-expressed as
  * join plans: membership = broadcast semi/left join against the registry
  * field; synonym standardization = explode the pipe-delimited `synonyms`
  * field into a (synonym → name) dictionary and map through it.
  */
object Curate {

  /** Vectorized membership check (`validate`, `can_curate.py:159-216`):
    * adds a `validated` flag per value row via a broadcast left join.
    */
  def validate(values: DataFrame, valueCol: String, registry: DataFrame,
               field: String, caseSensitive: Boolean = true): DataFrame = {
    val reg = registry.select(col(field).as("__reg_value")).distinct()
    val cond =
      if (caseSensitive) col(valueCol) === col("__reg_value")
      else lower(col(valueCol)) === lower(col("__reg_value"))
    values.join(broadcast(reg), cond, "left")
      .withColumn("validated", col("__reg_value").isNotNull)
      .drop("__reg_value")
  }

  /** Partition into validated / non-validated (`inspect`,
    * `can_curate.py:56-156`): synonym-aware — a value counts as validated
    * if it matches the field OR any synonym, but synonym matches are
    * reported separately so callers can suggest `standardize()`.
    */
  def inspect(values: DataFrame, valueCol: String, registry: DataFrame,
              field: String, synonymsCol: Option[String] = Some("synonyms")): InspectResult = {
    val direct = validate(values, valueCol, registry, field)
    val bySynonym = synonymsCol.filter(registry.columns.contains) match {
      case Some(sc) =>
        val dict = synonymDict(registry, field, sc)
        direct.filter(!col("validated"))
          .join(broadcast(dict), col(valueCol) === col("__synonym"), "left_semi")
      case None => direct.limit(0)
    }
    InspectResult(
      validated = direct.filter(col("validated")).drop("validated"),
      nonValidated = direct.filter(!col("validated")).drop("validated"),
      synonymMatches = bySynonym.drop("validated"))
  }

  final case class InspectResult(validated: DataFrame, nonValidated: DataFrame,
                                 synonymMatches: DataFrame)

  /** One-pass bucket form of `inspect`: a single plan labelling each value
    * `validated` / `synonym_match` / `nonvalidated`. Same semantics as
    * composing the three `InspectResult` legs, but two broadcast joins
    * instead of six — the split API re-filters the same base three times,
    * which costs a job per leg on metadata-sized inputs.
    */
  def inspectBuckets(values: DataFrame, valueCol: String, registry: DataFrame,
                     field: String, synonymsCol: String = "synonyms"): DataFrame = {
    val names = registry.select(col(field).as("__name")).distinct()
    val syns =
      if (registry.columns.contains(synonymsCol))
        synonymDict(registry, field, synonymsCol)
          .filter(col("__prio") === 1).select("__synonym").distinct()
      else values.limit(0).select(col(valueCol).as("__synonym"))
    values.join(broadcast(names), col(valueCol) === col("__name"), "left")
      .join(broadcast(syns), col(valueCol) === col("__synonym"), "left")
      .withColumn("bucket",
        when(col("__name").isNotNull, "validated")
          .when(col("__synonym").isNotNull, "synonym_match")
          .otherwise("nonvalidated"))
      .drop("__name", "__synonym")
  }

  /** `inspectBuckets` with a PUBLIC-ONTOLOGY fallback — the reference's
    * `inspect` partitions non-validated values against a public source
    * and reports them as creatable-from-public
    * (`can_curate.py:56-156`: "loading of records from the public
    * source"; the `source` param of `_from_values.py:50-131`): a fresh
    * instance knows none of the public dictionary yet, so first contact
    * with e.g. an unseen gene symbol should say "in the public ontology,
    * create it" rather than "unknown". Buckets, in precedence order:
    * `validated` (instance field) > `synonym_match` (instance synonym)
    * > `public_hit` (public field or synonym) > `nonvalidated`.
    * One broadcast join per dictionary — the values column never
    * shuffles, so the pass is map-only at any corpus size.
    */
  def inspectBucketsWithPublic(values: DataFrame, valueCol: String,
                               registry: DataFrame, field: String,
                               publicSource: DataFrame, publicField: String,
                               synonymsCol: String = "synonyms"): DataFrame = {
    val pub = dictKeys(publicSource, publicField, synonymsCol)
      .select(col("__synonym").as("__pub")).distinct()
    inspectBuckets(values, valueCol, registry, field, synonymsCol)
      .join(broadcast(pub), col(valueCol) === col("__pub"), "left")
      .withColumn("bucket",
        when(col("bucket") =!= "nonvalidated", col("bucket"))
          .when(col("__pub").isNotNull, "public_hit")
          .otherwise("nonvalidated"))
      .drop("__pub")
  }

  /** `from_values` with the public-source fallback: `existing` (instance
    * rows matched by field or synonym), `fromPublic` (public-source rows
    * for values unknown to the instance but present in the public
    * dictionary — the rows the caller bulk-creates, exactly what the
    * reference materializes from `source`), `creatable` (values unknown
    * to both; caller decides, never silently created).
    */
  def fromValuesWithPublic(values: DataFrame, valueCol: String,
                           registry: DataFrame, field: String,
                           publicSource: DataFrame, publicField: String,
                           synonymsCol: String = "synonyms"): FromValuesPublicResult = {
    val base = fromValues(values, valueCol, registry, field, synonymsCol)
    val pubDict = dictKeys(publicSource, publicField, synonymsCol)
    val fromPublic = publicSource.join(
      broadcast(base.creatable.join(broadcast(pubDict),
          col(valueCol) === col("__synonym"))
        .select(col("__name").as(publicField)).distinct()),
      Seq(publicField), "left_semi")
    val trulyUnknown = base.creatable.join(
      broadcast(pubDict.select("__synonym").distinct()),
      col(valueCol) === col("__synonym"), "left_anti")
    FromValuesPublicResult(base.existing, fromPublic, trulyUnknown)
  }

  final case class FromValuesPublicResult(existing: DataFrame, fromPublic: DataFrame,
                                          creatable: DataFrame)

  /** (name, synonym) match keys of a registry-or-public dictionary:
    * canonical names plus pipe-delimited synonyms when present.
    */
  private def dictKeys(source: DataFrame, field: String, synonymsCol: String): DataFrame =
    if (source.columns.contains(synonymsCol)) synonymDict(source, field, synonymsCol)
    else source.select(col(field).as("__name"), col(field).as("__synonym"), lit(0).as("__prio"))

  /** (synonym, name, priority) dictionary: canonical names map to
    * themselves with priority 0, pipe-delimited synonyms with priority 1
    * (`"a|b|c"` storage, `can_curate.py:219-349`).
    */
  private def synonymDict(registry: DataFrame, field: String, synonymsCol: String): DataFrame = {
    val canonical = registry.select(col(field).as("__name"), col(field).as("__synonym"),
      lit(0).as("__prio"))
    val syns = registry
      .select(col(field).as("__name"),
        explode(split(coalesce(col(synonymsCol), lit("")), "\\|")).as("__synonym"),
        lit(1).as("__prio"))
      .filter(col("__synonym") =!= "")
    canonical.unionByName(syns)
  }

  /** Map synonyms → canonical names (`standardize`, `can_curate.py:
    * 219-349`): adds a `standardized` column; unknown values pass through
    * unchanged. Exact canonical matches win over synonym matches; synonym
    * collisions resolve to the lexicographically first name
    * (deterministic `keep="first"`).
    */
  def standardize(values: DataFrame, valueCol: String, registry: DataFrame,
                  field: String, synonymsCol: String = "synonyms",
                  caseSensitive: Boolean = true): DataFrame = {
    val dict0 = synonymDict(registry, field, synonymsCol)
    val dict = (if (caseSensitive) dict0
                else dict0.withColumn("__synonym", lower(col("__synonym"))))
      .groupBy("__synonym")
      .agg(min(struct(col("__prio"), col("__name"))).getField("__name").as("__mapped"))
    val key = if (caseSensitive) col(valueCol) else lower(col(valueCol))
    values.join(broadcast(dict), key === col("__synonym"), "left")
      .withColumn("standardized", coalesce(col("__mapped"), col(valueCol)))
      .drop("__synonym", "__mapped")
  }

  /** Bulk get-or-reference (`from_values`, `_from_values.py:50-131`):
    * split values into records that already exist in the registry
    * (matched by field or synonym) vs values that would need creation.
    * Never silently creates — the caller decides what to do with
    * `creatable` (reference parity).
    */
  def fromValues(values: DataFrame, valueCol: String, registry: DataFrame,
                 field: String, synonymsCol: String = "synonyms"): FromValuesResult = {
    val dict = dictKeys(registry, field, synonymsCol)
    val matched = values.join(broadcast(dict.select("__synonym").distinct()),
      col(valueCol) === col("__synonym"), "left_semi")
    val existing = registry.join(
      broadcast(matched.join(broadcast(dict), col(valueCol) === col("__synonym"))
        .select(col("__name").as(field)).distinct()),
      Seq(field), "left_semi")
    val creatable = values.join(broadcast(dict.select("__synonym").distinct()),
      col(valueCol) === col("__synonym"), "left_anti").distinct()
    FromValuesResult(existing, creatable)
  }

  final case class FromValuesResult(existing: DataFrame, creatable: DataFrame)

  /** In-place categorical standardization of a dataset column (`CatVector
    * .standardize`, `curators/core.py:1505-2028`): synonyms are replaced
    * by canonical names directly in the column; unknown values pass
    * through.
    */
  def standardizeColumn(df: DataFrame, colName: String, registry: DataFrame,
                        field: String, synonymsCol: String = "synonyms"): DataFrame = {
    val out = standardize(df, colName, registry, field, synonymsCol)
    out.withColumn(colName, col("standardized")).drop("standardized")
  }

  /** `add_new`: create registry rows for values that validated against
    * nothing (`CatVector.add_new`, `curators/core.py` / `DataFrameCat
    * Manager`). Returns the created rows. Never touches values that
    * already exist (directly or via synonym).
    */
  def addNew(values: DataFrame, valueCol: String, cat: graft.catalog.Catalog,
             registry: String, field: String = "name"): Seq[Map[String, Any]] = {
    val reg = cat.table(registry)
    val creatable = fromValues(values, valueCol, reg, field).creatable
      .select(valueCol).distinct().collect().map(_.get(0)).filter(_ != null)
    creatable.sortBy(_.toString).map(v =>
      cat.insert(registry, Map(field -> v))).toSeq
  }

  /** Dataset standardization against a schema (`curators/core.py:834-881`):
    * add missing schema columns filled with their default (or null), so
    * the frame conforms structurally before validation.
    */
  def standardizeDataset(df: DataFrame, spec: SchemaSpec,
                         defaults: Map[String, Any] = Map.empty): DataFrame =
    spec.features.filterNot(f => df.columns.contains(f.name)).foldLeft(df) { (acc, f) =>
      val default = defaults.get(f.name).map(lit).getOrElse(lit(null))
      acc.withColumn(f.name, default.cast(sparkTypeFor(f.dtype)))
    }

  private def sparkTypeFor(dtype: String): String = dtype match {
    case "int"              => "long"
    case "num" | "float"    => "double"
    case "bool"             => "boolean"
    case "datetime"         => "timestamp"
    case "date"             => "date"
    case _                  => "string"
  }
}

/** A feature schema compiled to Spark-side validation (DataFrameCurator,
  * `curators/core.py:652-909` + flags `models/schema.py:344-349`).
  */
final case class FeatureSpec(name: String, dtype: String, nullable: Boolean = true,
                             optional: Boolean = false,
                             catRegistry: Option[(DataFrame, String)] = None,
                             /** Regex the (non-null) value must fully satisfy —
                               * the reference's field RegexValidator, e.g. the
                               * Reference.doi pattern (`models/project.py:178-186`).
                               */
                             pattern: Option[String] = None)

final case class SchemaSpec(features: Seq[FeatureSpec],
                            minimalSet: Boolean = true,
                            maximalSet: Boolean = false,
                            orderedSet: Boolean = false,
                            coerce: Boolean = false)

final case class ValidationIssue(check: String, column: String, detail: String, n: Long)

final case class ValidationReport(passed: Boolean, issues: Seq[ValidationIssue])

object SchemaValidator {

  /** Validate a DataFrame against a schema spec. Structural checks
    * (presence / extra-column / ordering) are driver-side over
    * `df.schema`; content checks (dtype conformance, nullability,
    * categorical membership) compile to ONE aggregate pass plus one
    * anti-join per categorical feature.
    */
  def validate(df: DataFrame, spec: SchemaSpec): ValidationReport = {
    val issues = Seq.newBuilder[ValidationIssue]
    val present = df.columns.toSeq
    val required = spec.features.filterNot(_.optional).map(_.name)

    // minimal_set: required features must be present
    if (spec.minimalSet)
      required.filterNot(present.contains).foreach { m =>
        issues += ValidationIssue("missing_column", m, "required by schema (minimal_set)", 0L)
      }
    // maximal_set (strict): no columns beyond the schema
    if (spec.maximalSet) {
      val allowed = spec.features.map(_.name).toSet
      present.filterNot(allowed.contains).foreach { e =>
        issues += ValidationIssue("unexpected_column", e, "not in schema (maximal_set)", 0L)
      }
    }
    // ordered_set: schema features must appear as a prefix in order
    if (spec.orderedSet) {
      val want = spec.features.map(_.name)
      if (present.take(want.length) != want)
        issues += ValidationIssue("column_order", want.mkString(","),
          s"expected prefix order, got ${present.take(want.length).mkString(",")}", 0L)
    }

    // one aggregate pass: null counts + dtype-violation counts
    val checkable = spec.features.filter(f => present.contains(f.name))
    val aggs: Seq[Column] = checkable.flatMap { f =>
      val c = col(f.name)
      val nullAgg =
        if (!f.nullable) Some(sum(when(c.isNull, 1L).otherwise(0L)).as(s"__null__${f.name}"))
        else None
      val dtypeAgg = dtypeViolation(c, f.dtype).map(v =>
        sum(when(v, 1L).otherwise(0L)).as(s"__dtype__${f.name}"))
      // pattern check rides the same single aggregate pass
      val patternAgg = f.pattern.map(re =>
        sum(when(c.isNotNull && !c.cast("string").rlike(re), 1L).otherwise(0L))
          .as(s"__pattern__${f.name}"))
      nullAgg.toSeq ++ dtypeAgg.toSeq ++ patternAgg.toSeq
    }
    if (aggs.nonEmpty) {
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      row.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
        val cnt = if (row.isNullAt(i)) 0L else row.getLong(i)
        if (cnt > 0) {
          val Array(_, kind, colName) = n.split("__", 3)
          issues += ValidationIssue(
            kind match {
              case "null"    => "null_values"
              case "pattern" => "pattern_mismatch"
              case _         => "dtype_mismatch"
            },
            colName, s"$cnt violating rows", cnt)
        }
      }
    }

    // categorical membership: anti-join per cat feature
    checkable.filter(_.catRegistry.isDefined).foreach { f =>
      val (reg, field) = f.catRegistry.get
      val bad = catViolations(df, f.name, reg, field)
      bad.collect().foreach { r =>
        issues += ValidationIssue("non_validated", f.name,
          Option(r.get(0)).map(_.toString).getOrElse("null"), r.getLong(1))
      }
    }

    val result = issues.result()
    ValidationReport(result.isEmpty, result)
  }

  /** Distinct non-member values of a categorical column with counts. */
  def catViolations(df: DataFrame, column: String, registry: DataFrame, field: String): DataFrame =
    df.select(col(column))
      .join(broadcast(registry.select(col(field).as(column)).distinct()), Seq(column), "left_anti")
      .groupBy(column).agg(count(lit(1)).as("n"))
      .orderBy(column)

  /** A Column that is true where the value does NOT conform to the dtype
    * (`check_dtype` closures, `base/dtypes.py:20-85`). Physical strings
    * are checked by try_cast; correctly-typed physical columns need no
    * check (None).
    */
  private def dtypeViolation(c: Column, dtypeStr: String): Option[Column] = {
    val d = Dtype.parse(dtypeStr)
    d match {
      case Simple("num") | Simple("float") | Simple("int") =>
        Some(c.isNotNull && expr(s"try_cast(${colSql(c)} AS double)").isNull)
      case Simple("bool") =>
        Some(c.isNotNull && expr(s"try_cast(${colSql(c)} AS boolean)").isNull)
      case Simple("datetime") | Simple("date") =>
        Some(c.isNotNull && expr(s"try_cast(${colSql(c)} AS timestamp)").isNull)
      case _ => None // str/cat/list/dict: physical check not needed
    }
  }

  private def colSql(c: Column): String = c.toString
}

/** Composite slot-wise curation (`SlotsCurator`, `curators/core.py:487-609`
  * — AnnData/MuData/SpatialData curators are this loop over their slot
  * DataFrames: `obs`, `var.T`, per-modality tables). Each slot validates
  * against its own SchemaSpec; the composite passes iff every slot does.
  */
object SlotsCurator {
  final case class SlotReport(slot: String, report: ValidationReport)

  def validate(slots: Map[String, (org.apache.spark.sql.DataFrame, SchemaSpec)]): Seq[SlotReport] =
    slots.toSeq.sortBy(_._1).map { case (name, (df, spec)) =>
      SlotReport(name, SchemaValidator.validate(df, spec))
    }

  def passed(reports: Seq[SlotReport]): Boolean = reports.forall(_.report.passed)

  /** Slot-wise dataset standardization: add missing schema columns per
    * slot before validation (`standardize`, `curators/core.py:834-881`).
    */
  def standardize(slots: Map[String, (org.apache.spark.sql.DataFrame, SchemaSpec)],
                  defaults: Map[String, Map[String, Any]] = Map.empty)
      : Map[String, (org.apache.spark.sql.DataFrame, SchemaSpec)] =
    slots.map { case (name, (df, spec)) =>
      name -> (Curate.standardizeDataset(df, spec, defaults.getOrElse(name, Map.empty)), spec)
    }
}
