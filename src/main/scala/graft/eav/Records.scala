package graft.eav

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.Catalog

/** Record "sheets" — dynamic-schema rows stored EAV-style
  * (`lamindb/models/record.py:533`, link tables `:1262-1358`): a Record
  * type (e.g. `BioSample`) defines no physical columns; each row's values
  * live in `record_json` keyed by Feature, so the schema can grow without
  * migrations. Wide import/export is the long↔wide pivot.
  */
final class Records(cat: Catalog) {

  private def sparkToDtype(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => "int"
    case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType => "num"
    case org.apache.spark.sql.types.BooleanType => "bool"
    case _: org.apache.spark.sql.types.TimestampType => "datetime"
    case org.apache.spark.sql.types.DateType => "date"
    case _ => "str"
  }

  /** Import a wide DataFrame as records of `typeName`: one Record row per
    * input row (named by `nameCol`), remaining columns become Features
    * with JSON-encoded values (`Record.from_dataframe` semantics).
    * Returns the created record ids keyed by name.
    */
  def fromDataFrame(df: DataFrame, typeName: String, nameCol: String): Map[String, Long] = {
    val typeId = cat.ensure("record", Seq("name", "is_type"),
      Seq(Map("name" -> typeName, "is_type" -> true))).head("id")
    val valueCols = df.columns.filterNot(_ == nameCol).toSeq
    // dtype inferred from the column type on first sight (`infer_feature_type`)
    val features = cat.ensure("feature", Seq("name"), valueCols.map(c =>
      Map("name" -> c, "dtype" -> sparkToDtype(df.schema(c).dataType))))
    val featureIds = valueCols.zip(features.map(_("id"))).toMap
    val rows = df.collect() // sheets are human-scale; bulk data belongs in artifacts
    rows.map { r =>
      val name = r.getAs[Any](nameCol).toString
      val recordId = cat.insert("record",
        Map("name" -> name, "type_id" -> typeId))("id").asInstanceOf[Long]
      valueCols.foreach { c =>
        val v = r.getAs[Any](c)
        if (v != null)
          cat.insert("record_json", Map("record_id" -> recordId,
            "feature_id" -> featureIds(c), "value_json" -> FeatureStore.toJson(v)))
      }
      name -> recordId
    }.toMap
  }

  /** FeatureStore view over the records of one type (scalar JSON values +
    * record-valued / label links when present).
    */
  def store(typeName: String): FeatureStore = {
    new FeatureStore(
      cat.table("feature").select("id", "name", "dtype"),
      cat.table("record_json").select("record_id", "feature_id", "value_json"),
      Some(cat.table("record_ulabel")
        .select(col("record_id"), col("feature_id"), col("ulabel_id").as("label_id"))),
      Some(cat.table("ulabel").select("id", "name")))
  }

  /** Records of a type as a DataFrame (id, uid, name + branch filtering
    * via the standard QuerySet path).
    */
  def ofType(typeName: String): DataFrame = {
    val typeIds = cat.table("record")
      .filter(col("name") === typeName && col("is_type") === true)
      .select(col("id").as("type_id"))
    cat.table("record").join(broadcast(typeIds), "type_id")
      .filter(col("branch_id").isin(Catalog.defaultBranchIds(cat.currentBranchId): _*))
  }

  /** Wide export: records of a type pivoted back to one column per
    * feature (`Record.to_dataframe`), typed per feature dtype.
    */
  def toDataFrame(typeName: String): DataFrame = {
    val records = ofType(typeName)
    val wide = store(typeName).pivotWide(records.select(col("id")), "id")
    records.select(col("id"), col("uid"), col("name")).join(wide, Seq("id"), "left")
  }
}
