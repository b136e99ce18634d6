package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Versioning

/** Registry-generic soft-delete lifecycle (`query_set.py:1312-1376` +
  * `_adjust_is_latest_when_deleting_is_versioned`): works for ANY
  * branch-carrying registry; versioned registries get the per-(family,
  * branch) head handoff — trashed heads are demoted and the most
  * recently created surviving version on the SAME branch is promoted.
  */
object Lifecycle {

  def trash(cat: Catalog, registry: String, ids: Seq[Long]): Unit = {
    val t = cat.tableDef(registry)
    require(t.hasBranch, s"$registry has no branch field; use permanent delete")
    val promote =
      if (t.versioned && t.fieldNames.contains("is_latest")) successorsFor(cat, registry, ids)
      else Seq.empty[Long]
    var df = cat.table(registry)
    if (t.fieldNames.contains("is_latest"))
      df = df.withColumn("is_latest",
        when(col("id").isin(promote: _*), lit(true))
          .when(col("id").isin(ids: _*) && lit(t.versioned), lit(false))
          .otherwise(col("is_latest")))
    cat.overwrite(registry,
      df.withColumn("branch_id",
        when(col("id").isin(ids: _*), lit(Catalog.TrashBranchId)).otherwise(col("branch_id"))))
  }

  def restore(cat: Catalog, registry: String, ids: Seq[Long]): Unit =
    cat.update(registry, col("id").isin(ids: _*), "branch_id" -> lit(Catalog.MainBranchId))

  /** Per (family stem, branch) whose head is being deleted: the id of the
    * most recently created surviving version on that branch.
    */
  def successorsFor(cat: Catalog, registry: String, ids: Seq[Long]): Seq[Long] = {
    val t = cat.table(registry)
    val stem = Versioning.stem(col("uid"))
    val losing = t.filter(col("id").isin(ids: _*) && col("is_latest"))
      .select(stem.as("__stem"), col("branch_id")).distinct()
    val w = Window.partitionBy("__stem", "branch_id")
      .orderBy(col("created_at").desc, col("id").desc)
    t.filter(!col("id").isin(ids: _*))
      .withColumn("__stem", stem)
      .join(broadcast(losing), Seq("__stem", "branch_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("id").collect().map(_.getLong(0)).toIndexedSeq
  }
}
