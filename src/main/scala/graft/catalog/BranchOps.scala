package graft.catalog

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Versioning

/** Branch lifecycle operations (`lamindb/setup/_merge.py` +
  * `reconcile_is_latest_within_branch`, `_is_versioned.py`).
  *
  * Merge moves every branch-carrying row from the source branch to the
  * target, then reconciles `is_latest` per version family ON THE TARGET
  * branch (winner = newest created_at, ties to highest id — only rows
  * that were heads are considered, non-heads are never promoted), and
  * finally marks the source branch `merged`.
  */
object BranchOps {

  val StatusMerged = -1
  val StatusStandalone = 0

  /** Resolve a branch row by name or uid (`_resolve_branch`). */
  def resolve(cat: Catalog, branch: String): Row = {
    val rows = cat.table("branch")
      .filter(col("name") === branch || col("uid") === branch).head(2)
    if (rows.isEmpty) throw new graft.query.DoesNotExist(s"Branch '$branch' not found.")
    rows.head
  }

  /** Merge `source` into `target` (default: the current branch). */
  def merge(cat: Catalog, source: String, target: Option[String] = None): Unit = {
    val src = resolve(cat, source)
    val srcId = src.getAs[Long]("id")
    val tgtId = target.map(resolve(cat, _).getAs[Long]("id")).getOrElse(cat.currentBranchId)
    if (srcId == tgtId) return // identical source and target: no-op

    Schemas.all.filter(_.hasBranch).foreach { t =>
      val moved = !cat.table(t.name).filter(col("branch_id") === srcId).isEmpty
      if (moved) cat.update(t.name, col("branch_id") === srcId, "branch_id" -> lit(tgtId))
      else cat.flush(t.name)
    }

    Schemas.all.filter(t => t.versioned && t.fieldNames.contains("is_latest"))
      .foreach(t => reconcileIsLatestWithinBranch(cat, t.name, tgtId))

    cat.update("branch", col("id") === srcId, "status_code" -> lit(StatusMerged))
  }

  /** Keep ONE `is_latest` head per version family on `branchId`: among
    * current heads, winner by (created_at, id) descending; losers are
    * demoted, nothing is promoted (`reconcile_is_latest_within_branch`).
    * Returns the number demoted.
    */
  def reconcileIsLatestWithinBranch(cat: Catalog, registry: String, branchId: Long): Long = {
    val heads = cat.table(registry).filter(col("branch_id") === branchId && col("is_latest"))
      .withColumn("__stem", Versioning.stem(col("uid")))
    val w = Window.partitionBy("__stem").orderBy(col("created_at").desc, col("id").desc)
    val losers = heads.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1).select("id").collect().map(_.getLong(0)).toIndexedSeq
    if (losers.nonEmpty) cat.update(registry, col("id").isin(losers: _*), "is_latest" -> lit(false))
    else cat.flush(registry)
    losers.size.toLong
  }
}
