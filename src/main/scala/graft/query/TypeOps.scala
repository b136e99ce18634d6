package graft.query

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.catalog.Catalog

/** Typed-registry hierarchy operators (`HasType`: Record/ULabel/Project —
  * reference `sqlrecord.py` + `tests/pydata/test_has_type.py`): a row with
  * `is_type=true` can parent other rows through `type_id`, forming a type
  * DAG whose traversal respects branch visibility.
  */
object TypeOps {

  /** Assign `type_id` with cycle prevention: setting a type whose
    * ancestor chain already contains the record (or the record itself)
    * raises, like the reference's save-time check.
    */
  def setType(cat: Catalog, registry: String, id: Long, typeId: Long): Unit = {
    if (typeId == id)
      throw new IllegalArgumentException(
        s"cannot set $registry $id as its own type: would create a cycle")
    val chain = superTypes(cat, registry, typeId).map(_.getAs[Long]("id"))
    if (chain.contains(id))
      throw new IllegalArgumentException(
        s"setting type $typeId on $registry $id would create a cycle through ${chain.mkString(" -> ")}")
    cat.update(registry, col("id") === id, "type_id" -> lit(typeId))
  }

  /** Super-type chain of a row, nearest first (`query_types`). Walks the
    * `type_id` chain on the driver — type chains are a handful deep.
    */
  def superTypes(cat: Catalog, registry: String, id: Long): Seq[Row] = {
    val t = cat.table(registry)
    val out = Seq.newBuilder[Row]
    var cur: Option[Long] = Some(id)
    var guard = 0
    while (cur.isDefined && guard < 1000) {
      guard += 1
      val row = t.filter(col("id") === cur.get).head(1).headOption
      cur = row.flatMap(r => Option(r.getAs[Any]("type_id")).map(_.asInstanceOf[Long]))
      cur.foreach { tid =>
        t.filter(col("id") === tid).head(1).headOption.foreach(out += _)
      }
    }
    out.result()
  }

  /** All rows under a type's subtree — sub-types AND instances,
    * transitively (`query_records`/`query_ulabels`...). Traversal only
    * crosses VISIBLE rows (default branch ids), so trashing an
    * intermediate type cuts off everything beneath it, matching
    * `test_query_sub_types_super_types_instances`.
    */
  def instancesUnder(cat: Catalog, registry: String, typeId: Long): DataFrame = {
    val visible = cat.table(registry)
      .filter(col("branch_id").isin(Catalog.defaultBranchIds(cat.currentBranchId): _*))
    val edges = visible.filter(col("type_id").isNotNull)
      .select(col("type_id").as("parent"), col("id").as("child"))
    val spark = edges.sparkSession
    import spark.implicits._
    val start = Seq(typeId).toDF("node")
    val reached = graft.lineage.Graph.descendants(edges, start, "parent", "child")
      .filter(col("depth") >= 1) // exclude the start type itself
    visible.join(reached.select(col("node").as("id")), "id")
  }
}
