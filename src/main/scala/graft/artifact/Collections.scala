package graft.artifact

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.core.Hashing

/** Collections: versioned, ordered lists of artifacts
  * (`lamindb/models/collection.py:98`, link table `:741`).
  *
  * The collection hash is the order-independent digest of member hashes —
  * two collections over identical content are the same collection
  * (idempotent create, like artifacts). `append` creates a NEW VERSION of
  * the collection with one more member (`collection.py:398-425`);
  * `open`/`load` delegate to the multi-path scan / unionByName concat.
  */
final class Collections(cat: Catalog, store: ArtifactStore) {

  private def memberHashes(artifactIds: Seq[Long]): Seq[String] =
    cat.table("artifact").filter(col("id").isin(artifactIds: _*))
      .select("hash").collect().map(_.getString(0)).toSeq

  private def collectionHash(artifactIds: Seq[Long]): String =
    Hashing.md5String(memberHashes(artifactIds).sorted.mkString)

  /** Create (or idempotently return) a collection over the given
    * artifacts, preserving order via the link table's `position`.
    */
  def create(key: String, artifactIds: Seq[Long], description: String = null): Map[String, Any] = {
    val hash = collectionHash(artifactIds)
    val existing = cat.table("collection").filter(col("hash") === hash).head(1)
    if (existing.nonEmpty) return existing.head.getValuesMap[Any](existing.head.schema.fieldNames)
    val row = cat.insertVersion("collection", col("key") === key,
      Map("key" -> key, "hash" -> hash, "description" -> description))
    val cid = row("id").asInstanceOf[Long]
    artifactIds.zipWithIndex.foreach { case (aid, pos) =>
      cat.insert("collection_artifacts",
        Map("collection_id" -> cid, "artifact_id" -> aid, "position" -> pos))
    }
    row
  }

  /** New version of the collection with the extra artifacts appended
    * (`Collection.append`).
    */
  def append(collectionId: Long, artifactIds: Seq[Long]): Map[String, Any] = {
    val row = cat.table("collection").filter(col("id") === collectionId).head()
    val key = row.getAs[String]("key")
    val members = orderedArtifactIds(collectionId)
    create(key, members ++ artifactIds)
  }

  /** Member artifact ids in position order (`ordered_artifacts`). */
  def orderedArtifactIds(collectionId: Long): Seq[Long] =
    cat.table("collection_artifacts").filter(col("collection_id") === collectionId)
      .orderBy("position").select("artifact_id").collect().map(_.getLong(0)).toSeq

  /** Member artifact rows with their `position`, unordered. */
  private def members(collectionId: Long): DataFrame =
    cat.table("collection_artifacts").filter(col("collection_id") === collectionId)
      .select(col("artifact_id").as("id"), col("position"))
      .join(cat.table("artifact"), "id")

  /** Member artifact rows (catalog DataFrame, position order retained). */
  def artifacts(collectionId: Long): DataFrame = members(collectionId).orderBy("position")

  /** One lazy multi-path scan over all members (`Collection.open`). The
    * members are not sorted in Spark: a parquet scan does not keep path
    * order, and `ArtifactStore.open` unions the per-member frames of
    * other formats in `position` order itself.
    */
  def open(collectionId: Long): DataFrame = store.open(members(collectionId))

  /** Eager concat with inner/outer column alignment and per-member
    * provenance (`_load_concat_artifacts`, `collection.py:63-95`):
    * inner = intersection of columns, outer = unionByName with null fill;
    * `artifact_uid` is the provenance label column.
    */
  def load(collectionId: Long, join: String = "outer"): DataFrame = {
    val rows = artifacts(collectionId).select("id", "uid").collect()
    val dfs = rows.map { r =>
      store.open(cat.table("artifact").filter(col("id") === r.getLong(0)))
        .withColumn("artifact_uid", lit(r.getString(1)))
    }
    join match {
      case "outer" => dfs.reduce(_.unionByName(_, allowMissingColumns = true))
      case "inner" =>
        val common = dfs.map(_.columns.toSet).reduce(_ intersect _).toSeq.sorted
        dfs.map(_.select(common.map(col): _*)).reduce(_.unionByName(_))
      case other => throw new IllegalArgumentException(s"join must be inner/outer, got $other")
    }
  }

  /** Total observations = sum over members (`n_observations` property). */
  def nObservations(collectionId: Long): Long = {
    val r = artifacts(collectionId).agg(sum("n_observations")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
