package graft.artifact

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.core.{Hashing, Versioning}

/** Markdown blocks (`lamindb/models/block.py`): readme-kind blocks are
  * versioned like artifacts (same `key` → same uid family), comment-kind
  * blocks are never versioned.
  *
  * Creation semantics mirror the reference constructor
  * (`block.py:100-165,261-371` + `tests/pydata/test_blocks.py`):
  *  - `kind="comment"`: always a new block; revising comments is an error;
  *  - `kind="readme"`, existing head with BLANK content: recover that head
  *    (the reference's "no content was yet saved, returning existing
  *    block", `block.py:319-329`) — the new content is not applied;
  *  - `kind="readme"`, non-blank content that hash-matches ANY visible
  *    latest block (any key, `block.py:344-360`): recover that block,
  *    keeping its original key;
  *  - otherwise: new version in the head's uid family, head flips on the
  *    current branch (blank new content over a non-blank head is a new
  *    version, not a recovery);
  *  - trashed blocks are invisible to recovery — re-creating after a soft
  *    delete starts a fresh identity.
  */
final class Blocks(cat: Catalog) {

  def create(key: String, content: String = "", kind: String = "readme",
             versionTag: Option[String] = None,
             anchorId: Option[Long] = None): Map[String, Any] = {
    require(kind == "readme" || kind == "comment", s"unsupported block kind '$kind'")
    val hash = if (content.nonEmpty) Hashing.md5String(content) else null

    def insertRow(family: Column): Map[String, Any] =
      cat.insertVersion("block", family, Map(
        "key" -> key, "content" -> content, "hash" -> hash,
        "kind" -> kind, "version_tag" -> versionTag.orNull,
        "anchor_id" -> anchorId.map(Long.box).orNull))

    if (kind == "comment") return insertRow(lit(false))

    // readme: recovery semantics from block.py:308-360. Non-trash is the
    // reference's `~Q(branch_id=-1)` — recovery looks across branches.
    val nonTrash = cat.table("block").filter(
      col("kind") === kind && col("branch_id") =!= Catalog.TrashBranchId)
    val head = nonTrash.filter(col("key") === key && col("is_latest"))
      .head(1).headOption
    val headBlank = head.exists { r =>
      val c = r.getAs[String]("content"); c == null || c.isEmpty
    }
    if (headBlank) return head.get.getValuesMap[Any](head.get.schema.fieldNames)
    // global content-hash dedup across ALL visible latest blocks (any key)
    if (hash != null) {
      val byHash = nonTrash.filter(col("is_latest") && col("hash") === hash)
        .head(1).headOption
      byHash.foreach { r => return r.getValuesMap[Any](r.schema.fieldNames) }
    }
    // no head: a new family; else the next version of the head's family
    insertRow(head.fold(lit(false))(r => Versioning.sameFamily(r.getAs[String]("uid"))))
  }

  /** Record-attached block (`RecordBlock`, `block.py:396`, generic init
    * `block.py:100-165` + `test_record_block_*`): readme-kind recovers the
    * per-(record, kind) head only when the EXISTING head's content is
    * blank; otherwise every create — including identical content — is a
    * new version (the generic init path has no hash dedup). Comments are
    * always new.
    */
  def createForRecord(recordId: Long, content: String = "", kind: String = "readme",
                      versionTag: Option[String] = None): Map[String, Any] = {
    require(kind == "readme" || kind == "comment", s"unsupported block kind '$kind'")
    val hash = if (content.nonEmpty) Hashing.md5String(content) else null

    def insertRow(family: Column): Map[String, Any] =
      cat.insertVersion("record_block", family, Map(
        "record_id" -> recordId, "content" -> content,
        "hash" -> hash, "kind" -> kind, "version_tag" -> versionTag.orNull))

    if (kind == "comment") return insertRow(lit(false))
    val visible = cat.table("record_block").filter(
      col("record_id") === recordId && col("kind") === kind &&
        col("branch_id") =!= Catalog.TrashBranchId)
    val head = visible.filter(col("is_latest")).head(1).headOption
    head match {
      case Some(r) if { val c = r.getAs[String]("content"); c == null || c.isEmpty } =>
        // existing head never had content saved: recover it (block.py:137-146)
        r.getValuesMap[Any](r.schema.fieldNames)
      case Some(r) => insertRow(Versioning.sameFamily(r.getAs[String]("uid")))
      case None => insertRow(lit(false))
    }
  }

  /** Latest visible readme content of a record (`SQLRecord.notes`,
    * `test_sqlrecord_notes_returns_latest_readme_content`).
    */
  def recordNotes(recordId: Long): Option[String] =
    cat.table("record_block").filter(
        col("record_id") === recordId && col("kind") === "readme" && col("is_latest") &&
          col("branch_id").isin(Catalog.defaultBranchIds(cat.currentBranchId): _*))
      .select("content").head(1).headOption.map(_.getString(0))

  /** Latest visible readme content for a key (`SQLRecord.notes` analog —
    * `test_sqlrecord_notes_returns_latest_readme_content`).
    */
  def latestReadme(key: String): Option[String] =
    cat.table("block").filter(
        col("key") === key && col("kind") === "readme" && col("is_latest") &&
          col("branch_id").isin(Catalog.defaultBranchIds(cat.currentBranchId): _*))
      .select("content").head(1).headOption.map(_.getString(0))

  def trash(ids: Seq[Long]): Unit =
    cat.update("block", col("id").isin(ids: _*),
      "is_latest" -> lit(false), "branch_id" -> lit(Catalog.TrashBranchId))
}
