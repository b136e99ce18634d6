package lakebench

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.catalog.Catalog

/** One generated artifact row of a registry catalog. */
final case class GenArtifact(id: Long, uid: String, key: String, description: String,
                             size: Long, hash: String, runId: Long, branchId: Long,
                             isLatest: Boolean, nCells: Int) {
  def visible: Boolean = branchId == Catalog.MainBranchId
}

/** Seeded registry content (Spark-free): storage, transforms and runs in
  * five lineage layers, ulabels, artifacts with version families and
  * trashed rows, artifact-ulabel links, one EAV feature (`n_cells`) and
  * run inputs. Closed forms for every registry query the benchmark issues
  * are computed from these rows.
  */
final class RegistryModel(seed: Long, val nKeys: Int, val nLabels: Int,
                          val nTransforms: Int = 40, val nRuns: Int = 400) {
  val nLayers = 5
  val nValues = 200
  private val r = Rng(seed, "registry")
  private val descWords = Vocab.words.take(300)
  private val wordZipf = new Zipf(descWords.length)
  private val labelZipf = new Zipf(nLabels)

  val labels: IndexedSeq[String] = (0 until nLabels).map(i => s"lab${i}_${Vocab.words(i % Vocab.words.length)}")
  val transformKeys: IndexedSeq[String] = (0 until nTransforms).map(t => f"pipeline_$t%02d")
  /** run id -> transform index */
  def runTransform(runId: Long): Int = ((runId - 1) % nTransforms).toInt
  def runLayer(runId: Long): Int = ((runId - 1) * nLayers / nRuns).toInt

  val families: IndexedSeq[IndexedSeq[GenArtifact]] = {
    var next = 0L
    (0 until nKeys).map { k =>
      val nVer = if (r.chance(0.1)) 3 else 1
      val stem = r.base62(16)
      val word = descWords(wordZipf.sample(r))
      val key = s"proj${k % 20}/${word}_$k.parquet"
      (0 until nVer).map { v =>
        next += 1
        val desc = Seq.fill(3)(descWords(wordZipf.sample(r))).mkString(" ")
        val trashed = nVer == 1 && r.chance(0.05)
        GenArtifact(next, stem + f"000$v", key, desc, 1000L + r.int(1000000), r.base62(22),
          1L + r.int(nRuns), if (trashed) Catalog.TrashBranchId else Catalog.MainBranchId,
          v == nVer - 1, r.int(nValues))
      }
    }
  }
  val artifacts: IndexedSeq[GenArtifact] = families.flatten

  /** (artifact id, ulabel id) */
  val links: IndexedSeq[(Long, Long)] = artifacts.flatMap { a =>
    r.distinct(2, labelZipf.sample(r)).map(l => (a.id, l + 1L))
  }

  /** (run id, consumed artifact id): runs of layer L > 0 consume two
    * artifacts produced in layer L - 1.
    */
  val runInputs: IndexedSeq[(Long, Long)] = {
    val byLayer = artifacts.groupBy(a => runLayer(a.runId)).map { case (l, as) => l -> as.map(_.id) }
    (1L to nRuns).filter(runLayer(_) > 0).flatMap { run =>
      val pool = byLayer.getOrElse(runLayer(run) - 1, IndexedSeq.empty)
      if (pool.isEmpty) Nil else r.distinct(2, r.int(pool.length)).map(i => (run, pool(i)))
    }
  }

  // ------------------------------------------------------ closed forms

  private lazy val byId: Map[Long, GenArtifact] = artifacts.map(a => a.id -> a).toMap
  private lazy val labelMembers: Map[Long, Set[Long]] =
    links.groupBy(_._2).map { case (l, xs) => l -> xs.map(_._1).toSet }

  def countField(prefix: String, sizeLt: Long): Long =
    artifacts.count(a => a.visible && a.key.startsWith(prefix) && a.size < sizeLt).toLong
  def countFk(transform: Int): Long =
    artifacts.count(a => a.visible && runTransform(a.runId) == transform).toLong
  def countM2m(labelId: Long): Long =
    labelMembers.getOrElse(labelId, Set.empty).count(id => byId(id).visible).toLong
  def countEav(gt: Int): Long = artifacts.count(a => a.visible && a.nCells > gt).toLong
  def countSearch(word: String): Long =
    artifacts.count(a => a.visible &&
      (a.key.toLowerCase.contains(word) || a.description.toLowerCase.contains(word))).toLong

  private lazy val runEdges: Set[(Long, Long)] =
    runInputs.map { case (run, aid) => (byId(aid).runId, run) }.toSet
  private lazy val adjacency: Map[Boolean, Map[Long, Seq[Long]]] = Seq(true, false).map { up =>
    up -> runEdges.toSeq.map { case (p, c) => if (up) (c, p) else (p, c) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }.toMap

  /** (runs reachable from `run` including itself, BFS levels with new runs). */
  private def bfs(run: Long, upstream: Boolean): (Long, Int) = {
    val adj = adjacency(upstream)
    val seen = scala.collection.mutable.Set(run)
    var frontier = Seq(run)
    var depth = 0
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(seen).distinct
      seen ++= frontier
      if (frontier.nonEmpty) depth += 1
    }
    (seen.size.toLong, depth)
  }

  /** Runs reachable from `run` (itself included), upstream or downstream. */
  def lineage(run: Long, upstream: Boolean): Long = bfs(run, upstream)._1
  def depth(run: Long, upstream: Boolean): Int = bfs(run, upstream)._2

  def digest(d: Digest): Unit = {
    labels.foreach(d.add); transformKeys.foreach(d.add)
    artifacts.foreach(d.add); links.foreach(d.add); runInputs.foreach(d.add)
  }

  // ----------------------------------------------------- materialise

  /** Writes every registry table through `Catalog.overwrite`. */
  def materialise(spark: SparkSession, cat: Catalog, storageRoot: String): Unit = {
    def put(table: String, rows: Iterable[Map[String, Any]]): Unit = {
      val t = cat.tableDef(table)
      val data = rows.map(m => Row.fromSeq(t.schema.fieldNames.toSeq.map(m.getOrElse(_, null)))).toList
      cat.overwrite(table, spark.createDataFrame(data.asJava, t.schema))
    }
    val ts = new Timestamp(1700000000000L)
    def at(i: Long) = new Timestamp(1700000000000L + i * 1000L)
    put("storage", Seq(Map("id" -> 1L, "uid" -> "lakebenchst0", "root" -> storageRoot, "typ" -> "local",
      "created_at" -> ts)))
    put("transform", transformKeys.zipWithIndex.map { case (k, i) =>
      Map("id" -> (i + 1L), "uid" -> f"tr$i%014d", "key" -> k, "typ" -> "pipeline",
        "source_code_hash" -> f"src$i%08d", "is_latest" -> true,
        "branch_id" -> Catalog.MainBranchId, "space_id" -> Catalog.AllSpaceId, "created_at" -> at(i))
    })
    put("run", (1L to nRuns).map { run =>
      Map("id" -> run, "uid" -> f"run$run%017d", "transform_id" -> (runTransform(run) + 1L),
        "status_code" -> 0, "started_at" -> at(run), "finished_at" -> at(run + 1), "created_at" -> at(run))
    })
    put("ulabel", labels.zipWithIndex.map { case (n, i) =>
      Map("id" -> (i + 1L), "uid" -> f"u$i%07d", "name" -> n, "is_type" -> false,
        "branch_id" -> Catalog.MainBranchId, "space_id" -> Catalog.AllSpaceId, "created_at" -> at(i))
    })
    put("artifact", artifacts.map { a =>
      Map("id" -> a.id, "uid" -> a.uid, "key" -> a.key, "suffix" -> ".parquet", "kind" -> "dataset",
        "description" -> a.description, "size" -> a.size, "hash" -> a.hash, "hash_type" -> "md5",
        "n_files" -> 1L, "storage_id" -> 1L, "run_id" -> a.runId, "is_latest" -> a.isLatest,
        "branch_id" -> a.branchId, "space_id" -> Catalog.AllSpaceId, "created_at" -> at(a.id))
    })
    put("artifact_ulabels", links.zipWithIndex.map { case ((a, l), i) =>
      Map("id" -> (i + 1L), "artifact_id" -> a, "ulabel_id" -> l)
    })
    put("feature", Seq(Map("id" -> 1L, "uid" -> "featncells00", "name" -> "n_cells", "dtype" -> "int",
      "is_latest" -> true, "branch_id" -> Catalog.MainBranchId, "space_id" -> Catalog.AllSpaceId,
      "created_at" -> ts)))
    put("json_value", (0 until nValues).map { v =>
      Map("id" -> (v + 1L), "feature_id" -> 1L, "value_json" -> v.toString,
        "hash" -> graft.core.Hashing.md5String(v.toString), "created_at" -> ts)
    })
    put("artifact_json_values", artifacts.map { a =>
      Map("id" -> a.id, "artifact_id" -> a.id, "json_value_id" -> (a.nCells + 1L))
    })
    put("run_inputs", runInputs.zipWithIndex.map { case ((run, aid), i) =>
      Map("id" -> (i + 1L), "run_id" -> run, "artifact_id" -> aid)
    })
  }
}
