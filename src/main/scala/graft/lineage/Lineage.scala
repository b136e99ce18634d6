package graft.lineage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.catalog.Catalog
import graft.core.Hashing

/** Transform/Run lineage tracking (`lamindb.track()` / `finish()`,
  * `lamindb/core/_context.py:431-1025`): a Transform identifies code (by
  * key + source hash, idempotent re-use), a Run is one execution of it.
  * Run status codes follow `base/types.py:73-99`:
  * -3 scheduled, -2 re-started, -1 started, 0 completed, 1 errored, 2 aborted.
  */
final class Lineage(val cat: Catalog) {

  /** Create-or-reuse a Transform, then start a Run and make it current so
    * opens/saves auto-link lineage. Reference idempotency contract
    * (`Transform._create_or_load_from_source`, `models/transform.py:
    * 435-580` + `_context.py:676-748`):
    *
    *  - the source is hashed AS WRITTEN, but persisted with secret-looking
    *    hardcoded assignments redacted (`transform.py:453-461`);
    *  - same source hash → the SAME transform row, only a new run;
    *  - same key with changed source → a new VERSION in the existing uid
    *    family (head flips);
    *  - `params` are serialized to JSON with sensitive keys/values
    *    redacted (`serialize_params_to_json`, `_context.py:393-428`).
    *
    * Returns (transformId, runId).
    */
  def track(key: String, sourceCode: String = "",
            params: Map[String, Any] = Map.empty,
            asCopy: Boolean = false): (Long, Long) = {
    val hash = Hashing.md5String(sourceCode)
    // hash-reuse is GLOBAL (any key): the reference's rename prompt
    // defaults to "renamed, reuse" (`transform.py:553-563`); pass
    // asCopy=true for the "intentionally made a copy" answer, which
    // forces a fresh transform identity for the same source
    val existing =
      if (asCopy) None
      else cat.table("transform")
        .filter(col("source_code_hash") === hash)
        .select("id").head(1).headOption
    val transformId = existing.map(_.getLong(0)).getOrElse {
      val (stored, _) = Redaction.redactSource(sourceCode)
      cat.insertVersion("transform", col("key") === key, Map(
        "key" -> key, "typ" -> "script",
        "source_code" -> (if (stored.isEmpty) null else stored),
        "source_code_hash" -> hash))("id").asInstanceOf[Long]
    }
    val pj = if (params.nonEmpty) Redaction.serializeParams(params) else null
    val runId = cat.insert("run", Map(
      "transform_id" -> transformId, "status_code" -> -1,
      "started_at" -> cat.clock(), "params_json" -> pj))("id").asInstanceOf[Long]
    cat.currentRunId = Some(runId)
    (transformId, runId)
  }

  /** Capture the compute environment of the current run — the JVM analog
    * of the reference's `track_python_environment` (pip-freeze into
    * `environments/run_{uid}/run_env_pip.txt`,
    * `core/_track_environment.py:14-31`): JVM/Scala/Spark versions, key
    * Spark confs, and the sorted classpath jar manifest, written to
    * `<catalog root>/environments/run_<id>/run_env_jvm.txt`. Returns the
    * file path. Driver-side by nature (environment is a driver fact).
    */
  def trackEnvironment(): String = {
    val runId = cat.currentRunId.getOrElse(
      throw new IllegalStateException("no active run - call track() first"))
    val spark = cat.spark
    val jars = System.getProperty("java.class.path", "")
      .split(java.io.File.pathSeparatorChar)
      .map(_.trim).filter(_.endsWith(".jar"))
      .map(p => p.substring(p.lastIndexOf('/') + 1)).sorted
    val confs = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone", "spark.master")
      .flatMap(k => spark.conf.getOption(k).map(v => s"$k=$v"))
    val content =
      (Seq(
        s"java.version=${System.getProperty("java.version")}",
        s"scala.version=${scala.util.Properties.versionNumberString}",
        s"spark.version=${spark.version}") ++ confs ++ jars).mkString("\n")
    val file = s"${cat.root}/environments/run_$runId/run_env_jvm.txt"
    graft.core.Fs.replace(file, content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    file
  }

  /** Mark the current run completed (`ln.finish()`). */
  def finish(statusCode: Int = 0): Unit = {
    cat.currentRunId.foreach { runId =>
      cat.update("run", col("id") === runId,
        "status_code" -> lit(statusCode), "finished_at" -> lit(cat.clock()))
    }
    cat.currentRunId = None
  }

  /** Bipartite artifact↔run lineage edges: run consumed inputs
    * (run_inputs) and produced outputs (artifact.run_id). Edge direction:
    * producer -> consumer.
    */
  def artifactRunEdges: DataFrame = {
    val produced = cat.table("artifact")
      .filter(col("run_id").isNotNull)
      .select(col("run_id").as("src_run"), col("id").as("artifact_id"))
    val consumed = cat.table("run_inputs")
      .select(col("artifact_id"), col("run_id").as("dst_run"))
    produced.join(consumed, "artifact_id")
      .select(col("src_run").as("parent"), col("dst_run").as("child"))
      .distinct()
  }

  /** The run DAG as driver adjacencies (producer -> consumer, consumer ->
    * producer), collected once per state of `artifact` and `run_inputs`;
    * None above `Graph.DriverEdgeLimit` edges.
    */
  private def runDag: Option[(Graph.Adjacency, Graph.Adjacency)] =
    cat.memo("lineage.runDag", Seq("artifact", "run_inputs")) {
      Graph.collectEdges(artifactRunEdges, "parent", "child", Graph.DriverEdgeLimit).map(e =>
        (Graph.adjacency(e), Graph.adjacency(e.map(_.swap))))
    }

  /** Upstream/downstream runs of a run (BFS over the run DAG) —
    * `all_parent_runs`/`all_child_runs` (`has_parents.py:527,573`). Above
    * the driver edge limit they take `Graph`'s per-level loop.
    */
  def downstreamRuns(runId: Long, maxDepth: Int = -1): DataFrame = runDag match {
    case Some((down, _)) => Graph.reachable(cat.spark, down, Seq(runId), maxDepth)
    case None => Graph.descendants(artifactRunEdges, runStart(runId), "parent", "child", maxDepth)
  }

  def upstreamRuns(runId: Long, maxDepth: Int = -1): DataFrame = runDag match {
    case Some((_, up)) => Graph.reachable(cat.spark, up, Seq(runId), maxDepth)
    case None => Graph.ancestors(artifactRunEdges, runStart(runId), "parent", "child", maxDepth)
  }

  private def runStart(runId: Long): DataFrame =
    cat.spark.range(runId, runId + 1).select(col("id").as("node"))
}
