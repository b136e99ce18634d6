package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.artifact.ArtifactStore
import graft.catalog.Catalog

/** Streaming ingestion into the artifact layer: every microbatch is
  * written to the managed storage layout and REGISTERED as a catalog
  * artifact — the streaming analog of append-style collection growth
  * (`Collection.append`, reference `collection.py`; the reference itself
  * has no stream processor, so this is part of the flagged streaming
  * extension).
  *
  * Exactly-once effect without a transactional sink: `foreachBatch` may
  * redeliver a batch after failure, but registration dedups on content
  * hash (`fromDataFrame` → `ArtifactStore.commit`, the one registration
  * commit, which looks the staged batch's hash up once), so a
  * redelivered batch resolves to the already-registered artifact instead
  * of a duplicate row — the same idempotent-ingest contract as the batch
  * path.
  */
object ArtifactSink {

  /** Start the stream: one registered parquet artifact per non-empty
    * microbatch, keyed `keyPrefix/batch_<id>.parquet`. Caller owns the
    * query lifecycle (stop/await).
    */
  def streamToArtifacts(stream: DataFrame, cat: Catalog, storageRoot: String,
                        keyPrefix: String, checkpointDir: String): StreamingQuery = {
    val store = new ArtifactStore(cat)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          store.fromDataFrame(batch.toDF(), s"$keyPrefix/batch_$batchId.parquet", storageRoot)
          ()
        }
      }
      .start()
  }
}
