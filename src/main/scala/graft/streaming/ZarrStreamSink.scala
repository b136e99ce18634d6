package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Fs
import graft.zarr.{AnnZarrWriter, ZarrStore}

/** Streaming ingestion into an AnnData-on-zarr store: every microbatch
  * of COO-ish rows is APPENDED in place via
  * [[graft.zarr.AnnZarrWriter.appendRows]] — every array (obs columns,
  * indptr, X data/indices) rewrites only its boundary chunk plus new
  * chunks, and consolidated metadata is patched, so a long-running
  * stream grows the store at O(batch) store operations per trigger, not
  * O(store). The batch analog is the reference's append-style
  * collection growth (`collection.py`); the zarr container is what
  * makes the streaming flavor possible at all (a single-file HDF5 sink
  * would rewrite or lock the file per batch). Routing by store format
  * is transparent: appendRows/truncateTo dispatch on the store's zarr
  * version, so the same stream can feed a v2 store or a v3
  * `sharding_indexed` store (boundary shard re-encoded, new shards
  * emitted whole — the object-count-bounded layout a long-running
  * ingest needs at scale).
  *
  * Exactly-once effect without a transactional sink, via two ledger
  * objects at the store root:
  *
  *  - `.graft_batches` — applied batch ids as a CONSTANT-SIZE
  *    max-contiguous-id + tail-set record (see [[Ledger]]); `foreachBatch`
  *    may redeliver a batch after failure, and an id already in the
  *    ledger is skipped.
  *  - `.graft_pending` — written BEFORE appendRows with the batch id
  *    and the pre-append extents `(nObs, nnz)`. A crash mid-append
  *    leaves the marker behind; the next batch (or restart) finds it,
  *    and — because appends only extend shapes and boundary-chunk
  *    rewrites preserve the committed prefix — rolls the store back
  *    with [[graft.zarr.AnnZarrWriter.truncateTo]] before reapplying.
  *
  * Both objects are written through [[graft.core.Fs.replace]] (on a
  * local disk a temp file renamed over the old one, on an object store
  * one whole-object PUT), so a crash mid-write leaves the previous
  * ledger or marker, never a truncated one.
  *
  * Batch contract: one row per matrix element, with `obs_name` (new
  * rows grouped by it — an obs_name must NOT span two microbatches, or
  * it is appended as two distinct rows), `var_id`, `value`, plus any
  * obs-level metadata columns (constant per obs_name). The per-batch
  * obs ranking window is global but microbatch-sized, so the
  * single-partition sort is bounded by the trigger size. The sink
  * serves bare-X stores (its own bootstrap shape); a store carrying
  * layers/obsm appends through
  * [[graft.zarr.AnnZarrWriter.appendRows]] directly, which extends
  * those slots with the rows.
  */
object ZarrStreamSink {

  private val LedgerName = ".graft_batches"
  private val PendingName = ".graft_pending"
  private val NamesBloomName = ".graft_names"

  /** Test probe: exact store-name scans taken by the `assertNewNames`
    * guard. With the bloom sketch in place a unique-name stream takes
    * ZERO scans after the one bootstrap — specs pin the O(batch)/trigger
    * contract by asserting this stays flat as the store grows.
    */
  private[streaming] val nameScanProbe = new java.util.concurrent.atomic.AtomicLong

  /** The `assertNewNames` membership sketch, one store-root object:
    * 16-byte header (declared capacity, approximate item count) + the
    * serialized Spark `BloomFilter` over every obs_name ever appended
    * through a guarded sink. The sketch is maintained as a SUPERSET of
    * the store's names (updated before the append lands; a rolled-back
    * batch leaves harmless false positives), so a bloom-negative batch
    * name is PROVABLY new with no store read at all — the exact
    * column-pruned scan runs only for the bloom-positive sliver, making
    * the guard O(batch) per trigger instead of O(store).
    */
  private def readNamesBloom(path: String):
      Option[(Long, Long, org.apache.spark.util.sketch.BloomFilter)] =
    Fs.read(s"$path/$NamesBloomName").flatMap { b =>
      // a crash mid-PUT can leave a torn object; the sketch is fully
      // reconstructible from the store, so an unparsable file routes to
      // the bootstrap rebuild instead of failing every later trigger
      scala.util.Try {
        val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(b))
        val cap = in.readLong(); val cnt = in.readLong()
        (cap, cnt, org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      }.toOption
    }

  private def writeNamesBloom(path: String, cap: Long, cnt: Long,
                              bf: org.apache.spark.util.sketch.BloomFilter): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeLong(cap); out.writeLong(cnt); bf.writeTo(out); out.flush()
    Fs.write(s"$path/$NamesBloomName", bos.toByteArray)
  }

  /** Applied-batch ledger, CONSTANT-SIZE per trigger: `contig` is the
    * largest id M with every id in [0, M] applied; `tail` holds the few
    * applied ids above a gap (engine batch ids are monotonic, so the
    * tail is empty or one element in practice). The round-11 format —
    * every applied id, re-read and rewritten whole each batch — made a
    * long-running stream's ledger cost O(applied batches) per trigger
    * and its size unbounded; this one is one small object, replaced whole.
    */
  private[streaming] final case class Ledger(contig: Long, tail: Set[Long]) {
    def contains(id: Long): Boolean = id <= contig || tail(id)
    def add(id: Long): Ledger = {
      var c = contig
      var t = tail + id
      while (t(c + 1)) { t -= (c + 1); c += 1 }
      Ledger(c, t)
    }
    def serialize: String =
      s"v2 $contig" + tail.toSeq.sorted.map("\n" + _).mkString + "\n"
  }

  private[streaming] def readLedger(path: String): Ledger =
    Fs.read(s"$path/$LedgerName") match {
      case Some(b) =>
        val lines = new String(b, UTF_8)
          .split('\n').filter(_.nonEmpty)
        if (lines.headOption.exists(_.startsWith("v2 ")))
          lines.tail.map(_.toLong)
            .foldLeft(Ledger(lines.head.stripPrefix("v2 ").toLong, Set.empty[Long]))(_ add _)
        else // round-11 stores: one id per line — fold into the new form
          lines.map(_.toLong).foldLeft(Ledger(-1L, Set.empty[Long]))(_ add _)
      case None => Ledger(-1L, Set.empty)
    }

  private def recordBatch(path: String, ledger: Ledger, batchId: Long): Unit =
    Fs.replace(s"$path/$LedgerName", ledger.add(batchId).serialize.getBytes(UTF_8))

  /** Undo a half-applied append from a previous incarnation, if any. */
  private def recoverPending(path: String, applied: Ledger): Unit =
    Fs.read(s"$path/$PendingName").foreach { b =>
      val parts = new String(b, UTF_8)
        .trim.split(',')
      // marker for an already-ledgered batch = crash AFTER commit; the
      // data is good, only the marker cleanup was lost
      if (!applied.contains(parts(0).toLong))
        AnnZarrWriter.truncateTo(path, parts(1).toLong, parts(2).toLong)
      Fs.delete(s"$path/$PendingName")
    }

  /** Start the stream: each microbatch's distinct `obs_name`s become
    * appended rows (ids assigned in name order within the batch), their
    * elements land as new X chunks. Caller owns the query lifecycle.
    *
    * `assertNewNames = true` enforces the batch contract (an obs_name
    * must not span two microbatches) at O(batch)/trigger: a persisted
    * bloom sketch over every appended name (`.graft_names`, one GET +
    * one PUT per trigger) proves bloom-negative names new without
    * touching the store; only the bloom-positive sliver pays the exact
    * column-pruned DSv2 scan. A pre-existing store folds its names in
    * once at first guarded use. Opt-in; the default trusts the
    * source's grouping.
    */
  def streamAppendZarr(stream: DataFrame, path: String, obsCols: Seq[String],
                       checkpointDir: String,
                       assertNewNames: Boolean = false): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // empty batches are RECORDED too (no append, no pending marker):
        // an unrecorded id would be a permanent gap below `contig`,
        // pushing every later id into the ledger's tail set and growing
        // it one line per batch — the O(applied) shape the constant-size
        // record exists to prevent
        val applied = readLedger(path)
        recoverPending(path, applied)
        if (!applied.contains(batchId)) {
          if (batch.isEmpty) recordBatch(path, applied, batchId)
          else {
            // local obs ids in obs_name order — batches are microbatch-
            // sized, so the single-partition ranking window is bounded
            val obs = batch.select(col("obs_name") +: obsCols.map(col): _*)
              .distinct()
              .withColumn("obs_id",
                row_number().over(Window.orderBy("obs_name")).cast("long") - 1)
            if (assertNewNames) {
              // O(batch)/trigger contract check: the persisted bloom
              // sketch answers "definitely new" without a store read;
              // only the bloom-POSITIVE sliver (duplicate rate + ~1%
              // fpp of the batch) pays the exact column-pruned scan
              val spark = batch.sparkSession
              val names = obs.select("obs_name").collect().map(_.getString(0))
              require(!names.contains(null), s"batch $batchId: null obs_name " +
                "— every appended row needs a non-null name under assertNewNames")
              def storeNames() = spark.read.format("zarr").option("slot", "obs")
                .load(path).select("obs_name")
              val n0Guard = ZarrStore.openArray(path, "obs/_index").shape.head
              val (cap0, cnt0, bf) = readNamesBloom(path).getOrElse {
                // bootstrap: a guarded sink pointed at a pre-existing
                // store folds its names in ONCE (distributed sketch
                // build); an empty store boots an empty sketch
                val cap = math.max(1L << 20, 4L * (n0Guard + names.length))
                val bf0 =
                  if (n0Guard > 0) {
                    nameScanProbe.incrementAndGet()
                    storeNames().stat.bloomFilter("obs_name", cap, 0.01)
                  } else org.apache.spark.util.sketch.BloomFilter.create(cap, 0.01)
                (cap, n0Guard, bf0)
              }
              val positives = names.filter(bf.mightContainString)
              if (positives.nonEmpty) {
                nameScanProbe.incrementAndGet()
                val clash = storeNames()
                  .filter(col("obs_name").isin(positives.toSeq: _*))
                  .limit(1).collect()
                require(clash.isEmpty, s"batch $batchId: obs_name " +
                  s"'${clash.headOption.map(_.getString(0)).getOrElse("")}' is " +
                  "already in the store — an obs_name must not span two microbatches")
              }
              // fold the batch in BEFORE the append: a crash between here
              // and the ledger leaves the sketch a superset (safe — false
              // positives fall back to the exact scan), never a subset
              // that would let a duplicate through unchecked
              val cnt1 = cnt0 + names.length
              if (cnt1 > cap0) {
                // saturation: rebuild at doubled capacity from the store
                // (amortized O(1) — capacity doubles each time)
                nameScanProbe.incrementAndGet()
                val cap2 = math.max(2 * cap0, 2 * cnt1)
                val bf2 =
                  if (n0Guard > 0) storeNames().stat.bloomFilter("obs_name", cap2, 0.01)
                  else org.apache.spark.util.sketch.BloomFilter.create(cap2, 0.01)
                names.foreach(bf2.putString)
                writeNamesBloom(path, cap2, cnt1, bf2)
              } else {
                names.foreach(bf.putString)
                writeNamesBloom(path, cap0, cnt1, bf)
              }
            }
            val x = batch
              .join(obs.select("obs_name", "obs_id"), "obs_name")
              .select(col("obs_id"), col("var_id").cast("long").as("var_id"),
                col("value").cast("double").as("value"))
            val n0 = ZarrStore.openArray(path, "obs/_index").shape.head
            // csr stores roll back X by element count; a dense X grid
            // rolls back by rows, so its marker just carries n0
            val nnz0 =
              if (ZarrStore.isArray(path, "X")) n0
              else ZarrStore.openArray(path, "X/data").shape.head
            Fs.replace(s"$path/$PendingName", s"$batchId,$n0,$nnz0".getBytes(UTF_8))
            AnnZarrWriter.appendRows(obs, x, path)
            recordBatch(path, applied, batchId)
            Fs.delete(s"$path/$PendingName")
            ()
          }
        }
        ()
      }
      .start()
}
