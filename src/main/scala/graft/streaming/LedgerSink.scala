package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{ClusterLedger, MinHashLedger}

/** Structured-Streaming front end for the incremental dedup ledgers —
  * the composition the reference's whole workflow implies (documents
  * ARRIVE; the index and the duplicate clusters must stay current)
  * wired as library surface instead of a recipe: a document stream
  * drives MinHashLedger (band-row LSM index + per-batch candidate
  * pairs) and ClusterLedger (patch-append min-label components) one
  * micro-batch at a time via `foreachBatch`.
  *
  * Semantics per micro-batch b, through the same two calls every
  * incremental flow makes:
  *   1. `MinHashLedger.ingest` emits b's candidate near-dup pairs
  *      `(doc_id_1, doc_id_2)` against the corpus-so-far (including b
  *      itself), then appends b's `(bkh, bkey, doc_id)` band rows; the
  *      sink writes those pairs to `workDir/batch=<id>/pairs`, the one
  *      artifact it publishes.
  *   2. `ClusterLedger.ingestPatch` folds the pairs into the
  *      incremental min-label components (delta-sized patch write).
  * By the append-monotone theorem (MinHashLedgerSpec) the UNION of
  * per-batch pair sets equals the one-shot banded-LSH pair set over
  * the drained corpus, and the patch folds compose to the one-shot
  * connected components (ClusterLedgerSpec) — StreamingLedgerSpec
  * proves both through this sink, across a stop/resume boundary.
  *
  * Exactly-once: the checkpoint's source offsets make micro-batches
  * replay-stable (a batch is either fully committed or re-offered).
  * A replayed batch is SAFE on both ledgers by their retry contracts:
  * re-appended band rows are bit-identical duplicates that pair
  * emission dedupes and compaction removes (MinHashLedger retry spec),
  * the hot-bucket cap counts DISTINCT (bkey, doc_id) — replayed
  * duplicate rows cannot push a bucket over `BucketCap` and suppress
  * pairs the first attempt emitted — and the cluster patch fold is
  * idempotent (ClusterLedger retry spec). So the composition needs no
  * two-phase commit across the three sinks (band table, pairs dir,
  * patch table) — at-least-once per sink converges to the
  * exactly-once result.
  *
  * Scale: each micro-batch costs probe IO ∝ batch keys (MinHashLedger's
  * point-lookup prune) plus a delta-sized patch write — the state the
  * stream accumulates lives in the ledger TABLES, not in streaming
  * state, so the query itself is stateless and restarts cold.
  */
object LedgerSink {

  /** Attach both ledgers to a streaming `docs` frame (`doc_id` LONG,
    * `text` STRING), drain all currently-available input
    * (Trigger.AvailableNow), and return. Re-calling with the same
    * `checkpointDir` resumes exactly where the last run committed.
    * Per-batch pair sets land under `workDir/batch=<id>/pairs`.
    */
  def drainAvailable(docs: DataFrame, nearTable: String,
      clusterTable: String, workDir: String, checkpointDir: String): Unit = {
    val fold: (DataFrame, Long) => Unit = { (batch, batchId) =>
      val spark = batch.sparkSession
      val pairs = MinHashLedger.ingest(spark, batch, nearTable)
      pairs.write.mode("overwrite").parquet(s"$workDir/batch=$batchId/pairs")
      ClusterLedger.ingestPatch(spark,
        batch.select(col("doc_id").as("id")),
        pairs.select(col("doc_id_1").as("src"), col("doc_id_2").as("dst")),
        clusterTable)
      ()
    }
    val q = docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(fold)
      .start()
    q.awaitTermination()
  }
}
