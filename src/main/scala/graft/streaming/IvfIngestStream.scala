package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{IvfIndexStore, OpCaches, Similarity}

/** Streaming maintainer for the IVF/ANN index — the third leg of the
  * ingest triad ([[DedupIngestStream]], [[SemanticIngestStream]]): a
  * similarity-search index has no dedup decision, so the loop is
  * append-only — per micro-batch, PROFILE the arriving vectors against
  * the persisted train-time assign-distance quantiles (the
  * [[SemanticIngestStream]] drift gate verbatim: advisory fraction on
  * every outcome, hard fail-by-name when `batchP50 > trainP99` —
  * vectors the standing centroids can't meaningfully cell would be
  * appended into cells no probe ranks well, silently degrading
  * recall), APPEND the whole batch as an O(batch) cell delta, and run
  * the cadence maintenance (meta-only chain poll every batch; the
  * O(corpus) compact + prune at `compactEvery` links — ~9 is the
  * cell-pruned read shape's measured knee, SCALE.md "Chain-read
  * economics"; this store has no member lists, so there is no health
  * valve to check first).
  *
  * Replay, ledger, owner stamp: the [[IngestProtocol]] rules verbatim
  * — the ledger tells a replayed batch whether its append committed
  * (skip) or not (redo, the store's own replay rule). There is no
  * probe or survivor output to rewrite, so a replay with a committed
  * append touches nothing but the ledger sweep. Ids must be unique
  * within a batch and across batches (the store's merged-corpora
  * contract — unlike the dedup loops, nothing here rejects a resend,
  * so the SOURCE must not replay ids outside the checkpoint's own
  * replay). */
object IvfIngestStream {

  /** What one micro-batch did; `drift` is None only for an empty
    * batch (the store's driftReport fails by name on an unscoreable
    * NON-empty batch, and the loop lets that failure through). */
  final case class BatchOutcome(batchId: Long, base: Long, version: Long,
                                appended: Long, replay: Boolean,
                                appendSkipped: Boolean,
                                drift: Option[Similarity.AssignDriftReport],
                                compactedTo: Option[Long])

  /** One micro-batch of the maintainer — factored out of the sink so
    * specs can drive batch ids (and replays) deterministically. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  indexDir: String, idCol: String,
                                  vecCol: String, compactEvery: Int,
                                  checkpointDir: String,
                                  driftGateMinRows: Long = 16L): BatchOutcome = {
    val spark = batch.sparkSession
    IngestProtocol.maintainBatch(spark, IvfIndexStore, indexDir, batchId,
      checkpointDir, "ivf ingest",
      "no committed index version — IvfIndexStore.init the store over the " +
        "standing corpus before starting the stream (this store refuses an " +
        "empty init: no corpus, no centroids, nothing to cell)",
      compactEvery) { at =>
      // the micro-batch is cached for its consumers (row count, drift
      // profile, append build)
      val b = OpCaches.registered(batch)
      val batchRows = b.count()
      val drift = IngestProtocol.driftGate("ivf ingest", indexDir, batchId,
        batchRows, driftGateMinRows,
        "appending into mis-fitting cells would silently degrade probe recall")(
        IvfIndexStore.driftReport(spark, indexDir, b, vecCol))
      val version =
        if (at.appendCommitted) at.head
        else IvfIndexStore.append(spark, indexDir, b, idCol, vecCol,
          expectedBase = at.base)
      compactedTo => BatchOutcome(batchId, at.base, version, batchRows,
        at.replay, at.appendCommitted, drift, compactedTo)
    }
  }

  /** Start the IVF maintainer: `vectors` must be a streaming frame
    * carrying `idCol` and `vecCol` at the store's persisted dimension
    * (a re-dimensioned batch fails by name in the store). The store
    * must already be [[IvfIndexStore.init]]-ed over a non-empty
    * standing corpus. Probes ([[IvfIndexStore.probeLatest]]) read any
    * committed version concurrently — they never block on, or are
    * blocked by, this maintainer. The stream is the store's single
    * maintainer. */
  def ivfIngestSink(vectors: DataFrame, indexDir: String, idCol: String,
                    vecCol: String, checkpointDir: String,
                    compactEvery: Int = 9,
                    driftGateMinRows: Long = 16L): StreamingQuery = {
    IngestProtocol.startSink(vectors, checkpointDir, compactEvery) { (batch, batchId) =>
      processBatch(batch, batchId, indexDir, idCol, vecCol,
        compactEvery, checkpointDir, driftGateMinRows)
    }
  }
}
