package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.LinkageStore

/** Streaming leg of incremental entity resolution — the
  * [[graft.ops.LinkageStore]] maintained by a production micro-batch
  * loop, completing the maintainer family (the near-dup, semantic, and
  * IVF loops' fourth sibling): per batch, the arriving rows' NEW
  * distinct values probe the standing labels (batch-mass comparisons
  * and component work only — the store's exactness argument), the
  * changed/new label rows commit as an O(batch-touched) delta, and the
  * chain compacts on the measured cadence. Reading
  * [[LinkageStore.labels]] or [[LinkageStore.resolveRows]] at any
  * point answers exactly what a batch resolution over everything
  * ingested so far would.
  *
  * ==Crash replay==
  * The [[IngestProtocol]] ledger/owner rules verbatim — with one
  * store-specific simplification worth naming: [[LinkageStore.append]]
  * is CONTENT-idempotent (a replayed batch's values are already
  * standing, so the re-append is a no-op by construction), which means
  * the ledger here buys SKIPPING the replay's standing-state read, not
  * correctness. The protocol stays uniform across the family anyway:
  * a maintainer whose safety argument changes per store is a
  * maintainer someone will misconfigure. The owner stamp (plus
  * checkpoint-instance nonce) still refuses a foreign or recreated
  * checkpoint — content idempotence does not protect against a
  * DIFFERENT stream's history being replayed into this store.
  *
  * Value takedown is an out-of-band maintenance verb — run it through
  * [[removeValues]], which refuses while the checkpoint holds a batch
  * pending replay. The guard exists because the replay-skip test is
  * `head > base`: ANY head advance while a batch sits pending replay —
  * a raw [[LinkageStore.remove]] is exactly such an advance — would
  * make the resumed batch read its own append as committed and skip
  * it, silently never ingesting its values. Between batches the raw
  * verb is safe (the commit protocol fails the loser of a live race
  * loudly), but the guarded verb is the runbook path precisely so
  * nobody has to reason about the window.
  *
  * Scale shape per batch: one keep-latest read of the value-mass label
  * state, batch×(per-block standing) candidate joins, a batch-bounded
  * connected-components pass, one O(changed) delta write, a meta-only
  * chain poll; the O(state) fold runs only on the cadence trip. Probe
  * caches are scope-released per batch ([[OpCaches]]). */
object LinkageIngestStream {

  /** What one micro-batch did — [[processBatch]]'s return for
    * schedulers and specs; the sink discards it. `version` is the
    * chain head serving reads after this batch (unchanged when the
    * batch carried no new values). */
  final case class BatchOutcome(batchId: Long, base: Long, version: Long,
                                replay: Boolean, appendSkipped: Boolean,
                                compactedTo: Option[Long])

  /** One micro-batch of the linkage loop — factored out of the sink so
    * specs can drive batch ids (and replays) deterministically. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  storeDir: String, compactEvery: Int,
                                  checkpointDir: String): BatchOutcome =
    IngestProtocol.maintainBatch(batch.sparkSession, LinkageStore, storeDir,
      batchId, checkpointDir, "linkage ingest",
      "no committed version — LinkageStore.init the store over the standing " +
        "corpus before starting the stream (the init persists the " +
        "comparison parameters every batch resolves under)",
      compactEvery) { at =>
      val version =
        if (at.appendCommitted) at.head
        else LinkageStore.append(batch.sparkSession, storeDir, batch,
          expectedBase = at.base)
      compactedTo => BatchOutcome(batchId, at.base, version, at.replay,
        at.appendCommitted, compactedTo)
    }

  /** VALUE TAKEDOWN against a loop-maintained linkage store — the
    * guarded form of [[LinkageStore.remove]] (see the object doc's
    * replay-skip hazard): refuses by name while `checkpointDir` holds a
    * batch pending replay (offsets ahead of commits — the batch a
    * resumed stream WILL replay, whose append the head advance would
    * silently skip), then removes at the current head. Run with the
    * stream stopped or between batches; a retry after the stream drains
    * the pending batch succeeds. */
  def removeValues(spark: org.apache.spark.sql.SparkSession,
                   storeDir: String, checkpointDir: String,
                   removeValues: DataFrame): Long = {
    IngestProtocol.requireNoPendingReplay(spark, checkpointDir,
      s"linkage takedown at $storeDir", "a head advance now would make " +
        "the resumed batch read its own append as committed and skip it, " +
        "silently never ingesting its values; let the stream drain the " +
        "batch, then retry")
    val head = LinkageStore.latestVersion(spark, storeDir).getOrElse(
      throw new IllegalStateException(
        s"linkage takedown at $storeDir: no committed version — nothing " +
          "to remove from"))
    LinkageStore.remove(spark, storeDir, removeValues, expectedBase = head)
  }

  /** Start the linkage maintainer: `rows` must be a streaming frame
    * carrying the store's persisted block and value columns (checked
    * by name per batch — the store owns its parameters). The store at
    * `storeDir` must already be [[LinkageStore.init]]-ed over the
    * standing corpus. `compactEvery` is the chain-length cadence
    * (default 8 — the stores' measured knee, SCALE.md "Chain-read
    * economics"). The stream is the store's single maintainer; run
    * takedowns through [[removeValues]] (the pending-replay guard). */
  def linkageIngestSink(rows: DataFrame, storeDir: String,
                        checkpointDir: String,
                        compactEvery: Int = 8): StreamingQuery = {
    IngestProtocol.startSink(rows, checkpointDir, compactEvery) { (batch, batchId) =>
      processBatch(batch, batchId, storeDir, compactEvery, checkpointDir)
    }
  }
}
