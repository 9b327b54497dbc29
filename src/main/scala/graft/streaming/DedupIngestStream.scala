package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{MinhashIndexStore, OpCaches}

/** Streaming leg of the near-dup ingest pipeline — the production loop
  * the [[graft.ops.MinhashIndexStore]] protocol was built for, closed
  * end-to-end: per micro-batch, PROBE the arriving documents against
  * the standing corpus through the store's exchange-free banded path,
  * keep the survivors (batch docs that near-dup nothing standing and
  * nothing smaller-id in their own batch —
  * [[IngestProtocol.keepFirstSurvivors]]), APPEND them as an O(batch)
  * index delta, and run the scheduled maintenance — meta-only chain
  * polling every batch, the merged-mass health check and the O(corpus)
  * compact only when the measured cadence trips (SCALE.md "Chain-read
  * economics": ≤ `compactEvery` links holds the probe's chain tax
  * bounded).
  *
  * Ids must be unique within a batch and across batches (the store's
  * merged-corpora contract), and the SOURCE must not redeliver an id
  * outside checkpoint replay (the [[IvfIngestStream]] warning, which
  * holds for every maintainer): a same-id resend of a standing
  * SURVIVOR is NOT rejected — the banded probe compares shingle-set
  * GROUPS and a resent id lands in its own standing group (batch gid =
  * index gid), which the candidate paths drop as a self-pair — so the
  * resend re-appends the id and silently violates the uniqueness
  * invariant chainHealth, compaction merges, and the accepted corpus
  * rely on (spec-pinned, `DedupIngestStreamSpec` "same-id resend").
  * Guarding this in the loop would cost a per-batch id-existence check
  * against the standing index — a corpus-mass column scan every
  * micro-batch, breaking the loop's no-corpus-term invariant — so id
  * discipline is deliberately the source's contract, exactly like the
  * id-uniqueness rule itself. (A resend under a DIFFERENT id is the
  * supported path and rejects as an ordinary near-dup.)
  *
  * ==Crash replay==
  * foreachBatch replays a batchId after failure, but the store append
  * is not idempotent (a second append of the same survivors would
  * violate id uniqueness), so each batch rides the
  * [[IngestProtocol]] ledger: the recorded base tells a replay whether
  * its append committed (skip it) or not (redo it — the store's own
  * replay rule). The probe and the accepted-output write always re-run
  * (the output overwrite is idempotent), and re-probing AFTER the
  * append committed is deterministic-identical: the survivors' own
  * index copies carry the survivors' ids, so every extra pair they
  * admit folds onto a within-batch pair the first probe already saw,
  * and the survivor rule resolves it the same way (spec-pinned,
  * `DedupIngestStreamSpec` "replay"). A fresh checkpoint pointed at a
  * maintained store is refused by the owner stamp.
  *
  * ==What the loop cannot do to the index==
  * The loop's own appends can never grow a shingle-set group: two
  * documents share a group only at jaccard exactly 1.0, and an exact
  * copy is rejected before it reaches the index (its standing copy or
  * its smaller-id batch twin is already there). Merged-group valve
  * pressure ([[MinhashIndexStore.ChainHealth]]) can therefore only
  * come from the INIT corpus or an out-of-band maintainer — the health
  * check still guards every scheduled compact, and a chain whose
  * merged mass already exceeds the valve fails the batch by name
  * BEFORE the compact would discover it, leaving the chain intact.
  *
  * Scale shape: per micro-batch work is the banded probe (batch-mass
  * exchanges only, zero corpus-size shuffle term — plan-pinned), one
  * O(batch) delta append, one meta-only chain poll, and the accepted
  * write; the O(corpus) set-keyed merge runs only when the cadence
  * trips, amortized across `compactEvery` batches. Probe caches are
  * scope-released per batch ([[graft.ops.OpCaches]]), so a
  * long-running stream holds no cache growth. */
object DedupIngestStream {

  /** What one micro-batch did — returned by [[processBatch]] for
    * schedulers and specs; the streaming sink discards it.
    * `acceptedFoldedTo` is the accepted-sink fold watermark when this
    * batch's cadence trip folded live batch directories into the
    * archive ([[AcceptedSink.fold]]). */
  final case class BatchOutcome(batchId: Long, base: Long, version: Long,
                                accepted: Long, replay: Boolean,
                                appendSkipped: Boolean,
                                compactedTo: Option[Long],
                                acceptedFoldedTo: Option[Long] = None)

  /** One micro-batch of the ingest loop — factored out of the sink so
    * specs can drive batch ids (and replays) deterministically. See the
    * object doc for the protocol; returns what happened. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  indexDir: String, acceptedDir: String,
                                  idCol: String, textCol: String,
                                  threshold: Double, compactEvery: Int,
                                  checkpointDir: String,
                                  acceptedStatsCols: Seq[String] = Nil): BatchOutcome = {
    val spark = batch.sparkSession
    val outPath = s"$acceptedDir/batch=$batchId"
    // the health check guards every scheduled compact (merged-mass
    // reads only when the cadence trips)
    IngestProtocol.maintainBatch(spark, MinhashIndexStore, indexDir, batchId,
      checkpointDir, "dedup ingest",
      "no committed index version — MinhashIndexStore.init the store over " +
        "the standing corpus (an empty frame is a legal corpus) before " +
        "starting the stream",
      compactEvery,
      () => IngestProtocol.requireGroupValve("dedup ingest", indexDir,
        MinhashIndexStore.chainHealth(spark, indexDir), "group",
        "near-dup group")) { at =>
      // the micro-batch is consumed several times (file-count bound,
      // probe build, survivor joins) — cache it for the batch, released
      // with the scope
      val b = OpCaches.registered(batch)
      val pairs = MinhashIndexStore.probeLatest(spark, indexDir, b,
        idCol, textCol, threshold)
      // bound the accepted sink's file count by ROW mass (the delta-
      // commit rationale): the survivor lineage is a broadcast anti-join
      // straight off the source scan — no shuffle, so its write would
      // inherit the SOURCE partition count (a 512-partition Kafka batch
      // = 512 small files per micro-batch, forever). The explicit
      // repartition is one batch-mass exchange — the loop's own cost
      // class — and coalesce would be wrong here: with no shuffle
      // boundary above it, it collapses the probe's scan parallelism.
      // schema policy before any byte lands: a drifted batch fails by
      // name here, not as a resolution error in some later read/fold
      AcceptedSink.requireSchemaCompatible(spark, acceptedDir, b)
      IngestProtocol.keepFirstSurvivors(b, pairs, idCol)
        .repartition(IngestProtocol.boundedFileCount(b.count()))
        .write.mode("overwrite").parquet(outPath)
      // the delta is built from EXACTLY the bytes the accepted sink
      // carries — re-read, not the in-memory frame — so the index and
      // the accepted output can never drift (the commitVersion
      // rationale)
      val acceptedOnDisk = spark.read.parquet(outPath)
      val version =
        if (at.appendCommitted) at.head
        else MinhashIndexStore.append(spark, indexDir, acceptedOnDisk,
          idCol, textCol, expectedBase = at.base)
      compactedTo => {
        // the accepted sink's lifecycle rides the SAME cadence trip:
        // replay-dead batch directories (strictly below this batch)
        // fold into the archive so the directory count tracks cadence
        // trips, not micro-batches ([[AcceptedSink]]; read the corpus
        // through AcceptedSink.readAccepted once folding has run)
        val foldedTo = compactedTo.flatMap(_ =>
          AcceptedSink.fold(spark, acceptedDir, belowBatch = batchId,
            statsCols = acceptedStatsCols))
        BatchOutcome(batchId, at.base, version, acceptedOnDisk.count(),
          at.replay, at.appendCommitted, compactedTo, foldedTo)
      }
    }
  }

  /** Start the ingest maintainer: `docs` must be a streaming frame
    * carrying `idCol` and `textCol`; accepted (near-dup-free) documents
    * land under `acceptedDir/batch=<batchId>`, and each compaction-
    * cadence trip FOLDS the replay-dead batch directories into the
    * `_archive` tier ([[AcceptedSink]]) so the directory count tracks
    * cadence trips, not micro-batches — read the corpus through
    * [[AcceptedSink.readAccepted]] (a raw parquet read of the directory
    * is exact only until the first fold). The index store at
    * `indexDir` must already be [[MinhashIndexStore.init]]-ed over the
    * standing corpus (an empty frame is a legal corpus); probes and
    * delta builds use the store's PERSISTED parameters, so the stream
    * cannot be mis-parameterized against the index it maintains.
    * `compactEvery` is the chain-length cadence — default 8, the
    * measured knee (SCALE.md "Chain-read economics"). The stream is
    * the store's single maintainer; do not run an external
    * compact/prune against a live stream (the commit protocol makes
    * the race fail loudly, not silently — but it fails the batch). */
  def dedupIngestSink(docs: DataFrame, indexDir: String, acceptedDir: String,
                      idCol: String, textCol: String, checkpointDir: String,
                      threshold: Double = 0.5,
                      compactEvery: Int = 8,
                      acceptedStatsCols: Seq[String] = Nil): StreamingQuery = {
    IngestProtocol.startSink(docs, checkpointDir, compactEvery) { (batch, batchId) =>
      processBatch(batch, batchId, indexDir, acceptedDir, idCol, textCol,
        threshold, compactEvery, checkpointDir, acceptedStatsCols)
    }
  }
}
