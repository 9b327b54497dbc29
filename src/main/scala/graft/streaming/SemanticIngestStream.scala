package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{OpCaches, SemanticIndexStore, Similarity}

/** Streaming leg of the SEMANTIC (embedding-space) ingest pipeline —
  * [[DedupIngestStream]]'s loop over the
  * [[graft.ops.SemanticIndexStore]], with the centroid-drift signal
  * wired in as a per-batch gate: per micro-batch, PROFILE the arriving
  * vectors against the persisted train-time assign-distance quantiles
  * ([[SemanticIndexStore.driftReport]] — O(batch), ~free next to the
  * probe), PROBE them against the standing cells (partition-pruned to
  * the batch's argmin cells, zero corpus-size shuffle term), keep the
  * survivors ([[IngestProtocol.keepFirstSurvivors]] — batch vectors
  * that semantic-near-dup nothing standing and nothing smaller-id in
  * their own batch), APPEND them as an O(batch) cell delta, and run
  * the cadence maintenance (meta-only chain poll every batch; health
  * check + O(corpus) compact + prune when the chain passes
  * `compactEvery` links — ~9 is this store's measured knee, SCALE.md
  * "Chain-read economics").
  *
  * ==The drift gate==
  * Appends assign against STANDING centroids by design; when the
  * corpus has drifted past them, cell assignment degrades toward
  * random and the probe silently under-dedups — a silent-miss path.
  * The loop therefore HARD-FAILS the batch, by name, on the strong
  * documented trigger `batchP50 > trainP99` (the TYPICAL new vector
  * assigns farther out than the worst trained percentile — SCALE.md
  * "Centroid drift"): at that point most of the batch's near-dup
  * probing is meaningless and the remedy is the explicit retrain
  * rebuild the store's protocol names. The softer signal
  * (`fracBeyondTrainP99`) rides every [[BatchOutcome]] for the
  * operator's rebuild scheduling; the loop does not act on it (a
  * skewed-but-assignable batch still dedups correctly against the
  * standing cells). Batches with fewer than `driftGateMinRows`
  * scorable vectors get the report WITHOUT the hard gate: a median
  * over a handful of draws is one outlier wide, and a stream a single
  * legitimate far-out vector can kill is an operational hazard, not a
  * valve — the report still rides the outcome, so a scheduler watching
  * the advisory fraction loses nothing.
  *
  * Replay, ledger, owner stamp: the [[IngestProtocol]] rules verbatim
  * (re-probing after a committed append is deterministic-identical —
  * a survivor's standing copy carries the survivor's id, so every
  * extra pair it admits on replay folds onto a within-batch pair the
  * first probe already resolved; pair multiplicity is irrelevant to
  * the exists-semantics survivor rule). Ids must be unique within a
  * batch and across batches, and the SOURCE must not redeliver an id
  * outside checkpoint replay — a same-id resend of a standing survivor
  * is NOT rejected here either (its batch group and standing group are
  * the same group, dropped as a self-pair — the
  * [[DedupIngestStream]] rationale, which also explains why the loop
  * deliberately does not pay a per-batch corpus scan to guard it).
  * Unlike the minhash loop, the semantic
  * loop's own appends CAN grow an identical-vector group only at
  * cosine exactly 1.0 with a distinct id — which the survivor rule
  * rejects first, so merged-valve pressure again only comes from the
  * init corpus or out-of-band maintainers; the pre-compact health
  * check still guards it by name. */
object SemanticIngestStream {

  /** What one micro-batch did; `drift` is None only for an empty
    * batch (nothing to profile — the store's own driftReport
    * deliberately fails by name on an unscoreable NON-empty batch,
    * and the loop lets that failure through: an all-null batch must
    * not read as quiet). */
  final case class BatchOutcome(batchId: Long, base: Long, version: Long,
                                accepted: Long, replay: Boolean,
                                appendSkipped: Boolean,
                                drift: Option[Similarity.AssignDriftReport],
                                compactedTo: Option[Long],
                                acceptedFoldedTo: Option[Long] = None)

  /** One micro-batch of the semantic ingest loop — factored out of the
    * sink so specs can drive batch ids (and replays)
    * deterministically. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  indexDir: String, acceptedDir: String,
                                  idCol: String, vecCol: String,
                                  threshold: Double, compactEvery: Int,
                                  checkpointDir: String,
                                  driftGateMinRows: Long = 16L,
                                  acceptedStatsCols: Seq[String] = Nil): BatchOutcome = {
    val spark = batch.sparkSession
    val outPath = s"$acceptedDir/batch=$batchId"
    IngestProtocol.maintainBatch(spark, SemanticIndexStore, indexDir, batchId,
      checkpointDir, "semantic ingest",
      "no committed index version — SemanticIndexStore.init the store over " +
        "the standing corpus before starting the stream (this store refuses " +
        "an empty init: no corpus, no centroids, nothing to probe)",
      compactEvery,
      () => IngestProtocol.requireGroupValve("semantic ingest", indexDir,
        SemanticIndexStore.chainHealth(spark, indexDir),
        "identical-vector group", "group")) { at =>
      // the micro-batch is cached for its several consumers (drift
      // profile, probe build, survivor joins, file-count bound)
      val b = OpCaches.registered(batch)
      val batchRows = b.count()
      // drift gate BEFORE the probe: a batch the standing centroids
      // can't meaningfully assign would silently under-dedup
      val drift = IngestProtocol.driftGate("semantic ingest", indexDir,
        batchId, batchRows, driftGateMinRows,
        "near-dup probing against them would silently under-dedup")(
        SemanticIndexStore.driftReport(spark, indexDir, b, vecCol))
      val pairs = SemanticIndexStore.probeLatest(spark, indexDir, b,
        idCol, vecCol, threshold)
      // schema policy before any byte lands, and the file count bounded
      // by row mass — the DedupIngestStream rationale (no shuffle in the
      // survivor lineage, so the write would inherit the source
      // partition count)
      AcceptedSink.requireSchemaCompatible(spark, acceptedDir, b)
      IngestProtocol.keepFirstSurvivors(b, pairs, idCol)
        .repartition(IngestProtocol.boundedFileCount(batchRows))
        .write.mode("overwrite").parquet(outPath)
      // the delta is built from EXACTLY the bytes the accepted sink
      // carries (the commitVersion rationale)
      val acceptedOnDisk = spark.read.parquet(outPath)
      val version =
        if (at.appendCommitted) at.head
        else SemanticIndexStore.append(spark, indexDir, acceptedOnDisk,
          idCol, vecCol, expectedBase = at.base)
      compactedTo => {
        // accepted-sink lifecycle on the same cadence trip (the
        // DedupIngestStream rationale — see [[AcceptedSink]])
        val foldedTo = compactedTo.flatMap(_ =>
          AcceptedSink.fold(spark, acceptedDir, belowBatch = batchId,
            statsCols = acceptedStatsCols))
        BatchOutcome(batchId, at.base, version, acceptedOnDisk.count(),
          at.replay, at.appendCommitted, drift, compactedTo, foldedTo)
      }
    }
  }

  /** Start the semantic ingest maintainer: `vectors` must be a
    * streaming frame carrying `idCol` and `vecCol` (float or double
    * array at the store's persisted dimension — a re-dimensioned batch
    * fails by name in the store); accepted vectors land under
    * `acceptedDir/batch=<batchId>`, folded into the `_archive` tier on
    * each cadence trip ([[AcceptedSink]] — read the corpus through
    * [[AcceptedSink.readAccepted]]).
    * The store must already be [[SemanticIndexStore.init]]-ed over a
    * non-empty standing corpus. `threshold` is the cosine near-dup
    * cut — an explicit per-pipeline choice, no default (0.5 means
    * something very different here than in token space). The stream is
    * the store's single maintainer. */
  def semanticIngestSink(vectors: DataFrame, indexDir: String,
                         acceptedDir: String, idCol: String, vecCol: String,
                         checkpointDir: String, threshold: Double,
                         compactEvery: Int = 9,
                         driftGateMinRows: Long = 16L,
                         acceptedStatsCols: Seq[String] = Nil): StreamingQuery = {
    IngestProtocol.startSink(vectors, checkpointDir, compactEvery) { (batch, batchId) =>
      processBatch(batch, batchId, indexDir, acceptedDir, idCol, vecCol,
        threshold, compactEvery, checkpointDir, driftGateMinRows,
        acceptedStatsCols)
    }
  }
}
