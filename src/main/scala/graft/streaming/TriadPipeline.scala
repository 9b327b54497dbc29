package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The three ingest maintainers composed into ONE production pipeline
  * over ONE source stream — the natural training-data topology the
  * independent loops were built for:
  *
  *   source batch ──► [[DedupIngestStream]] (near-dup survivors vs the
  *   MinHash store) ──► [[SemanticIngestStream]] (semantic survivors vs
  *   the SemDeDup store, drift-gated) ──► [[IvfIngestStream]] (the
  *   retrieval index over everything that survived both screens).
  *
  * Each stage consumes the PREVIOUS stage's committed accepted bytes
  * for the same batch id (`acceptedDir/batch=<id>` — re-read from disk,
  * not the in-memory frame: the store-delta rationale, so a stage's
  * input can never drift from what its upstream actually committed),
  * and each stage keeps its OWN [[IngestProtocol]] ledger in its own
  * store. That per-stage ledgering is what makes a crash ANYWHERE in
  * the chain replay-safe with no coordinator: foreachBatch re-delivers
  * the batch, stages whose appends committed skip them (their ledger
  * shows head > base) while rewriting their deterministic accepted
  * output, and the first stage whose append was lost redoes it — the
  * boundary crash is just "every stage left of the crash skips, every
  * stage at/right of it redoes" (spec-pinned across a stage boundary,
  * `TriadPipelineSpec`).
  *
  * Scale shape: the composition adds NOTHING to the per-batch cost
  * model — each stage keeps its own O(batch) probe/append economics and
  * its own compaction cadence (minhash 8, vector stores 9 — the
  * measured knees), the inter-stage handoff is a survivor-mass parquet
  * read, and the accepted sinks fold on their own trips
  * ([[AcceptedSink]]). Input rows must carry BOTH the text and the
  * embedding column (the dedup stage passes every column through to its
  * survivors). Ids must be unique and never redelivered outside
  * checkpoint replay — the loops' shared source contract.
  *
  * An optional CURATION FRONT GATE ([[CurationGate]], `Config.curation`)
  * screens quality/tokens/language and redacts PII before stage 1 —
  * stateless, so it adds no ledger and no takedown surface (its
  * rejected audit keeps verdicts, never text).
  *
  * An optional LINKAGE TAIL STAGE ([[graft.ops.LinkageStore]],
  * `Config.linkage`) maintains incremental entity resolution over the
  * FINAL accepted corpus — the fourth maintainer running exactly where
  * the pipeline's training data lands, instead of standalone: each
  * batch's both-screens survivors fold into the standing resolution
  * (batch-mass comparisons only — the store's exactness argument),
  * [[takedown]] withdraws a removed document's sole-carrier values,
  * and [[audit]] covers the fourth store. The composed store is born
  * EMPTY ([[initLinkageStore]]) so the accepted sink is the exact
  * carrier-of-record for every live value — what makes the id→value
  * takedown derivation exact. */
object TriadPipeline {

  /** The optional linkage tail stage's parameters: which accepted-row
    * columns to resolve (`valueCol` within `blockCols` blocks — both
    * must ride the SOURCE rows; the screens pass every column
    * through), the match radius, and the chain-fold cadence. The
    * store's comparison parameters are persisted at init — these must
    * match them ([[graft.ops.LinkageStore]] owns every comparison). */
  final case class LinkageStage(valueCol: String, blockCols: Seq[String],
                                maxDist: Int, compactEvery: Int = 8) {
    /** The store's key columns: the block columns, then the value. */
    def keyCols: Seq[String] = blockCols :+ valueCol
  }

  /** The linkage store's key domain over `rows`: DISTINCT keys with
    * EVERY key column non-null, block columns included. The store's own
    * joins (append's candidate blocks, remove's left_semi, the audit's
    * containment) use null-dropping equality, so a null-block key can
    * neither pair, nor be withdrawn, nor match its own store row. */
  private def linkageKeys(rows: DataFrame, st: LinkageStage): DataFrame = {
    import org.apache.spark.sql.functions.col
    rows.select(st.keyCols.map(col): _*)
      .where(st.keyCols.map(col(_).isNotNull).reduce(_ && _))
      .distinct()
  }

  /** Delete a store directory outright, ahead of its rebuild. */
  private def wipe(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, true): Unit
  }

  /** Directory layout + knobs for one composed pipeline. `root` holds
    * `minhash-store`, `minhash-accepted`, `semantic-store`,
    * `semantic-accepted`, `ivf-store`. The three stores must be
    * init-ed over the standing corpus before the stream starts (each
    * loop refuses an uninitialized store by name).
    * `semanticThreshold` is explicit — no default — because a cosine
    * cut is a per-pipeline modeling choice ([[SemanticIngestStream]]'s
    * rationale). */
  final case class Config(root: String, idCol: String, textCol: String,
                          vecCol: String, checkpointDir: String,
                          minhashThreshold: Double = 0.5,
                          semanticThreshold: Double,
                          minhashCompactEvery: Int = 8,
                          vectorCompactEvery: Int = 9,
                          driftGateMinRows: Long = 16L,
                          curation: Option[CurationGate.Rule] = None,
                          acceptedStatsCols: Seq[String] = Nil,
                          linkage: Option[LinkageStage] = None) {
    def minhashDir: String = s"$root/minhash-store"
    def minhashAccepted: String = s"$root/minhash-accepted"
    def semanticDir: String = s"$root/semantic-store"
    def semanticAccepted: String = s"$root/semantic-accepted"
    def ivfDir: String = s"$root/ivf-store"
    def curationRejected: String = s"$root/curation-rejected"
    def linkageDir: String = s"$root/linkage-store"
  }

  /** What one composed micro-batch did, per stage. `curation` is None
    * when the pipeline runs without a front gate; `linkage` is None
    * when it runs without the tail stage. `stageSecs` is per-stage wall
    * time (keys: curation/dedup/semantic/ivf/linkage, absent stages
    * omitted) — the operational telemetry that makes a slow batch
    * attributable to ONE stage instead of re-running the pipeline under
    * a profiler; the inter-stage accepted-bytes read is lazy, so each
    * stage's figure includes reading its own input (the cost a
    * standalone run of that stage would pay). */
  final case class TriadOutcome(dedup: DedupIngestStream.BatchOutcome,
                                semantic: SemanticIngestStream.BatchOutcome,
                                ivf: IvfIngestStream.BatchOutcome,
                                curation: Option[CurationGate.BatchOutcome] = None,
                                linkage: Option[LinkageIngestStream.BatchOutcome] = None,
                                stageSecs: Map[String, Double] = Map.empty)

  /** One composed micro-batch — the three stages in sequence, each
    * reading its predecessor's committed accepted bytes for THIS batch
    * id. Factored out of the sink so specs can drive batch ids (and
    * crash-replay interleavings) deterministically. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
                                  cfg: Config): TriadOutcome = {
    val spark = batch.sparkSession
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // the optional curation FRONT GATE ([[CurationGate]]): stateless and
    // deterministic, so its kept frame feeds stage 1 in memory (same
    // replay class as the source); only the text-free rejected audit
    // persists, under curationRejected/batch=<id>
    val ((gated, o0), t0) = timed(cfg.curation match {
      case Some(rule) =>
        val (kept, oc) = CurationGate.processBatch(batch, batchId,
          cfg.curationRejected, cfg.idCol, cfg.textCol, rule)
        (kept, Some(oc))
      case None => (batch, None)
    })
    val (o1, t1) = timed(DedupIngestStream.processBatch(gated, batchId,
      cfg.minhashDir, cfg.minhashAccepted, cfg.idCol, cfg.textCol,
      cfg.minhashThreshold, cfg.minhashCompactEvery, cfg.checkpointDir,
      cfg.acceptedStatsCols))
    // the dedup survivors carry every source column (embedding
    // included) — re-read from the committed batch directory, which a
    // fold can never touch (folds take strictly-below-current only)
    val survivors1 = spark.read.parquet(s"${cfg.minhashAccepted}/batch=$batchId")
    val (o2, t2) = timed(SemanticIngestStream.processBatch(survivors1, batchId,
      cfg.semanticDir, cfg.semanticAccepted, cfg.idCol, cfg.vecCol,
      cfg.semanticThreshold, cfg.vectorCompactEvery, cfg.checkpointDir,
      cfg.driftGateMinRows, cfg.acceptedStatsCols))
    val survivors2 = spark.read.parquet(s"${cfg.semanticAccepted}/batch=$batchId")
    // the ivf stage and the linkage TAIL STAGE both consume the SAME
    // committed semantic-accepted bytes and maintain independent stores
    // with independent ledgers — there is no ordering contract between
    // them, so they run CONCURRENTLY (guide-§2.6 overlap): each stage's
    // single-threaded tails (kmeans-free appends, commit renames,
    // protocol I/O, CC rounds) back-fill the other's idle cores. Crash
    // replay is unchanged in substance — each store's ledger already
    // decides skip-vs-redo per stage, and a crash mid-overlap leaves
    // exactly the per-store committed/uncommitted states the sequential
    // form's crash points could (the replay spec drives both). Each
    // stage body holds its own thread-local [[graft.ops.OpCaches]]
    // scope, and stage 1 stamped the checkpoint nonce before this
    // point, so first-contact minting cannot race. The linkage stage's
    // values still can never drift from what the sink accepted — same
    // committed-bytes input, per-stage wall still reported.
    val ivfStage = () => timed(IvfIngestStream.processBatch(survivors2,
      batchId, cfg.ivfDir, cfg.idCol, cfg.vecCol,
      cfg.vectorCompactEvery, cfg.checkpointDir, cfg.driftGateMinRows))
    val ((o3, t3), (o4, t4)) = cfg.linkage match {
      case Some(st) =>
        var ivf: (IvfIngestStream.BatchOutcome, Double) = null
        var link: (LinkageIngestStream.BatchOutcome, Double) = null
        // both stages run to the end before either failure propagates: a
        // stage still mid-commit must never outlive this call (the caller
        // may act on the failure — retry, teardown — while it writes)
        graft.ops.VersionedState.writeConcurrently(Seq(
          () => ivf = ivfStage(),
          () => link = timed(LinkageIngestStream.processBatch(survivors2,
            batchId, cfg.linkageDir, st.compactEvery, cfg.checkpointDir))))
        (ivf, (Some(link._1), link._2))
      case None => (ivfStage(), (None, 0.0))
    }
    val stageSecs =
      (if (o0.nonEmpty) Map("curation" -> t0) else Map.empty[String, Double]) ++
        Map("dedup" -> t1, "semantic" -> t2, "ivf" -> t3) ++
        (if (o4.nonEmpty) Map("linkage" -> t4) else Map.empty[String, Double])
    // the curation REJECTED-AUDIT sink is the same partition-per-batch
    // layout as the accepted sinks and would grow a directory per batch
    // forever without the same remedy — fold it on the same cadence
    // trip stage 1 uses (the audit log is verdict-only and nothing
    // replays from it, so the fold rules are strictly sufficient; read
    // it back through AcceptedSink.readAccepted once folding has run)
    if (o0.nonEmpty && o1.compactedTo.nonEmpty)
      AcceptedSink.fold(spark, cfg.curationRejected, belowBatch = batchId): Unit
    TriadOutcome(o1, o2, o3, o0, o4, stageSecs)
  }

  /** Initialize the composed pipeline's linkage store EMPTY — the tail
    * stage's birth verb. Born empty, every live value the store ever
    * resolves arrived through an accepted batch, which makes the
    * accepted sink the exact carrier-of-record [[takedown]]'s id→value
    * derivation needs: a value is withdrawable iff no SURVIVING
    * accepted document carries it. (A store init-ed over a standing
    * corpus outside the sink — the raw [[graft.ops.LinkageStore.init]]
    * path — breaks that derivation: a removed document's value might
    * still be carried by a standing row the sink never saw, and the
    * composed takedown would over-remove it. Run such a store
    * standalone with [[LinkageIngestStream.removeValues]] and hand-fed
    * removals instead.) Fails if `Config.linkage` is unset or the
    * store already exists (the store-init doctrine). */
  def initLinkageStore(spark: org.apache.spark.sql.SparkSession,
                       cfg: Config): Long = {
    import graft.ops.LinkageStore
    val st = cfg.linkage.getOrElse(throw new IllegalArgumentException(
      "initLinkageStore: Config.linkage is unset — the pipeline has no " +
        "linkage tail stage to initialize"))
    val schema = org.apache.spark.sql.types.StructType(
      st.keyCols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType)))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    LinkageStore.init(empty, cfg.linkageDir, st.valueCol, st.blockCols,
      st.maxDist)
  }

  /** What [[takedown]] touched, per surface: the index stores' new
    * tombstone-delta versions, the accepted sinks' new archive
    * versions (None where a sink had nothing accepted yet), and — when
    * the linkage tail stage is configured — the linkage store's new
    * version (None when nothing was accepted yet; unchanged head when
    * every removed document's values are still carried by survivors). */
  final case class TakedownOutcome(minhashVersion: Long,
                                   semanticVersion: Long, ivfVersion: Long,
                                   minhashAcceptedVersion: Option[Long],
                                   semanticAcceptedVersion: Option[Long],
                                   linkageVersion: Option[Long] = None)

  /** TAKEDOWN across the whole pipeline — the one verb a training-data
    * platform owes its opt-out/contamination process: withdraw the
    * named ids from EVERY surface the pipeline maintains, each as an
    * O(tombstones) delta, never a corpus rewrite. Five writes:
    *
    *  - the three index stores ([[graft.ops.MinhashIndexStore.remove]]
    *    and friends) — so the withdrawn documents stop suppressing
    *    future near-dups and stop being retrievable;
    *  - the two accepted sinks ([[AcceptedSink.remove]]) — so the
    *    withdrawn documents stop being TRAINING DATA; their bytes
    *    leave disk at each sink's next archive compact.
    *
    * Note the dedup consequence, which is the CORRECT takedown
    * semantics: once removed from the index, a future arrival of the
    * same content (under a fresh id) is near-dup-free and will be
    * ACCEPTED — takedown means "as if never ingested", not "banned".
    * Keep a separate blocklist screen if banned-content semantics are
    * also needed. Concurrency: an out-of-band maintenance verb — each
    * store write names the head it read, so racing a live stream's
    * append fails loudly (the commit protocol); run between batches or
    * retry. A checkpoint holding a batch PENDING REPLAY is refused by
    * name (like [[retrainVectorStores]]): the loops' replay-skip test
    * is `head > base`, so a takedown's head advance landing in that
    * window would make the resumed batch read its own append as
    * committed and skip it — its documents silently never ingested.
    * Ids absent from a surface are a harmless no-op there (the
    * stores' unknown-id rule). */
  def takedown(spark: org.apache.spark.sql.SparkSession, cfg: Config,
               removeIds: DataFrame): TakedownOutcome = {
    import graft.ops.{IvfIndexStore, MinhashIndexStore, SemanticIndexStore}
    IngestProtocol.requireNoPendingReplay(spark, cfg.checkpointDir,
      "triad takedown", "advancing a store head now would make the " +
        "resumed batch read its own append as committed and skip it, " +
        "silently never ingesting its documents; let the stream drain the " +
        "batch, then retry")
    def headOf(store: graft.ops.VersionedStore, what: String, dir: String): Long =
      store.latestVersion(spark, dir).getOrElse(throw new IllegalStateException(
        s"triad takedown: $what $dir has no committed version — the pipeline " +
          "was never initialized"))
    val mh = MinhashIndexStore.remove(spark, cfg.minhashDir, removeIds,
      cfg.idCol, headOf(MinhashIndexStore, "minhash store", cfg.minhashDir))
    val sem = SemanticIndexStore.remove(spark, cfg.semanticDir, removeIds,
      cfg.idCol, headOf(SemanticIndexStore, "semantic store", cfg.semanticDir))
    val ivf = IvfIndexStore.remove(spark, cfg.ivfDir, removeIds,
      cfg.idCol, headOf(IvfIndexStore, "ivf store", cfg.ivfDir))
    // linkage takedown is ID→VALUE derivation: the store is value-keyed,
    // so withdraw exactly the values the removed documents carried that
    // NO surviving accepted document still carries (a shared value
    // survives — its other carriers keep it training-relevant). Exact
    // because the composed store is born empty ([[initLinkageStore]]):
    // the accepted sink IS the carrier-of-record. Runs BEFORE the sink
    // removals — the derivation must see the removed rows. One accepted-
    // corpus scan: takedown is a scheduled maintenance verb and pays it
    // like a compact.
    val link = cfg.linkage.map { st =>
      import graft.ops.LinkageStore
      if (!AcceptedSink.hasAccepted(spark, cfg.semanticAccepted)) None
      else {
        val head = headOf(LinkageStore, "linkage store", cfg.linkageDir)
        val corpus = AcceptedSink.readAccepted(spark, cfg.semanticAccepted)
        // keys in the store's domain only: deriving a null-block key
        // would be a guaranteed no-op, and the null-missed anti-join
        // below would hand the removal exactly that no-op frame
        val gone =
          linkageKeys(corpus.join(removeIds, Seq(cfg.idCol), "left_semi"), st)
            .join(linkageKeys(
              corpus.join(removeIds, Seq(cfg.idCol), "left_anti"), st),
              st.keyCols, "left_anti")
        Some(LinkageStore.remove(spark, cfg.linkageDir, gone, head))
      }
    }.getOrElse(None)
    // a sink with nothing accepted yet has nothing to remove from — a
    // takedown arriving before the first batch is legal. The check is
    // an explicit has-either-tier test, NOT a swallowed read attempt: a
    // corrupt archive must fail the takedown loudly, never silently
    // skip the data-product half of it
    def sinkRemove(dir: String): Option[Long] =
      if (!AcceptedSink.hasAccepted(spark, dir)) None
      else Some(AcceptedSink.remove(spark, dir, removeIds, cfg.idCol))
    TakedownOutcome(mh, sem, ivf,
      sinkRemove(cfg.minhashAccepted), sinkRemove(cfg.semanticAccepted), link)
  }

  /** What [[retrainVectorStores]] rebuilt: the corpus row count it
    * trained on (both stores re-init at v=0). */
  final case class RetrainOutcome(corpusRows: Long,
                                  semanticVersion: Long, ivfVersion: Long)

  /** RETRAIN the drift-gated vector stores from the accepted corpus —
    * the rebuild runbook (SCALE.md "Rebuild runbook") as one guarded
    * verb. This is the drift trigger's remedy: when `driftReport`
    * fires, the centroids no longer describe the corpus, and the fix
    * is an explicit delete-and-rebuild, never an append side effect
    * (the stores' own contract).
    *
    * Run it with the stream STOPPED. The runbook's safety check is
    * enforced, not advised: the verb refuses by name while the
    * checkpoint holds a batch pending replay
    * ([[IngestProtocol.pendingReplay]] — offsets ahead of commits),
    * because on resume that batch would fresh-record a ledger base
    * against the rebuilt store and re-append documents the rebuild
    * corpus already absorbed. Each vector store is deleted WHOLE (the
    * ingest ledger and owner stamp are per-store state and go with it)
    * and re-initialized over the CURRENT accepted corpus read through
    * the two-tier surface ([[AcceptedSink.readAccepted]] — folds and
    * takedowns are honored, so a withdrawn document does not sneak
    * back in through a retrain). The minhash store is untouched — text
    * dedup has no centroids to drift; a banding re-parameterization
    * follows the same recipe by hand. Resume the SAME checkpoint
    * afterwards: the next batch fresh-records its base against the new
    * v=0, and the absent owner stamp is benign (it only re-writes at
    * batch 0, which never recurs on a resumed checkpoint).
    *
    * `semanticNlist`/`ivfNlist` are explicit: a retrain is a
    * re-modeling event, and cell counts are sized to the CURRENT
    * corpus (the `semanticThreshold` explicitness rationale). */
  def retrainVectorStores(spark: org.apache.spark.sql.SparkSession,
                          cfg: Config, semanticNlist: Int = 0,
                          ivfNlist: Int = 16): RetrainOutcome = {
    import graft.ops.{IvfIndexStore, SemanticIndexStore}
    IngestProtocol.requireNoPendingReplay(spark, cfg.checkpointDir,
      "triad retrain", "on resume it would fresh-record a ledger base " +
        "against the rebuilt store and re-append documents the rebuild " +
        "corpus already absorbed; let the stream finish (or drain) the " +
        "batch, then retrain")
    val corpus = AcceptedSink.readAccepted(spark, cfg.semanticAccepted)
      .select(cfg.idCol, cfg.vecCol).cache()
    val rows = corpus.count()
    wipe(spark, cfg.semanticDir)
    wipe(spark, cfg.ivfDir)
    val sem = SemanticIndexStore.init(corpus, cfg.semanticDir,
      cfg.idCol, cfg.vecCol, nlist = semanticNlist)
    val ivf = IvfIndexStore.init(corpus, cfg.ivfDir,
      cfg.idCol, cfg.vecCol, nlist = ivfNlist)
    corpus.unpersist()
    RetrainOutcome(rows, sem, ivf)
  }

  /** What [[migrateCorpus]] did, per surface: each accepted sink's
    * migration (None where the sink had nothing accepted yet — its
    * first post-migration batch establishes the new schema instead),
    * and which stores the content deltas forced to rebuild
    * (`minhashRebuilt`; `vectorRetrain` is Some exactly when the
    * vector content changed; `linkageRebuilt` is None when no tail
    * stage is configured or its store was never initialized,
    * Some(false) when the key set was untouched and the standing
    * resolution already answers for the migrated corpus). */
  final case class CorpusMigrationOutcome(
      dedupMigration: Option[AcceptedSink.MigrationOutcome],
      semanticMigration: Option[AcceptedSink.MigrationOutcome],
      minhashRebuilt: Boolean,
      vectorRetrain: Option[RetrainOutcome],
      linkageRebuilt: Option[Boolean])

  /** Count + order-invariant decimal checksum over `cols`' content —
    * the house arithmetic ([[AcceptedSink.exportShardsAsOf]]'s
    * provenance class) used to decide whether a migration actually
    * TOUCHED the column set a store was built over. `to_json(struct)`
    * keys the row (type-generic — embeds ride through; field names
    * disambiguate null placement), summed as md5-derived decimals so
    * the reading is row-order-free; row multiplicity counts. Equal
    * strings ⇒ the content a store derived its state from is
    * byte-identical across the migration, so the state still answers. */
  private def contentChecksum(df: DataFrame, cols: Seq[String]): String = {
    import org.apache.spark.sql.functions.{count, lit => flit, struct,
      sum, to_json}
    val key = to_json(struct(cols.map(org.apache.spark.sql.functions.col): _*))
    val r = df.agg(count(flit(1)),
      sum(graft.ops.Curation.shuffleKey(key).cast("decimal(20,0)"))
        .cast("string")).head()
    s"${r.getLong(0)}:${Option(r.getString(1)).getOrElse("0")}"
  }

  /** SCHEMA MIGRATION of the WHOLE pipeline — the runbook
    * [[AcceptedSink.migrateArchive]]'s refusal prescribes ("evolving
    * the corpus schema is an explicit archive migration"), composed at
    * the level where the stores actually live. The sink-level verb
    * rewrites one archive; the pipeline owns FIVE more surfaces whose
    * state was derived from pre-migration column content — the minhash
    * store (text), the two vector stores (embeddings), the linkage
    * store (value keys) — and nothing below this verb pins that they
    * are rebuilt exactly when the migration invalidated them. One
    * call, stream stopped:
    *
    *  1. refuse while the checkpoint holds a batch pending replay
    *     (the [[retrainVectorStores]] hazard — every store the runbook
    *     may rebuild shares it);
    *  2. PRE-FLIGHT the migrated schema (applied to an empty frame —
    *     no data read): the id column and every column a stage
    *     consumes (`textCol`, `vecCol`, and the linkage stage's
    *     value/block columns when configured) must survive with their
    *     standing comparable types, refused BY NAME otherwise — a
    *     migration that drops or retypes a stage input doesn't need a
    *     rebuild, it needs a different pipeline Config, and
    *     discovering that mid-rewrite would strand a half-migrated
    *     platform;
    *  3. fold each sink's live tier (the sink verb's own
    *     precondition), then [[AcceptedSink.migrateArchive]] BOTH
    *     accepted sinks with the same transform (legal because the
    *     composition passes every source column through both sinks —
    *     one corpus shape, two screens' worth of it); a sink with
    *     nothing accepted yet is skipped — its first post-migration
    *     batch establishes the new schema;
    *  4. decide each derived store's fate by CONTENT, not schema:
    *     the house checksum over exactly the columns the store was
    *     built from, read through [[AcceptedSink.readAccepted]]
    *     before and after the rewrite. Equal ⇒ the store's state
    *     still answers (a backfilled new column or a rewrite of some
    *     unrelated column invalidates nothing); changed ⇒ rebuild:
    *     the minhash store re-inits over the stage-1 accepted corpus
    *     under its own PERSISTED parameters, the vector stores
    *     [[retrainVectorStores]] (cell counts re-sized via
    *     `semanticNlist`/`ivfNlist` — the retrain verb's explicitness
    *     doctrine), and the linkage store rebuilds BORN-EMPTY
    *     ([[initLinkageStore]]) plus one whole-corpus append — the
    *     rebuild that keeps the sink-as-carrier-of-record derivation
    *     [[takedown]] depends on. Schema comparison could not make
    *     this call: a value rewrite with no schema delta (a text
    *     normalization pass) invalidates the text-derived stores
    *     while changing no footer.
    *
    * Resume the SAME checkpoint afterwards; the next batch must carry
    * the migrated shape ([[AcceptedSink.requireSchemaCompatible]]
    * now enforces the new standing schema) and fresh-records its
    * ledger base against any rebuilt store (the retrain verb's resume
    * argument, store by store).
    *
    * NOT blindly re-runnable: each numbered step commits atomically,
    * but a crash between steps leaves later steps undone, and
    * re-invoking the verb would apply `migrate` AGAIN to the
    * already-migrated archives (a double transform — undetectable
    * when the transform is schema-neutral). Recovery is by
    * inspection, not retry: [[AcceptedSink.migrationReceipt]] at each
    * sink's head says which sink rewrites committed; finish the
    * remaining steps with the sink/store-level verbs by hand. The
    * takedown-interrupted analogue of this note lives on [[audit]]'s
    * linkage containment finding.
    *
    * Cost: O(accepted corpus) several times over — two archive
    * rewrites, up to four checksum scans, up to three store rebuilds
    * — the [[AcceptedSink.compactArchive]]/retrain class; schedule it
    * as the rare re-modeling event it is. */
  def migrateCorpus(spark: org.apache.spark.sql.SparkSession, cfg: Config,
                    migrate: DataFrame => DataFrame,
                    semanticNlist: Int = 0,
                    ivfNlist: Int = 16): CorpusMigrationOutcome = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    IngestProtocol.requireNoPendingReplay(spark, cfg.checkpointDir,
      "triad migration", "a store rebuild now would make the resumed " +
        "batch fresh-record its base against rebuilt state and re-append " +
        "documents the rebuild corpus already absorbed; let the stream " +
        "drain the batch, then migrate")
    val dedupHas = AcceptedSink.hasAccepted(spark, cfg.minhashAccepted)
    val semHas = AcceptedSink.hasAccepted(spark, cfg.semanticAccepted)
    require(dedupHas || semHas,
      s"triad migration: neither accepted sink under ${cfg.root} holds " +
        "anything — there is no corpus schema to migrate; the first " +
        "accepted batch establishes the schema instead")

    // ---- pre-flight: the migrated shape must keep every stage input --
    val standing = AcceptedSink.acceptedSchema(spark,
        if (semHas) cfg.semanticAccepted else cfg.minhashAccepted)
      .getOrElse(throw new IllegalStateException(
        s"triad migration: no standing accepted schema under ${cfg.root}"))
    // the transform is written against the ARCHIVE data shape, which
    // carries `batch` as a long data column — pre-flight under the
    // same shape, zero rows, so a broken transform fails before any
    // rewrite starts
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(standing.fields :+ StructField("batch", LongType)))
    val migrated = migrate(probe).schema
    def requireKept(colName: String, consumer: String): Unit = {
      val before = standing.find(_.name == colName).getOrElse(
        throw new IllegalStateException(
          s"triad migration: the standing accepted schema has no column " +
            s"'$colName' — the pipeline Config names a $consumer column " +
            "the corpus never carried"))
      val after = migrated.find(_.name == colName)
      require(after.nonEmpty,
        s"triad migration: the migration DROPS column '$colName', which " +
          s"the $consumer consumes — a pipeline migration must carry " +
          "every stage input through; dropping one is a pipeline " +
          "re-configuration, not a migration")
      // catalogString is the nullability-free type rendering — the
      // same looseness the sink's schema policy compares under
      require(after.get.dataType.catalogString == before.dataType.catalogString,
        s"triad migration: the migration RETYPES column '$colName' " +
          s"(${before.dataType.simpleString} -> " +
          s"${after.get.dataType.simpleString}), which the $consumer " +
          "consumes under its standing type — retype a stage input only " +
          "through an explicit store re-parameterization, not this verb")
    }
    requireKept(cfg.idCol, "whole pipeline (every store keys on it)")
    requireKept(cfg.textCol, "dedup stage")
    requireKept(cfg.vecCol, "vector stages")
    cfg.linkage.foreach { st =>
      st.keyCols.foreach(requireKept(_, "linkage tail stage"))
    }

    // ---- fold, checksum, migrate each sink ---------------------------
    def foldAll(dir: String): Unit =
      AcceptedSink.liveBatchIds(spark, dir).maxOption.foreach(mx =>
        AcceptedSink.fold(spark, dir, belowBatch = mx + 1,
          cfg.acceptedStatsCols): Unit)
    if (dedupHas) foldAll(cfg.minhashAccepted)
    if (semHas) foldAll(cfg.semanticAccepted)
    val mhBefore = if (dedupHas) Some(contentChecksum(
      AcceptedSink.readAccepted(spark, cfg.minhashAccepted),
      Seq(cfg.idCol, cfg.textCol))) else None
    val vecBefore = if (semHas) Some(contentChecksum(
      AcceptedSink.readAccepted(spark, cfg.semanticAccepted),
      Seq(cfg.idCol, cfg.vecCol))) else None
    // the linkage checksum reads the store's own resolution domain
    def linkKeys(): DataFrame = linkageKeys(
      AcceptedSink.readAccepted(spark, cfg.semanticAccepted), cfg.linkage.get)
    val linkActive = cfg.linkage.nonEmpty && semHas &&
      graft.ops.LinkageStore.latestVersion(spark, cfg.linkageDir).nonEmpty
    val linkBefore = if (linkActive)
      Some(contentChecksum(linkKeys(), cfg.linkage.get.keyCols)) else None

    val dedupMig = if (dedupHas)
      Some(AcceptedSink.migrateArchive(spark, cfg.minhashAccepted, migrate))
    else None
    val semMig = if (semHas)
      Some(AcceptedSink.migrateArchive(spark, cfg.semanticAccepted, migrate))
    else None

    // ---- rebuild exactly the stores whose inputs changed -------------
    val mhChanged = dedupHas && mhBefore != Some(contentChecksum(
      AcceptedSink.readAccepted(spark, cfg.minhashAccepted),
      Seq(cfg.idCol, cfg.textCol)))
    if (mhChanged) {
      // rebuild under the store's own PERSISTED parameters (the store
      // owns every comparison — a rebuild must not re-choose them) over
      // the stage-1 accepted corpus: the retrain doctrine's corpus
      // (init-time standing docs were never accepted and drop out)
      val meta = graft.ops.MinhashIndexStore.read(spark, cfg.minhashDir).meta
      wipe(spark, cfg.minhashDir)
      graft.ops.MinhashIndexStore.init(
        AcceptedSink.readAccepted(spark, cfg.minhashAccepted),
        cfg.minhashDir, cfg.idCol, cfg.textCol, meta.shingleK,
        meta.numBands, meta.rowsPerBand, meta.maxGroupSize): Unit
    }
    val vecChanged = semHas && vecBefore != Some(contentChecksum(
      AcceptedSink.readAccepted(spark, cfg.semanticAccepted),
      Seq(cfg.idCol, cfg.vecCol)))
    val retrain = if (vecChanged)
      Some(retrainVectorStores(spark, cfg, semanticNlist, ivfNlist))
    else None
    val linkRebuilt = if (!linkActive) None else {
      val changed = linkBefore != Some(contentChecksum(linkKeys(),
        cfg.linkage.get.keyCols))
      if (changed) {
        // born-empty plus ONE whole-corpus append — the rebuild shape
        // that keeps the sink the exact carrier-of-record (a raw
        // LinkageStore.init over the corpus would break the takedown
        // derivation's birth assumption only notionally — the content
        // is identical — but the runbook keeps the doctrine uniform)
        wipe(spark, cfg.linkageDir)
        initLinkageStore(spark, cfg): Unit
        graft.ops.LinkageStore.append(spark, cfg.linkageDir,
          AcceptedSink.readAccepted(spark, cfg.semanticAccepted),
          expectedBase = 0L): Unit
      }
      Some(changed)
    }
    CorpusMigrationOutcome(dedupMig, semMig, mhChanged, retrain, linkRebuilt)
  }

  /** RANK the accepted corpus on its link structure — the scoring half
    * of the quality feedback loop ([[graft.ops.LinkGraph]]: doc↔term
    * bipartite PageRank, the vocabulary-centrality signal). Returns
    * `(<idCol>, rank)` for every accepted document with at least one
    * token, computed by the CHECKPOINTED many-round walk
    * ([[graft.ops.Graph.pageRankCheckpointed]]) — a quality score is
    * read at convergence depth, so the walk must be flat-plan and
    * crash-resumable. Reads the corpus through the two-tier surface
    * (folds and takedowns honored — a withdrawn document never gets a
    * rank). `scratchDir` follows the checkpointed walk's resume
    * contract: one dir per corpus version; reuse only to resume the
    * SAME corpus's walk. Run it scheduled, like a compact — it scans
    * the accepted corpus once plus O(nodes) per round. */
  def qualityRank(spark: org.apache.spark.sql.SparkSession, cfg: Config,
                  iters: Int, scratchDir: String,
                  damping: Double = 0.85): DataFrame =
    graft.ops.LinkGraph.docRank(
      AcceptedSink.readAccepted(spark, cfg.semanticAccepted),
      cfg.idCol, cfg.textCol, iters, scratchDir, damping)

  /** The corpus's quality TAIL — accepted documents ranking strictly
    * below `rankFloor`, as a one-column id frame shaped for
    * [[takedown]]: `takedown(spark, cfg, qualityTail(...))` is the
    * whole rank-then-prune curation loop. The floor is EXPLICIT — no
    * default — because a rank cut is a per-corpus modeling choice (the
    * `semanticThreshold` doctrine); read the rank distribution off
    * [[qualityRank]] first. A quantile-derived floor is a driver-side
    * scalar the caller computes; the verb itself stays one filter —
    * no global sort at corpus mass.
    *
    * RANKLESS EXEMPTION, by default: a tokenless/empty-text document
    * produces no edges ([[graft.ops.LinkGraph.termEdges]]' contract),
    * is absent from the rank output, and so never ranks below any
    * floor — arguably the lowest-quality documents sit OUTSIDE the
    * default tail. That default is deliberate (a rank verb should not
    * invent a rank), but a curation pass that wants the whole tail
    * sets `includeRankless = true`: accepted documents with no rank
    * row join the tail frame (one anti-join of the id-mass corpus
    * against the rank output — no new scan class). The front-gate
    * route ([[CurationGate]]'s token floor) remains the cheaper place
    * to stop tokenless docs from ever being accepted. */
  def qualityTail(spark: org.apache.spark.sql.SparkSession, cfg: Config,
                  iters: Int, scratchDir: String, rankFloor: Double,
                  damping: Double = 0.85,
                  includeRankless: Boolean = false): DataFrame = {
    val ranks = qualityRank(spark, cfg, iters, scratchDir, damping)
    val below = ranks
      .where(org.apache.spark.sql.functions.col("rank") < rankFloor)
      .select(cfg.idCol)
    if (!includeRankless) below
    else below.unionByName(
      AcceptedSink.readAccepted(spark, cfg.semanticAccepted)
        .select(cfg.idCol).distinct()
        .join(ranks.select(cfg.idCol), Seq(cfg.idCol), "left_anti"))
  }

  /** One [[audit]] observation: which pipeline surface, how bad
    * (`error` = the invariant is broken and answers may be wrong or a
    * resume unsafe; `warn` = debris or lag a scheduled maintainer will
    * clear but worth watching; `info` = expected transient state), and
    * what was seen. */
  final case class AuditFinding(surface: String, severity: String,
                                message: String)

  final case class AuditReport(findings: Seq[AuditFinding]) {
    def errors: Seq[AuditFinding] = findings.filter(_.severity == "error")
    def ok: Boolean = errors.isEmpty
    override def toString: String =
      if (findings.isEmpty) "triad audit: clean"
      else "triad audit:\n" + findings.map(f =>
        s"  [${f.severity}] ${f.surface}: ${f.message}").mkString("\n")
  }

  /** FSCK for the composed pipeline — the read-only consistency check
    * to run before resuming a stream, after any crash or manual
    * surgery, or on a monitoring cadence. Verifies every invariant the
    * pipeline's pieces promise, ACROSS the pieces (each store/sink
    * already fails by name on its own broken state at use time; the
    * audit finds it before use, plus the cross-surface drift no single
    * piece can see):
    *
    *  - each index store: initialized, serving chain intact (a cut
    *    chain is the answers-from-a-partial-corpus hazard), ledger
    *    entries parse with base ≤ head, sweep not behind;
    *  - ownership: every store stamped by THIS config's checkpoint,
    *    with the checkpoint's instance nonce intact (a missing/changed
    *    nonce means the checkpoint was deleted and recreated — the
    *    silent re-ingest hazard [[IngestProtocol.ownerCheck]] rejects
    *    at batch 0, surfaced here before that batch fires);
    *  - stage ordering: ledger heads must run downhill along the
    *    topology (dedup ≥ semantic ≥ ivf, ≥ linkage when the tail
    *    stage is configured) and spread at most the one-batch crash
    *    window — a wider spread means a stage was run outside the
    *    composition;
    *  - each accepted sink: archive chain intact, fold watermark
    *    coherent with the live directories (at-or-below-watermark dirs
    *    are dead debris — warn), tombstone/data schema agreement (a
    *    mismatched id column poisons every read);
    *  - cross-sink: a semantic-accepted batch the dedup stage never
    *    committed is an impossible state (stage 2 reads stage 1's
    *    bytes) — error;
    *  - checkpoint: a batch pending replay is reported (`info`) — the
    *    state is legal, but maintenance verbs (retrain) refuse it and a
    *    clean bill should be read after the drain.
    *
    * Structural checks are driver-side fs metadata only — no Spark job,
    * so the audit is safe on any cadence at any corpus size. Against a
    * LIVE stream it is read-only and harmless, but it can race a fold
    * or prune mid-walk and report a transient error for state that is
    * correct a moment later — monitoring should re-read once before
    * alerting, or run the audit between batches (the per-use checks
    * inside the loops stay authoritative either way). `deep`
    * adds data-mass containment proofs: per-live-batch stage-handoff
    * containment (batch-mass), final-corpus ⊆ stage-1-corpus, and
    * accepted-corpus ⊆ index-store coverage (these two scan the
    * ACCEPTED corpus and the index id lists — O(corpus), schedule like
    * a compact). Never throws on a finding — a broken surface becomes
    * an `error` finding naming it; only a broken PARAMETER (wrong
    * config paths entirely) can throw. */
  def audit(spark: org.apache.spark.sql.SparkSession, cfg: Config,
            deep: Boolean = false): AuditReport = {
    import graft.ops.{IvfIndexStore, MinhashIndexStore, SemanticIndexStore}
    import org.apache.spark.sql.functions.{broadcast, col, explode}
    val out = scala.collection.mutable.ArrayBuffer.empty[AuditFinding]
    def finding(surface: String, severity: String, msg: String): Unit =
      out += AuditFinding(surface, severity, msg)
    def checked[A](surface: String)(body: => A): Option[A] =
      try Some(body)
      catch {
        case e: Exception =>
          finding(surface, "error", Option(e.getMessage).getOrElse(e.toString))
          None
      }

    // ---- index stores: chain, ledger, ownership -----------------------
    // the linkage tail store, when configured, is the fourth audited
    // surface and the topology's last ledger (dedup ≥ semantic ≥ ivf ≥
    // linkage — the stage-ordering checks below read the seq order)
    val stores = Seq(
      ("minhash store", cfg.minhashDir, MinhashIndexStore),
      ("semantic store", cfg.semanticDir, SemanticIndexStore),
      ("ivf store", cfg.ivfDir, IvfIndexStore)) ++ cfg.linkage.map(_ =>
      ("linkage store", cfg.linkageDir, graft.ops.LinkageStore)).toSeq
    val ledgerMaxes: Seq[Option[Long]] = stores.map {
      case (name, dir, store) =>
        val head = store.latestVersion(spark, dir)
        head match {
          case None => finding(name, "error",
            s"$dir has no committed version — never initialized (the " +
              "loops refuse an uninitialized store by name at batch time)")
          case Some(h) => checked(name)(store.chainLength(spark, dir, Some(h))): Unit
        }
        val entries = checked(name)(
          IngestProtocol.ledgerEntries(spark, dir)).getOrElse(Seq.empty)
        head.foreach { h =>
          entries.filter(_._2 > h).foreach { case (b, base) =>
            finding(name, "error",
              s"ledger records base v=$base for batch $b but the latest " +
                s"committed version is v=$h — the base regressed (pruned " +
                "head or external rebuild?); the store no longer matches " +
                "this checkpoint's history")
          }
        }
        if (entries.size > 2) finding(name, "warn",
          s"${entries.size} live ledger entries (batches " +
            s"${entries.map(_._1).mkString(",")}) — the sweep holds at " +
            "most two; entries this old mean batches stopped arriving " +
            "mid-stream or the ledger was written outside the loop")
        IngestProtocol.ownerStamp(spark, dir) match {
          case Some((owner, nonceOpt)) =>
            if (owner != cfg.checkpointDir) finding(name, "error",
              s"owned by checkpoint '$owner' but this config names " +
                s"'${cfg.checkpointDir}' — resuming here would mis-read " +
                "the standing ledger as this stream's own replays")
            else nonceOpt.foreach { n =>
              if (!IngestProtocol.checkpointNonce(spark, cfg.checkpointDir)
                .contains(n)) finding(name, "error",
                "the checkpoint's instance nonce is missing or different " +
                  "— the checkpoint directory was deleted and recreated " +
                  "at the same path; its restarted batch 0 would silently " +
                  "re-append already-ingested documents (rebuild the " +
                  "store or restore the original checkpoint)")
            }
          case None if entries.nonEmpty => finding(name, "warn",
            "ledger entries exist but no owner stamp — the stamp is " +
              "written before the first ledger entry, so it was removed " +
              "externally; the next fresh checkpoint would pass the " +
              "batch-0 owner check it should fail")
          case None => ()
        }
        entries.map(_._1).maxOption
    }
    // stage ordering along the topology: dedup ≥ semantic ≥ ivf, spread
    // at most the one-batch crash window
    (stores.map(_._1) zip ledgerMaxes).sliding(2).foreach {
      case Seq((upName, Some(up)), (downName, Some(down))) =>
        if (down > up) finding("stage order", "error",
          s"$downName ledger reached batch $down but upstream $upName " +
            s"only batch $up — a downstream stage ran a batch its input " +
            "stage never committed (run outside the composition?)")
      case Seq((upName, None), (downName, Some(down))) =>
        // an EMPTY upstream ledger is not a free pass: the composition
        // runs every stage per batch, so downstream entries with no
        // upstream trace mean the upstream ledger was cleared outside
        // the loop (or the stage ran outside the composition) — the
        // same class the Some/Some branch catches, just with the
        // evidence removed
        finding("stage order", "warn",
          s"$downName ledger reached batch $down but upstream $upName " +
            "has NO live ledger entries — the upstream ledger was " +
            "emptied outside the loop or the downstream stage ran " +
            "outside the composition; the ordering check cannot vouch " +
            "for this pair")
      case _ => ()
    }
    val lastName = stores.last._1
    (ledgerMaxes.head, ledgerMaxes.last) match {
      case (Some(mh), Some(lastMax)) if mh - lastMax > 1 =>
        finding("stage order", "error",
          s"dedup ledger at batch $mh but $lastName at $lastMax — the " +
            "spread exceeds the one-batch crash window, so at least one " +
            "whole batch ran stage 1 without reaching the last stage " +
            "outside a live replay; replay the stream before trusting " +
            "the indexes")
      case (None, Some(lastMax)) =>
        finding("stage order", "warn",
          s"$lastName ledger reached batch $lastMax but the dedup ledger " +
            "is empty — the head/last spread check is blind with the " +
            "upstream evidence gone (emptied outside the loop?)")
      case _ => ()
    }

    // ---- accepted sinks (and, when configured, the curation
    // rejected-audit sink, which folds on the same cadence): archive
    // chain, watermark, tombstone schema -------------------------------
    def sinkCheck(name: String, dir: String): Option[Long] =
      if (!AcceptedSink.hasAccepted(spark, dir)) {
        finding(name, "info", s"$dir holds nothing yet (no archive, no " +
          "live batch directories) — expected before the first batch")
        None
      } else {
        checked(name)(AcceptedSink.archiveChain(spark, dir))
        val watermark = checked(name)(
          AcceptedSink.maxFoldedBatch(spark, dir)).flatten
        val live = AcceptedSink.liveBatchIds(spark, dir)
        watermark.foreach { w =>
          val dead = live.filter(_ <= w).sorted
          if (dead.nonEmpty) finding(name, "warn",
            s"live director${if (dead.size == 1) "y" else "ies"} " +
              s"${dead.map("batch=" + _).mkString(",")} at or below the " +
              s"fold watermark $w — dead debris of a fold that crashed " +
              "between its commit and its deletes; the next fold sweeps it")
        }
        // a read plans against both tiers and the tombstone anti-join
        // resolves against the data schema — planning it (schema only,
        // no job) is exactly the check that a mis-matched tombstone id
        // column or a corrupt tier would fail
        checked(name)(AcceptedSink.readAccepted(spark, dir).schema)
        // schema-policy coherence: every archive version and live
        // directory must still CARRY the standing accepted schema — the
        // accept-time refusal only guards the front door; an externally
        // rewritten archive or an old writer's directory drifts behind
        // it (footer reads only, the same metadata tier as the rest)
        checked(name)(AcceptedSink.schemaCoherenceFindings(spark, dir)
          .foreach(drift => finding(name, "error",
            s"schema drift against the standing accepted schema: $drift " +
              "— the policy refuses this at accept time, so the surface " +
              "was written or rewritten outside the verbs (repair it or " +
              "migrate explicitly)")))
        // migration receipts are audited too: a receipted version whose
        // data footers no longer carry the DECLARED new schema was
        // rewritten outside the protocol after the migration committed
        // — catches the self-consistent head rewrite the standing-
        // schema walk above cannot see (the standing authority moves
        // with the footers; the receipt's declaration does not)
        checked(name)(AcceptedSink.receiptCoherenceFindings(spark, dir)
          .foreach(drift => finding(name, "error",
            s"migration-receipt drift: $drift — the receipt rides the " +
              "data's own atomic commit, so only an external rewrite " +
              "can split them; restore the version or re-migrate " +
              "explicitly")))
        (live.maxOption.toSeq ++ watermark.toSeq).maxOption
      }
    val dedupCover = sinkCheck("dedup accepted sink", cfg.minhashAccepted)
    val semCover = sinkCheck("semantic accepted sink", cfg.semanticAccepted)
    if (cfg.curation.nonEmpty)
      sinkCheck("curation rejected sink", cfg.curationRejected): Unit
    semCover.foreach { semMax =>
      if (!dedupCover.exists(_ >= semMax)) finding("stage handoff", "error",
        s"semantic accepted sink reaches batch $semMax but the dedup " +
          s"sink only ${dedupCover.fold("<nothing>")(c => s"batch $c")} " +
          "— stage 2 consumed bytes stage 1 never committed, which the " +
          "composition cannot produce")
    }

    // ---- checkpoint ----------------------------------------------------
    IngestProtocol.pendingReplay(spark, cfg.checkpointDir).foreach { b =>
      finding("checkpoint", "info",
        s"batch $b is pending replay (offsets ahead of commits) — legal " +
          "mid-crash state; maintenance verbs refuse it, and a clean " +
          "audit should be re-read after the stream drains the batch")
    }

    // ---- deep: data-mass containment proofs ---------------------------
    if (deep) {
      val id = cfg.idCol
      def ids(df: org.apache.spark.sql.DataFrame) = df.select(id).distinct()
      // NO broadcast hint: the anti-join's right side is corpus-mass in
      // the containment proofs (index id lists) — a deep audit is an
      // O(corpus) scheduled job and shuffles like one; AQE still
      // broadcasts the batch-mass handoff checks on its own
      def missing(what: String, subset: org.apache.spark.sql.DataFrame,
                  superset: org.apache.spark.sql.DataFrame,
                  surface: String): Unit = {
        val lost = subset.join(superset, Seq(id), "left_anti")
          .limit(6).collect().map(_.get(0))
        if (lost.nonEmpty) finding(surface, "error",
          s"$what: id(s) ${lost.mkString(",")}${if (lost.length == 6) ",…" else ""} " +
            "present downstream but absent upstream")
      }
      val dedupLive = AcceptedSink.liveBatchIds(spark, cfg.minhashAccepted).toSet
      val semLive = AcceptedSink.liveBatchIds(spark, cfg.semanticAccepted).toSet
      (dedupLive intersect semLive).toSeq.sorted.foreach { b =>
        checked("stage handoff")(missing(s"batch $b handoff",
          ids(spark.read.parquet(s"${cfg.semanticAccepted}/batch=$b")),
          ids(spark.read.parquet(s"${cfg.minhashAccepted}/batch=$b")),
          "stage handoff"))
      }
      val dedupAll =
        if (!AcceptedSink.hasAccepted(spark, cfg.minhashAccepted)) None
        else checked("dedup accepted sink")(
          ids(AcceptedSink.readAccepted(spark, cfg.minhashAccepted)))
      val semAll =
        if (!AcceptedSink.hasAccepted(spark, cfg.semanticAccepted)) None
        else checked("semantic accepted sink")(
          ids(AcceptedSink.readAccepted(spark, cfg.semanticAccepted)))
      for (s <- semAll; d <- dedupAll)
        checked("stage handoff")(
          missing("final corpus ⊆ stage-1 corpus", s, d, "stage handoff"))
      // index coverage: every accepted id is indexed (the store also
      // carries the init corpus, so the containment is one-directional)
      for (d <- dedupAll)
        checked("minhash store")(missing("accepted ⊆ minhash index", d,
          MinhashIndexStore.read(spark, cfg.minhashDir).index
            .select(explode(col("ids")).as(id)).distinct(),
          "minhash store"))
      for (s <- semAll) {
        checked("semantic store")(missing("accepted ⊆ semantic index", s,
          SemanticIndexStore.read(spark, cfg.semanticDir).cells
            .select(explode(col("ids")).as(id)).distinct(),
          "semantic store"))
        checked("ivf store")(missing("accepted ⊆ ivf index", s,
          IvfIndexStore.read(spark, cfg.ivfDir).cells
            .select(col("corpus_id").as(id)).distinct(),
          "ivf store"))
      }
      // linkage coverage: every surviving accepted row's (block…, value)
      // key must be LIVE in the label state (born empty + fed only by
      // the sink, the store has no other source — an absent key means a
      // lost append or an over-eager takedown). Value-keyed, so this is
      // its own anti-join, not the id-keyed `missing` helper.
      cfg.linkage.foreach { st =>
        if (AcceptedSink.hasAccepted(spark, cfg.semanticAccepted))
          checked("linkage store") {
            // keys in the store's domain only: a null-block accepted
            // key could never match the store's own row and would
            // report a PERSISTENT false-positive error here
            val vals = linkageKeys(
              AcceptedSink.readAccepted(spark, cfg.semanticAccepted), st)
            val lost = vals.join(
              graft.ops.LinkageStore.labels(spark, cfg.linkageDir)
                .select(st.keyCols.map(col): _*),
              st.keyCols, "left_anti")
              .limit(6).collect()
              .map(_.toSeq.mkString("/"))
            if (lost.nonEmpty) finding("linkage store", "error",
              s"accepted ⊆ linkage state: value key(s) " +
                s"${lost.mkString(",")}${if (lost.length == 6) ",…" else ""} " +
                "carried by surviving accepted rows but not live in the " +
                "label state — a lost append, an over-eager takedown, or " +
                "a takedown that crashed between the linkage-store " +
                "removal and the sink removals (the values left the " +
                "store while their carriers are still accepted; RETRY " +
                "the takedown to complete it)")
          }
      }
    }
    AuditReport(out.toSeq)
  }

  /** Start the composed pipeline over a streaming frame. The final
    * accepted corpus (documents that survived BOTH screens) is
    * [[AcceptedSink.readAccepted]] over `cfg.semanticAccepted`; the
    * retrieval surface is [[graft.ops.IvfIndexStore.probeLatest]] over
    * `cfg.ivfDir`, readable concurrently at any committed version. */
  def triadSink(docs: DataFrame, cfg: Config): StreamingQuery = {
    require(cfg.minhashCompactEvery >= 1 && cfg.vectorCompactEvery >= 1,
      "compact cadences must be >= 1")
    docs.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, cfg)
        (): Unit
      }
      .start()
  }
}
