package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, when}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.{GroupValveHealth, OpCaches, Similarity, VersionedStore}

/** The machinery every store-maintaining ingest stream shares —
  * factored so [[DedupIngestStream]], [[SemanticIngestStream]],
  * [[IvfIngestStream]] and [[LinkageIngestStream]] cannot drift on the
  * replay rules they all promise:
  *
  *  - the MAINTAINER LOOP ([[maintainBatch]]): owner check, head, ledger
  *    base, then one cache scope around the store-specific step, the
  *    compaction cadence and the ledger sweep;
  *  - the OWNER STAMP (`_ingest_owner`): binds a store to the one
  *    checkpoint that maintains it, refusing a fresh checkpoint whose
  *    restarted batch 0 would mis-read the standing ledger as its own
  *    replay (the [[CdcStream]] rationale);
  *  - the per-batch LEDGER (`_ingest_ledger/b=<batchId>`, committed by
  *    scratch-write + one atomic rename BEFORE any other effect of the
  *    batch): records the index version the batch saw as its base, so
  *    a replay can tell "my append committed" (latest > recorded base —
  *    skip it) from "it didn't" (latest == base — redo it, the stores'
  *    own crash-replay rule);
  *  - the LEDGER SWEEP: entries below the current batch are
  *    replay-dead (foreachBatch delivers batch N only after N−1's
  *    checkpoint commit), so the ledger never holds more than two
  *    live entries;
  *  - the KEEP-FIRST SURVIVOR RULE over a near-dup pair frame.
  *
  * Everything here is driver-side tiny-file I/O plus one batch-mass
  * frame transform; nothing reads corpus-mass data. */
private[graft] object IngestProtocol {

  private val OwnerMarker = "_ingest_owner"
  private val LedgerDir = "_ingest_ledger"

  private def fs(spark: SparkSession,
                 dir: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def readSmall(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  /** Write `dir/name` by scratch-write + one atomic rename — a partial
    * file can never appear under the final name, so a crash mid-write
    * leaves only reclaimable `.tmp` debris, never a corrupt marker. */
  private def writeAtomic(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                          name: String, content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/$name.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new org.apache.hadoop.fs.Path(s"$dir/$name")
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(
        s"ingest marker at $dest: could not commit (rename from scratch failed)")
  }

  private val NonceFile = "_graft_ingest_nonce"
  private val nonceCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Batch-0 owner check: verify (or, on first contact, stamp) the
    * checkpoint that owns this store's ingest ledger. The stamp binds
    * the store to the checkpoint PATH **and** to a per-checkpoint-
    * instance NONCE written into the checkpoint directory itself on
    * first contact: a path-only stamp passes when the checkpoint is
    * DELETED and recreated at the same path — and since the ledger
    * sweep removed old entries, that restarted batch 0 would
    * fresh-record a base and silently re-append already-ingested
    * documents (fully silent for the append-only IVF loop). The nonce
    * lives and dies with the checkpoint directory, so recreation is
    * caught by name; the remedy is the store rebuild runbook, not a
    * quiet re-ingest. Stamps written before the nonce existed carry no
    * nonce line and keep the path-only behavior. */
  def ownerCheck(spark: SparkSession, indexDir: String, batchId: Long,
                 checkpointDir: String): Unit =
    if (batchId == 0L) {
      val f = fs(spark, indexDir)
      val cpFs = fs(spark, checkpointDir)
      val noncePath = new org.apache.hadoop.fs.Path(s"$checkpointDir/$NonceFile")
      val marker = new org.apache.hadoop.fs.Path(s"$indexDir/$OwnerMarker")
      readSmall(f, marker).map(_.split("\n", 2)) match {
        case Some(Array(owner, stampedNonce)) =>
          require(owner == checkpointDir,
            s"index store $indexDir is ingested by checkpoint '$owner' but " +
              s"batch 0 arrived from checkpoint '$checkpointDir' — a fresh " +
              "checkpoint would mis-read the standing ingest ledger as its " +
              "own replays; resume the original checkpoint or point the new " +
              "stream at its own store")
          require(readSmall(cpFs, noncePath).contains(stampedNonce),
            s"index store $indexDir is ingested by checkpoint " +
              s"'$checkpointDir' but that checkpoint's instance nonce is " +
              "missing or different — the checkpoint directory was deleted " +
              "and recreated at the same path, and its restarted batch 0 " +
              "would silently re-append documents the original run already " +
              "ingested; rebuild the store (delete and re-init over the " +
              "accepted corpus) or restore the original checkpoint")
        case Some(Array(owner)) =>
          // legacy path-only stamp (written before the nonce existed)
          require(owner == checkpointDir,
            s"index store $indexDir is ingested by checkpoint '$owner' but " +
              s"batch 0 arrived from checkpoint '$checkpointDir' — a fresh " +
              "checkpoint would mis-read the standing ingest ledger as its " +
              "own replays; resume the original checkpoint or point the new " +
              "stream at its own store")
        case _ =>
          // first contact: the nonce identifies the CHECKPOINT INSTANCE
          // — one per checkpoint directory, shared by every store the
          // same checkpoint maintains (a composed pipeline's stages each
          // stamp their own store against the one nonce) — so an
          // existing nonce file is REUSED, and only the very first store
          // to meet a fresh checkpoint mints one. Nonce before stamp: a
          // crash between the two leaves no stamp, and the retried
          // batch 0 reuses the nonce it finds
          val nonce = readSmall(cpFs, noncePath).getOrElse {
            val minted = java.lang.management.ManagementFactory
              .getRuntimeMXBean.getName.replaceAll("[^A-Za-z0-9]", "") +
              "-" + nonceCounter.incrementAndGet() + "-" + System.nanoTime()
            writeAtomic(cpFs, checkpointDir, NonceFile, minted)
            minted
          }
          writeAtomic(f, indexDir, OwnerMarker, s"$checkpointDir\n$nonce")
      }
    }

  /** Resolve the batch's base version against the ledger: a fresh batch
    * records `head` as its base (rename-committed BEFORE any other
    * effect, so the window between "append committed" and "ledger
    * written" cannot exist); a replayed batch gets the base it recorded
    * the first time. Returns (base, replay). */
  def resolveBase(spark: SparkSession, indexDir: String, batchId: Long,
                  head: Long, what: String): (Long, Boolean) = {
    val f = fs(spark, indexDir)
    val entry = new org.apache.hadoop.fs.Path(s"$indexDir/$LedgerDir/b=$batchId")
    readSmall(f, entry) match {
      case Some(s) =>
        val b =
          try s.trim.toLong
          catch {
            case _: NumberFormatException => throw new IllegalStateException(
              s"$what at $indexDir: ledger entry $entry holds '$s', not a " +
                "version — the ledger is written by atomic rename, so this " +
                "is external corruption; repair or remove the entry")
          }
        require(head >= b,
          s"$what at $indexDir: ledger records base v=$b for batch $batchId " +
            s"but the latest committed version is v=$head — the base " +
            "regressed (pruned head or external rebuild?); the store no " +
            "longer matches this checkpoint's history")
        (b, true)
      case None =>
        writeAtomic(f, s"$indexDir/$LedgerDir", s"b=$batchId", head.toString)
        (head, false)
    }
  }

  /** The store's live ledger entries, `(batchId, base)` sorted by
    * batch — the [[TriadPipeline.audit]] inspection surface (scratch
    * `.tmp` debris is not an entry). A malformed entry surfaces as a
    * parse failure naming the file, exactly as [[resolveBase]] would
    * at the next batch. */
  def ledgerEntries(spark: SparkSession,
                    indexDir: String): Seq[(Long, Long)] = {
    val f = fs(spark, indexDir)
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/$LedgerDir")
    if (!f.exists(root)) Seq.empty
    else {
      val Entry = "b=(\\d+)".r
      f.listStatus(root).toSeq.flatMap { st =>
        st.getPath.getName match {
          case Entry(b) =>
            val raw = readSmall(f, st.getPath).getOrElse("")
            val base =
              try raw.trim.toLong
              catch {
                case _: NumberFormatException =>
                  throw new IllegalStateException(
                    s"ingest ledger at $indexDir: entry ${st.getPath} holds " +
                      s"'$raw', not a version — external corruption; repair " +
                      "or remove the entry")
              }
            Some((b.toLong, base))
          case _ => None
        }
      }.sortBy(_._1)
    }
  }

  /** The store's owner stamp — `(checkpointDir, nonce)` with the nonce
    * None for a legacy path-only stamp — or None before first contact.
    * Read-only; the enforcement path is [[ownerCheck]]. */
  def ownerStamp(spark: SparkSession,
                 indexDir: String): Option[(String, Option[String])] = {
    val f = fs(spark, indexDir)
    readSmall(f, new org.apache.hadoop.fs.Path(s"$indexDir/$OwnerMarker"))
      .map(_.split("\n", 2) match {
        case Array(owner, nonce) => (owner, Some(nonce))
        case Array(owner) => (owner, None)
      })
  }

  /** The checkpoint directory's instance nonce, or None when the
    * checkpoint has never been stamped (or was deleted — the case
    * [[ownerCheck]] exists to catch). */
  def checkpointNonce(spark: SparkSession,
                      checkpointDir: String): Option[String] =
    readSmall(fs(spark, checkpointDir),
      new org.apache.hadoop.fs.Path(s"$checkpointDir/$NonceFile"))

  /** Delete ledger entries below `batchId` — replay-dead, see above —
    * and the `.tmp` scratch debris a crashed earlier attempt's
    * [[writeAtomic]] may have stranded (a tmp at or above the current
    * batch could be this attempt's own mid-write scratch, so only
    * below-batch debris is swept). */
  def sweepLedger(spark: SparkSession, indexDir: String,
                  batchId: Long): Unit = {
    val f = fs(spark, indexDir)
    val root = new org.apache.hadoop.fs.Path(s"$indexDir/$LedgerDir")
    if (f.exists(root)) {
      val Entry = "b=(\\d+)(\\.tmp)?".r
      f.listStatus(root).foreach { st =>
        st.getPath.getName match {
          case Entry(b, _) if b.toLong < batchId => f.delete(st.getPath, false)
          case _ => ()
        }
      }
    }
  }

  /** The batch the checkpoint has STARTED (offsets written) but not
    * COMMITTED — the batch a resumed stream WILL replay. None when the
    * checkpoint is clean (every started batch committed) or untouched.
    * This is the rebuild runbook's step-1 guard (SCALE.md "Rebuild
    * runbook"): rebuilding a store while a batch is pending replay is
    * unsafe — on resume that batch fresh-records a ledger base against
    * the rebuilt store and re-appends documents the rebuild corpus
    * already absorbed, violating id uniqueness with no error
    * anywhere. */
  def pendingReplay(spark: SparkSession, checkpointDir: String): Option[Long] = {
    val f = fs(spark, checkpointDir)
    def maxId(sub: String): Option[Long] = {
      val p = new org.apache.hadoop.fs.Path(s"$checkpointDir/$sub")
      if (!f.exists(p)) None
      else f.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption
    }
    (maxId("offsets"), maxId("commits")) match {
      case (Some(o), Some(c)) if o > c => Some(o)
      case (Some(o), None) => Some(o)
      case _ => None
    }
  }

  /** Refuse a maintenance verb by name while `checkpointDir` holds a
    * batch [[pendingReplay]]: `who` names the verb, `consequence` says
    * what running it now would break and how to proceed. */
  def requireNoPendingReplay(spark: SparkSession, checkpointDir: String,
                             who: String, consequence: String): Unit =
    pendingReplay(spark, checkpointDir).foreach { b =>
      throw new IllegalStateException(
        s"$who: checkpoint $checkpointDir holds batch $b pending replay " +
          s"(offsets ahead of commits) — $consequence")
    }

  /** Where a batch stands against its store: the head it found, the
    * base its ledger entry holds, and whether it is a replay. */
  final case class BatchBase(head: Long, base: Long, replay: Boolean) {
    /** A replay with an advanced head: the append committed last time
      * (a same-head replay redoes it — the store's own replay rule). */
    def appendCommitted: Boolean = replay && head > base
  }

  /** One micro-batch of a store maintainer — the skeleton the four
    * loops share. Batch 0 passes the owner check; an uninitialized store
    * fails by name (`$what at $dir: $uninitialized`) before any ledger
    * write; the ledger resolves the base. Then, inside ONE
    * [[OpCaches.scoped]] block (everything the step, health check and
    * compact register is released per batch, so a long-running stream
    * accumulates no cache entries): the store-specific `step` (probe,
    * survivor write, append — skipped by the step itself when
    * `appendCommitted`), the cadence — a meta-only chain poll every
    * batch, and when the chain passes `compactEvery` links the
    * `beforeCompact` valve, the O(state) compact and a prune to it —
    * then the step's continuation with the compacted version, and the
    * ledger sweep. */
  def maintainBatch[O](spark: SparkSession, store: VersionedStore, dir: String,
                       batchId: Long, checkpointDir: String, what: String,
                       uninitialized: String, compactEvery: Int,
                       beforeCompact: () => Unit = () => ())
                      (step: BatchBase => Option[Long] => O): O = {
    ownerCheck(spark, dir, batchId, checkpointDir)
    val head = store.latestVersion(spark, dir).getOrElse(
      throw new IllegalStateException(s"$what at $dir: $uninitialized"))
    val (base, replay) = resolveBase(spark, dir, batchId, head, what)
    OpCaches.scoped {
      val finish = step(BatchBase(head, base, replay))
      val compactedTo =
        if (store.chainLength(spark, dir) > compactEvery) {
          beforeCompact()
          val c = store.compact(spark, dir)
          store.prune(spark, dir, keepFrom = c)
          Some(c)
        } else None
      val out = finish(compactedTo)
      sweepLedger(spark, dir, batchId)
      out
    }
  }

  /** Start a maintainer's streaming query: `process` runs each
    * micro-batch under `checkpointDir`. */
  def startSink(stream: DataFrame, checkpointDir: String, compactEvery: Int)
               (process: (DataFrame, Long) => Unit): StreamingQuery = {
    require(compactEvery >= 1, s"compactEvery must be >= 1, got $compactEvery")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => process(batch, batchId) }
      .start()
  }

  /** The pre-compact valve of the two dedup loops: fail the batch by
    * name, chain intact, when the chain's merged group mass already
    * exceeds the persisted valve — the scheduled compact WOULD fail. A
    * loop's own appends cannot grow a group (an exact copy is rejected
    * before it reaches the index), so the pressure came from the init
    * corpus or an out-of-band maintainer. */
  def requireGroupValve(what: String, dir: String, health: GroupValveHealth,
                        group: String, offending: String): Unit =
    if (health.groupValveExceeded)
      throw new IllegalStateException(
        s"$what at $dir: merged $group mass ${health.maxMergedGroup} exceeds " +
          s"the persisted maxGroupSize=${health.maxGroupSize} at chain length " +
          s"${health.chainLength} — the scheduled compact WILL fail " +
          "(the loop's own appends cannot grow a group, so this came " +
          "from the init corpus or an out-of-band append); split the " +
          s"offending $offending or rebuild with a larger valve")

  /** The centroid-drift gate of the two vector loops: profile a
    * non-empty batch (None for an empty one — nothing to profile) and
    * HARD-FAIL it, by name, on the strong documented trigger
    * `batchP50 > trainP99` (the TYPICAL new vector assigns farther out
    * than the worst trained percentile — SCALE.md "Centroid drift"),
    * once at least `minRows` vectors scored: a median over a handful of
    * draws is one outlier wide. `harm` names what the loop would
    * silently degrade. */
  def driftGate(what: String, dir: String, batchId: Long, batchRows: Long,
                minRows: Long, harm: String)
               (report: => Similarity.AssignDriftReport): Option[Similarity.AssignDriftReport] =
    if (batchRows == 0L) None
    else {
      val d = report
      if (d.scoredRows >= minRows && d.batchP50 > d.trainP99)
        throw new IllegalStateException(
          s"$what at $dir: batch $batchId assigns with median distance " +
            s"${d.batchP50} beyond the train-time p99 ${d.trainP99} " +
            s"(fracBeyondTrainP99=${d.fracBeyondTrainP99}) — the standing " +
            s"centroids no longer describe the corpus and $harm; retrain " +
            "via an explicit rebuild (SCALE.md \"Centroid drift\")")
      Some(d)
    }

  /** Partition count that targets ~250k rows per output file (≈100 MB
    * parquet at document/vector row shapes) — the same row-mass bound
    * the minhash delta commits use, for the accepted sinks: an upper
    * bound on SURVIVOR mass (the batch row count) is fine, since the
    * cost of over-partitioning by the rejected fraction is a few empty
    * files in one batch, while under-partitioning repeats every
    * batch. */
  def boundedFileCount(batchRows: Long): Int =
    math.max(1L, (batchRows - 1) / 250000L + 1L).toInt

  /** The keep-first survivor rule over a near-dup `pairs` frame
    * (`id_a < id_b`, every pair touching the batch): a batch row is
    * REJECTED iff some pair links it to a partner absent from the batch
    * (the standing corpus copy wins regardless of id order) or to a
    * smaller batch id. Deterministic in ONE pass — a doc rejected
    * against an id that was itself rejected stays rejected — which is
    * what makes the replay re-probe stable: a survivor's own index copy
    * carries a BATCH id, so every extra pair it admits on replay lands
    * in the within-batch branch and resolves exactly as the first pass
    * did. Pair MULTIPLICITY doesn't matter (the rule is
    * exists-semantics), so replay probes that see the same pair through
    * two routes change nothing. All joins broadcast batch- or
    * candidate-mass sides only. */
  def keepFirstSurvivors(batch: DataFrame, pairs: DataFrame,
                         idCol: String): DataFrame = {
    val bids = batch.select(col(idCol).as("bid")).distinct()
    val flagged = pairs.select("id_a", "id_b")
      .join(broadcast(bids.select(col("bid").as("id_a"),
        lit(true).as("a_in"))), Seq("id_a"), "left")
      .join(broadcast(bids.select(col("bid").as("id_b"),
        lit(true).as("b_in"))), Seq("id_b"), "left")
    val rejected = flagged.select(
      when(col("a_in").isNull, col("id_b")) // corpus partner: batch doc loses
        .when(col("b_in").isNull, col("id_a"))
        .otherwise(col("id_b")) // both in batch: larger id loses
        .as(idCol))
      .distinct()
    batch.join(broadcast(rejected), Seq(idCol), "left_anti")
  }
}
