package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

import graft.ops.{VersionedState, VersionedStore}

/** Lifecycle for the ingest loops' accepted-corpus sink — the missing
  * half of the partition-per-batch layout. The streams write each
  * micro-batch's survivors to `acceptedDir/batch=<batchId>` because the
  * per-batch overwrite is what makes crash replay idempotent — but left
  * alone that layout gains one directory per micro-batch FOREVER (a
  * year of 5-minute batches is ~105k directories of mostly tiny files:
  * a listing, footer-read, and namenode tax on every reader, the
  * small-file failure mode [[graft.pipeline.Compaction]] documents).
  *
  * The fix is a FOLD on the ingest loop's existing compaction cadence:
  * batch directories strictly below the current batch id are
  * REPLAY-DEAD (foreachBatch delivers batch N only after N−1's
  * checkpoint commit — the [[IngestProtocol.sweepLedger]] argument), so
  * [[fold]] rewrites them into one archive DELTA version and deletes
  * them. The archive lives under `acceptedDir/_archive` — the
  * underscore prefix keeps Spark's parquet reader from mixing it into a
  * raw directory scan — as a [[VersionedStore]] chain (`v=N/data` +
  * `v=N/meta`), so the fold inherits the stores' commit atomicity,
  * crash replay, chain and prune rules instead of inventing a second
  * protocol. Each fold writes O(folded window) bytes into
  * row-mass-bounded files ([[IngestProtocol.boundedFileCount]]);
  * [[compactArchive]] folds the archive chain itself into one full
  * version on the operator's deeper cadence (O(accepted corpus), the
  * same class as a table OPTIMIZE — schedule it accordingly);
  * directory growth drops from one per BATCH to one per CADENCE TRIP,
  * and after an archive compact to one per archive generation.
  *
  * ==Crash safety==
  * The archive version commits by one atomic rename BEFORE the folded
  * batch directories are deleted, and the version's meta records
  * `max_folded_batch`. The crash window between commit and deletes
  * therefore leaves DUPLICATE data on disk but never in an answer:
  * [[readAccepted]] serves live directories only ABOVE the latest
  * archive's `max_folded_batch`, and the next [[fold]] deletes
  * at-or-below-watermark directories on sight (dead debris) before
  * folding anything new. Replaying the batch that triggered a fold
  * re-runs [[fold]] with nothing foldable — a no-op.
  *
  * ==Caveats==
  * Live batch directories are deleted as they fold, so a reader whose
  * scan was PLANNED before a fold can hit missing files mid-execution
  * — the same non-snapshot-reader caveat as
  * [[graft.pipeline.Compaction]]: serialize long-running readers with
  * the folding maintainer, or read a pinned archive version plus
  * explicitly-listed live directories. A fold that fails (or a batch
  * replayed after its compact committed, which skips the cadence
  * branch) simply leaves its directories live — the next cadence trip
  * folds them; readers are exact either way.
  *
  * ==Reading the accepted corpus==
  * [[readAccepted]] is the read surface: the archive chain's data
  * unioned with the live batch directories above the watermark, minus
  * any live-tombstoned ids ([[remove]] — the takedown verb for the
  * data product itself), with `batch` normalized to a long DATA column
  * in both tiers (the live side's partition column is inferred as
  * int). A raw `spark.read.parquet(acceptedDir)` stays exact only
  * until the first fold or removal. */
object AcceptedSink {

  private[streaming] val ArchiveName = "_archive"
  private val BatchDirRe = "batch=(\\d+)".r
  private val StatsSubframe = "stats"

  /** The archive chain under `acceptedDir/_archive`: per version a
    * `data` frame and a `meta` row whose value is the fold watermark
    * `max_folded_batch`. The base's compact hook folds the chain with
    * no stats index; the sink's verb is [[compactArchive]], which also
    * rewrites a full head carrying clearable tombstones. */
  private object Archive extends VersionedStore("accepted archive",
      Seq("data", "meta"), Seq("max_folded_batch")) {
    type Meta = Long
    protected def encodeMeta(maxFolded: Long): Seq[Any] = Seq(maxFolded)
    protected def decodeMeta(values: Seq[Any], full: Boolean): Long =
      values.head.asInstanceOf[Long]
    protected def fold(spark: SparkSession, dir: String, head: Long,
                       maxFolded: Long): Unit = {
      val links = chain(spark, dir, head)
      rewriteFull(spark, dir, links, maxFolded, readTombs(spark, dir, links), Nil)
    }
  }

  private def archiveRoot(acceptedDir: String): String =
    s"$acceptedDir/$ArchiveName"

  private def liveBatches(spark: SparkSession,
                          acceptedDir: String): Seq[Long] = {
    val (fs, path) = VersionedState.fsPath(spark, acceptedDir)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map(_.getPath.getName)
      .collect { case BatchDirRe(b) => b.toLong }
  }

  /** The fold watermark of the chain `links` (head first); None when
    * no archive exists. */
  private def watermarkOf(spark: SparkSession, root: String,
                          links: Seq[Long]): Option[Long] =
    links.headOption.map(Archive.readMeta(spark, root, _))

  /** The archive data of `links`, unioned. */
  private def archivedData(spark: SparkSession, root: String,
                           links: Seq[Long]): DataFrame =
    links.map(w => VersionedState.cachedVersionFrame(spark, s"$root/v=$w/data"))
      .reduce(_ unionByName _)

  /** Whether anything has ever been accepted here — either tier
    * present. An fs listing, no job; the explicit test callers use
    * instead of swallowing [[readAccepted]]'s failure (which could
    * also mean a corrupt archive — a different answer). */
  def hasAccepted(spark: SparkSession, acceptedDir: String): Boolean =
    Archive.latestVersion(spark, archiveRoot(acceptedDir)).nonEmpty ||
      liveBatches(spark, acceptedDir).nonEmpty

  /** The live (not yet folded) batch directory ids, unsorted — the
    * [[TriadPipeline.audit]] inspection surface. Includes any dead
    * debris at or below the fold watermark (the next fold sweeps it);
    * compare against [[maxFoldedBatch]] to tell the tiers apart. */
  def liveBatchIds(spark: SparkSession, acceptedDir: String): Seq[Long] =
    liveBatches(spark, acceptedDir)

  /** The archive chain serving the latest committed version, newest
    * first — empty when no archive exists yet; a CUT chain (a link
    * pruned outside the protocol) fails by name, which is what makes
    * this the audit's structural-integrity probe. */
  def archiveChain(spark: SparkSession, acceptedDir: String): Seq[Long] = {
    val root = archiveRoot(acceptedDir)
    Archive.latestVersion(spark, root).map(Archive.chain(spark, root, _))
      .getOrElse(Seq.empty)
  }

  /** The standing accepted schema — what every later batch must match —
    * or None before anything was accepted. Read from the archive head's
    * data frame when one exists (minus `batch`, which the fold adds as
    * a data column), else from the EARLIEST live batch directory; a
    * footer read, no job. The archive is preferred not just for cost:
    * after a fold the archive IS the corpus's schema authority, so the
    * policy survives the live directories' deletion. The live tier's
    * authority is the earliest batch because the contract says the
    * FIRST accepted batch establishes the schema — reading the newest
    * would let one drifted batch (an older writer without the check, a
    * manual write) silently become the enforced standard on restart
    * and refuse every CORRECT batch after it. */
  def acceptedSchema(spark: SparkSession,
                     acceptedDir: String): Option[org.apache.spark.sql.types.StructType] = {
    val root = archiveRoot(acceptedDir)
    // schema reads memoized against the directory listing
    // ([[VersionedState.cachedParquetSchema]]): this runs on EVERY
    // micro-batch's accept-time policy check, and the footer inference
    // it repeated was pure fixed cost over protocol-immutable bytes
    Archive.latestVersion(spark, root)
      .map { h =>
        val s = VersionedState.cachedParquetSchema(spark, s"$root/v=$h/data")
        org.apache.spark.sql.types.StructType(s.filterNot(_.name == "batch"))
      }
      .orElse(liveBatches(spark, acceptedDir).minOption.map(b =>
        VersionedState.cachedParquetSchema(spark, s"$acceptedDir/batch=$b")))
  }

  /** Type with every nullability flag (top-level, array containsNull,
    * map valueContainsNull, nested struct fields) and field metadata
    * erased — the equality the schema policy compares under. An
    * in-memory batch often carries `array<float> (containsNull=false)`
    * where the parquet round-trip reads back true; that is not a
    * retype. */
  private def comparableType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(e, _) => ArrayType(comparableType(e), containsNull = true)
      case MapType(k, v, _) =>
        MapType(comparableType(k), comparableType(v), valueContainsNull = true)
      case StructType(fields) => StructType(fields.map(f =>
        StructField(f.name, comparableType(f.dataType), nullable = true)))
      case other => other
    }
  }

  /** SCHEMA-EVOLUTION POLICY, enforced at accept time: a batch must
    * carry EXACTLY the standing accepted schema — same column names,
    * same types, order-free. Added, dropped, and retyped columns all
    * FAIL BY NAME, each class listed separately; the first accepted
    * batch establishes the schema. Nullability is not compared, at any
    * nesting depth (parquet round-trips it loosely and a null-free
    * batch proves nothing about the next one).
    *
    * Why refuse instead of evolving: the sink's readers union the two
    * tiers with `unionByName` and fold live directories into archive
    * versions — a silently accepted wider batch would either fail every
    * later read with a resolution error naming neither the batch nor
    * the moment the schema drifted, or (with permissive union) null-
    * fill history so downstream training reads half-populated columns
    * as data — the silent-wrong-answer class this house refuses.
    * Widening the corpus schema is a REBUILD-level decision: compact
    * the archive, migrate it explicitly, then restart the stream.
    * Cost: one footer read per batch (the protocol already pays a
    * same-class ledger read); call it just before the batch write, as
    * the ingest loops do. */
  def requireSchemaCompatible(spark: SparkSession, acceptedDir: String,
                              batch: DataFrame): Unit =
    acceptedSchema(spark, acceptedDir).foreach { standing =>
      describeDrift(standing, batch.schema, "batch").foreach { drift =>
        throw new IllegalArgumentException(
          s"accepted corpus at $acceptedDir: the batch's schema does not " +
            s"match the standing accepted schema — $drift; the sink " +
            "refuses schema drift at accept time (evolving the corpus " +
            "schema is an explicit archive migration — [[migrateArchive]] " +
            "— not a batch side effect)")
      }
    }

  /** The added/dropped/retyped description of `have` vs `standing`
    * under the policy's equality (names + comparable types, order- and
    * nullability-free), or None when they agree — the one comparison
    * the accept-time refusal and the audit's coherence check share. */
  private[streaming] def describeDrift(
      standing: org.apache.spark.sql.types.StructType,
      have: org.apache.spark.sql.types.StructType,
      what: String): Option[String] = {
    val added = have.fieldNames.filterNot(standing.fieldNames.contains)
    val dropped = standing.fieldNames.filterNot(have.fieldNames.contains)
    val retyped = standing.flatMap { f =>
      have.find(_.name == f.name).collect {
        case g if comparableType(g.dataType) != comparableType(f.dataType) =>
          s"${f.name} (accepted ${f.dataType.simpleString}, $what " +
            s"${g.dataType.simpleString})"
      }
    }
    if (added.isEmpty && dropped.isEmpty && retyped.isEmpty) None
    else Some((
      (if (added.nonEmpty)
        s"$what ADDS column(s) ${added.sorted.mkString(", ")}; " else "") +
      (if (dropped.nonEmpty)
        s"$what DROPS column(s) ${dropped.sorted.mkString(", ")}; " else "") +
      (if (retyped.nonEmpty)
        s"$what RETYPES column(s) ${retyped.sorted.mkString(", ")}" else ""))
      .stripSuffix("; ").trim)
  }

  /** SCHEMA-COHERENCE walk over both tiers — the audit's check that the
    * policy's invariant actually HOLDS on disk, not just that the verbs
    * enforce it going forward: every archive chain version's data
    * footer (minus the fold's `batch` column) and every live batch
    * directory above the watermark must carry the standing accepted
    * schema. Returns one finding string per drifted surface, empty when
    * coherent (or when nothing was accepted). Catches what no verb can:
    * an externally rewritten archive version, a live directory written
    * by an older writer without the accept-time check. Footer reads
    * only — O(versions + live dirs) metadata, no data pages — through
    * the listing-signature schema memo, so a repeat audit of unchanged
    * directories starts no Spark job while a rewrite is re-read. */
  def schemaCoherenceFindings(spark: SparkSession,
                              acceptedDir: String): Seq[String] =
    acceptedSchema(spark, acceptedDir).toSeq.flatMap { standing =>
      val root = archiveRoot(acceptedDir)
      val links = archiveChain(spark, acceptedDir)
      val archiveDrift = links.flatMap { w =>
        val s = VersionedState.cachedParquetSchema(spark, s"$root/v=$w/data")
        describeDrift(standing,
          org.apache.spark.sql.types.StructType(
            s.filterNot(_.name == "batch")), s"archive v=$w")
      }
      val watermark = watermarkOf(spark, root, links)
      val liveDrift = liveBatches(spark, acceptedDir)
        .filter(b => watermark.forall(b > _)).sorted.flatMap { b =>
          describeDrift(standing,
            VersionedState.cachedParquetSchema(spark, s"$acceptedDir/batch=$b"),
            s"live batch=$b")
        }
      archiveDrift ++ liveDrift
    }

  /** What a [[migrateArchive]] did — re-read from the committed
    * version's receipt by [[migrationReceipt]]. */
  final case class MigrationOutcome(fromVersion: Long, toVersion: Long,
                                    rows: Long, batches: Long)

  private val ReceiptSubframe = "migration"
  private val ReceiptCols =
    Seq("from_version", "rows", "batches", "old_schema", "new_schema")

  /** SCHEMA MIGRATION of the accepted archive — the explicit escape
    * hatch the evolution policy's refusal names: rewrite the WHOLE
    * archive to a new schema in one receipt-verifiable operation. The
    * old chain is atomically superseded (the migrated corpus commits as
    * one new FULL version by the stores' scratch-write + rename; the
    * old versions remain below it until [[prune]]), so a crash
    * mid-migration leaves the old head serving and the retry starts
    * over — never a half-migrated corpus.
    *
    * `migrate` is the caller's column transform (add with a backfill
    * expression, drop, retype with a cast); the verb enforces what a
    * schema migration must preserve and refuses BY NAME what it must
    * not touch:
    *
    *  - ROWS ARE NOT NEGOTIABLE: the per-batch row counts of the
    *    migrated frame must equal the original's exactly (checked batch
    *    by batch) — a migration is a column transform, never a filter,
    *    and the per-batch equality is what keeps every as-of cut
    *    ([[readAcceptedAsOf]]) exact across the boundary;
    *  - `batch` must survive with its type (the as-of pin rides on it);
    *  - TAKEDOWN SURVIVES: when the chain carries tombstones, the id
    *    column must survive with its comparable type AND its per-batch
    *    value mass (the house decimal checksum over shuffle keys) — a
    *    migration that rewrote ids would orphan every standing
    *    tombstone and un-withdraw withdrawn documents.
    *
    * PRECONDITION, refused by name: no live batch directories above the
    * watermark. Run with the stream stopped, fold the live tier first
    * ([[fold]]) — migrating under live directories would leave two
    * schemas serving one corpus (the live tier still on the old one),
    * and the next arriving batch would be refused against the NEW
    * standing schema while its siblings sat unreadable. After the
    * migration commits, [[acceptedSchema]] serves the new schema from
    * the archive head, so restarted streams must send migrated-shape
    * batches — exactly the runbook the policy's refusal prescribes.
    *
    * The committed version carries a RECEIPT subframe (`migration`:
    * from-version, row and batch counts, both schemas as JSON) riding
    * the same atomic rename as the data — [[migrationReceipt]] reads it
    * back; a version without one was written by a fold or compact, not
    * a migration. Tombstones carry forward verbatim. Cost: O(accepted
    * corpus) read + write, the [[compactArchive]] class — schedule it
    * like one. */
  def migrateArchive(spark: SparkSession, acceptedDir: String,
                     migrate: DataFrame => DataFrame): MigrationOutcome = {
    import org.apache.spark.sql.functions.{count, lit => flit, sum}
    val root = archiveRoot(acceptedDir)
    val head = Archive.latestVersion(spark, root)
      .getOrElse(throw new IllegalStateException(
        s"accepted corpus at $acceptedDir: no archive exists — a " +
          "migration rewrites the archive; fold the live tier first " +
          "(there is nothing to migrate before the first fold)"))
    val watermark = Archive.readMeta(spark, root, head)
    val liveAbove = liveBatches(spark, acceptedDir)
      .filter(_ > watermark).sorted
    require(liveAbove.isEmpty,
      s"accepted corpus at $acceptedDir: live batch director" +
        s"${if (liveAbove.size == 1) "y" else "ies"} " +
        s"${liveAbove.map("batch=" + _).mkString(", ")} above the fold " +
        s"watermark $watermark — a migration with a live tier would " +
        "leave two schemas serving one corpus; stop the stream and fold " +
        "first")
    val links = Archive.chain(spark, root, head)
    val tombs = readTombs(spark, root, links)
    val before = archivedData(spark, root, links)
    val after = migrate(before)
    require(after.columns.contains("batch") &&
      comparableType(after.schema("batch").dataType) ==
        comparableType(before.schema("batch").dataType),
      s"accepted corpus at $acceptedDir: the migration dropped or " +
        "retyped the `batch` column — every as-of pin rides on it; a " +
        "migration must carry it through unchanged")
    val idName = tombs.map(tombIdCol)
    idName.foreach { id =>
      require(after.columns.contains(id) &&
        comparableType(after.schema(id).dataType) ==
          comparableType(before.schema(id).dataType),
        s"accepted corpus at $acceptedDir: the migration dropped or " +
          s"retyped the id column '$id' while tombstones stand against " +
          "it — the withdrawn documents would silently return; a " +
          "migration must carry the id column through unchanged")
    }
    // per-batch invariants in ONE pass per side: row count always, the
    // id-mass checksum when tombstones make identity load-bearing
    def perBatch(df: DataFrame): Map[Long, (Long, String)] =
      df.groupBy(col("batch").cast("long").as("b"))
        .agg(count(flit(1)).as("n"),
          idName.map(id => sum(graft.ops.Curation.shuffleKey(col(id))
              .cast("decimal(20,0)")).cast("string"))
            .getOrElse(flit("0")).as("ck"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
        .toMap
    val was = perBatch(before)
    val now = perBatch(after)
    require(was.keySet == now.keySet &&
      was.forall { case (b, (n, _)) => now(b)._1 == n },
      s"accepted corpus at $acceptedDir: the migration changed per-batch " +
        "row counts " +
        (was.keySet ++ now.keySet).toSeq.sorted
          .collect { case b if was.get(b).map(_._1) != now.get(b).map(_._1) =>
            s"batch $b: ${was.get(b).fold("absent")(_._1.toString)} -> " +
              s"${now.get(b).fold("absent")(_._1.toString)}" }
          .mkString("(", "; ", ")") +
        " — a migration is a column transform, never a row filter")
    idName.foreach { id =>
      val drifted = was.keySet.toSeq.sorted
        .filter(b => was(b)._2 != now(b)._2)
      require(drifted.isEmpty,
        s"accepted corpus at $acceptedDir: the migration rewrote values " +
          s"of the id column '$id' (checksum drift in batch" +
          s"${if (drifted.size == 1) "" else "es"} " +
          s"${drifted.mkString(", ")}) — standing tombstones would be " +
          "orphaned and withdrawn documents would return")
    }
    val rows = was.valuesIterator.map(_._1).sum
    val v = head + 1
    Archive.commit(spark, root, v) { scratch =>
      after.coalesce(IngestProtocol.boundedFileCount(rows))
        .write.mode("overwrite").parquet(s"$scratch/data")
      Archive.writeMeta(spark, s"$scratch/meta", watermark, full = true)
      tombs.foreach(Archive.writeTombs(_, scratch))
      import spark.implicits._
      Seq((head, rows, was.size.toLong,
        before.schema.json, after.schema.json))
        .toDF(ReceiptCols: _*)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$scratch/$ReceiptSubframe")
    }
    MigrationOutcome(head, v, rows, was.size.toLong)
  }

  /** The receipt a [[migrateArchive]] stamped into archive version `v` —
    * `(from_version, rows, batches, old_schema, new_schema)` — or None
    * when that version was written by a fold/compact/removal instead.
    * The schemas are Spark StructType JSON, so an auditor can diff the
    * declared evolution against the data's footers. */
  def migrationReceipt(spark: SparkSession, acceptedDir: String,
                       v: Long): Option[DataFrame] = {
    val root = archiveRoot(acceptedDir)
    val (fs, _) = VersionedState.fsPath(spark, root)
    val p = new org.apache.hadoop.fs.Path(
      s"$root/v=$v/$ReceiptSubframe/_SUCCESS")
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(s"$root/v=$v/$ReceiptSubframe"))
  }

  /** RECEIPT-COHERENCE walk — the audit's check that every archive
    * chain version carrying a [[migrationReceipt]] still DELIVERS the
    * schema it declared: the receipt's `new_schema` (the migration's
    * committed claim) must match that version's own data footers under
    * the policy's equality (names + comparable types, order- and
    * nullability-free; `batch` included — the receipt records the
    * archive data schema verbatim). The receipt rides the same atomic
    * rename as the data, so the two can only disagree through an
    * EXTERNAL rewrite of the committed version — including the one
    * case [[schemaCoherenceFindings]] is blind to: a whole archive
    * head rewritten self-consistently (every footer changed together
    * moves the STANDING schema with it, so the standing-schema walk
    * sees no drift; the receipt's declaration does not move). Returns
    * one finding string per incoherent version, empty when coherent.
    * One receipt + one footer read per receipted version — O(chain)
    * metadata, no data pages. */
  def receiptCoherenceFindings(spark: SparkSession,
                               acceptedDir: String): Seq[String] = {
    val root = archiveRoot(acceptedDir)
    archiveChain(spark, acceptedDir).sorted.flatMap { w =>
      migrationReceipt(spark, acceptedDir, w).flatMap { receipt =>
        val declared = org.apache.spark.sql.types.DataType
          .fromJson(receipt.select("new_schema").head().getString(0))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        describeDrift(declared,
          VersionedState.cachedParquetSchema(spark, s"$root/v=$w/data"),
          s"archive v=$w data")
          .map(drift => s"archive v=$w was committed by a migration " +
            s"declaring a new schema its data footers no longer carry " +
            s"— $drift")
      }
    }
  }

  /** The fold watermark: every batch directory at or below it is
    * archived (or dead debris). None before the first fold. */
  def maxFoldedBatch(spark: SparkSession,
                     acceptedDir: String): Option[Long] = {
    val root = archiveRoot(acceptedDir)
    Archive.latestVersion(spark, root).map(Archive.readMeta(spark, root, _))
  }

  /** Tombstone REMOVAL from the accepted corpus — the data-product half
    * of takedown (the index stores' `remove` stops a withdrawn document
    * from suppressing future near-dups; THIS stops it from being
    * training data). Writes one archive delta version carrying the
    * withdrawn ids in the optional [[VersionedState.TombsSubframe]]
    * frame — O(tombstones), never a corpus rewrite. [[readAccepted]]
    * excludes live-tombstoned ids from BOTH tiers immediately;
    * [[compactArchive]] applies them to the folded bytes.
    *
    * Each tombstone records `minted_below` = one past the highest live
    * batch directory at mint time: the withdrawn id can only sit in
    * directories below it (ids are never redelivered — the loops'
    * source contract), so the tombstone is CLEARABLE once the fold
    * watermark reaches `minted_below - 1` (every directory that could
    * carry the id has been folded, and the compact that clears the
    * tombstone is the same compact that filters those folded bytes).
    * [[compactArchive]] clears exactly the clearable tombstones and
    * carries the rest forward — removal debt is bounded by the fold
    * cadence, and disk bytes actually leave at the compact.
    *
    * The tombs frame's id column keeps the CALLER'S name (the sink is
    * generic over doc/vec pipelines), persisted schema-first so
    * [[readAccepted]] needs no id-column parameter; a second remove
    * must use the same column name (checked by name). Removal against a
    * sink with neither tier fails by name. Concurrency: this is an
    * out-of-band maintenance verb — against a LIVE stream it races the
    * stream's own archive commits and the commit protocol fails the
    * loser loudly; run it between batches or retry. Returns the archive
    * version written. */
  def remove(spark: SparkSession, acceptedDir: String,
             removeIds: DataFrame, idCol: String): Long = {
    val root = archiveRoot(acceptedDir)
    require(removeIds.columns.contains(idCol),
      s"accepted corpus at $acceptedDir: the removal frame has no column " +
        s"'$idCol' (has: ${removeIds.columns.mkString(", ")})")
    val tombs = removeIds.select(col(idCol).cast("long").as(idCol))
      .where(col(idCol).isNotNull).distinct()
    val head = Archive.latestVersion(spark, root)
    val live = liveBatches(spark, acceptedDir)
    require(head.nonEmpty || live.nonEmpty,
      s"accepted corpus at $acceptedDir: nothing has been accepted here " +
        "(no archive and no live batch directories) — nothing to remove from")
    // an empty removal frame is a no-op, not an archive version
    if (tombs.isEmpty) return head.getOrElse(-1L)
    head.foreach { h =>
      readTombs(spark, root, Archive.chain(spark, root, h)).foreach { t =>
        val existingId = tombIdCol(t)
        require(existingId == idCol,
          s"accepted corpus at $acceptedDir: standing tombstones use id " +
            s"column '$existingId' but this removal names '$idCol' — one " +
            "sink has one id column")
      }
    }
    val watermark = head.map(Archive.readMeta(spark, root, _))
    val mintedBelow = live.maxOption.map(_ + 1)
      .orElse(watermark.map(_ + 1)).getOrElse(0L)
    val v = head.map(_ + 1).getOrElse(0L)
    val emptyData = head match {
      case Some(h) => spark.read.parquet(s"$root/v=$h/data").where(lit(false))
      case None => spark.read.parquet(acceptedDir).where(lit(false))
        .withColumn("batch", col("batch").cast("long"))
    }
    // the id column must exist in the ACCEPTED DATA, checked at remove
    // time: a mis-named column would otherwise persist a tombstone that
    // poisons every later readAccepted with an opaque unresolved-column
    // planner error (the anti-join resolves against the data schema)
    require(emptyData.columns.contains(idCol),
      s"accepted corpus at $acceptedDir: the accepted data has no column " +
        s"'$idCol' (has: ${emptyData.columns.mkString(", ")}) — removal " +
        "must name the sink's id column")
    Archive.commit(spark, root, v) { scratch =>
      emptyData.write.mode("overwrite").parquet(s"$scratch/data")
      Archive.writeMeta(spark, s"$scratch/meta", watermark.getOrElse(-1L),
        full = head.isEmpty)
      Archive.writeTombs(tombs.withColumn("minted_below", lit(mintedBelow)),
        scratch)
    }
    v
  }

  /** The union of a chain's tombs frames — `(idCol, minted_below)` —
    * or None when no link carries removals (the sink's tombs schema
    * differs from the stores', hence the local reader). */
  private def readTombs(spark: SparkSession, root: String,
                        links: Seq[Long]): Option[DataFrame] = {
    val present = Archive.tombLinks(spark, root, links)
    if (present.isEmpty) None
    else Some(present.map(w =>
      VersionedState.cachedVersionFrame(spark, Archive.tombsPath(root, w)))
      .reduce(_ unionByName _))
  }

  /** The id column a tombs frame carries: the remover's name for it. */
  private def tombIdCol(tombs: DataFrame): String =
    tombs.columns.filterNot(_ == "minted_below").head

  /** `df` minus the ids `tombs` withdraws — one broadcast anti-join, or
    * `df` itself when there are no tombstones. */
  private def minusTombs(df: DataFrame, tombs: Option[DataFrame]): DataFrame =
    tombs.fold(df) { t =>
      val id = tombIdCol(t)
      df.join(broadcast(t.select(id)), Seq(id), "left_anti")
    }

  /** The live (not-yet-cleared) tombstoned ids, `(idCol, minted_below)`
    * — empty when the sink carries no removals or no archive exists. */
  def liveTombs(spark: SparkSession, acceptedDir: String): Option[DataFrame] =
    readTombs(spark, archiveRoot(acceptedDir), archiveChain(spark, acceptedDir))

  /** Write the optional per-version `stats` subframe — a
    * [[graft.sources.StatsIndex]] file-level min/max/null index over
    * the data files just written into `scratch/data`, built from their
    * (still hot) footers: O(new files), no data pages re-read. File
    * names are persisted as BASENAMES: the version commits by renaming
    * the whole scratch directory, so an absolute path recorded here
    * would point at the scratch location forever; [[prunedReadAccepted]]
    * re-prefixes against the committed directory. Riding the same
    * atomic rename as the data it describes, the stats can never be
    * half-visible or describe files that aren't there — which is what
    * makes the freshness story trivial (a committed version is
    * immutable). */
  private def writeStats(spark: SparkSession, scratch: String,
                         statsCols: Seq[String]): Unit =
    // a version whose data frame wrote no part files (a compact whose
    // tombstones removed every folded row) has nothing to index — and
    // nothing a pruned read could fail to skip
    if (statsCols.nonEmpty && dataFiles(spark, s"$scratch/data").nonEmpty) {
      graft.sources.StatsIndex.buildFromFooters(spark, s"$scratch/data",
        statsCols)
        .withColumn(graft.sources.StatsIndex.FileCol,
          org.apache.spark.sql.functions.regexp_replace(
            col(graft.sources.StatsIndex.FileCol), "^.*/", ""))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$scratch/$StatsSubframe")
    }

  /** Fold every replay-dead live batch directory (id above the current
    * watermark, strictly below `belowBatch`) into one new archive delta
    * version, then delete the folded directories — O(folded window)
    * read+write, row-mass-bounded output files. Directories at or below
    * the watermark are deleted WITHOUT reading (dead debris of a fold
    * that crashed between its commit and its deletes). Returns the new
    * watermark, or None when nothing was foldable (including a replay
    * of the batch that already folded).
    *
    * When `statsCols` is non-empty the new archive version also carries
    * a `stats` subframe over its data files ([[writeStats]]), so selective
    * downstream reads ([[prunedReadAccepted]]) skip whole files of the
    * accepted corpus — include `batch` in `statsCols` to make as-of
    * reads ([[readAcceptedAsOf]]) skip too (each fold's files span one
    * cadence window of batch ids, so the intervals are naturally
    * disjoint). Indexed columns must have footer-USABLE stats —
    * exact for long/int/double/date ([[graft.sources.StatsIndex
    * .footerStatsAreExact]]); ENCLOSING for string (parquet writers
    * may truncate binary min/max to bounds that contain every value
    * without being one — pruning stays sound, the bounds just
    * over-approximate). The build fails by name on anything else. */
  def fold(spark: SparkSession, acceptedDir: String, belowBatch: Long,
           statsCols: Seq[String] = Nil): Option[Long] = {
    val root = archiveRoot(acceptedDir)
    val (fs, _) = VersionedState.fsPath(spark, acceptedDir)
    val head = Archive.latestVersion(spark, root)
    val watermark = head.map(Archive.readMeta(spark, root, _))
    val live = liveBatches(spark, acceptedDir)
    watermark.foreach { w =>
      live.filter(_ <= w).foreach(b => fs.delete(
        new org.apache.hadoop.fs.Path(s"$acceptedDir/batch=$b"), true))
    }
    val foldable = live
      .filter(b => watermark.forall(b > _) && b < belowBatch).sorted
    if (foldable.isEmpty) None
    else {
      val newMax = foldable.max
      // the batch partition value becomes a DATA column — the folded
      // rows must answer "which batch accepted this doc" exactly as the
      // live layout did
      val data = foldable.map { b =>
        spark.read.parquet(s"$acceptedDir/batch=$b")
          .withColumn("batch", lit(b))
      }.reduce(_ unionByName _)
      val rows = data.count()
      Archive.commit(spark, root, head.map(_ + 1).getOrElse(0L)) { scratch =>
        // data→stats stays sequential INSIDE its task (the stats index
        // derives from the just-written files' footers); the tiny meta
        // write overlaps it ([[VersionedState.writeConcurrently]])
        VersionedState.writeConcurrently(Seq(
          () => {
            // coalesce, not repartition: the fold's lineage is a plain
            // multi-file scan, so merging splits costs no shuffle; fold
            // mass is one cadence window, so the collapsed parallelism is
            // batch-scale, not corpus-scale
            data.coalesce(IngestProtocol.boundedFileCount(rows))
              .write.mode("overwrite").parquet(s"$scratch/data")
            writeStats(spark, scratch, statsCols)
          },
          () => Archive.writeMeta(spark, s"$scratch/meta", newMax,
            full = head.isEmpty)))
      }
      foldable.foreach(b => fs.delete(
        new org.apache.hadoop.fs.Path(s"$acceptedDir/batch=$b"), true))
      Some(newMax)
    }
  }

  /** Fold the archive's delta chain into one FULL version — the deeper
    * consolidation pass, O(accepted corpus) like any table OPTIMIZE;
    * schedule it on the operator's cadence (monthly, or when the
    * archive chain length starts to show in reader listing times), then
    * [[prune]] reclaims the folded versions. Live TOMBSTONES
    * ([[remove]]) are APPLIED to the folded bytes (broadcast anti-join
    * — the removed rows' actual exit from disk) and the CLEARABLE ones
    * (fold watermark ≥ `minted_below − 1`: every directory that could
    * carry the id is already folded) are dropped; the rest carry
    * forward into the new full version because a live batch directory
    * may still hold their rows. No-op (returns the head) when the head
    * is already full AND carries no clearable tombstones; None when no
    * archive exists yet. A non-empty `statsCols` writes the new full
    * version with a data-skipping `stats` subframe (the [[fold]]
    * story; the compact is where a chain of per-fold indexes collapses
    * into one corpus-wide index). */
  def compactArchive(spark: SparkSession, acceptedDir: String,
                     statsCols: Seq[String] = Nil): Option[Long] = {
    val root = archiveRoot(acceptedDir)
    Archive.latestVersion(spark, root).map { head =>
      val (maxFolded, full) = Archive.readMetaRow(spark, root, head)
      val links = Archive.chain(spark, root, head)
      val tombs = readTombs(spark, root, links)
      val clearable = tombs.exists(t =>
        !t.where(col("minted_below") - 1 <= maxFolded).isEmpty)
      if (full && !clearable) head
      else {
        rewriteFull(spark, root, links, maxFolded, tombs, statsCols)
        head + 1
      }
    }
  }

  /** Commit the chain `links` (head first) as one FULL version above
    * its head: `tombs` applied to the data, the clearable ones dropped
    * and the rest carried forward. */
  private def rewriteFull(spark: SparkSession, root: String, links: Seq[Long],
                          maxFolded: Long, tombs: Option[DataFrame],
                          statsCols: Seq[String]): Unit = {
    val data = minusTombs(archivedData(spark, root, links), tombs)
    val rows = data.count()
    Archive.commit(spark, root, links.head + 1) { scratch =>
      // data→stats sequential inside its task; meta and the
      // tombstone carry-forward overlap it
      // ([[VersionedState.writeConcurrently]])
      VersionedState.writeConcurrently(Seq(
        () => {
          data.coalesce(IngestProtocol.boundedFileCount(rows))
            .write.mode("overwrite").parquet(s"$scratch/data")
          writeStats(spark, scratch, statsCols)
        },
        () => Archive.writeMeta(spark, s"$scratch/meta", maxFolded, full = true),
        // carry forward only the tombstones some live directory may
        // still answer for; the cleared ones' rows just left the
        // folded bytes above, and future directories can never carry
        // a never-redelivered id
        () => tombs.map(_.where(col("minted_below") - 1 > maxFolded))
          .filter(!_.isEmpty)
          .foreach(Archive.writeTombs(_, scratch))))
    }
  }

  /** Delete archive versions below `keepFrom`'s chain base — the
    * stores' prune, applied to the archive chain. */
  def prune(spark: SparkSession, acceptedDir: String,
            keepFrom: Long): Seq[Long] =
    Archive.prune(spark, archiveRoot(acceptedDir), keepFrom)

  /** The whole accepted corpus — archive chain plus live batch
    * directories above the watermark, MINUS live-tombstoned ids
    * ([[remove]]; one broadcast anti-join across both tiers, skipped
    * entirely when the chain carries no removals) — with `batch` as a
    * long column in both tiers. Exact across every fold/crash window
    * (see the object doc); equal to a raw
    * `spark.read.parquet(acceptedDir)` until the first fold or removal.
    * Fails by name on a directory with neither tier (an empty union has
    * no schema to offer). */
  def readAccepted(spark: SparkSession, acceptedDir: String): DataFrame = {
    val links = archiveChain(spark, acceptedDir)
    minusTombs(bothTiers(spark, acceptedDir, links),
      readTombs(spark, archiveRoot(acceptedDir), links))
  }

  /** The archive data of the chain `links` unioned with the live batch
    * directories above its watermark, tombstones not applied. */
  private def bothTiers(spark: SparkSession, acceptedDir: String,
                        links: Seq[Long]): DataFrame = {
    val root = archiveRoot(acceptedDir)
    val archived = Option.when(links.nonEmpty)(archivedData(spark, root, links))
    val watermark = watermarkOf(spark, root, links)
    val liveDirs = liveBatches(spark, acceptedDir)
      .filter(b => watermark.forall(b > _))
    val live =
      if (liveDirs.isEmpty) None
      else Some(spark.read.parquet(acceptedDir)
        .where(watermark.map(w => col("batch") > w).getOrElse(lit(true)))
        .withColumn("batch", col("batch").cast("long")))
    (archived ++ live).reduceOption(_ unionByName _).getOrElse(
      throw new IllegalArgumentException(
        s"accepted corpus at $acceptedDir: no archive and no live batch " +
          "directories — nothing has been accepted here (or the path is " +
          "wrong)"))
  }

  /** The accepted corpus as of the END of batch `asOfBatch` — the
    * reproducibility verb: pin a training run to the corpus a given
    * ingest batch produced, re-readable bit-identically later even
    * after more batches, folds, and archive compacts have run (`batch`
    * is carried as a DATA column through every fold, so the as-of cut
    * is exact against either tier — invariance spec-pinned).
    *
    * One deliberate exception, and it is the correct one: TAKEDOWN IS
    * RETROACTIVE. A document withdrawn by [[remove]] after `asOfBatch`
    * does not reappear in an as-of read of the earlier corpus — takedown
    * means "as if never ingested", and a reproducibility surface that
    * resurrected withdrawn documents would defeat the verb's purpose.
    * A training run re-read after a takedown therefore sees the corpus
    * MINUS the withdrawn ids; the delta is auditable ([[liveTombs]]).
    * Retention caveat: rows leave disk at archive compacts only through
    * tombstones, so as-of reads are exact indefinitely; they are NOT
    * exact across a manual rewrite of the archive outside the
    * protocol. */
  def readAcceptedAsOf(spark: SparkSession, acceptedDir: String,
                       asOfBatch: Long): DataFrame =
    readAccepted(spark, acceptedDir).where(col("batch") <= asOfBatch)

  /** The REPRODUCIBILITY CAPSTONE — "train on the corpus as of batch
    * N, provably": [[readAcceptedAsOf]] composed with
    * [[graft.ops.Curation.exportShards]], with the pin stamped into
    * the export. The shards land deterministically shuffled with their
    * receipt manifest (verifiable by
    * [[graft.ops.Curation.verifyShards]] — from the ids alone), and
    * `outDir/_provenance` records WHAT was exported: `as_of_batch`,
    * plus the tombstone state the corpus was read under (`n_tombs`,
    * `tombs_checksum` — the order-invariant decimal sum of the live
    * tombstoned ids' shuffle keys, the house checksum arithmetic any
    * engine recomputes — and `max_minted_below`, the newest
    * tombstone's mint watermark; 0/"0"/−1 when none). Two exports with
    * equal provenance are bit-identical manifests; after a takedown,
    * a re-export's manifest differs from the original by EXACTLY the
    * withdrawn ids' rows and key mass (spec-pinned), and the
    * provenance names the takedown state that explains the delta —
    * takedown is retroactive here exactly as in [[readAcceptedAsOf]].
    *
    * Concurrency: an out-of-band maintenance verb — the provenance is
    * stamped from a second tombstone read after the corpus export, so
    * serialize with folding/removal maintainers (the object-level
    * stance) or a racing takedown could land between the two. Returns
    * the manifest as re-read from disk. */
  def exportShardsAsOf(spark: SparkSession, acceptedDir: String,
                       asOfBatch: Long, idCol: String, numShards: Int,
                       outDir: String): DataFrame = {
    val manifest = graft.ops.Curation.exportShards(
      readAcceptedAsOf(spark, acceptedDir, asOfBatch), idCol, numShards,
      outDir)
    val (n, checksum, maxMinted) = liveTombs(spark, acceptedDir) match {
      case Some(t) =>
        val idName = tombIdCol(t)
        val r = t.agg(
          org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.sum(
            graft.ops.Curation.shuffleKey(col(idName))
              .cast("decimal(20,0)")).cast("string"),
          org.apache.spark.sql.functions.max(col("minted_below"))).head()
        (r.getLong(0), Option(r.getString(1)).getOrElse("0"),
          if (r.isNullAt(2)) -1L else r.getLong(2))
      case None => (0L, "0", -1L)
    }
    import spark.implicits._
    Seq((asOfBatch, n, checksum, maxMinted))
      .toDF("as_of_batch", "n_tombs", "tombs_checksum", "max_minted_below")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/_provenance")
    manifest
  }

  /** The pin an [[exportShardsAsOf]] directory was exported under —
    * one row (`as_of_batch`, `n_tombs`, `tombs_checksum`,
    * `max_minted_below`). */
  def shardProvenance(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/_provenance")

  /** The data part-files under a flat directory (no `_`/`.` metadata,
    * no subdirectories) — absolute path strings. */
  private def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, path) = VersionedState.fsPath(spark, dir)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(st => st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      .map(_.getPath.toString)
  }

  /** What a pruned read scanned: `keptFiles` of `totalFiles` actually
    * read (files under archive versions with no `stats` subframe are
    * unprunable and count in both). */
  final case class PrunedAccepted(df: DataFrame, keptFiles: Int,
                                  totalFiles: Int)

  /** [[readAccepted]] through the per-version data-skipping indexes —
    * the selective-read surface for the accepted corpus (read one
    * source's documents, one quality band, one batch range) that skips
    * whole files instead of scanning 100 TB to filter it:
    *
    *  - archive versions carrying a `stats` subframe (written by the
    *    [[fold]]/[[compactArchive]] overloads) prune their file lists
    *    with `keep` — a predicate over the stats schema, composed from
    *    [[graft.sources.StatsIndex]]'s `mayContain*` helpers — before
    *    any scan is planned; versions without one are read whole
    *    (sound, never silently wrong);
    *  - LIVE batch directories (at most one fold-cadence window) build
    *    footer stats on the fly — O(live files), no data pages — and
    *    prune the same way; their `batch` stats are the directory name
    *    (`mn_batch = mx_batch = b`), so a `batch`-range `keep` prunes
    *    the live tier without `batch` being a data column there;
    *  - the exact `rowFilter` is re-applied behind the pruned listing
    *    (file granularity is an over-approximation; the filter also
    *    reaches the parquet reader for row-group skipping inside kept
    *    files), and live tombstones are honored exactly as
    *    [[readAccepted]] does.
    *
    * Soundness: a committed archive version is immutable, so its stats
    * can never go stale (the basename sets are still cross-checked and
    * fail by name on external tampering). `statsCols` names the columns
    * the LIVE tier indexes on the fly and must cover every column
    * `keep` references (archive versions indexed with fewer columns
    * fail loudly at predicate resolution, never prune unsoundly).
    *
    * NOT a snapshot read (the object-level caveat applies here too,
    * and with a wider window than [[readAccepted]]): the archive chain
    * is resolved BEFORE the live directories are listed, so a fold
    * committing in between moves rows into an archive version absent
    * from the already-resolved chain while deleting their live
    * directory — those rows are silently missed (and a fold racing the
    * later per-directory footer reads surfaces as a read error
    * instead). Serialize this read with the folding maintainer, or
    * re-invoke when [[maxFoldedBatch]] moved across the call. */
  def prunedReadAccepted(spark: SparkSession, acceptedDir: String,
                         statsCols: Seq[String],
                         keep: org.apache.spark.sql.Column,
                         rowFilter: org.apache.spark.sql.Column): PrunedAccepted = {
    import graft.sources.StatsIndex
    import org.apache.hadoop.fs.Path
    val root = archiveRoot(acceptedDir)
    val (fs, _) = VersionedState.fsPath(spark, acceptedDir)
    val links = archiveChain(spark, acceptedDir)
    var kept = 0
    var total = 0
    val parts = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    links.foreach { w =>
      val dataDir = s"$root/v=$w/data"
      val files = dataFiles(spark, dataDir)
      total += files.size
      if (fs.exists(new Path(s"$root/v=$w/$StatsSubframe/_SUCCESS"))) {
        // the freshness cross-check runs even against an EMPTY file
        // list: stats naming files that are gone is the tampering case
        // a silent skip would answer wrongly from
        val stats = VersionedState.cachedVersionFrame(spark, s"$root/v=$w/$StatsSubframe")
        val idxNames = stats.select(StatsIndex.FileCol).collect()
          .map(_.getString(0)).toSet
        val liveNames = files.map(new Path(_).getName).toSet
        require(idxNames == liveNames,
          s"accepted archive at $root v=$w: stats frame names " +
            s"${(idxNames -- liveNames).take(3).toSeq.sorted} absent from " +
            s"the data and misses ${(liveNames -- idxNames).take(3).toSeq.sorted} " +
            "— a committed version is immutable, so this is external " +
            "tampering; remove the stats frame or restore the files " +
            "(a stale index prunes unsoundly)")
        val keptNames = StatsIndex.candidateFiles(stats, keep)
        kept += keptNames.size
        if (keptNames.nonEmpty)
          parts += spark.read.parquet(
            keptNames.map(n => s"$dataDir/$n"): _*)
      } else if (files.nonEmpty) {
        // no index for this version: read it whole — sound
        kept += files.size
        parts += spark.read.parquet(dataDir)
      }
    }
    val watermark = watermarkOf(spark, root, links)
    val liveDirs = liveBatches(spark, acceptedDir)
      .filter(b => watermark.forall(b > _)).sorted
    val liveDataCols = statsCols.filterNot(_ == "batch")
    liveDirs.foreach { b =>
      val dir = s"$acceptedDir/batch=$b"
      val files = dataFiles(spark, dir)
      total += files.size
      if (files.nonEmpty) {
        import spark.implicits._
        val base =
          if (liveDataCols.nonEmpty)
            StatsIndex.buildFromFooters(spark, dir, liveDataCols)
          else files.toDF(StatsIndex.FileCol)
        val stats =
          if (statsCols.contains("batch"))
            base.withColumn("mn_batch", lit(b))
              .withColumn("mx_batch", lit(b))
              .withColumn("nulls_batch", lit(0L))
          else base
        val keptFiles = StatsIndex.candidateFiles(stats, keep)
        kept += keptFiles.size
        if (keptFiles.nonEmpty)
          parts += spark.read.parquet(keptFiles: _*)
            .withColumn("batch", lit(b))
      }
    }
    val both =
      if (parts.isEmpty)
        // everything pruned (or nothing there): schema'd empty through
        // the plain two-tier read, which also supplies the
        // nothing-accepted failure by name
        bothTiers(spark, acceptedDir, links).where(lit(false))
      else parts.reduce(_ unionByName _)
    PrunedAccepted(minusTombs(both, readTombs(spark, root, links))
      .where(rowFilter), kept, total)
  }
}
