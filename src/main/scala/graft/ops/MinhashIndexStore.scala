package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned persistence for the MinHash/LSH index — the
  * [[VersionedState]] snapshot protocol applied to
  * [[Dedup.minhashIndexBuild]]'s state: every maintenance step writes a
  * NEW version directory (`dir/v=N`) instead of overwriting the one
  * being read, readers pin a version (or take the latest committed),
  * and an append must name the EXACT predecessor version it merged
  * onto — so a lost update, a pruned base, or two concurrent
  * maintainers racing each other all fail loudly instead of silently
  * dropping merged batches from every later snapshot. Commit atomicity,
  * crash replay, race detection, and pruning live in
  * [[VersionedState]] and the [[VersionedStore]] lifecycle all four
  * stores share.
  *
  * Versions are DELTAS, not snapshots — the O(batch) maintenance rule
  * ([[IvfIndexStore]]'s): [[init]] writes v=0 as a full frame;
  * [[append]] writes ONLY the batch's own index rows and their bucket
  * table, so a daily append's write I/O and its one set-keyed shuffle
  * are batch-mass, never corpus-mass. Readers union the chain from the
  * newest FULL version (the `full` meta bit). A shingle set present in
  * several chain links carries the IDENTICAL signature in each (the
  * signature is a pure function of the set), so every link's row
  * collides in exactly the same bands, survives the same screen,
  * verifies at the same jaccard, and the links' disjoint member lists
  * expand to exactly the pairs the merged group would — probe output
  * is pair-for-pair the single-frame index's (spec-pinned,
  * `MinhashIndexStoreSpec` "delta appends"; oracle-gated end-to-end by
  * `q_minhash_store`). [[compact]] folds the chain into a new full
  * version ([[Dedup.minhashIndexAppend]], the O(corpus) set-keyed
  * merge — now a scheduled job, not a per-append tax); [[prune]]
  * clamps its floor to the retention target's chain base so it can
  * never orphan a delta. The one semantic shift deltas introduce is
  * VALVE PLACEMENT: the `maxGroupSize` member-list and bucket valves
  * fire per LINK at append time (a group or bucket split across links
  * can sum past the valve before any single link trips it) and on the
  * MERGED mass at compaction — a chain that outgrows the valve fails
  * the scheduled compact, never a probe.
  *
  * Layout: `dir/v=N/index` (the `(shh, ids, sig)` frame — full
  * snapshot at init/compaction, the batch delta at append), `dir/v=N/
  * bands` (that frame's pre-aggregated [[Dedup.minhashIndexBands]]
  * bucket table — written together so every committed version can
  * serve the exchange-free probe, [[Dedup.minhashIndexDedupBatchBanded]]),
  * and `dir/v=N/meta` (one row: the content parameters this version
  * was built with — shingleK, numBands, rowsPerBand, maxGroupSize —
  * plus the `full` chain bit). [[append]] validates its parameters
  * against the base's persisted meta and [[probeLatest]] shingles and
  * bands WITH the persisted meta, so a re-parameterized maintainer, a
  * differently shingled probe, or a probe against a mismatched bands
  * frame fails loudly (or cannot happen) instead of silently dropping
  * candidate pairs. Longs and long arrays round-trip
  * parquet bit-exactly — a reloaded version probes identically to the
  * in-memory frame it persisted (spec-pinned, `MinhashIndexStoreSpec`).
  *
  * ==Maintenance protocol==
  *  - [[init]] writes v=0 (always full) and REFUSES a directory that
  *    already holds a COMMITTED version: pointing a fresh builder at a
  *    standing index would rebuild v=0 from the new corpus alone,
  *    silently dropping it. Scratch debris from a crashed init (there
  *    is no uncommitted `v=0` under the rename protocol) does not
  *    block the retry — crash replay of init is just running init
  *    again.
  *  - [[append]]`(dir, delta, expectedBase = N)` writes the delta as
  *    v=N+1, requiring v=N to BE the latest committed version: a
  *    version above N means another maintainer already advanced the
  *    index (this caller is stale — re-read and retry on the new
  *    head); a missing v=N means the base was pruned. A crash anywhere
  *    before the rename leaves latest = N, so re-running the SAME
  *    append just succeeds — the replay rule.
  *  - [[remove]]`(dir, ids, expectedBase = N)` writes an O(tombstones)
  *    TOMBSTONE DELTA as v=N+1 ([[VersionedState.TombsSubframe]]):
  *    probes exclude the named ids, the next [[compact]] applies and
  *    clears them — takedown without an O(corpus) rebuild.
  *  - [[compact]] folds the head's chain into a full version at
  *    head+1 (applying live tombstones); [[prune]] deletes versions
  *    below a kept floor clamped to that floor's chain base, never the
  *    head (retention policy — retain ≥ max job runtime — is the
  *    caller's).
  *
  * Scale shape: append pays the delta build's batch-mass shuffles plus
  * one batch-mass [[Dedup.minhashIndexBands]] aggregation; probes
  * never pay maintenance, they read a pinned version's chain by narrow
  * broadcast-pruned scans and join the batch against the PRE-BANDED
  * bucket tables ([[Dedup.minhashIndexDedupBatchBanded]] via
  * [[probeLatest]]), so no corpus-mass row ever crosses an exchange at
  * probe time; the O(corpus) set-keyed merge runs only at scheduled
  * compaction. */
object MinhashIndexStore extends IdKeyedStore("minhash index",
    Seq("index", "bands", "meta"),
    Seq("shingle_k", "num_bands", "rows_per_band", "max_group_size")) {

  /** The content parameters a version was built with — persisted as
    * the version's `meta` frame and required to match across every
    * build/append/probe of one index: `shingleK` decides the shingle
    * sets themselves (a probe or delta shingled differently produces
    * DISJOINT set hashes and finds nothing, silently), and
    * `numBands · rowsPerBand` is the signature length. The `full`
    * chain bit (whether the version is a full snapshot or an append
    * delta) is persisted alongside but is protocol state, not a
    * parameter — it never enters the match. */
  final case class IndexMeta(shingleK: Int, numBands: Int, rowsPerBand: Int,
                             maxGroupSize: Int)

  type Meta = IndexMeta

  protected def encodeMeta(m: IndexMeta): Seq[Any] =
    Seq[Any](m.shingleK, m.numBands, m.rowsPerBand, m.maxGroupSize)

  protected def decodeMeta(s: Seq[Any], full: Boolean): IndexMeta =
    IndexMeta(s(0).asInstanceOf[Int], s(1).asInstanceOf[Int],
      s(2).asInstanceOf[Int], s(3).asInstanceOf[Int])

  /** A committed version loaded for probing: the `(shh, ids, sig)`
    * index frame and its pre-aggregated bucket table — each the UNION
    * of the version's chain (its deltas down to the nearest full
    * snapshot) — and the banding parameters the chain was built with. */
  final case class LoadedIndex(version: Long, index: DataFrame,
                               bands: DataFrame, meta: IndexMeta)

  private def linkFrames(spark: SparkSession, dir: String, links: Seq[Long],
                         sub: String): Seq[DataFrame] =
    links.map(w => VersionedState.cachedVersionFrame(spark, s"$dir/v=$w/$sub"))

  private[graft] def commitVersion(index: DataFrame, dir: String, v: Long,
                                   meta: IndexMeta, full: Boolean,
                                   tombs: Option[DataFrame] = None): Unit = {
    val spark = index.sparkSession
    commit(spark, dir, v) { scratch =>
      // index→bands stays sequential INSIDE its task (the bucket table
      // derives from EXACTLY the bytes just written — re-read, not the
      // in-memory frame — so a version's bands can never drift from its
      // index frame); the tiny meta and tombs writes overlap it
      // ([[VersionedState.writeConcurrently]]) instead of serializing
      // their fixed job costs behind the data writes
      VersionedState.writeConcurrently(Seq(
        () => {
          index.write.mode("overwrite").parquet(s"$scratch/index")
          Dedup.minhashIndexBands(
            spark.read.parquet(s"$scratch/index"),
            meta.numBands, meta.rowsPerBand, meta.maxGroupSize)
            .write.mode("overwrite").parquet(s"$scratch/bands")
        },
        () => writeMeta(spark, s"$scratch/meta", meta, full)) ++
        // the optional removal payload rides the same atomic rename as
        // the required subframes
        tombs.map(t => () => writeTombs(t, scratch)))
    }
  }

  /** Build the index over the standing corpus
    * ([[Dedup.minhashIndexBuild]]) and write it as the initial version
    * (v=0). The store OWNS the build: the persisted parameters and the
    * frame they shaped cannot disagree (shingleK is baked into the
    * frame's set hashes — a store that accepted a pre-built frame
    * would be persisting the caller's unverifiable assertion, and a
    * mis-asserted k makes every probe silently return nothing).
    * Refuses a directory that already holds a COMMITTED version —
    * rebuilding a standing index from a new corpus alone must be an
    * explicit delete-and-recreate, never an accident of pointing a
    * fresh job at the wrong path. A crashed earlier init leaves only
    * scratch debris (never a partial `v=0` — the rename protocol), so
    * replaying init after a crash just succeeds. Returns the version
    * written (0). */
  def init(docs: DataFrame, dir: String, idCol: String, textCol: String,
           shingleK: Int = Dedup.DefaultShingleK,
           numBands: Int = Dedup.DefaultNumBands,
           rowsPerBand: Int = Dedup.DefaultRowsPerBand,
           maxGroupSize: Int = Dedup.DefaultMaxGroupSize): Long = {
    requireUninitialized(docs.sparkSession, dir)
    commitVersion(
      Dedup.minhashIndexBuild(docs, idCol, textCol, shingleK, numBands,
        rowsPerBand, maxGroupSize),
      dir, 0L, IndexMeta(shingleK, numBands, rowsPerBand, maxGroupSize),
      full = true)
    0L
  }

  /** Build the new batch into a delta index
    * ([[Dedup.minhashIndexBuild]] with the base's PERSISTED parameters
    * — the store owns the build, so a re-parameterized or re-shingled
    * delta cannot exist) and write it as version `expectedBase + 1` —
    * O(batch) write I/O and batch-mass shuffles only; readers union
    * the delta chain ([[read]]), and the O(corpus) set-keyed merge is
    * [[compact]]'s scheduled job. The base must be the LATEST
    * COMMITTED version — see the protocol above. Ids must be unique
    * across the merged corpora (the reconciliation contract every
    * keyed merge here shares). An empty batch is a no-op returning the
    * base: a scheduled run on a day with no new documents must not
    * grow the chain. Returns the version written. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String, textCol: String, expectedBase: Long): Long = {
    requireBase(spark, dir, expectedBase)
    val meta = readMeta(spark, dir, expectedBase)
    val delta = Dedup.minhashIndexBuild(batch, idCol, textCol, meta.shingleK,
      meta.numBands, meta.rowsPerBand, meta.maxGroupSize)
    // emptiness is judged on the BUILT frame (which the build caches),
    // not the raw batch: a non-empty batch whose every text is shorter
    // than shingleK shingles to nothing and must no-op too
    val deltaRows = delta.count()
    if (deltaRows == 0L) expectedBase
    else {
      // bound the delta's file count by its ROW mass: the built frame
      // is cached with the session's shuffle partitioning, and a
      // cached frame's write bypasses AQE coalescing — a small daily
      // delta would otherwise commit shuffle-partition-many KB-sized
      // index files per link, and the measured chain-read tax
      // (SCALE.md "Chain-read economics") is per FILE, not per byte.
      // ~250k rows/file targets ~100 MB parquet at this row shape
      // (48-hash signature + member list per row); coalesce never
      // raises the partition count, so a genuinely large delta keeps
      // its parallel write, and init/compact (corpus-mass by
      // construction) are untouched.
      commitVersion(delta.coalesce(((deltaRows - 1) / 250000L + 1).toInt),
        dir, expectedBase + 1, meta, full = false)
      expectedBase + 1
    }
  }

  /** Targeted REMOVAL from the standing index — takedown, opt-out, or
    * discovered contamination withdrawn WITHOUT an O(corpus) rebuild:
    * writes version `expectedBase + 1` as a TOMBSTONE DELTA (an empty
    * index/bands payload plus the withdrawn ids in the version's
    * [[VersionedState.TombsSubframe]] frame) — O(tombstones) write I/O
    * and one tombstone-mass shuffle (the normalize distinct), never a
    * corpus touch. Effect: [[probeLatest]] excludes every pair touching
    * a live tombstoned id (provably the pairs a fresh build over
    * corpus-minus-removed would emit — a shingle-set group is a pure
    * function of its surviving members' text, so the surviving groups,
    * signatures, collisions, and jaccards are IDENTICAL in both
    * worlds; only pairs naming a removed member differ, and those are
    * exactly what the filter drops). The next [[compact]] APPLIES the
    * tombstones to the merged member lists (a fully-removed group
    * vanishes) and clears them — a compacted chain carries no removal
    * debt, and space actually returns.
    *
    * Semantics pins: tombstones are CHAIN-SCOPED and UNION-SEMANTIC —
    * a live tombstone kills its id across the whole serving chain
    * regardless of link order, so re-ingesting a removed id before the
    * next compact is NOT supported (the standing tombstone would
    * silently suppress the new copy's pairs; re-ingest after a compact,
    * which clears the debt). Removing an id the corpus never held is a
    * harmless no-op at probe and compact alike (checking membership
    * would cost the corpus scan this verb exists to avoid). The base
    * must be the latest committed version; crash replay follows the
    * [[append]] rule. An empty removal frame is a no-op returning the
    * base. Returns the version written. */
  def remove(spark: SparkSession, dir: String, removeIds: DataFrame,
             idCol: String, expectedBase: Long): Long = {
    requireBase(spark, dir, expectedBase)
    val meta = readMeta(spark, dir, expectedBase)
    val tombs = normalizeTombs(dir, removeIds, idCol)
    if (tombs.isEmpty) expectedBase
    else {
      // empty-but-schema'd payload frames: a remove version is pure
      // tombstone metadata, but every chain link must stay readable by
      // the unioning chain readers (Spark writes one schema-bearing
      // empty file for an empty frame)
      val emptyIndex = VersionedState.cachedVersionFrame(spark, s"$dir/v=$expectedBase/index")
        .where(org.apache.spark.sql.functions.lit(false))
      commitVersion(emptyIndex, dir, expectedBase + 1, meta, full = false,
        tombs = Some(tombs))
      expectedBase + 1
    }
  }

  /** The fold: the O(corpus) [[Dedup.minhashIndexAppend]] set-keyed
    * merge as a scheduled job instead of a per-append tax. This is also
    * where the `maxGroupSize` valves fire on the MERGED mass: a group or
    * bucket that outgrew the valve across links fails the compact by
    * name, never a probe ([[chainHealth]] surfaces the pressure first) —
    * and where live TOMBSTONES are applied and cleared: removed ids
    * leave the merged member lists (one extra explode/anti-join/regroup
    * pass over the merge's own corpus mass, broadcast on the tombstone
    * side), a fully-removed group vanishes, and the new full version
    * carries no tombs frame — removal debt never outlives a compact.
    * Cadence: the measured chain-read tax is ~25% of the base probe cost
    * PER LINK for this store's full-narrow-scan shape (SCALE.md
    * "Chain-read economics") — compact weekly on daily appends
    * (≤ 8 links). */
  protected def fold(spark: SparkSession, dir: String, head: Long,
                     meta: IndexMeta): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, collect_list,
      explode, first, sort_array}
    val links = chain(spark, dir, head)
    val frames = linkFrames(spark, dir, links, "index")
    val merged = Dedup.minhashIndexAppend(frames.head,
      frames.tail.reduce(_ unionByName _), meta.maxGroupSize)
    val applied =
      if (!hasLiveTombs(spark, dir, links)) merged
      else {
        // regrouping by shh preserves the merge's invariants: the
        // surviving ids re-sort (gid = new minimum member), sig is a
        // pure function of shh (either row's copy is THE value), and
        // a group whose every member was removed emits no exploded
        // survivor — the group row vanishes, bands re-derive from the
        // filtered frame at commit
        merged.select(col("shh"), col("sig"), explode(col("ids")).as("id"))
          .join(broadcast(readLiveTombs(spark, dir, links)),
            col("id") === col("tomb_id"), "left_anti")
          .groupBy("shh").agg(
            sort_array(collect_list(col("id"))).as("ids"),
            first(col("sig")).as("sig"))
          .select("shh", "ids", "sig")
      }
    commitVersion(applied, dir, head + 1, meta, full = true)
  }

  /** What [[chainHealth]] reports: the merged-mass view of a version's
    * delta chain against the persisted `maxGroupSize` valve, BEFORE a
    * compact discovers it the hard way. `maxMergedGroup` is EXACT (ids
    * are unique across the merged corpora, so a shingle-set group's
    * merged size is the sum of its per-link sizes);
    * `maxMergedBucketBound` is an upper bound (identical sets in
    * different links fold to ONE group at compaction, so the true
    * merged bucket can only be smaller) — conservative in the safe
    * direction: it warns early, never late. Live tombstones push BOTH
    * figures the same conservative way (a tombstoned member still
    * counts here but leaves at compaction), so a chain carrying
    * removals can only over-warn, never under-warn. */
  final case class ChainHealth(version: Long, chainLength: Int,
                               maxGroupSize: Int, maxMergedGroup: Long,
                               maxMergedBucketBound: Long) extends GroupValveHealth {
    /** The merged bucket valve MAY fire at the next compact (bound). */
    def bucketValveAtRisk: Boolean = maxMergedBucketBound > maxGroupSize
  }

  /** Read-only chain health for the maintenance scheduler — the
    * approaching-overflow view the compact-time valves lack: the
    * per-link valves fire at append and the MERGED valves only inside
    * [[compact]], so a chain that outgrew the valve across links used
    * to make every scheduled compact fail by name with no forewarning
    * and no way to see the pressure building. This check reads the
    * chain's index and bands frames (narrow scans, two aggregates, one
    * row each to the driver — no commit, no merge) and reports the
    * merged group/bucket masses against the persisted valve; a
    * scheduler alerting on [[ChainHealth.groupValveExceeded]] (or the
    * conservative [[ChainHealth.bucketValveAtRisk]]) sees the overflow
    * while the remedy is still cheap (split the offending near-dup
    * group, or rebuild with a larger valve) instead of after the
    * compact starts failing. */
  def chainHealth(spark: SparkSession, dir: String,
                  version: Option[Long] = None): ChainHealth = {
    import org.apache.spark.sql.functions.{col, max, size, sum}
    val v = resolve(spark, dir, version)
    val links = chain(spark, dir, v)
    val meta = readMeta(spark, dir, v)
    def maxMerged(sub: String, keys: Seq[String], listCol: String): Long = {
      val merged = linkFrames(spark, dir, links, sub)
        .reduce(_ unionByName _)
        .groupBy(keys.head, keys.tail: _*)
        .agg(sum(size(col(listCol))).as("m"))
        .agg(max(col("m"))).head()
      if (merged.isNullAt(0)) 0L else merged.getLong(0)
    }
    ChainHealth(v, links.length, meta.maxGroupSize,
      maxMerged("index", Seq("shh"), "ids"),
      maxMerged("bands", Seq("band", "bucket"), "gids"))
  }

  /** Load a pinned version — or the latest committed version when
    * `version` is None — as its `(index, bands, meta)` triple, where
    * the index and bands frames are the UNION of the version's delta
    * chain. A pinned version that is missing or uncommitted fails by
    * name (reading it as parquet would either error opaquely or, with
    * an explicit schema, silently return 0 rows — an empty index
    * "finds" no duplicates). The frames are RAW: live tombstones are
    * NOT applied here (a member-list rewrite would desynchronize the
    * gids the persisted bands table keys on — see [[probeLatest]],
    * which honors them on its output); a direct consumer of these
    * frames must anti-join [[liveTombs]] itself. */
  def read(spark: SparkSession, dir: String,
           version: Option[Long] = None): LoadedIndex = {
    val v = resolve(spark, dir, version)
    val links = chain(spark, dir, v)
    // chain link frames are memoized per version directory
    // ([[VersionedState.cachedVersionFrame]]) — immutable by protocol,
    // so the per-probe listing + footer inference was pure fixed cost
    LoadedIndex(v,
      linkFrames(spark, dir, links, "index").reduce(_ unionByName _),
      linkFrames(spark, dir, links, "bands").reduce(_ unionByName _),
      readMeta(spark, dir, v))
  }

  /** The production probe entry point: dedup `batch` against the
    * latest committed version (or a pinned one) through the
    * exchange-free banded path, USING THE PERSISTED shingling and
    * banding parameters — the probe cannot be mis-parameterized
    * against the index it reads. Only the threshold family is a
    * per-probe choice.
    *
    * Live tombstones ([[remove]]) are honored HERE, on the probe's
    * OUTPUT pairs, not by rewriting the index frames: a group id is its
    * member list's head, so filtering member lists in place would
    * silently desynchronize the persisted bands table's gids and drop
    * candidates. The output filter is provably equivalent to probing a
    * fresh build over corpus-minus-removed (the [[remove]] Scaladoc's
    * purity argument). */
  def probeLatest(spark: SparkSession, dir: String, batch: DataFrame,
                  idCol: String, textCol: String,
                  threshold: Double = 0.5,
                  prefilterMargin: Double = 0.25,
                  minPairBands: Int = 1,
                  version: Option[Long] = None): DataFrame = {
    val v = resolve(spark, dir, version)
    val links = chain(spark, dir, v)
    val loaded = read(spark, dir, Some(v))
    // the batch shingles with the PERSISTED shingleK — like the banding
    // parameters, it is index state, not a per-probe choice: a probe
    // shingled differently would produce disjoint set hashes and find
    // nothing, silently
    minusTombPairs(spark, dir, links,
      Dedup.minhashIndexDedupBatchBanded(loaded.index,
        loaded.bands, batch, idCol, textCol, loaded.meta.shingleK,
        loaded.meta.numBands, loaded.meta.rowsPerBand, threshold,
        prefilterMargin, minPairBands, loaded.meta.maxGroupSize))
  }
}
