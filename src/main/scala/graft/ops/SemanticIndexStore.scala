package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned persistence for the SemDeDup semantic index — the
  * [[VersionedState]] snapshot protocol (shared with
  * [[MinhashIndexStore]] and [[IvfIndexStore]]) applied to
  * [[Similarity.semanticIndexBuild]]'s state: the k-means centroid
  * table and the grouped-and-assigned cell frame, written together per
  * version so every committed version can serve
  * [[Similarity.semanticDedupBatch]] against exactly the centroids its
  * cells were assigned with — a probe or append can never pair a cell
  * frame with drifted centroids.
  *
  * Versions are DELTAS, not snapshots — the O(batch) maintenance rule
  * ([[IvfIndexStore]]'s): [[init]] writes v=0 as a full frame;
  * [[append]] groups and assigns the NEW batch against the STANDING
  * centroids ([[Similarity.semanticAssign]] — batch-mass shuffles and
  * one argmin map) and writes ONLY those rows, so a daily append
  * writes batch-mass bytes, never corpus-mass. Readers union the
  * chain from the newest FULL version (the `full` meta bit). A vector
  * value present in several chain links lands in the SAME cell with
  * the same norm in each (cell and norm are pure functions of the
  * value), so every link's row joins the same probe cells, scores the
  * same cosine, and the links' disjoint member lists expand to
  * exactly the pairs the merged group would — probe output is
  * pair-for-pair the merged frame's (spec-pinned,
  * `SemanticIndexStoreSpec` "delta appends"; oracle-gated end-to-end
  * by `q_semantic_store`). [[compact]] folds the chain into a new
  * full version ([[Similarity.semanticCellsMerge]], the O(corpus)
  * vector-keyed merge — a scheduled job, not a per-append tax);
  * [[prune]] clamps its floor to the retention target's chain base so
  * it can never orphan a delta. The one semantic shift deltas
  * introduce is VALVE PLACEMENT: the `maxGroupSize` member-list valve
  * fires per LINK at append time (an identical-vector group split
  * across links can sum past the valve before any single link trips
  * it) and on the MERGED mass at compaction — a chain that outgrows
  * the valve fails the scheduled compact, never a probe. Retraining
  * for a drifted corpus is an explicit delete-and-rebuild, never a
  * maintenance side effect.
  *
  * Layout: `dir/v=N/centroids` ([[Similarity.ivfCentroidsDf]]'s
  * `(cell, centroid)` frame — every version carries the standing
  * table, so any committed version probes alone), `dir/v=N/cells/
  * cell=<id>/` (the `(cell, gid, vv, vn, ids)` frame — full snapshot
  * at init/compaction, the batch delta at append), `dir/v=N/meta`
  * (one row: embedding `dim`, trained `nlist`, the `maxGroupSize`
  * valve — maintenance and probes all READ it, set once at init — and
  * the `full` chain
  * bit). Doubles and long arrays round-trip parquet bit-exactly, so a
  * reloaded version probes identically (spec-pinned).
  *
  * Maintenance follows the [[MinhashIndexStore]] rules verbatim:
  * [[init]] refuses a directory holding a committed version; [[append]]
  * names its exact base; crash replay of either is just running it
  * again; [[prune]] keeps the head. Scale shape: append pays
  * batch-mass work only; probes broadcast the batch's cells against
  * the standing chain, whose cell-partitioned links are read
  * partition-pruned to the batch's touched cells and never shuffle
  * (plan-pinned in `PlanQualitySpec`); the O(corpus) merge runs only
  * at scheduled compaction. */
object SemanticIndexStore extends CellIndexStore("semantic index",
    Seq("dim", "nlist", "max_group_size", "assign_p50", "assign_p99")) {

  /** Persisted provenance of a version: embedding dimension, trained
    * cell count, and the identical-vector `maxGroupSize` valve the
    * index was built with — maintenance and probes USE the persisted
    * valve (the [[MinhashIndexStore.IndexMeta]] rule), so a
    * re-parameterized maintainer cannot silently loosen it. The `full`
    * chain bit (whether the version is a full snapshot or an append
    * delta) is persisted alongside but is protocol state, not a
    * parameter — it never enters any match. `assignP50`/`assignP99`
    * are the TRAIN-TIME assign-distance quantiles (p50/p99 of
    * `1 − cos(v, argmin centroid)` over the training corpus's distinct
    * vectors) — the drift reference [[driftReport]] compares candidate
    * batches against; appends and compactions copy them forward
    * unchanged because the centroids stand until an explicit
    * rebuild. */
  final case class SemMeta(dim: Int, nlist: Int, maxGroupSize: Int,
                           assignP50: Double, assignP99: Double) extends CellMeta

  type Meta = SemMeta

  protected def encodeMeta(m: SemMeta): Seq[Any] =
    Seq[Any](m.dim, m.nlist, m.maxGroupSize, m.assignP50, m.assignP99)

  protected def decodeMeta(s: Seq[Any], full: Boolean): SemMeta =
    SemMeta(s(0).asInstanceOf[Int], s(1).asInstanceOf[Int],
      s(2).asInstanceOf[Int], s(3).asInstanceOf[Double],
      s(4).asInstanceOf[Double])

  /** A committed version loaded for probing: `cells` is the UNION of
    * the version's chain (its deltas down to the nearest full
    * snapshot). */
  final case class LoadedSemIndex(version: Long,
                                  centroids: Seq[(Long, Seq[Double])],
                                  cells: DataFrame, meta: SemMeta)

  /** Train on the standing corpus and write v=0 as a FULL frame.
    * Refuses a directory already holding a committed version (the
    * [[MinhashIndexStore.init]] rationale) and an empty corpus (no
    * centroids — an empty standing index has nothing to probe; start
    * indexing when the first real batch lands). Returns 0. */
  def init(df: DataFrame, dir: String, idCol: String, vecCol: String,
           nlist: Int = 0, lloydIters: Int = 2,
           maxGroupSize: Int = Dedup.DefaultMaxGroupSize): Long = {
    val spark = df.sparkSession
    requireUninitialized(spark, dir)
    val (centroids, cells) = Similarity.semanticIndexBuild(
      df, idCol, vecCol, nlist, lloydIters, maxGroupSize)
    // quantiles over the grouped cell frame's distinct vectors
    val (p50, p99) = trainQuantiles(dir, cells, "vv", centroids)
    commitCells(spark, dir, 0L, centroids, cells,
      SemMeta(centroids.head._2.length, centroids.length, maxGroupSize,
        p50, p99),
      full = true)
    0L
  }

  /** Group the batch's identical vectors and assign them against the
    * standing centroids ([[Similarity.semanticAssign]] — batch-mass
    * shuffles and one argmin map). */
  protected def assign(batch: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[(Long, Seq[Double])],
                       meta: SemMeta): DataFrame =
    Similarity.semanticAssign(centroids, batch, idCol, vecCol,
      meta.maxGroupSize)

  /** The fold: the O(corpus) [[Similarity.semanticCellsMerge]]
    * vector-keyed merge as a scheduled job instead of a per-append tax.
    * This is also where the `maxGroupSize` valve fires on the MERGED
    * mass: an identical-vector group that outgrew the valve across
    * links fails the compact by name, never a probe — and where live
    * TOMBSTONES ([[remove]]) are applied and cleared: removed ids leave
    * the merged member lists (one explode/anti-join/regroup pass over
    * the merge's own corpus mass, broadcast on the tombstone side; a
    * fully-removed group vanishes, and `gid` re-derives as the
    * surviving minimum member — the [[Similarity.semanticCellsMerge]]
    * invariant). A compact whose tombstones removed the ENTIRE corpus
    * fails by name at commit (the empty-cells guard). Cadence: the
    * measured chain-read tax is ~11% of the base probe cost per link
    * (cell pruning holds at every length — the tax is per-scan
    * overhead; SCALE.md "Chain-read economics") — compact at least
    * fortnightly on daily appends. */
  protected def fold(spark: SparkSession, dir: String, head: Long,
                     meta: SemMeta): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, collect_list,
      element_at, explode, first, sort_array}
    val links = chain(spark, dir, head)
    val merged = Similarity.semanticCellsMerge(
      links.map(w => VersionedState.readCellChain(spark, dir, Seq(w), None)),
      meta.maxGroupSize)
    val applied =
      if (!hasLiveTombs(spark, dir, links)) merged
      else merged.select(col("cell"), col("vv"), col("vn"),
          explode(col("ids")).as("id"))
        .join(broadcast(readLiveTombs(spark, dir, links)),
          col("id") === col("tomb_id"), "left_anti")
        .groupBy("vv").agg(
          first(col("cell")).as("cell"),
          first(col("vn")).as("vn"),
          sort_array(collect_list(col("id"))).as("ids"))
        .select(col("cell"), element_at(col("ids"), 1).as("gid"),
          col("vv"), col("vn"), col("ids"))
    commitCells(spark, dir, head + 1,
      readCentroids(spark, dir, head, meta), applied, meta, full = true)
  }

  /** Load a pinned version (or the latest committed): centroids, meta,
    * and the UNION of its delta chain's cell frames. A missing or
    * uncommitted pin fails by name. The cell frame is RAW: live
    * tombstones are NOT applied here (member lists carry the gids the
    * grouped rows key on — the [[MinhashIndexStore.read]] rationale);
    * [[probeLatest]] honors them on its output, [[compact]] on the
    * merged lists. */
  def read(spark: SparkSession, dir: String,
           version: Option[Long] = None): LoadedSemIndex = {
    val v = resolve(spark, dir, version)
    val meta = readMeta(spark, dir, v)
    LoadedSemIndex(v, readCentroids(spark, dir, v, meta),
      VersionedState.readCellChain(spark, dir, chain(spark, dir, v), None), meta)
  }

  /** What [[chainHealth]] reports — [[MinhashIndexStore.ChainHealth]]'s
    * analogue for the identical-vector groups: `maxMergedGroup` is the
    * largest member count any distinct vector value reaches when the
    * chain's links are summed (EXACT: ids are unique across the merged
    * corpora, and a vector value's per-link member lists are disjoint).
    * This store has no bucket table, so there is no bound term. */
  final case class ChainHealth(version: Long, chainLength: Int,
                               maxGroupSize: Int, maxMergedGroup: Long)
    extends GroupValveHealth

  /** Read-only chain health for the maintenance scheduler — the
    * [[MinhashIndexStore.chainHealth]] rationale applied to this
    * store's one merged valve: the per-link `maxGroupSize` check fires
    * at append and the MERGED check only inside [[compact]]'s
    * vector-keyed merge, so an identical-vector group split across
    * links can outgrow the valve with nothing surfacing it until the
    * scheduled compact starts failing by name. One vector-keyed
    * aggregate over the chain's cell frames (no commit, no merge
    * frame built, one row to the driver). */
  def chainHealth(spark: SparkSession, dir: String,
                  version: Option[Long] = None): ChainHealth = {
    import org.apache.spark.sql.functions.{col, max, size, sum}
    val v = resolve(spark, dir, version)
    val links = chain(spark, dir, v)
    val meta = readMeta(spark, dir, v)
    val merged = VersionedState.readCellChain(spark, dir, links, None)
      .groupBy("vv").agg(sum(size(col("ids"))).as("m"))
      .agg(max(col("m"))).head()
    ChainHealth(v, links.length, meta.maxGroupSize,
      if (merged.isNullAt(0)) 0L else merged.getLong(0))
  }

  /** The production probe entry point: semantic near-dup pairs of
    * `batch` against the latest committed version (or a pinned one),
    * always with the centroids the standing cells were assigned under.
    * The version, meta, and chain resolve ONCE; the batch only pairs
    * within its own argmin cells (one per distinct vector, ≤ nlist
    * ids), so they become a static partition filter and every chain
    * link's scan reads only the touched cell directories. Live
    * tombstones ([[remove]]) are honored on the probe's OUTPUT pairs
    * (the [[MinhashIndexStore.probeLatest]] rationale). */
  def probeLatest(spark: SparkSession, dir: String, batch: DataFrame,
                  idCol: String, vecCol: String, threshold: Double,
                  version: Option[Long] = None): DataFrame = {
    val (meta, centroids, links, touched) =
      probeTarget(spark, dir, batch, vecCol, nprobe = 1, version)
    minusTombPairs(spark, dir, links,
      Similarity.semanticDedupBatch(centroids,
        VersionedState.readCellChain(spark, dir, links, Some(touched)),
        batch, idCol, vecCol, threshold, meta.maxGroupSize))
  }
}
