package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned persistence for the IVF ANN index — the
  * [[VersionedState]] snapshot protocol (shared with
  * [[MinhashIndexStore]] and [[SemanticIndexStore]]) applied to
  * [[Similarity.ivfBuild]]'s state: the trained centroid table and the
  * per-row cell assignment frame `(corpus_id, cv, cn, cell)`, written
  * together per version so a probe always scores against exactly the
  * centroids its cells were assigned with.
  *
  * Versions are DELTAS, not snapshots — the O(batch) maintenance
  * rule: [[init]] writes v=0 as a full frame; [[append]] assigns the
  * NEW batch against the STANDING centroid literal (one narrow map,
  * the path the [[Similarity.ivfBuild]] Scaladoc promises) and writes
  * ONLY those rows, so a daily append writes batch-mass bytes, never
  * corpus-mass. Readers union the chain from the newest FULL version
  * (the `full` meta bit): probe I/O stays cell-pruned per chain link.
  * [[compact]] folds the chain into a new full version; [[prune]]
  * clamps its floor to the retention target's chain base, so pruning
  * can never orphan a delta — space reclamation advances as scheduled
  * compactions introduce newer full versions. Targeted removal
  * (takedown, opt-out, decontamination) is [[remove]] — an
  * O(tombstones) delta that probes honor immediately and the next
  * compact applies, never an O(corpus) rebuild; only RETRAINING (new
  * centroids for a drifted corpus) remains an explicit
  * delete-and-rebuild.
  *
  * [[probeLatest]] scores queries against a pinned version through
  * [[Similarity.ivfProbe]], and the I/O matches the algorithm: every
  * cell frame is WRITTEN partitioned by `cell`, the batch's touched
  * cells ([[Similarity.ivfProbeCells]], ≤ nlist ids) become a static
  * partition filter on every chain link, and the scan reads only
  * those cell directories — nprobe/nlist of the corpus bytes at any
  * scale (plan-spec-pinned), instead of a full scan a join then
  * discards.
  *
  * Layout: `dir/v=N/centroids`, `dir/v=N/cells/cell=<id>/`,
  * `dir/v=N/meta` (`dim`, `nlist`, `assign_p50`, `assign_p99`,
  * `full`). Doubles round-trip
  * parquet bit-exactly, so a reloaded version probes identically
  * (spec-pinned). */
object IvfIndexStore extends CellIndexStore("ivf index",
    Seq("dim", "nlist", "assign_p50", "assign_p99")) {

  /** Persisted provenance: embedding dimension, trained cell count,
    * the TRAIN-TIME assign-distance quantiles (p50/p99 of
    * `1 − cos(v, argmin centroid)` over the training corpus — the
    * drift reference [[driftReport]] compares every candidate batch
    * against; appends and compactions copy them forward unchanged
    * because the centroids themselves stand until an explicit
    * rebuild), and whether this version's cell frame is a FULL
    * snapshot (init / compaction) or a delta over the previous
    * version (append). */
  final case class IvfMeta(dim: Int, nlist: Int,
                           assignP50: Double, assignP99: Double,
                           full: Boolean) extends CellMeta

  type Meta = IvfMeta

  protected def encodeMeta(m: IvfMeta): Seq[Any] =
    Seq[Any](m.dim, m.nlist, m.assignP50, m.assignP99)

  protected def decodeMeta(s: Seq[Any], full: Boolean): IvfMeta =
    IvfMeta(s(0).asInstanceOf[Int], s(1).asInstanceOf[Int],
      s(2).asInstanceOf[Double], s(3).asInstanceOf[Double], full)

  /** A committed version loaded for probing: `cells` is the UNION of
    * the version's chain (its deltas down to the nearest full
    * snapshot). */
  final case class LoadedIvfIndex(version: Long,
                                  centroids: Seq[(Long, Seq[Double])],
                                  cells: DataFrame, meta: IvfMeta)

  /** Train on the standing corpus and write v=0 as a FULL frame.
    * Refuses a directory already holding a committed version, and an
    * empty/all-null corpus (no centroids to stand on). Returns 0. */
  def init(corpus: DataFrame, dir: String, idCol: String, vecCol: String,
           nlist: Int = 16, lloydIters: Int = 2): Long = {
    val spark = corpus.sparkSession
    requireUninitialized(spark, dir)
    val (centroids, cells) = Similarity.ivfBuild(corpus, idCol, vecCol,
      nlist, lloydIters)
    val (p50, p99) = trainQuantiles(dir, cells, "cv", centroids)
    commitCells(spark, dir, 0L, centroids, cells,
      IvfMeta(centroids.head._2.length, centroids.length, p50, p99,
        full = true), full = true)
    0L
  }

  /** One narrow argmin map per row — the path the
    * [[Similarity.ivfBuild]] Scaladoc promises. */
  protected def assign(batch: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[(Long, Seq[Double])],
                       meta: IvfMeta): DataFrame =
    Similarity.ivfAssign(batch, idCol, vecCol, centroids)

  /** Anti-join a chain's live tombstones out of its cell rows — the
    * removal filter both read paths share: broadcast on the tombstone
    * side, applied to the (already cell-pruned) scan, with an fs-only
    * existence check first so the no-removals common case pays
    * nothing. This store's cells are one row per document, so the
    * filter is exact. */
  private def minusTombs(spark: SparkSession, dir: String, links: Seq[Long],
                         cells: DataFrame): DataFrame =
    if (!hasLiveTombs(spark, dir, links)) cells
    else cells.join(
      broadcast(readLiveTombs(spark, dir, links)),
      col("corpus_id") === col("tomb_id"), "left_anti")

  /** The fold: [[read]] already filters live tombstones out of the
    * loaded cells, so the new full version materializes the
    * corpus-minus-removed frame and carries no tombs frame. A compact
    * whose tombstones removed the ENTIRE corpus fails by name at commit
    * (the empty-cells guard) — an empty standing index is a
    * delete-and-re-init, never a committed version. Cadence: this store
    * shares [[SemanticIndexStore]]'s cell-pruned read shape, whose
    * measured chain-read tax is ~11% of the base probe cost per link
    * (SCALE.md "Chain-read economics") — compact at least fortnightly
    * on daily appends. */
  protected def fold(spark: SparkSession, dir: String, head: Long,
                     meta: IvfMeta): Unit = {
    val loaded = read(spark, dir, Some(head))
    commitCells(spark, dir, head + 1, loaded.centroids, loaded.cells,
      meta, full = true)
  }

  /** Load a pinned version (or the latest committed): centroids, meta,
    * and the UNION of its delta chain's cell frames MINUS the chain's
    * live tombstones — this store's cells are one row per document, so
    * unlike [[MinhashIndexStore.read]] the loaded frame can honor
    * removals exactly (which is also what lets [[compact]] apply them
    * by just materializing this read). A missing or uncommitted pin
    * fails by name. */
  def read(spark: SparkSession, dir: String,
           version: Option[Long] = None): LoadedIvfIndex = {
    val v = resolve(spark, dir, version)
    val meta = readMeta(spark, dir, v)
    val links = chain(spark, dir, v)
    LoadedIvfIndex(v, readCentroids(spark, dir, v, meta),
      minusTombs(spark, dir, links,
        VersionedState.readCellChain(spark, dir, links, None)),
      meta)
  }

  /** Score queries against the latest committed version (or a pinned
    * one): cosine top-k, each query touching only its `nprobe` nearest
    * standing cells — in every chain link. The version, meta, and
    * chain resolve ONCE; the touched-cell set (≤ nlist ids) becomes a
    * static partition filter, so the scan reads nprobe/nlist of the
    * corpus bytes. Live tombstones anti-join out of those pruned rows
    * BEFORE scoring — a removed document must not occupy a top-k
    * slot. */
  def probeLatest(spark: SparkSession, dir: String, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int, nprobe: Int = 8,
                  version: Option[Long] = None): DataFrame = {
    val (_, centroids, links, touched) =
      probeTarget(spark, dir, queries, vecCol, nprobe, version)
    Similarity.ivfProbe(centroids,
      minusTombs(spark, dir, links,
        VersionedState.readCellChain(spark, dir, links, Some(touched))),
      queries, idCol, vecCol, k, nprobe)
  }
}
