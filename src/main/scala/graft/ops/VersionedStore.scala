package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types._

/** The lifecycle the four versioned stores ([[MinhashIndexStore]],
  * [[SemanticIndexStore]], [[IvfIndexStore]], [[LinkageStore]]) and the
  * accepted-corpus archive ([[graft.streaming.AcceptedSink]]) share: each is
  * a [[VersionedState]] chain under `dir/v=N` with a fixed subframe list
  * and a one-row `meta` frame whose last column is the `full` chain bit
  * (a full snapshot, or a delta over the previous version). A store
  * supplies only its kind-specific parts — its name, subframes, meta
  * columns and codec, payload writes, the fold [[compact]] runs,
  * tombstone application and probes. This base owns the version
  * bookkeeping every verb shares: head and pin resolution, the memoized
  * meta, chain walks, the compact head guard, prune and chain length,
  * and the optional per-version tombstone frame's existence walk and
  * write.
  *
  * `Meta` is a type member rather than a type parameter because each
  * store's meta class is nested in the store object itself, which a
  * parent's type argument cannot name. */
abstract class VersionedStore(protected val what: String,
                              subframes: Seq[String], metaCols: Seq[String]) {

  /** The content parameters a version was built with. */
  type Meta

  /** `meta`'s values in `metaCols` order, the `full` bit excluded. */
  protected def encodeMeta(meta: Meta): Seq[Any]

  /** The inverse of [[encodeMeta]]. */
  protected def decodeMeta(values: Seq[Any], full: Boolean): Meta

  private val MetaCols = metaCols :+ "full"

  /** Latest committed version (every subframe carries `_SUCCESS`), or
    * None before the first init. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] =
    VersionedState.latestVersion(spark, dir, subframes)

  /** Write the one-row meta frame with the SAME column list the readers
    * require, so the write and the requireMetaCols valve can never
    * drift apart. Scalars map to the schema a tuple `toDF` gives them:
    * primitives required, strings optional. */
  private[graft] def writeMeta(spark: SparkSession, dest: String, meta: Meta,
                               full: Boolean): Unit = {
    val values = encodeMeta(meta) :+ full
    val fields = MetaCols.zip(values).map {
      case (c, _: Int) => StructField(c, IntegerType, nullable = false)
      case (c, _: Long) => StructField(c, LongType, nullable = false)
      case (c, _: Double) => StructField(c, DoubleType, nullable = false)
      case (c, _: Boolean) => StructField(c, BooleanType, nullable = false)
      case (c, _: String) => StructField(c, StringType, nullable = true)
      case (c, v) => throw new IllegalArgumentException(
        s"$what: meta column '$c' holds unsupported value $v")
    }
    spark.createDataFrame(java.util.List.of(Row.fromSeq(values)), StructType(fields))
      .coalesce(1).write.mode("overwrite").parquet(dest)
  }

  /** Version `v`'s meta and `full` bit, memoized
    * ([[VersionedState.cachedMetaRow]]): chain walks and the verbs
    * re-read this one immutable row constantly. */
  private[graft] def readMetaRow(spark: SparkSession, dir: String,
                                 v: Long): (Meta, Boolean) = {
    val s = VersionedState.cachedMetaRow(spark, dir, v, MetaCols,
      s"$what at $dir v=$v")
    val full = s.last.asInstanceOf[Boolean]
    (decodeMeta(s.init, full), full)
  }

  private[graft] def readMeta(spark: SparkSession, dir: String, v: Long): Meta =
    readMetaRow(spark, dir, v)._1

  /** The version chain serving `v` ([[VersionedState.chain]]): `v` and
    * the deltas below it down to the nearest FULL version, newest
    * first. A cut chain fails by name rather than answering from a
    * partial corpus. */
  private[graft] def chain(spark: SparkSession, dir: String, v: Long): Seq[Long] =
    VersionedState.chain(spark, dir, v, subframes, what)(readMetaRow(spark, dir, _)._2)

  private[graft] def commit(spark: SparkSession, dir: String, v: Long)
                           (write: String => Unit): Unit =
    VersionedState.commitVersion(spark, dir, v, what, subframes)(write)

  /** Refuse to initialize a directory that already holds a COMMITTED
    * version: pointing a fresh builder at a standing index would
    * rebuild v=0 from the new corpus alone, silently dropping it.
    * Scratch debris (no committed version) does not block — crash
    * replay of init is just running init again. */
  protected def requireUninitialized(spark: SparkSession, dir: String): Unit = {
    val (fs, path) = VersionedState.fsPath(spark, dir)
    val existing = VersionedState.versions(fs, path)
      .filter(VersionedState.committed(fs, dir, _, subframes))
    require(existing.isEmpty,
      s"$what at $dir already holds committed versions " +
        s"(${existing.sorted.map("v=" + _).mkString(",")}) — init would " +
        "rebuild v=0 from the new corpus alone, silently dropping the " +
        "standing index; append onto the latest version, or explicitly " +
        "delete the directory to start over")
  }

  /** Require `expectedBase` to BE the latest committed version — the
    * append staleness rule, with the three-way message triage (stale /
    * never-committed / pruned-or-uninitialized). */
  protected def requireBase(spark: SparkSession, dir: String,
                            expectedBase: Long): Unit = {
    val latest = latestVersion(spark, dir)
    require(latest.contains(expectedBase),
      s"$what at $dir: append expected base v=$expectedBase but the " +
        s"latest committed version is ${latest.map("v=" + _).getOrElse("<none>")} — " +
        (latest match {
          case Some(l) if l > expectedBase =>
            "another maintainer already advanced the index; re-read the head " +
              "and retry the append on it"
          case Some(_) =>
            "the expected base was never committed (crashed append?); retry " +
              "from the committed head"
          case None =>
            "the base was pruned or the index was never initialized"
        }))
  }

  /** Resolve a read target: the pinned version when `version` is
    * given — failing by name if it is missing or uncommitted (reading
    * it as parquet would either error opaquely or, with an explicit
    * schema, silently return 0 rows — an empty index "finds" nothing)
    * — or the latest committed version otherwise. */
  protected def resolve(spark: SparkSession, dir: String,
                        version: Option[Long]): Long = version match {
    case Some(p) =>
      val (fs, _) = VersionedState.fsPath(spark, dir)
      require(VersionedState.committed(fs, dir, p, subframes),
        s"$what at $dir has no committed version v=$p " +
          s"(latest committed: ${latestVersion(spark, dir)
            .map("v=" + _).getOrElse("<none>")})")
      p
    case None =>
      latestVersion(spark, dir).getOrElse(
        throw new IllegalArgumentException(s"$what at $dir has no committed version"))
  }

  /** Fold the head's delta chain into a new FULL version at head+1 —
    * the O(state) consolidation that bounds chain length, run as a
    * scheduled job rather than a per-append tax. No-op returning the
    * head when it is already full. Returns the version serving reads. */
  def compact(spark: SparkSession, dir: String): Long = {
    val head = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$what at $dir has no committed version to compact"))
    val (meta, full) = readMetaRow(spark, dir, head)
    if (full) head
    else {
      fold(spark, dir, head, meta)
      head + 1
    }
  }

  /** Commit the fold of the non-full `head`'s chain as full version
    * `head + 1`. */
  protected def fold(spark: SparkSession, dir: String, head: Long, meta: Meta): Unit

  /** Delete versions no longer needed to read any version ≥
    * `keepFrom`: everything strictly below `keepFrom`'s chain BASE
    * (the newest full version at or below it), plus crash debris below
    * that floor ([[VersionedState.pruneToChainBase]] — the floor clamps
    * to the chain base, so it can never orphan a delta). Never prunes
    * the latest committed version; the retention window — retain ≥
    * the max expected reader/appender runtime — is the caller's
    * policy. Returns the pruned versions. */
  def prune(spark: SparkSession, dir: String, keepFrom: Long): Seq[Long] =
    VersionedState.pruneToChainBase(spark, dir, keepFrom, subframes, what)(
      readMetaRow(spark, dir, _)._2)

  /** Chain length of `version` (the latest committed one when None;
    * either fails by name when missing) — the compaction-cadence term
    * (SCALE.md "Chain-read economics"), by a META-ONLY walk cheap enough
    * for a maintenance loop to poll on every batch. */
  def chainLength(spark: SparkSession, dir: String,
                  version: Option[Long] = None): Int =
    chain(spark, dir, resolve(spark, dir, version)).length

  private[graft] def tombsPath(dir: String, w: Long): String =
    s"$dir/v=$w/${VersionedState.TombsSubframe}"

  /** The `links` carrying a committed tombs frame — an fs-existence
    * walk, no Spark job, so the no-removals common case adds zero
    * query-time cost to a probe. */
  private[graft] def tombLinks(spark: SparkSession, dir: String,
                               links: Seq[Long]): Seq[Long] = {
    val (fs, _) = VersionedState.fsPath(spark, dir)
    links.filter(w =>
      fs.exists(new org.apache.hadoop.fs.Path(s"${tombsPath(dir, w)}/_SUCCESS")))
  }

  private[graft] def writeTombs(tombs: DataFrame, scratch: String): Unit =
    tombs.coalesce(1).write.mode("overwrite")
      .parquet(s"$scratch/${VersionedState.TombsSubframe}")
}

/** A [[VersionedStore]] keyed by document id whose `remove` writes an
  * O(tombstones) delta: the OPTIONAL per-version tombstone subframe
  * ([[VersionedState.TombsSubframe]], one `tomb_id: long` column) names
  * the withdrawn documents, probes exclude them, and the next
  * [[compact]] applies and clears them. The subframe is deliberately
  * NOT in the committed-ness list: versions written before removal
  * existed stay committed, and the atomic version rename already
  * guarantees a tombs frame can never be half-visible. Tombstones are
  * CHAIN-SCOPED: a removal is live while its link is in the serving
  * chain and gone once a later full version (which absorbed it) starts
  * the chain. */
abstract class IdKeyedStore(name: String, subframes: Seq[String],
                            metaCols: Seq[String])
    extends VersionedStore(name, subframes, metaCols) {

  /** The live (not-yet-compacted) tombstoned ids of a version's serving
    * chain — one `tomb_id` column, empty-but-schema'd when the chain
    * carries no removals. Read surface for audits and the specs. */
  def liveTombs(spark: SparkSession, dir: String,
                version: Option[Long] = None): DataFrame =
    readLiveTombs(spark, dir, chain(spark, dir, resolve(spark, dir, version)))

  protected def hasLiveTombs(spark: SparkSession, dir: String,
                             links: Seq[Long]): Boolean =
    tombLinks(spark, dir, links).nonEmpty

  /** The live tombstone ids across `links` (duplicates possible when the
    * same id was removed twice — harmless to the anti-join consumers);
    * empty-but-schema'd when no link carries removals. */
  protected def readLiveTombs(spark: SparkSession, dir: String,
                              links: Seq[Long]): DataFrame = {
    val present = tombLinks(spark, dir, links)
    if (present.isEmpty)
      spark.range(0).select(col("id").as("tomb_id"))
    else present.map(w => VersionedState.cachedVersionFrame(spark, tombsPath(dir, w)))
      .reduce(_ unionByName _).select("tomb_id")
  }

  /** Normalize a caller's removal frame to the persisted tombs schema:
    * one non-null, distinct `tomb_id: long` column. Fails by name on a
    * frame without the id column. The distinct is an O(tombstones)
    * shuffle paid once at remove time so every later probe's broadcast
    * ships no duplicates. */
  protected def normalizeTombs(dir: String, removeIds: DataFrame,
                               idCol: String): DataFrame = {
    require(removeIds.columns.contains(idCol),
      s"$what at $dir: remove: the removal frame has no column '$idCol' " +
        s"(has: ${removeIds.columns.mkString(", ")})")
    removeIds.select(col(idCol).cast("long").as("tomb_id"))
      .where(col("tomb_id").isNotNull).distinct()
  }

  /** Honor live tombstones on a probe's OUTPUT pairs (`id_a`, `id_b`)
    * rather than by rewriting grouped frames whose gids are member-list
    * heads: two broadcast anti-joins on candidate-mass rows, behind an
    * fs-only existence check so the no-removals case pays nothing. */
  protected def minusTombPairs(spark: SparkSession, dir: String,
                               links: Seq[Long], pairs: DataFrame): DataFrame =
    if (!hasLiveTombs(spark, dir, links)) pairs
    else {
      val tombs = readLiveTombs(spark, dir, links)
      pairs
        .join(broadcast(tombs.select(col("tomb_id").as("_ta"))),
          col("id_a") === col("_ta"), "left_anti")
        .join(broadcast(tombs.select(col("tomb_id").as("_tb"))),
          col("id_b") === col("_tb"), "left_anti")
    }
}

/** Meta fields the two centroid stores share: the embedding dimension
  * and the TRAIN-TIME assign-distance quantiles (p50/p99 of
  * `1 − cos(v, argmin centroid)` over the training corpus) that
  * `driftReport` compares candidate batches against. */
trait CellMeta {
  def dim: Int
  def assignP50: Double
  def assignP99: Double
}

/** What both dedup stores' chain health reports about the merged
  * member-list valve. */
trait GroupValveHealth {
  def chainLength: Int
  def maxGroupSize: Int
  def maxMergedGroup: Long
  /** The merged member-list valve WILL fire at the next compact. */
  def groupValveExceeded: Boolean = maxMergedGroup > maxGroupSize
}

/** The two centroid-and-cell stores ([[SemanticIndexStore]],
  * [[IvfIndexStore]]): per version a `centroids` table
  * ([[Similarity.ivfCentroidsDf]]'s `(cell, centroid)` frame — every
  * version carries the standing table, so any committed version probes
  * alone), a `cells` frame partitioned by `cell`, and `meta`. Appends
  * assign the NEW batch against the STANDING centroids and write ONLY
  * those rows; retraining for a drifted corpus is an explicit
  * delete-and-rebuild, never a maintenance side effect. */
abstract class CellIndexStore(name: String, metaCols: Seq[String])
    extends IdKeyedStore(name, Seq("centroids", "cells", "meta"), metaCols) {

  type Meta <: CellMeta

  /** Assign a non-empty batch to cells under the standing centroids —
    * the delta rows an append writes. */
  protected def assign(batch: DataFrame, idCol: String, vecCol: String,
                       centroids: Seq[(Long, Seq[Double])], meta: Meta): DataFrame

  /** The version's centroid table, tamper-checked against its
    * persisted meta. */
  protected def readCentroids(spark: SparkSession, dir: String, v: Long,
                              meta: Meta): Seq[(Long, Seq[Double])] = {
    val centroids = Similarity.ivfCentroidsFromDf(
      VersionedState.cachedVersionFrame(spark, s"$dir/v=$v/centroids"))
    require(centroids.nonEmpty && centroids.head._2.length == meta.dim,
      s"$what at $dir v=$v: centroid table does not match its " +
        s"persisted meta ($meta) — the version directory was tampered with")
    centroids
  }

  private def writeCentroids(spark: SparkSession, scratch: String,
                             centroids: Seq[(Long, Seq[Double])]): Unit =
    Similarity.ivfCentroidsDf(spark, centroids)
      .coalesce(1).write.mode("overwrite").parquet(s"$scratch/centroids")

  /** Commit version `v`: three independent payloads, overlapped
    * ([[VersionedState.writeConcurrently]]) — the cell write is the data
    * job; the coalesce(1) centroid and meta writes are pure fixed cost
    * that no longer serializes behind it. */
  protected def commitCells(spark: SparkSession, dir: String, v: Long,
                            centroids: Seq[(Long, Seq[Double])],
                            cells: DataFrame, meta: Meta, full: Boolean): Unit =
    commit(spark, dir, v) { scratch =>
      VersionedState.writeConcurrently(Seq(
        () => writeCentroids(spark, scratch, centroids),
        () => {
          // the cell frame's on-disk layout IS the probe's scale story:
          // partitioned by cell, a probe batch reads only its touched
          // cell directories (nprobe/nlist of the corpus), pruned by the
          // static IN filter the probes derive — not a full scan that a
          // join then discards. The repartition co-locates each cell in
          // one writer task BEFORE partitionBy: without it every task
          // writes a sliver of every cell it holds — task_count × nlist
          // small files at cluster scale. One shuffle per COMMIT (over
          // delta mass for appends, corpus mass only at init/compaction),
          // zero per probe. Null-vector rows carry the SMALLEST cell id
          // (the NearestCells kernel's invalid-input branch), so no row
          // lands in the hive default partition.
          cells.repartition(col("cell"))
            .write.partitionBy("cell").mode("overwrite").parquet(s"$scratch/cells")
          requireNonEmptyCells(spark, s"$scratch/cells", dir, v)
        },
        () => writeMeta(spark, s"$scratch/meta", meta, full)))
    }

  /** An EMPTY cell-partitioned write leaves a file-less frame every
    * later chain read fails to schema-infer — appends no-op on empty
    * batches, so the only way here is a compact whose tombstones
    * removed the entire corpus: fail it by name (inside the scratch, so
    * nothing commits) rather than commit an unreadable version. An fs
    * listing, no job. */
  private def requireNonEmptyCells(spark: SparkSession, cellsPath: String,
                                   dir: String, v: Long): Unit = {
    val (fs, p) = VersionedState.fsPath(spark, cellsPath)
    require(fs.listStatus(p).exists(_.getPath.getName.startsWith("cell=")),
      s"$what at $dir: committing v=$v would write an EMPTY index (tombstones " +
        "removed every remaining row) — an empty standing index has " +
        "nothing to probe and its cell frame cannot round-trip; delete " +
        "the directory and re-init when the next corpus lands")
  }

  /** Train-time drift reference for init: assign-distance quantiles of
    * the frame the centroids were trained on, recomputed through the
    * same kernel every later driftReport batch goes through. Fails by
    * name when the corpus trained no centroids. */
  protected def trainQuantiles(dir: String, cells: DataFrame, vecCol: String,
                               centroids: Seq[(Long, Seq[Double])]): (Double, Double) = {
    require(centroids.nonEmpty,
      s"$what at $dir: the corpus trained no centroids (empty or " +
        "all-null vectors) — an empty standing index has nothing to probe")
    Similarity.assignDistQuantiles(
      Similarity.assignDistances(cells, vecCol, centroids), s"$what at $dir: init")
  }

  /** Assign a new batch against the STANDING centroids (never a
    * retrain) and write version `expectedBase + 1` holding ONLY those
    * rows — O(batch) write I/O and batch-mass work only; readers union
    * the delta chain, and the O(corpus) merge is [[compact]]'s
    * scheduled job. The base must be the latest committed version — a
    * higher head means another maintainer advanced the index, a missing
    * one that it was pruned; a crash before the rename leaves the head
    * at the base, so re-running the same append just succeeds. Ids must
    * be unique across the merged corpora. A re-dimensioned batch fails
    * by name (the assignment kernel would otherwise commit first-cell
    * assignments whose cosines all score null). An empty batch is a
    * no-op returning the base: beyond chain hygiene, an empty
    * cell-partitioned write would commit a FILE-LESS frame. Returns the
    * version written. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             idCol: String, vecCol: String, expectedBase: Long): Long = {
    requireBase(spark, dir, expectedBase)
    val meta = readMeta(spark, dir, expectedBase)
    val centroids = readCentroids(spark, dir, expectedBase, meta)
    val batchRows = Similarity.requireVecDim(batch, vecCol, meta.dim,
      s"$what at $dir: append")
    if (batchRows == 0L) expectedBase
    else {
      // the train-time quantiles copy forward unchanged: the centroids
      // stand, so the drift reference must too
      commitCells(spark, dir, expectedBase + 1, centroids,
        assign(batch, idCol, vecCol, centroids, meta), meta, full = false)
      expectedBase + 1
    }
  }

  /** Targeted REMOVAL from the standing index — takedown, opt-out, or
    * discovered contamination withdrawn WITHOUT an O(corpus) rebuild:
    * writes version `expectedBase + 1` as a TOMBSTONE DELTA (an empty
    * cell payload plus the withdrawn ids in its tombs frame) —
    * O(tombstones) write I/O, never a corpus touch. Probes stop
    * returning the removed ids at once and the next [[compact]]
    * applies and clears them. Tombstones are union-semantic across the
    * chain, so re-ingesting a removed id before the next compact is NOT
    * supported; removing an unknown id is a harmless no-op. The base
    * and crash-replay rules follow [[append]]. An empty removal frame
    * is a no-op returning the base. Returns the version written. */
  def remove(spark: SparkSession, dir: String, removeIds: DataFrame,
             idCol: String, expectedBase: Long): Long = {
    requireBase(spark, dir, expectedBase)
    val meta = readMeta(spark, dir, expectedBase)
    val centroids = readCentroids(spark, dir, expectedBase, meta)
    val tombs = normalizeTombs(dir, removeIds, idCol)
    if (tombs.isEmpty) expectedBase
    else {
      commit(spark, dir, expectedBase + 1) { scratch =>
        // four tiny independent payloads, overlapped — a tombstone delta
        // is all fixed cost, four one-file writes
        VersionedState.writeConcurrently(Seq(
          () => writeCentroids(spark, scratch, centroids),
          // the cells payload is EMPTY but must stay readable by the
          // unioning chain readers, so it is written PLAIN (one
          // schema-bearing empty file; `cell` rides as an ordinary long
          // data column) — a cell-PARTITIONED empty write would leave a
          // file-less directory every later read fails to schema-infer
          () => VersionedState.readCellChain(spark, dir,
              Seq(chain(spark, dir, expectedBase).last), None)
            .where(lit(false))
            .write.mode("overwrite").parquet(s"$scratch/cells"),
          () => writeMeta(spark, s"$scratch/meta", meta, full = false),
          () => writeTombs(tombs, scratch)))
      }
      expectedBase + 1
    }
  }

  /** The centroid-staleness signal: profile a candidate batch's assign
    * distances against the version's persisted TRAIN-TIME quantiles
    * ([[Similarity.AssignDriftReport]]). Appends assign against
    * standing centroids by design and retraining is an explicit
    * rebuild — this report is the operator's TRIGGER for that rebuild:
    * an in-distribution batch lands `fracBeyondTrainP99` near 0.01 (the
    * p99's own mass); a drifted one several times that. O(batch) — one
    * narrow argmin map, a broadcast join, one aggregate — cheap enough
    * to run on every append batch (SCALE.md "Centroid drift"). Fails by
    * name on a re-dimensioned or unscoreable batch. */
  def driftReport(spark: SparkSession, dir: String, batch: DataFrame,
                  vecCol: String,
                  version: Option[Long] = None): Similarity.AssignDriftReport = {
    val v = resolve(spark, dir, version)
    val meta = readMeta(spark, dir, v)
    val centroids = readCentroids(spark, dir, v, meta)
    Similarity.requireVecDim(batch, vecCol, meta.dim,
      s"$what at $dir: drift report")
    Similarity.assignDriftReport(batch, vecCol, centroids,
      meta.assignP50, meta.assignP99, s"$what at $dir: drift report")
  }

  /** The shared probe prelude: the version, its meta and centroids, its
    * chain, and the batch's touched cells — a re-dimensioned probe batch
    * would assign to the first cells and score null everywhere (zero
    * results with zero errors), so it fails by name instead. */
  protected def probeTarget(spark: SparkSession, dir: String, batch: DataFrame,
                            vecCol: String, nprobe: Int, version: Option[Long])
      : (Meta, Seq[(Long, Seq[Double])], Seq[Long], Seq[Long]) = {
    val v = resolve(spark, dir, version)
    val meta = readMeta(spark, dir, v)
    val centroids = readCentroids(spark, dir, v, meta)
    Similarity.requireVecDim(batch, vecCol, meta.dim, s"$what at $dir: probe")
    val links = chain(spark, dir, v)
    (meta, centroids, links, Similarity.ivfProbeCells(batch, vecCol, centroids, nprobe))
  }
}
