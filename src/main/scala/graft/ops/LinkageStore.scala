package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** INCREMENTAL ENTITY RESOLUTION — [[Dedup.resolveEntities]] as a
  * maintained, versioned state instead of a per-run recompute: the
  * standing corpus's resolved labels persist on a [[VersionedState]]
  * chain, and each arriving batch pays BATCH-mass comparison and
  * component work (the incremental-probe economics
  * `MinhashIndexStore` proved for near-dup dedup, applied to record
  * linkage) on top of ONE read of the value-mass label state (the
  * keep-latest scan every incremental probe here pays — state mass is
  * DISTINCT VALUES, the blocking economics' whole point, so this term
  * is the name table, not the corpus; measured `LinkageLoopBench`).
  * Reading the store always answers exactly what a batch
  * `resolveEntities` over the whole accumulated corpus would.
  *
  * ==State==
  * Per version: `labels` — one row per distinct `(block…, value)` with
  * its group's canonical value and a liveness bit (`live=false` rows
  * are value tombstones, the [[remove]] verb); `edges` — the verified
  * edit-distance pairs among the live values (what makes removal exact
  * without re-comparing anything: pairs are a pure function of the
  * value CONTENT, so the standing pair set restricted to survivors IS
  * the fresh build's pair set); `meta` — the persisted parameters
  * (`value_col`, `block_cols`, `max_dist`). The store owns every
  * comparison: a batch resolved under different parameters cannot
  * exist. State mass is DISTINCT-VALUE mass throughout (the
  * [[Dedup.editNearDups]] blocking economics) — row mass never enters
  * the chain.
  *
  * ==Why the incremental append is exact==
  * A standing group's label is its lexicographic-min member, so the
  * label is CONNECTIVITY-EQUIVALENT to the whole group: an edge from a
  * new value to any group member connects the component iff an edge to
  * the group's label does, and the min over (labels ∪ new values) of a
  * merged component equals the min over all its members. [[append]]
  * therefore runs connected components over BATCH-bounded edges only —
  * new×new pairs plus new×standing pairs with the standing endpoint
  * REWRITTEN to its label — and relabels exactly the standing groups
  * whose label landed in a component with a smaller canonical (a
  * broadcast of the batch-bounded change map against the value-mass
  * label state; only changed rows are written). The full standing pair
  * set is still PERSISTED (`edges` — built from the same batch-mass
  * comparisons), so removal keeps its exactness without the append
  * ever paying standing×standing work.
  *
  * ==Chain rules==
  * The [[VersionedState]] protocol verbatim: delta versions append
  * only changed/new label rows (keep-latest-by-version read), commits
  * are atomic renames, a cut chain fails by name, [[compact]] folds to
  * one full version and [[prune]] reclaims below it. `U+0001` must not
  * occur in block or value strings (the composite-key separator —
  * [[Dedup.resolveEntities]]'s contract), and block column names must
  * not contain commas (the persisted `block_cols` separator).
  *
  * Unlike the sketch stores, a removed VALUE may be re-appended before
  * any compact: liveness is a label-state bit, not a chain-scoped
  * union, so a returning value simply probes as new (its re-computed
  * pairs equal the content-determined ones it had, and duplicate edge
  * rows cannot change a connected component).
  */
object LinkageStore extends VersionedStore("linkage store",
    Seq("labels", "edges", "meta"), Seq("value_col", "block_cols", "max_dist")) {

  /** The comparison parameters a chain was built with. */
  final case class LinkMeta(valueCol: String, blockCols: Seq[String],
                            maxDist: Int)

  type Meta = LinkMeta

  protected def encodeMeta(m: LinkMeta): Seq[Any] =
    Seq[Any](m.valueCol, m.blockCols.mkString(","), m.maxDist)

  protected def decodeMeta(s: Seq[Any], full: Boolean): LinkMeta =
    LinkMeta(s(0).asInstanceOf[String],
      s(1).asInstanceOf[String].split(",").toSeq, s(2).asInstanceOf[Int])

  private val Sep = "\u0001"

  /** Keep-latest-by-version over the chain's label rows, tombstones
    * still present (callers filter `live`) — `(block…, value, label,
    * live)`. */
  private def labelState(spark: SparkSession, dir: String,
                         links: Seq[Long], meta: LinkMeta): DataFrame = {
    // link frames memoized per version directory
    // ([[VersionedState.cachedVersionFrame]] — immutable by protocol)
    val all = links.map(w =>
      VersionedState.cachedVersionFrame(spark, s"$dir/v=$w/labels")
        .withColumn("_v", lit(w)))
      .reduce(_ unionByName _)
    val key = (meta.blockCols :+ meta.valueCol).map(col)
    val w = Window.partitionBy(key: _*).orderBy(col("_v").desc)
    all.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn", "_v")
  }

  /** The stored pair set across the chain, dead-endpoint pairs NOT yet
    * filtered (removal filters against its member set; compact filters
    * against the live state). */
  private def edgeState(spark: SparkSession, dir: String,
                        links: Seq[Long]): DataFrame =
    links.map(w =>
      VersionedState.cachedVersionFrame(spark, s"$dir/v=$w/edges"))
      .reduce(_ unionByName _)

  private def commitVersion(spark: SparkSession, dir: String, v: Long,
                            labels: DataFrame, edges: DataFrame,
                            meta: LinkMeta, full: Boolean): Unit =
    commit(spark, dir, v) { scratch =>
      // three independent payloads (disjoint paths, nothing reads
      // another's output) — overlapped so their fixed job costs don't
      // serialize ([[VersionedState.writeConcurrently]]); shared cached
      // upstreams fill once under Spark's per-partition cache locks
      VersionedState.writeConcurrently(Seq(
        () => labels.write.mode("overwrite").parquet(s"$scratch/labels"),
        () => edges.write.mode("overwrite").parquet(s"$scratch/edges"),
        () => writeMeta(spark, s"$scratch/meta", meta, full)))
    }

  private def requireCols(df: DataFrame, meta: LinkMeta, dir: String,
                          what: String): Unit = {
    val need = meta.blockCols :+ meta.valueCol
    val missing = need.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"linkage store at $dir: the $what frame is missing column(s) " +
        s"${missing.mkString(", ")} (has: ${df.columns.mkString(", ")}) — " +
        "the persisted parameters name them")
  }

  /** Distinct non-null `(block…, value)` keys of a frame. */
  private def distinctValues(df: DataFrame, meta: LinkMeta): DataFrame =
    df.select((meta.blockCols :+ meta.valueCol).map(col): _*)
      .where(col(meta.valueCol).isNotNull).distinct()

  private def compositeKey(meta: LinkMeta, value: org.apache.spark.sql.Column) =
    concat_ws(Sep, meta.blockCols.map(col) :+ value: _*)

  /** The length-band + thresholded-Levenshtein match predicate both
    * pair builders share — one definition, so the batch paths and the
    * reference batch operator cannot drift. */
  private def nearMatch(a: org.apache.spark.sql.Column,
                        b: org.apache.spark.sql.Column, maxDist: Int) =
    abs(length(a) - length(b)) <= maxDist &&
      levenshtein(a, b, maxDist) >= 0

  /** Resolve the corpus ONCE and write it as the initial version (v=0):
    * the [[Dedup.editNearDups]] pairs, their transitive components,
    * min-member labels, plus a label row for every unlinked distinct
    * value. Refuses an already-initialized directory (the store-init
    * doctrine — rebuilds are explicit delete-and-recreate). Returns 0. */
  def init(df: DataFrame, dir: String, valueCol: String,
           blockCols: Seq[String], maxDist: Int): Long = {
    val spark = df.sparkSession
    require(blockCols.nonEmpty, "linkage store needs at least one " +
      "blocking column (the editNearDups all-pairs contract)")
    require(blockCols.forall(!_.contains(",")),
      s"block column names must not contain ',' (the persisted " +
        s"block_cols separator): ${blockCols.mkString("; ")}")
    requireUninitialized(spark, dir)
    val meta = LinkMeta(valueCol, blockCols, maxDist)
    requireCols(df, meta, dir, "init")
    val values = OpCaches.registered(distinctValues(df, meta))
    val pairs = OpCaches.registered(
      Dedup.editNearDups(df, valueCol, blockCols, maxDist)
        .select(blockCols.map(col) :+ col("value_a") :+ col("value_b"): _*))
    val cc = Dedup.connectedComponents(
      pairs.select(compositeKey(meta, col("value_a")).as("ka"),
        compositeKey(meta, col("value_b")).as("kb")), "ka", "kb")
      .select(col("id").as("_ek"),
        substring_index(col("group_id"), Sep, -1).as("_canon"))
    val labels = values
      .withColumn("_ek", compositeKey(meta, col(valueCol)))
      .join(cc, Seq("_ek"), "left")
      .select(blockCols.map(col) ++ Seq(col(valueCol),
        coalesce(col("_canon"), col(valueCol)).as("label"),
        lit(true).as("live")): _*)
    commitVersion(spark, dir, 0L, labels, pairs, meta, full = true)
    0L
  }

  /** Fold a batch into the standing resolution — BATCH-mass comparison
    * and component work only (see the object doc's exactness argument)
    * — and write the changed/new label rows plus the batch's verified
    * pairs as version `expectedBase + 1`. Batch values already standing
    * are skipped entirely (re-sending a batch is a content-level
    * no-op); a batch with NO new values returns the base without
    * growing the chain. The base must be the latest committed version
    * ([[requireBase]] — crash replay follows the store
    * doctrine: a replayed append either no-ops on its own committed
    * content or fails the base check loudly). Returns the version
    * serving the result. */
  def append(spark: SparkSession, dir: String, batch: DataFrame,
             expectedBase: Long): Long = {
    requireBase(spark, dir, expectedBase)
    val meta = readMeta(spark, dir, expectedBase)
    requireCols(batch, meta, dir, "batch")
    val links = chain(spark, dir, expectedBase)
    val standing = OpCaches.registered(
      labelState(spark, dir, links, meta).where(col("live")))
    val keyCols = meta.blockCols :+ meta.valueCol
    val newVals = OpCaches.registered(
      distinctValues(batch, meta).join(standing, keyCols, "left_anti"))
    if (newVals.isEmpty) return expectedBase

    // new×new: the editNearDups shape over the batch's new values only
    val a = newVals.select(meta.blockCols.map(col) :+
      col(meta.valueCol).as("value_a"): _*)
    val b = newVals.select(meta.blockCols.map(col) :+
      col(meta.valueCol).as("value_b"): _*)
    val nn = a.join(b, meta.blockCols)
      .where(col("value_a") < col("value_b") &&
        nearMatch(col("value_a"), col("value_b"), meta.maxDist))
      .select(meta.blockCols.map(col) :+ col("value_a") :+
        col("value_b"): _*)
    // new×standing: every cross pair, plus the standing side's label
    // (the CC shortcut) — ONE join producing both the stored pair and
    // the component edge
    val s = standing.select(meta.blockCols.map(col) :+
      col(meta.valueCol).as("_sv") :+ col("label").as("_sl"): _*)
    val ns = OpCaches.registered(
      newVals.select(meta.blockCols.map(col) :+
        col(meta.valueCol).as("_nv"): _*)
        .join(s, meta.blockCols)
        .where(nearMatch(col("_nv"), col("_sv"), meta.maxDist)))
    val nsPairs = ns.select(meta.blockCols.map(col) :+
      least(col("_nv"), col("_sv")).as("value_a") :+
      greatest(col("_nv"), col("_sv")).as("value_b"): _*)
    val ccEdges = nn
      .select(compositeKey(meta, col("value_a")).as("ka"),
        compositeKey(meta, col("value_b")).as("kb"))
      .unionByName(ns.select(
        compositeKey(meta, col("_nv")).as("ka"),
        compositeKey(meta, col("_sl")).as("kb")))
    val cc = OpCaches.registered(Dedup.connectedComponents(ccEdges, "ka", "kb")
      .select(col("id").as("_ek"),
        substring_index(col("group_id"), Sep, -1).as("_canon")))
    val newLabels = newVals
      .withColumn("_ek", compositeKey(meta, col(meta.valueCol)))
      .join(cc, Seq("_ek"), "left")
      .select(meta.blockCols.map(col) ++ Seq(col(meta.valueCol),
        coalesce(col("_canon"), col(meta.valueCol)).as("label"),
        lit(true).as("live")): _*)
    // standing groups whose label's component found a smaller canonical:
    // relabel their members — a batch-bounded change map broadcast
    // against the value-mass state, only changed rows written
    val changedMap = cc
      .withColumn("_olbl", substring_index(col("_ek"), Sep, -1))
      .where(col("_canon") =!= col("_olbl"))
      .select(col("_ek").as("_mk"), col("_canon"))
    val relabeled = standing
      .withColumn("_mk", compositeKey(meta, col("label")))
      .join(broadcast(changedMap), Seq("_mk"))
      .select(meta.blockCols.map(col) ++ Seq(col(meta.valueCol),
        col("_canon").as("label"), lit(true).as("live")): _*)
    val v = expectedBase + 1
    commitVersion(spark, dir, v, newLabels.unionByName(relabeled),
      nn.unionByName(nsPairs), meta, full = false)
    v
  }

  /** TAKEDOWN of values: write version `expectedBase + 1` whose label
    * rows tombstone the removed `(block…, value)` keys and re-resolve
    * the survivors of their groups — after which every read answers
    * exactly what a fresh [[init]] over the corpus WITHOUT the removed
    * values would (pairs are content-determined, so the standing pair
    * set minus pairs touching removed values IS the fresh pair set;
    * the re-run components over it are the fresh components, splits
    * and canonical changes included). Cost: one scan of the chain's
    * label and edge state plus component work on the AFFECTED groups
    * only — never a corpus re-comparison. Values not in the store are
    * ignored; an empty effective removal returns the base. The removed
    * value may be re-appended later (object doc). Returns the version
    * serving the result. */
  def remove(spark: SparkSession, dir: String, removeValues: DataFrame,
             expectedBase: Long): Long = {
    requireBase(spark, dir, expectedBase)
    val meta = readMeta(spark, dir, expectedBase)
    requireCols(removeValues, meta, dir, "removal")
    val links = chain(spark, dir, expectedBase)
    val standing = OpCaches.registered(
      labelState(spark, dir, links, meta).where(col("live")))
    val keyCols = meta.blockCols :+ meta.valueCol
    val tombs = OpCaches.registered(distinctValues(removeValues, meta)
      .join(standing.select(keyCols.map(col): _*), keyCols, "left_semi"))
    if (tombs.isEmpty) return expectedBase
    // every member of every group that loses a value (removed included)
    val affectedLabels = standing.join(tombs, keyCols, "left_semi")
      .select(meta.blockCols.map(col) :+ col("label"): _*).distinct()
    val members = OpCaches.registered(
      standing.join(broadcast(affectedLabels),
        meta.blockCols :+ "label", "left_semi"))
    val remaining = OpCaches.registered(
      members.join(tombs, keyCols, "left_anti"))
    // surviving pairs of the affected groups: both endpoints remaining
    val ra = remaining.select(meta.blockCols.map(col) :+
      col(meta.valueCol).as("value_a"): _*)
    val rb = remaining.select(meta.blockCols.map(col) :+
      col(meta.valueCol).as("value_b"): _*)
    val survivorPairs = edgeState(spark, dir, links)
      .join(broadcast(ra), meta.blockCols :+ "value_a", "left_semi")
      .join(broadcast(rb), meta.blockCols :+ "value_b", "left_semi")
      .distinct()
    val cc = Dedup.connectedComponents(
      survivorPairs.select(compositeKey(meta, col("value_a")).as("ka"),
        compositeKey(meta, col("value_b")).as("kb")), "ka", "kb")
      .select(col("id").as("_ek"),
        substring_index(col("group_id"), Sep, -1).as("_canon"))
    val relabeled = remaining
      .withColumn("_ek", compositeKey(meta, col(meta.valueCol)))
      .join(cc, Seq("_ek"), "left")
      .select(meta.blockCols.map(col) ++ Seq(col(meta.valueCol),
        coalesce(col("_canon"), col(meta.valueCol)).as("label"),
        lit(true).as("live")): _*)
    val tombRows = tombs.select(meta.blockCols.map(col) ++ Seq(
      col(meta.valueCol), lit(null).cast("string").as("label"),
      lit(false).as("live")): _*)
    val emptyEdges = VersionedState.cachedVersionFrame(spark, s"$dir/v=$expectedBase/edges")
      .where(lit(false))
    val v = expectedBase + 1
    commitVersion(spark, dir, v, tombRows.unionByName(relabeled),
      emptyEdges, meta, full = false)
    v
  }

  /** The live resolved labels — `(block…, value, label)` — served by
    * the latest version (or a pinned one): what a batch
    * [[Dedup.resolveEntities]] over the accumulated live corpus would
    * assign each distinct value. */
  def labels(spark: SparkSession, dir: String,
             version: Option[Long] = None): DataFrame = {
    val v = resolve(spark, dir, version)
    val meta = readMeta(spark, dir, v)
    labelState(spark, dir, chain(spark, dir, v), meta)
      .where(col("live")).drop("live")
  }

  /** Relabel a row frame through the store — the
    * [[Dedup.resolveEntities]] output contract (`canonical_<valueCol>`
    * appended; unlinked values keep their own value, NULL passes
    * through NULL), answered from the standing state instead of a
    * recompute. One join of the caller's rows against the value-mass
    * label state. */
  def resolveRows(spark: SparkSession, dir: String, df: DataFrame,
                  version: Option[Long] = None): DataFrame = {
    val v = resolve(spark, dir, version)
    val meta = readMeta(spark, dir, v)
    requireCols(df, meta, dir, "resolve")
    val lbl = labels(spark, dir, Some(v))
      .select((meta.blockCols :+ meta.valueCol).map(col) :+
        col("label").as("_lbl"): _*)
    df.join(lbl, meta.blockCols :+ meta.valueCol, "left")
      .withColumn(s"canonical_${meta.valueCol}",
        when(col(meta.valueCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("_lbl"), col(meta.valueCol))))
      .drop("_lbl")
  }

  /** The fold: keep-latest live labels, the distinct live-endpoint
    * pair set, tombstone debt dropped (a full version starts the chain,
    * so the markers have nothing left to override). O(state) — the
    * scheduled consolidation, after which [[prune]] reclaims the folded
    * links. */
  protected def fold(spark: SparkSession, dir: String, head: Long,
                     meta: LinkMeta): Unit = {
    val links = chain(spark, dir, head)
    val live = OpCaches.registered(
      labelState(spark, dir, links, meta).where(col("live")))
    val la = live.select(meta.blockCols.map(col) :+
      col(meta.valueCol).as("value_a"): _*)
    val lb = live.select(meta.blockCols.map(col) :+
      col(meta.valueCol).as("value_b"): _*)
    val liveEdges = edgeState(spark, dir, links)
      .join(la, meta.blockCols :+ "value_a", "left_semi")
      .join(lb, meta.blockCols :+ "value_b", "left_semi")
      .distinct()
    commitVersion(spark, dir, head + 1, live, liveEdges, meta, full = true)
  }
}
