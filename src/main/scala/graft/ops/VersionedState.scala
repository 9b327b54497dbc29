package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The shared versioned-snapshot commit protocol behind every
  * [[VersionedStore]] — the four index stores and the accepted sinks'
  * archive chains ([[graft.streaming.AcceptedSink]]) — one
  * implementation of the rules every persisted incremental state here
  * follows (the [[graft.streaming.CdcStream]] rules):
  *
  *  - state lives under `dir/v=N`, one immutable directory per
  *    version, each holding a fixed set of named parquet subframes;
  *  - a version is COMMITTED iff every subframe carries its `_SUCCESS`
  *    marker AND the version directory itself was produced by the
  *    atomic rename below — readers take the latest committed version
  *    and never see a partial one;
  *  - a version is assembled in a hidden scratch directory
  *    (`dir/.tmp-v=N-<nonce>`) and committed by ONE rename to
  *    `dir/v=N`: a crash mid-write leaves only scratch debris
  *    (invisible to the version listing), and two maintainers racing
  *    the same version cannot interleave part-files — the loser either
  *    sees the destination exist, or (on a filesystem whose rename
  *    moves the source INTO an existing destination, the HDFS
  *    semantics) detects its scratch nested inside the winner's
  *    version, removes it, and fails by name;
  *  - an existing UNCOMMITTED destination at commit time is crash
  *    debris from a pre-rename protocol and is replaced — the
  *    crash-replay rule: re-running the same maintenance step
  *    overwrites the failed attempt. Debris is moved ASIDE by rename
  *    (to `dir/.debris-v=N-<nonce>`), never deleted in place: between
  *    the committed-ness check and an in-place delete, a racing
  *    maintainer's atomic rename can land a fresh commit at the
  *    destination, and the delete would destroy it — a silent lost
  *    update. The rename-aside is atomic, so whatever sat at the
  *    destination survives intact; if the moved directory turns out to
  *    carry every `_SUCCESS` marker it WAS a fresh commit, and it is
  *    renamed straight back with the race reported by name;
  *  - a pruner may delete any version except the latest committed one
  *    and, while a job runs against version V, V itself (plain parquet
  *    has no snapshot pin — retain ≥ the max expected job runtime).
  *    Scratch directories older than that runtime are crash debris and
  *    prune with it. */
private[graft] object VersionedState {

  private val VersionRe = "v=(\\d+)".r

  def fsPath(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val path = new Path(dir)
    (path.getFileSystem(spark.sessionState.newHadoopConf()), path)
  }

  def versions(fs: FileSystem, path: Path): Seq[Long] =
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .map(_.getPath.getName)
      .collect { case VersionRe(v) => v.toLong }

  def committed(fs: FileSystem, dir: String, v: Long,
                subframes: Seq[String]): Boolean =
    subframes.forall(sub =>
      fs.exists(new Path(s"$dir/v=$v/$sub/_SUCCESS")))

  /** Latest committed version, or None before the first init. Scratch
    * directories don't match the version pattern and are invisible; a
    * partial version (missing markers) is skipped — readers fall back
    * to the newest COMPLETE version, stale-but-consistent. */
  def latestVersion(spark: SparkSession, dir: String,
                    subframes: Seq[String]): Option[Long] = {
    val (fs, path) = fsPath(spark, dir)
    versions(fs, path).sorted.reverse.find(committed(fs, dir, _, subframes))
  }

  private val scratchCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Assemble version `v` in a scratch directory via `write(scratch)`,
    * then commit it with one atomic rename — see the protocol above.
    * `write` must leave every subframe (with its `_SUCCESS`) under the
    * scratch path it is given. The scratch nonce derives from the JVM
    * name + a per-process counter, not wall clock. */
  def commitVersion(spark: SparkSession, dir: String, v: Long,
                    what: String, subframes: Seq[String])
                   (write: String => Unit): Unit = {
    val (fs, _) = fsPath(spark, dir)
    val nonce = java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "") + "-" + scratchCounter.incrementAndGet()
    val scratchName = s".tmp-v=$v-$nonce"
    val scratch = s"$dir/$scratchName"
    val dest = new Path(s"$dir/v=$v")
    try {
      write(scratch)
      def loseRace(): Nothing =
        throw new IllegalStateException(
          s"$what at $dir: lost the commit race for v=$v — another " +
            "maintainer committed it first; re-read the head and retry")
      // a committed destination is a lost race; an uncommitted one is
      // crash debris and is replaced (the crash-replay rule) — moved
      // aside by atomic rename, never deleted in place, so a fresh
      // commit landing between this check and the clearing cannot be
      // destroyed (see clearDebris)
      if (fs.exists(dest)) {
        if (committed(fs, dir, v, subframes)) loseRace()
        clearDebris(fs, dir, v, what, subframes, nonce)
      }
      if (!fs.rename(new Path(scratch), dest)) loseRace()
      // HDFS-semantics rename moves the source INTO an existing
      // destination instead of failing: detect the nested scratch,
      // remove it, and report the race
      val nested = new Path(dest, scratchName)
      if (fs.exists(nested)) {
        fs.delete(nested, true)
        loseRace()
      }
    } finally {
      val leftover = new Path(scratch)
      if (fs.exists(leftover)) fs.delete(leftover, true)
    }
  }

  /** Clear crash debris found at `dir/v=$v` ahead of a commit's rename,
    * without the delete-in-place TOCTOU: the caller just observed the
    * destination existing UNCOMMITTED, but a racing maintainer's atomic
    * rename may land a fresh commit there between that observation and
    * any clearing action — an in-place `delete(dest)` would destroy it
    * silently. So the destination is moved ASIDE by one atomic rename
    * (whatever it was, it survives intact at `.debris-v=N-<nonce>`),
    * then re-examined off to the side: a directory carrying every
    * subframe `_SUCCESS` was a fresh commit, not debris — it is renamed
    * straight back and the race reported by name. Genuine debris (the
    * only thing a crashed pre-rename-protocol maintainer can leave,
    * since directory contents never change after the crash) is deleted
    * from its aside path. The one unwinnable interleaving — the slot
    * was re-committed by a THIRD maintainer while the displaced commit
    * sat aside — cannot be repaired automatically (two competing
    * commits claimed one version) and fails naming the intact aside
    * path instead of losing either silently. */
  private[graft] def clearDebris(fs: FileSystem, dir: String, v: Long,
                               what: String, subframes: Seq[String],
                               nonce: String): Unit = {
    val dest = new Path(s"$dir/v=$v")
    val debris = new Path(s"$dir/.debris-v=$v-$nonce")
    if (!fs.rename(dest, debris))
      // the destination vanished or is contended mid-move: another
      // maintainer is clearing (or committing) this slot right now
      throw new IllegalStateException(
        s"$what at $dir: lost the commit race for v=$v — another " +
          "maintainer committed it first; re-read the head and retry")
    if (subframes.forall(sub => fs.exists(new Path(debris, s"$sub/_SUCCESS")))) {
      // the moved directory was a COMPLETE version: a fresh commit
      // landed in the race window and we displaced it — put it back
      if (!fs.rename(debris, dest))
        throw new IllegalStateException(
          s"$what at $dir: commit v=$v raced twice — a fresh commit " +
            s"landed while clearing debris, was moved aside, and the slot " +
            s"was re-committed before it could be restored; the displaced " +
            s"version is intact at $debris — restore it manually")
      throw new IllegalStateException(
        s"$what at $dir: lost the commit race for v=$v — another " +
          "maintainer committed it first; re-read the head and retry")
    }
    fs.delete(debris, true)
  }

  /** Run the INDEPENDENT subframe writes of one commit concurrently
    * (guide-§2.6 overlap of independent jobs): each task is a small
    * Spark action whose fixed costs — job scheduling, the coalesce(1)
    * meta write, per-file commit renames — otherwise run strictly
    * back-to-back on the driver while the executors idle. The tasks
    * write DISJOINT paths under the same scratch directory, nothing
    * reads another task's output, and the caller's atomic version
    * rename publishes all-or-nothing, so ordering between them is
    * immaterial. A task whose output another write DOES consume (the
    * minhash bands table derives from the just-written index bytes)
    * stays sequential INSIDE its task. The same overlap serves other
    * independent units: two pipeline stages, four store inits. Blocks
    * until every task finishes — every task runs to completion, so no
    * half-cancelled write can outlive the attempt — then rethrows the
    * failure of the earliest failed task in LIST order, not the first
    * to fail in time. */
  def writeConcurrently(tasks: Seq[() => Unit]): Unit =
    if (tasks.sizeIs <= 1) tasks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      try {
        val futs = tasks.map(t => pool.submit(
          new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
        val failures = futs.flatMap(f => scala.util.Try(f.get()).failed.toOption)
        failures.headOption.foreach {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
          case e => throw e
        }
      } finally pool.shutdown()
    }

  /** Fail BY NAME when a persisted meta frame predates the current
    * engine's schema (a required column is missing) — selecting the
    * column would otherwise throw an opaque unresolved-column planner
    * error on every read/probe/append of a standing index written by
    * an older version. The remedy is a rebuild: meta carries content
    * parameters, and an old index cannot prove what it was built
    * with. */
  def requireMetaCols(have: Seq[String], need: Seq[String],
                      what: String): Unit = {
    val missing = need.filterNot(have.contains)
    require(missing.isEmpty,
      s"$what: the persisted meta lacks column(s) ${missing.mkString(", ")} " +
        s"(has: ${have.mkString(", ")}) — the index was written by an older " +
        "engine version and cannot prove its build parameters; delete the " +
        "directory and rebuild")
  }

  // ---- per-version META memo -------------------------------------------
  //
  // Every store verb re-reads its version's one-row meta frame (a parquet
  // footer decode + a one-row Spark job, ~70-150 ms of pure fixed cost),
  // and chain walks read one per LINK — a composed lifecycle gate was
  // measured spending whole seconds on ~50 meta re-reads of bytes that the
  // protocol guarantees never change (a committed version directory is
  // immutable; the only legal "change" is deletion). The memo keys on the
  // meta DIRECTORY's file listing signature (names + lengths + mtimes —
  // one FS listStatus, no Spark job), so an out-of-protocol rewrite at the
  // same path is still seen and re-read; a genuinely new version is a new
  // key. Values are one boxed row each; the map is cleared past a bound
  // rather than LRU-tracked (thousands of entries would be ~100 KB — the
  // bound exists only to keep a pathological many-store JVM flat).

  private val metaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Any])]()
  private val MemoBound = 8192

  /** `memo`'s value at `key` when it was computed against `dir`'s
    * current file-listing signature (names + lengths + mtimes, one
    * `listStatus`); otherwise `compute(fs, dir)`, stored under the new
    * signature. Each memo is cleared when it reaches [[MemoBound]]. */
  private def memoized[V](
      memo: java.util.concurrent.ConcurrentHashMap[String, (String, V)],
      key: String, spark: SparkSession, dir: String)
      (compute: (FileSystem, Path) => V): V = {
    val (fs, p) = fsPath(spark, dir)
    val sig = fs.listStatus(p).map(s =>
      s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")
    Option(memo.get(key)) match {
      case Some((oldSig, v)) if oldSig == sig => v
      case _ =>
        val v = compute(fs, p)
        if (memo.size() >= MemoBound) memo.clear()
        memo.put(key, (sig, v))
        v
    }
  }

  /** The values of version `v`'s one-row meta frame in `cols` order,
    * memoized per (dir, v) against the meta directory's listing
    * signature. Fails by name ([[requireMetaCols]]) when the persisted
    * frame predates `cols` — on the first read; a memo hit already
    * passed that check for the same bytes.
    *
    * The miss path reads the row DIRECTLY with parquet-mr on the
    * driver — no Spark job, no file-index build: a meta frame is one
    * row of scalars, and the Spark read each first contact used to pay
    * (driver-side listing + schema inference + a one-row job) was
    * ~50–150 ms of pure fixed cost per version touched, a dozen times
    * per composed lifecycle gate. Values decode to the same boxed
    * types a Spark `Row.toSeq` carried (Int/Long/Boolean/Double/
    * String), so the stores' casts are unchanged; the store specs
    * round-trip every meta shape through this path. */
  def cachedMetaRow(spark: SparkSession, dir: String, v: Long,
                    cols: Seq[String], what: String): Seq[Any] = {
    val metaDir = s"$dir/v=$v/meta"
    memoized(metaMemo, metaDir, spark, metaDir)(readOneRowParquet(_, _, cols, what))
  }

  /** Decode the single row of a one-row parquet directory on the
    * driver (parquet-mr, no Spark job) — the meta-frame fast path.
    * Handles every scalar type the stores persist; anything else (or a
    * row count other than one) fails by name — meta frames are written
    * `coalesce(1)` by the stores themselves, so either is protocol
    * corruption, not a case to paper over. */
  private def readOneRowParquet(fs: FileSystem, metaDir: Path,
                                cols: Seq[String], what: String): Seq[Any] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.ColumnIOFactory
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val parts = fs.listStatus(metaDir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    var schema: org.apache.parquet.schema.MessageType = null
    val rows = scala.collection.mutable.ArrayBuffer.empty[Group]
    parts.foreach { p =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(p, fs.getConf))
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        if (schema == null) schema = fileSchema
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val rr = new ColumnIOFactory().getColumnIO(fileSchema)
            .getRecordReader(pages, new GroupRecordConverter(fileSchema))
          var i = 0L
          while (i < pages.getRowCount) { rows += rr.read(); i += 1 }
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    require(schema != null && rows.length == 1,
      s"$what: the meta frame at $metaDir holds ${rows.length} row(s), " +
        "not exactly one — the version's meta was corrupted or written " +
        "outside the store protocol")
    requireMetaCols(
      (0 until schema.getFieldCount).map(schema.getFieldName), cols, what)
    val row = rows.head
    cols.map { c =>
      val idx = schema.getFieldIndex(c)
      schema.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
        case INT32 => row.getInteger(idx, 0)
        case INT64 => row.getLong(idx, 0)
        case BOOLEAN => row.getBoolean(idx, 0)
        case DOUBLE => row.getDouble(idx, 0)
        case FLOAT => row.getFloat(idx, 0)
        case BINARY => row.getString(idx, 0)
        case other => throw new IllegalStateException(
          s"$what: meta column '$c' at $metaDir has unsupported parquet " +
            s"type $other — the stores persist scalars only")
      }
    }
  }

  // ---- per-directory SCHEMA memo ---------------------------------------
  //
  // The accepted sinks re-derive their standing schema (a
  // spark.read.parquet(...).schema — driver-side listing + footer
  // inference, ~50-150 ms) on EVERY micro-batch's accept-time policy
  // check and again per fold. The bytes are immutable by protocol
  // (archive versions never change; a live batch directory changes only
  // under replay rewrite), so the schema memoizes against the same
  // file-listing signature the meta memo uses — a rewrite is seen and
  // re-inferred, an unchanged directory costs one listStatus.

  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()

  /** The parquet schema under `path`, memoized against the directory's
    * file-listing signature. */
  def cachedParquetSchema(spark: SparkSession,
                          path: String): org.apache.spark.sql.types.StructType =
    memoized(schemaMemo, path, spark, path)((_, _) => spark.read.parquet(path).schema)

  // ---- per-version-directory FRAME memo --------------------------------
  //
  // Every chain walk re-created its link frames with
  // spark.read.parquet(...) — a fresh file listing + footer schema
  // inference per link per verb (~40-80 ms of driver time each), dozens
  // of times per composed lifecycle gate, over version directories the
  // protocol guarantees immutable. The DataFrame (its resolved relation
  // and file index) memoizes against the same listing signature as the
  // meta memo, keyed per session: an out-of-protocol rewrite is seen
  // and re-read, and a dead test session's frames can never leak into a
  // new one. Only VERSION-directory reads go through here — mutable
  // paths (live batch dirs, scratch) must keep the fresh read.

  private val frameMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (String, DataFrame)]()

  /** A parquet frame over the protocol-immutable `path`, memoized
    * against the directory's file-listing signature. */
  def cachedVersionFrame(spark: SparkSession, path: String): DataFrame =
    memoized(frameMemo, s"${System.identityHashCode(spark)}:$path", spark, path)(
      (_, _) => spark.read.parquet(path))

  /** The version chain serving `v`, newest first: `v` and the delta
    * versions below it down to (and including) the nearest FULL
    * version, where `isFull(w)` reads the store's persisted full-bit
    * (each store keeps it in its own meta schema). Every link must be
    * committed — a cut chain (a pruner deleted a link the protocol
    * protects) fails by name rather than answering from a partial
    * corpus. Shared by every chain so the rules cannot drift between
    * them. */
  def chain(spark: SparkSession, dir: String, v: Long,
            subframes: Seq[String], what: String)
           (isFull: Long => Boolean): Seq[Long] = {
    val (fs, _) = fsPath(spark, dir)
    val links = scala.collection.mutable.ArrayBuffer.empty[Long]
    var w = v
    var foundFull = false
    while (!foundFull && w >= 0) {
      require(committed(fs, dir, w, subframes),
        s"$what at $dir: version v=$v's chain needs v=$w, which is " +
          "missing or uncommitted — the chain was pruned or a commit " +
          "crashed; recover from a full version or rebuild")
      links += w
      foundFull = isFull(w)
      w -= 1
    }
    if (!foundFull) throw new IllegalStateException(
      s"$what at $dir: no full version at or below v=$v — v=0 is always " +
        "full, so the chain base was deleted outside the protocol")
    links.toSeq
  }

  /** The `cells` subframe serving a version chain — the union of the
    * given links — optionally pruned to a probe's touched cells. One
    * implementation for both cell-partitioned stores
    * ([[IvfIndexStore]], [[SemanticIndexStore]]) so the plan-critical
    * trick cannot drift: the prune filter goes on the RAW inferred
    * partition column (int — cell ids are 0..nlist-1, always int-safe)
    * BEFORE the long cast that restores in-memory schema parity, so
    * `PruneFileSourcePartitions` sees a plain partition-attribute IN
    * list on EVERY chain link and each scan reads only the touched
    * cell directories (plan-spec-pinned in both stores' specs). */
  def readCellChain(spark: SparkSession, dir: String, links: Seq[Long],
                    onlyCells: Option[Seq[Long]]): DataFrame = {
    import org.apache.spark.sql.functions.col
    links.map { w =>
      val raw = cachedVersionFrame(spark, s"$dir/v=$w/cells")
      val pruned = onlyCells match {
        case Some(cs) => raw.where(col("cell").isin(cs.map(_.toInt): _*))
        case None => raw
      }
      pruned.withColumn("cell", col("cell").cast("long"))
    }.reduce(_ unionByName _)
  }

  /** The OPTIONAL per-version tombstone subframe (`dir/v=N/tombs`, one
    * `tomb_id: long` column) — see [[IdKeyedStore]]. */
  val TombsSubframe = "tombs"

  private val ScratchRe = "\\.(?:tmp|debris)-v=(\\d+)-.*".r
  private val DebrisRe = "\\.debris-v=(\\d+)-.*".r

  /** Delete versions strictly below `keepFrom`'s chain BASE (the newest
    * full version at or below it, where `isFull(w)` reads the store's
    * full bit). Deltas make the naive "delete < keepFrom" unsafe — a
    * surviving version's chain may dip below the floor — so the floor
    * clamps to the chain base and can never orphan a link; space
    * reclamation advances as scheduled compactions introduce newer
    * full versions.
    *
    * Below that floor it deletes every committed version, any
    * uncommitted version directories (crash debris of
    * long-dead maintainers) and any scratch or aside directories
    * (`.tmp-v=N-<nonce>`, a maintainer hard-killed mid-write;
    * `.debris-v=N-<nonce>`, a maintainer hard-killed mid-[[clearDebris]])
    * whose target version sits below the floor — a scratch for a
    * below-floor version can never commit anything a reader is allowed to see, and
    * without this sweep a crashed compact's corpus-mass scratch would
    * leak forever. A scratch AT or ABOVE the floor is left alone: it
    * may belong to a live maintainer. REFUSES to prune the latest
    * committed version or anything above `keepFrom` — the protocol's
    * retention rule is the caller's job (retain ≥ max job runtime);
    * this method only enforces that the head always survives. Returns
    * the pruned version numbers. */
  def pruneToChainBase(spark: SparkSession, dir: String, keepFrom: Long,
                       subframes: Seq[String], what: String)
                      (isFull: Long => Boolean): Seq[Long] = {
    val (fs, path) = fsPath(spark, dir)
    val head = latestVersion(spark, dir, subframes).getOrElse(
      throw new IllegalArgumentException(
        s"$what at $dir has no committed version — nothing to prune from"))
    require(keepFrom <= head,
      s"$what at $dir: prune keepFrom=v=$keepFrom is above the latest " +
        s"committed version v=$head — refusing to prune the head")
    val floor = chain(spark, dir, keepFrom, subframes, what)(isFull).min
    val doomed = versions(fs, path).filter(_ < floor).sorted
    doomed.foreach(v => fs.delete(new Path(s"$dir/v=$v"), true))
    val leftAlone = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(path).toSeq.map(_.getPath.getName).foreach {
      case s @ ScratchRe(v) if v.toLong < floor =>
        fs.delete(new Path(s"$dir/$s"), true)
      case s @ DebrisRe(_) => leftAlone += s
      case _ => ()
    }
    // at-or-above-floor ASIDE directories are reported, never deleted:
    // one is either a live clearDebris in flight (deleting it races the
    // restore path) or the displaced-fresh-commit leak the clearDebris
    // Scaladoc names — in that unwinnable interleaving the aside dir
    // sits AT the prune floor forever, and if the operator missed the
    // one-time commit-race error this recurring report is the only
    // thing keeping the leak visible instead of silently eating disk
    if (leftAlone.nonEmpty) System.err.println(
      s"[$what] prune at $dir: leaving ${leftAlone.size} at-or-above-floor " +
        s"debris-aside director${if (leftAlone.size == 1) "y" else "ies"} " +
        s"(${leftAlone.sorted.mkString(", ")}) — each is either a " +
        "maintainer's clearDebris in flight or a displaced commit from a " +
        "reported race; inspect and remove manually once confirmed dead")
    doomed
  }
}
