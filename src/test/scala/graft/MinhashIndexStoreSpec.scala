package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, MinhashIndexStore}

/** Protocol specs for [[graft.ops.MinhashIndexStore]] — the versioned
  * snapshot rules (init refusal, stale/pruned append refusal, crash
  * replay, commit-race loss, pin-missing read refusal) plus the
  * reload → probe bit-parity the Scaladoc claims. */
class MinhashIndexStoreSpec extends SparkSpec {
  import spark.implicits._

  private val K = 5 // shingleK for every probe in this suite

  private def docs(ids: Seq[Long]): DataFrame = {
    val rnd = new scala.util.Random(41)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")
    ids.map { i =>
      (i, Seq.fill(12 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def build(df: DataFrame): DataFrame =
    Dedup.minhashIndexBuild(df, "doc_id", "text", shingleK = K)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("minhash-store").toString
    try body(dir)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      spark.catalog.clearCache()
    }
  }

  test("init/append/read lifecycle: versions advance, reload probes bit-identically") {
    withDir { dir =>
      val corpus = docs(1L to 20L)
      val batch = docs(21L to 30L)
        .unionByName(corpus.where(col("doc_id") === 3L)
          .select(lit(103L).as("doc_id"), col("text"))) // cross-boundary copy
      assert(MinhashIndexStore.init(corpus, dir, "doc_id", "text") === 0L)
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(0L))
      // reload → probe ≡ in-memory probe, pair for pair (the Scaladoc's
      // bit-parity claim): longs and long arrays round-trip parquet
      val loaded = MinhashIndexStore.read(spark, dir)
      assert(loaded.version === 0L)
      assert(loaded.meta === MinhashIndexStore.IndexMeta(Dedup.DefaultShingleK,
        Dedup.DefaultNumBands, Dedup.DefaultRowsPerBand, Dedup.DefaultMaxGroupSize))
      val inMemory = pairSet(Dedup.minhashIndexDedupBatch(build(corpus), batch,
        "doc_id", "text", threshold = 0.5))
      val fromStore = pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5))
      assert(inMemory.contains((3L, 103L, 1.0)))
      assert(fromStore === inMemory)
      // append advances the head; the appended store probes like an
      // index rebuilt over the union corpus
      assert(MinhashIndexStore.append(spark, dir, batch, "doc_id", "text", 0L) === 1L)
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(1L))
      val batch2 = docs(41L to 45L)
      val unionInMemory = pairSet(Dedup.minhashIndexDedupBatch(
        build(corpus.unionByName(batch)), batch2,
        "doc_id", "text", threshold = 0.5))
      val unionFromStore = pairSet(MinhashIndexStore.probeLatest(spark, dir,
        batch2, "doc_id", "text", threshold = 0.5))
      assert(unionFromStore === unionInMemory)
      // a pinned older version still reads (pruner keeps it)
      assert(MinhashIndexStore.read(spark, dir, Some(0L)).version === 0L)
      // an EMPTY delta append is a no-op, not a chain link — including
      // a NON-empty batch whose every text is shorter than shingleK,
      // which shingles to nothing (emptiness is judged on the BUILT
      // frame, not the raw batch)
      assert(MinhashIndexStore.append(spark, dir,
        corpus.where(lit(false)), "doc_id", "text", 1L) === 1L)
      assert(MinhashIndexStore.append(spark, dir,
        Seq((999L, "too short")).toDF("doc_id", "text"),
        "doc_id", "text", 1L) === 1L)
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(1L))
    }
  }

  test("meta memo: an in-place meta rewrite at the same path is re-read, not served from the memo") {
    withDir { dir =>
      MinhashIndexStore.init(docs(1L to 10L), dir, "doc_id", "text", shingleK = K)
      // a verb that reads meta — the row is memoized for this (dir, v)
      assert(MinhashIndexStore.chainLength(spark, dir) == 1)
      // out-of-protocol rewrite at the SAME path: an older-engine meta
      // missing required columns. The memo must see the directory's
      // listing change and re-read — a stale memo hit would silently
      // serve the old parameters instead of failing by name.
      Seq((K, 16)).toDF("shingle_k", "num_bands")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/v=0/meta")
      val e = intercept[IllegalArgumentException] {
        MinhashIndexStore.chainLength(spark, dir)
      }
      assert(e.getMessage.contains("rows_per_band"))
    }
  }

  test("frame memo: an in-place data rewrite at the same path is re-read, not served from the memo") {
    withDir { dir =>
      MinhashIndexStore.init(docs(1L to 10L), dir, "doc_id", "text", shingleK = K)
      // a read that walks the chain — the version's index/bands frames
      // are memoized for this path ([[VersionedState.cachedVersionFrame]])
      val before = MinhashIndexStore.read(spark, dir).index.count()
      assert(before > 0)
      // out-of-protocol rewrite of the DATA frame at the SAME path: the
      // memo must see the directory's listing change and re-read — a
      // stale memoized relation would silently serve the old file list
      // (either the old rows, or a read error on vanished files)
      spark.read.parquet(s"$dir/v=0/index").limit(1)
        .write.mode("overwrite").parquet(s"$dir/v=0/index_tmp")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v=0/index"), true)
      fs.rename(new org.apache.hadoop.fs.Path(s"$dir/v=0/index_tmp"),
        new org.apache.hadoop.fs.Path(s"$dir/v=0/index"))
      assert(MinhashIndexStore.read(spark, dir).index.count() == 1L)
    }
  }

  test("init refuses a directory with a committed version; crash debris does not block replay") {
    withDir { dir =>
      val corpus = docs(1L to 10L)
      MinhashIndexStore.init(corpus, dir, "doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        MinhashIndexStore.init(docs(11L to 15L), dir, "doc_id", "text")
      }
      assert(e.getMessage.contains("already holds committed versions"))
      assert(e.getMessage.contains("v=0"))
    }
    withDir { dir =>
      // a crashed init leaves only scratch debris (the rename protocol
      // admits no partial v=0) — replaying init must succeed
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.tmp-v=0-deadjvm-1/index"))
      assert(MinhashIndexStore.init(docs(1L to 10L), dir, "doc_id", "text") === 0L)
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(0L))
    }
  }

  test("append refuses a stale base and a pruned base — each by name") {
    withDir { dir =>
      val corpus = docs(1L to 10L)
      MinhashIndexStore.init(corpus, dir, "doc_id", "text")
      MinhashIndexStore.append(spark, dir, docs(11L to 14L), "doc_id", "text", 0L)
      // stale: another maintainer already advanced the head
      val stale = intercept[IllegalArgumentException] {
        MinhashIndexStore.append(spark, dir, docs(15L to 18L), "doc_id", "text", 0L)
      }
      assert(stale.getMessage.contains("another maintainer already advanced"))
      // pruned/never-initialized base
      val none = intercept[IllegalArgumentException] {
        MinhashIndexStore.append(spark, s"$dir-empty", docs(15L to 18L), "doc_id", "text", 0L)
      }
      assert(none.getMessage.contains("pruned or the index was never initialized"))
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(1L))
      // a re-parameterized delta CANNOT exist anymore: append takes raw
      // documents and builds with the base's persisted meta (the
      // "persisted parameters" test pins that the persisted values,
      // not defaults, drive the build)
    }
  }

  test("crash replay: an interrupted append leaves latest unchanged and the same append then succeeds") {
    withDir { dir =>
      val corpus = docs(1L to 10L)
      MinhashIndexStore.init(corpus, dir, "doc_id", "text")
      // simulate the crash: old-protocol partial v=1 (index written, no
      // bands/meta — what a kill mid-write left before the rename
      // protocol; rename-era crashes leave only scratch dirs, covered
      // by the init test). Both shapes must be invisible to latest and
      // harmless to the replay.
      build(docs(11L to 14L)).write.parquet(s"$dir/v=1/index")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/.tmp-v=1-deadjvm-7/bands"))
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(0L))
      // replaying the SAME append must commit v=1 over the debris
      assert(MinhashIndexStore.append(spark, dir, docs(11L to 14L), "doc_id", "text", 0L) === 1L)
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(1L))
      val loaded = MinhashIndexStore.read(spark, dir)
      assert(loaded.version === 1L)
      // the committed v=1 is the real merge, not the debris: it must
      // probe identically to a rebuild over the union corpus
      val expected = pairSet(Dedup.minhashIndexDedupBatch(
        build(corpus.unionByName(docs(11L to 14L))), docs(21L to 24L),
        "doc_id", "text", threshold = 0.5))
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir, docs(21L to 24L),
        "doc_id", "text", threshold = 0.5)) === expected)
    }
  }

  test("commit race: the losing maintainer fails loudly and leaves no interleaved part-files") {
    withDir { dir =>
      // the true race window is BETWEEN append's expectedBase check and
      // its commit: both maintainers read latest=N and both pass the
      // require. Drive that interleaving at the commit layer directly —
      // two commits of the same version, the second arriving after the
      // first already renamed (what the loser's world looks like at its
      // rename instant).
      val meta = MinhashIndexStore.IndexMeta(K,
        Dedup.DefaultNumBands, Dedup.DefaultRowsPerBand, Dedup.DefaultMaxGroupSize)
      val winner = build(docs(1L to 10L))
      val loser = build(docs(11L to 20L))
      MinhashIndexStore.commitVersion(winner, dir, 0L, meta, full = true)
      val e = intercept[IllegalStateException] {
        MinhashIndexStore.commitVersion(loser, dir, 0L, meta, full = true)
      }
      assert(e.getMessage.contains("lost the commit race for v=0"))
      // the committed version is EXACTLY the winner's write: the three
      // subframes, no nested scratch, no interleaved loser part-files —
      // and it still reads as the winner's index
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val children = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/v=0"))
        .map(_.getPath.getName).toSet
      assert(children === Set("index", "bands", "meta"),
        s"v=0 must hold exactly the three subframes, got $children")
      val scratch = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filter(_.startsWith(".tmp"))
      assert(scratch.isEmpty,
        s"the loser must clean its scratch directory, found $scratch")
      val loaded = MinhashIndexStore.read(spark, dir)
      val winnerIds = winner.select(explode(col("ids"))).collect()
        .map(_.getLong(0)).toSet
      val storedIds = loaded.index.select(explode(col("ids"))).collect()
        .map(_.getLong(0)).toSet
      assert(storedIds === winnerIds)
    }
  }

  test("writeConcurrently returns after its slowest task and rethrows the list-first failure") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      graft.ops.VersionedState.writeConcurrently(Seq(
        () => { Thread.sleep(300); throw new IllegalStateException("list-first") },
        () => throw new IllegalArgumentException("time-first"),
        () => { Thread.sleep(1000); slowDone.set(true) }))
    }
    assert(e.getMessage === "list-first")
    assert(slowDone.get, "returned while a task was still running")
  }

  test("debris clearing cannot destroy a commit that lands in the race window") {
    // the TOCTOU the delete-in-place protocol had: maintainer A sees
    // uncommitted debris at v=0, and between that observation and A's
    // clearing action, maintainer B's atomic rename commits a REAL
    // v=0 there — an in-place delete would silently destroy B's fresh
    // commit and let A's rename then claim the slot. clearDebris is
    // the clearing action extracted so the interleaving is
    // deterministic here: set the world to "B already committed" and
    // invoke the clearing A would run on its stale observation.
    withDir { dir =>
      val meta = MinhashIndexStore.IndexMeta(K,
        Dedup.DefaultNumBands, Dedup.DefaultRowsPerBand, Dedup.DefaultMaxGroupSize)
      val winner = build(docs(1L to 10L))
      MinhashIndexStore.commitVersion(winner, dir, 0L, meta, full = true)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def listing(): Set[String] = {
        def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
          fs.listStatus(p).toSeq.flatMap { st =>
            if (st.isDirectory) walk(st.getPath)
            else Seq(st.getPath.toString.stripPrefix(dir) + ":" + st.getLen)
          }
        walk(new org.apache.hadoop.fs.Path(s"$dir/v=0")).toSet
      }
      val before = listing()
      val e = intercept[IllegalStateException] {
        graft.ops.VersionedState.clearDebris(fs, dir, 0L, "minhash index",
          Seq("index", "bands", "meta"), "stalemaint-1")
      }
      // the race is reported by name, the displaced commit is restored
      // byte-for-byte, and no aside directory leaks
      assert(e.getMessage.contains("lost the commit race for v=0"))
      assert(listing() === before)
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).exists(_.startsWith(".debris")),
        "a restored commit must leave no .debris- aside directory")
      // genuine debris (a partial old-protocol version — no bands/meta
      // markers) still clears and commits normally through the same path
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v=0/bands"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v=0/meta"), true)
      MinhashIndexStore.commitVersion(winner, dir, 0L, meta, full = true)
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(0L))
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).exists(_.startsWith(".debris")),
        "cleared debris must not leak an aside directory")
    }
  }

  test("appends and probes run with the PERSISTED shingling and banding parameters, not defaults") {
    withDir { dir =>
      // init with non-default EVERYTHING: shingleK = 9 (an append or
      // probe that fell back to the default 5 would shingle into
      // DISJOINT set hashes and find nothing) and 12 bands × 4 rows
      // (same 48-hash signature, different bucket geometry — banding
      // at the 24×2 defaults would band differently than the stored
      // bucket table and silently drop candidates). The store builds
      // the init frame AND the append delta itself with the persisted
      // meta — the parameters and the frames they shaped cannot
      // disagree — and probeLatest reads the same meta.
      val corpus = docs(1L to 20L)
      val standing = corpus.where(col("doc_id") <= 15L)
      val delta = corpus.where(col("doc_id") > 15L)
      val batch = docs(21L to 25L)
        .unionByName(corpus.where(col("doc_id") === 7L)
          .select(lit(107L).as("doc_id"), col("text")))
        .unionByName(corpus.where(col("doc_id") === 17L)
          .select(lit(117L).as("doc_id"), col("text"))) // twin in the DELTA link
      MinhashIndexStore.init(standing, dir, "doc_id", "text",
        shingleK = 9, numBands = 12, rowsPerBand = 4)
      MinhashIndexStore.append(spark, dir, delta, "doc_id", "text", 0L)
      assert(MinhashIndexStore.read(spark, dir).meta ===
        MinhashIndexStore.IndexMeta(9, 12, 4, Dedup.DefaultMaxGroupSize))
      val expected = pairSet(Dedup.minhashIndexDedupBatch(
        Dedup.minhashIndexBuild(corpus, "doc_id", "text", shingleK = 9,
          numBands = 12, rowsPerBand = 4),
        batch, "doc_id", "text", shingleK = 9, numBands = 12,
        rowsPerBand = 4, threshold = 0.5))
      val got = pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5))
      assert(expected.contains((7L, 107L, 1.0)))
      assert(expected.contains((17L, 117L, 1.0)))
      assert(got === expected)
    }
  }

  test("chainHealth surfaces merged valve pressure before the compact trips it") {
    withDir { dir =>
      // identical text split across links: each LINK's group stays at
      // the valve (appends pass), the MERGED group exceeds it — the
      // shape whose scheduled compact fails by name repeatedly with,
      // until this check, no way to see the pressure building
      val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      def copies(ids: Long*) = ids.map((_, text)).toDF("doc_id", "text")
      MinhashIndexStore.init(
        copies(1L, 2L).unionByName(docs(100L to 110L)), dir,
        "doc_id", "text", maxGroupSize = 2)
      val healthy = MinhashIndexStore.chainHealth(spark, dir)
      assert(healthy.chainLength === 1 && healthy.maxGroupSize === 2)
      assert(healthy.maxMergedGroup === 2L && !healthy.groupValveExceeded)
      MinhashIndexStore.append(spark, dir,
        copies(11L, 12L).unionByName(docs(120L to 125L)),
        "doc_id", "text", 0L)
      val pressured = MinhashIndexStore.chainHealth(spark, dir)
      assert(pressured.chainLength === 2)
      // EXACT merged group mass: 2 + 2 copies of the same shingle set
      assert(pressured.maxMergedGroup === 4L)
      assert(pressured.groupValveExceeded,
        "the merged member valve must read as exceeded before the compact")
      // identical sets fold to one group per link, so each band bucket
      // holds one gid per link — the bound reads chainLength here
      assert(pressured.maxMergedBucketBound === 2L)
      // the health check PREDICTED this: the compact fails by name
      val e = intercept[Exception] {
        MinhashIndexStore.compact(spark, dir)
      }
      assert(e.getMessage.contains("maxGroupSize"),
        s"compact must trip the merged valve: ${e.getMessage}")
      // read-only: the failed compact + health checks left the chain
      // intact and probing
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(1L))
      assert(MinhashIndexStore.read(spark, dir).version === 1L)
    }
  }

  test("prune clamps to the chain base, drops folded versions and debris, never the head") {
    withDir { dir =>
      MinhashIndexStore.init(docs(1L to 10L), dir, "doc_id", "text")
      MinhashIndexStore.append(spark, dir, docs(11L to 14L), "doc_id", "text", 0L)
      MinhashIndexStore.append(spark, dir, docs(15L to 18L), "doc_id", "text", 1L)
      // v=1 and v=2 are DELTAS: v=2's chain is [2,1,0], so a naive
      // prune below keepFrom=2 would orphan the head's own chain. The
      // floor clamps to the chain base — nothing is deletable yet.
      assert(MinhashIndexStore.prune(spark, dir, keepFrom = 2L) === Seq.empty)
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(2L))
      // compaction introduces a full v=3; the folded chain becomes
      // reclaimable. Plant old-protocol crash debris below the floor
      // AND hard-crash scratch directories (a maintainer killed before
      // commitVersion's finally): below-floor scratch prunes with the
      // versions, at/above-floor scratch may belong to a live
      // maintainer and survives.
      assert(MinhashIndexStore.compact(spark, dir) === 3L)
      build(docs(90L to 92L)).write.parquet(s"$dir/v=1/stray")
      build(docs(93L to 94L)).write.parquet(s"$dir/.tmp-v=1-deadbeef/index")
      build(docs(95L to 96L)).write.parquet(s"$dir/.tmp-v=9-live/index")
      // .debris- aside dirs (a maintainer hard-killed mid-clearDebris)
      // follow the same floor rule as scratch
      build(docs(97L to 98L)).write.parquet(s"$dir/.debris-v=1-deadmaint/index")
      build(docs(99L to 99L)).write.parquet(s"$dir/.debris-v=9-held/index")
      assert(MinhashIndexStore.prune(spark, dir, keepFrom = 3L) ===
        Seq(0L, 1L, 2L))
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(3L))
      assert(!new java.io.File(s"$dir/.tmp-v=1-deadbeef").exists,
        "below-floor crash scratch must prune")
      assert(new java.io.File(s"$dir/.tmp-v=9-live").exists,
        "at/above-floor scratch may belong to a live maintainer")
      assert(!new java.io.File(s"$dir/.debris-v=1-deadmaint").exists,
        "below-floor debris aside dirs must prune")
      assert(new java.io.File(s"$dir/.debris-v=9-held").exists,
        "an above-floor aside dir may hold a displaced commit awaiting manual restore")
      // the kept head still probes — like a rebuild over the full
      // corpus (the SAME three pieces: docs() reseeds per call, so
      // docs(1 to 18) would be a different corpus)
      val expected = pairSet(Dedup.minhashIndexDedupBatch(
        build(docs(1L to 10L).unionByName(docs(11L to 14L))
          .unionByName(docs(15L to 18L))), docs(21L to 23L),
        "doc_id", "text", threshold = 0.5))
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir, docs(21L to 23L),
        "doc_id", "text", threshold = 0.5)) === expected)
      // an append naming the pruned base refuses — as a stale base (the
      // base sits below the head whether pruned or merely superseded,
      // and re-reading the head is the right remedy either way)
      val e = intercept[IllegalArgumentException] {
        MinhashIndexStore.append(spark, dir, docs(19L to 20L), "doc_id", "text", 1L)
      }
      assert(e.getMessage.contains("another maintainer already advanced"))
      // pruning the head refuses
      val h = intercept[IllegalArgumentException] {
        MinhashIndexStore.prune(spark, dir, keepFrom = 7L)
      }
      assert(h.getMessage.contains("refusing to prune the head"))
    }
  }

  test("delta appends: O(batch) writes, chain-union probe parity, compact folds and no-ops") {
    withDir { dir =>
      val corpus = docs(1L to 20L)
      val b1 = docs(21L to 28L)
      val b2 = docs(31L to 36L)
        .unionByName(corpus.where(col("doc_id") === 5L)
          .select(lit(105L).as("doc_id"), col("text"))) // cross-link copy
      MinhashIndexStore.init(corpus, dir, "doc_id", "text")
      MinhashIndexStore.append(spark, dir, b1, "doc_id", "text", 0L)
      MinhashIndexStore.append(spark, dir, b2, "doc_id", "text", 1L)
      // the delta version's frame holds ONLY the batch's own ids — the
      // O(batch) write-mass claim, checked against the bytes on disk
      val v1Ids = spark.read.parquet(s"$dir/v=1/index")
        .select(explode(col("ids"))).collect().map(_.getLong(0)).toSet
      assert(v1Ids === (21L to 28L).toSet)
      // chain-union probe ≡ probe against a from-scratch rebuild over
      // the union corpus — including a batch doc whose near-dup twin
      // lives in a DIFFERENT chain link than the probe's head
      val batch = docs(41L to 46L)
        .unionByName(b1.where(col("doc_id") === 22L)
          .select(lit(122L).as("doc_id"), col("text")))
      val expected = pairSet(Dedup.minhashIndexDedupBatch(
        build(corpus.unionByName(b1).unionByName(b2)), batch,
        "doc_id", "text", threshold = 0.5))
      assert(expected.contains((22L, 122L, 1.0)))
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5)) === expected)
      // compact folds the chain into a full head that probes
      // pair-for-pair identically; compacting a full head is a no-op
      assert(MinhashIndexStore.compact(spark, dir) === 3L)
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5)) === expected)
      assert(MinhashIndexStore.compact(spark, dir) === 3L)
      // the folded frame is ONE row per distinct set again: the
      // cross-link copy's set carries a merged member list
      val merged = spark.read.parquet(s"$dir/v=3/index")
      assert(merged.select("shh").distinct().count() === merged.count())
    }
  }

  test("valve placement: a group split across links appends fine and fails the compact by name") {
    withDir { dir =>
      // identical texts → one shingle set; the PERSISTED maxGroupSize=3
      // (set once at init — the append delta builds with it) admits
      // each link's sub-group but not the merged mass
      def clones(ids: Seq[Long]): DataFrame =
        ids.map((_, "alpha beta gamma delta epsilon zeta eta theta"))
          .toDF("doc_id", "text")
      MinhashIndexStore.init(clones(Seq(1L, 2L)), dir, "doc_id", "text",
        maxGroupSize = 3)
      MinhashIndexStore.append(spark, dir, clones(Seq(11L, 12L)),
        "doc_id", "text", 0L)
      // per-link the valve never fires (2 ≤ 3 each side); the merged
      // group (4 > 3) fails the scheduled compact, never a probe
      def msgs(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      val e = intercept[Exception] {
        MinhashIndexStore.compact(spark, dir)
      }
      assert(msgs(e).exists(m => m.contains("over maxGroupSize=3") &&
        m.contains("minhashIndexAppend")), s"wrong error: $e")
      // the failed compact commits nothing: the head is still the delta
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(1L))
      // ...and the chain still probes (both split sub-groups pair with
      // an arriving clone)
      val got = pairSet(MinhashIndexStore.probeLatest(spark, dir,
        clones(Seq(21L)), "doc_id", "text", threshold = 0.5))
      assert(got === Set((1L, 21L, 1.0), (2L, 21L, 1.0),
        (11L, 21L, 1.0), (12L, 21L, 1.0)))
    }
  }

  test("a chain cut outside the protocol fails reads by name instead of probing a partial corpus") {
    withDir { dir =>
      MinhashIndexStore.init(docs(1L to 10L), dir, "doc_id", "text")
      MinhashIndexStore.append(spark, dir, docs(11L to 14L), "doc_id", "text", 0L)
      MinhashIndexStore.append(spark, dir, docs(15L to 18L), "doc_id", "text", 1L)
      // delete the MIDDLE delta behind the protocol's back (prune can
      // never do this — its floor clamps to the chain base)
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$dir/v=1")).deleteRecursively()
      // the head's chain is cut: a silent read would union a partial
      // corpus and quietly miss v=1's near-dup pairs — it must refuse
      val e = intercept[IllegalArgumentException] {
        MinhashIndexStore.read(spark, dir)
      }
      assert(e.getMessage.contains("chain needs v=1"), s"wrong error: ${e.getMessage}")
      // a pinned read BELOW the cut still serves (its chain is intact)
      assert(MinhashIndexStore.read(spark, dir, Some(0L)).index.count() > 0)
    }
  }

  test("tombstone removal: probe equals a fresh build over corpus-minus-removed; compact applies and clears") {
    withDir { dir =>
      val corpus = docs(1L to 20L)
      val b1 = docs(21L to 28L)
      MinhashIndexStore.init(corpus, dir, "doc_id", "text")
      MinhashIndexStore.append(spark, dir, b1, "doc_id", "text", 0L)
      // remove one doc from EACH chain link (init and delta) — the
      // O(tombstones) delta, never a corpus rewrite
      assert(MinhashIndexStore.remove(spark, dir,
        Seq(5L, 22L).toDF("doc_id"), "doc_id", 1L) === 2L)
      assert(MinhashIndexStore.liveTombs(spark, dir).collect()
        .map(_.getLong(0)).toSet === Set(5L, 22L))
      // the batch carries exact twins of BOTH removed docs: a pair
      // naming a removed id must not emit, while the twin itself still
      // pairs with everything the fresh-minus-removed build pairs with
      val batch = docs(41L to 45L)
        .unionByName(corpus.where(col("doc_id") === 5L)
          .select(lit(105L).as("doc_id"), col("text")))
        .unionByName(b1.where(col("doc_id") === 22L)
          .select(lit(122L).as("doc_id"), col("text")))
      val expected = pairSet(Dedup.minhashIndexDedupBatch(
        build(corpus.unionByName(b1)
          .where(!col("doc_id").isin(5L, 22L))), batch,
        "doc_id", "text", threshold = 0.5))
      assert(!expected.exists(p => p._1 == 5L || p._1 == 22L
        || p._2 == 5L || p._2 == 22L))
      val got = pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5))
      assert(got === expected)
      // a pinned probe BELOW the remove link reads the OLD corpus —
      // versioned time travel, so the removed pairs are still there
      val pinned = pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5, version = Some(1L)))
      assert(pinned.contains((5L, 105L, 1.0)))
      assert(pinned.contains((22L, 122L, 1.0)))
      // tombstones survive a LATER append (union across the chain):
      // the removed ids stay dead while new documents land
      MinhashIndexStore.append(spark, dir, docs(31L to 34L), "doc_id", "text", 2L)
      val expected2 = pairSet(Dedup.minhashIndexDedupBatch(
        build(corpus.unionByName(b1).unionByName(docs(31L to 34L))
          .where(!col("doc_id").isin(5L, 22L))), batch,
        "doc_id", "text", threshold = 0.5))
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5)) === expected2)
      // compact APPLIES the tombstones (merged member lists drop the
      // removed ids on disk) and CLEARS them (no tombs frame, no live
      // tombstones) — and the compacted head probes identically
      assert(MinhashIndexStore.compact(spark, dir) === 4L)
      assert(MinhashIndexStore.liveTombs(spark, dir).isEmpty)
      assert(!new java.io.File(s"$dir/v=4/tombs").exists,
        "a compacted full version must carry no tombs frame")
      val foldedIds = spark.read.parquet(s"$dir/v=4/index")
        .select(explode(col("ids"))).collect().map(_.getLong(0)).toSet
      assert(!foldedIds.contains(5L) && !foldedIds.contains(22L))
      assert(foldedIds.contains(6L) && foldedIds.contains(23L))
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5)) === expected2)
      // after the compact cleared the debt, the removed id may re-enter
      MinhashIndexStore.append(spark, dir,
        corpus.where(col("doc_id") === 5L), "doc_id", "text", 4L)
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir, batch,
        "doc_id", "text", threshold = 0.5)).contains((5L, 105L, 1.0)))
    }
  }

  test("remove protocol: staleness, replay, empty and unknown-id no-ops, valve on the frame shape") {
    withDir { dir =>
      MinhashIndexStore.init(docs(1L to 10L), dir, "doc_id", "text")
      // an empty removal frame is a no-op, not a chain link
      assert(MinhashIndexStore.remove(spark, dir,
        Seq.empty[Long].toDF("doc_id"), "doc_id", 0L) === 0L)
      assert(MinhashIndexStore.latestVersion(spark, dir) === Some(0L))
      // a removal frame without the named id column fails by name
      val shape = intercept[IllegalArgumentException] {
        MinhashIndexStore.remove(spark, dir,
          Seq(1L).toDF("wrong_col"), "doc_id", 0L)
      }
      assert(shape.getMessage.contains("no column 'doc_id'"))
      // a committed remove advances the head; replaying the SAME remove
      // refuses as stale (the append replay rule — crash replay works
      // because a crash before the rename leaves latest unchanged)
      assert(MinhashIndexStore.remove(spark, dir,
        Seq(3L).toDF("doc_id"), "doc_id", 0L) === 1L)
      val stale = intercept[IllegalArgumentException] {
        MinhashIndexStore.remove(spark, dir,
          Seq(3L).toDF("doc_id"), "doc_id", 0L)
      }
      assert(stale.getMessage.contains("another maintainer already advanced"))
      // removing an id the corpus never held: harmless at probe and
      // compact alike (no corpus scan to check membership)
      assert(MinhashIndexStore.remove(spark, dir,
        Seq(9999L).toDF("doc_id"), "doc_id", 1L) === 2L)
      val expected = pairSet(Dedup.minhashIndexDedupBatch(
        build(docs(1L to 10L).where(col("doc_id") =!= 3L)),
        docs(21L to 24L), "doc_id", "text", threshold = 0.5))
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir,
        docs(21L to 24L), "doc_id", "text", threshold = 0.5)) === expected)
      assert(MinhashIndexStore.compact(spark, dir) === 3L)
      assert(pairSet(MinhashIndexStore.probeLatest(spark, dir,
        docs(21L to 24L), "doc_id", "text", threshold = 0.5)) === expected)
      // prune clamps exactly as before — remove links are ordinary
      // chain links (the folded v=3 is the new base)
      assert(MinhashIndexStore.prune(spark, dir, keepFrom = 3L) ===
        Seq(0L, 1L, 2L))
      assert(MinhashIndexStore.liveTombs(spark, dir).isEmpty)
    }
  }

  test("removing every corpus member compacts to a working EMPTY index: probes emit only within-batch pairs") {
    withDir { dir =>
      // identical texts so the whole corpus is one group
      def clones(ids: Seq[Long]): DataFrame =
        ids.map((_, "alpha beta gamma delta epsilon zeta eta theta"))
          .toDF("doc_id", "text")
      MinhashIndexStore.init(clones(Seq(1L, 2L)), dir, "doc_id", "text")
      MinhashIndexStore.remove(spark, dir,
        Seq(1L, 2L).toDF("doc_id"), "doc_id", 0L)
      // the fully-removed group vanishes at compact; the empty index
      // still round-trips (plain parquet write keeps the schema) and
      // probes emit exactly the batch's own within pairs
      assert(MinhashIndexStore.compact(spark, dir) === 2L)
      assert(spark.read.parquet(s"$dir/v=2/index").count() === 0L)
      val got = pairSet(MinhashIndexStore.probeLatest(spark, dir,
        clones(Seq(21L, 22L)), "doc_id", "text", threshold = 0.5))
      assert(got === Set((21L, 22L, 1.0)))
    }
  }

  test("read refuses a missing or uncommitted pinned version by name") {
    withDir { dir =>
      MinhashIndexStore.init(docs(1L to 10L), dir, "doc_id", "text")
      val missing = intercept[IllegalArgumentException] {
        MinhashIndexStore.read(spark, dir, Some(7L))
      }
      assert(missing.getMessage.contains("no committed version v=7"))
      assert(missing.getMessage.contains("latest committed: v=0"))
      // an uncommitted (partial) version is refused the same way
      build(docs(11L to 12L)).write.parquet(s"$dir/v=3/index")
      val partial = intercept[IllegalArgumentException] {
        MinhashIndexStore.read(spark, dir, Some(3L))
      }
      assert(partial.getMessage.contains("no committed version v=3"))
      // and an empty store has nothing to read unpinned
      val empty = intercept[IllegalArgumentException] {
        MinhashIndexStore.read(spark, s"$dir-none")
      }
      assert(empty.getMessage.contains("no committed version"))
    }
  }
}
