package graft
object Bench {
  /** 1-minute system load from /proc/loadavg (-1.0 where unreadable —
    * non-Linux or restricted container). Captured at process start
    * (ambient load) and after the sweep so a bench record is
    * self-diagnosing under host contention:
    * three of four recent driver records were contended-host artifacts
    * that each needed a manual re-run to adjudicate (VERDICT r8 "What's
    * wrong" #1) — with the load in the artifact, a reader rules
    * contention in or out without re-measuring. */
  private def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Headline total and failure count for the result JSON. Failed
    * queries carry the -1.0 sentinel; summing it would silently
    * DEFLATE the headline total while looking like a valid sweep —
    * they are excluded from the sum and surfaced as a count instead. */
  private[graft] def summarize(results: Seq[(String, Double)]): (Double, Int) =
    (results.map(_._2).filter(_ >= 0).sum, results.count(_._2 < 0))

  /** Median over the successful runs of one query (failure sentinels
    * dropped first — one crashed rep must not drag the median negative
    * while the others measured fine); -1.0 only when every rep failed. */
  private[graft] def median(ts: Seq[Double]): Double = {
    val ok = ts.filter(_ >= 0).sorted
    if (ok.isEmpty) -1.0
    else if (ok.size % 2 == 1) ok(ok.size / 2)
    else (ok(ok.size / 2 - 1) + ok(ok.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    // first statement: ambient load BEFORE session bring-up — JVM/Spark
    // startup plus the untimed warm-up burn ~32 threads for seconds,
    // which alone pushes 1-min load past the "clean < 1" threshold and
    // would mislabel a quiet box as contended. (load_after is always
    // dominated by the sweep's own threads; it is recorded for trend,
    // not for the clean test.)
    val loadBefore = loadAvg1m()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineConf.session(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional args select a query subset (scale experiments); the
    // driver's no-arg invocation runs everything
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.toSet).toMap
      else SparkEntry.queries
    // One untimed generic warm-up so fixed session costs (JVM/JIT,
    // codegen compiler, shuffle + FS client init) are not attributed to
    // whichever query sorts first. It touches no query-specific plan and
    // caches no data — per-query numbers then measure the operator, not
    // the session bring-up (measured ~4-5 s on the first timed query
    // otherwise).
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = spark.range(100000).select(col("id"), (col("id") % 7).as("k"))
      w.groupBy("k").count().withColumn("r",
        row_number().over(Window.partitionBy("k").orderBy("count"))).count()
      // first-touch class-loading of the lambda interpreter (HOFs are
      // CodegenFallback), the regex engine, and literal replace costs
      // ~2 s once per session and would otherwise land on whichever
      // query alphabetically first exercises each path
      w.select(
        filter(transform(sequence(lit(1), lit(3)), x => x + 1), x => x > 1),
        regexp_replace(col("id").cast("string"), "[0-9]", "x"),
        replace(col("id").cast("string"), lit("1"), lit(""))).count()
      // noop-sink init: every timed query (and the noise sentinel)
      // writes through it, so its one-time datasource load must not
      // land on the first reading
      w.limit(1).write.format("noop").mode("overwrite").save()
      // parquet reader init (footer decode path); tolerate partial dirs
      // in synthesized scale-experiment datasets
      scala.util.Try(spark.read.parquet(s"$sfDir/region.parquet").count())
      scala.util.Try(spark.read.parquet(s"$sfDir/documents.parquet").limit(1).count())
      spark.catalog.clearCache()
    }
    // Repeat-median policy: per-query sweep scatter on this host swings
    // queries several-fold between sweeps of identical code (SCALE.md:
    // dedup_groups 8.3 vs 19.7 s back-to-back; the r13/r15 sweeps were
    // adjudicated by hand because of it), so plan-regression reading
    // needs medians. SPARK_GRAFT_REPS=n forces a fixed rep count for
    // every query; by DEFAULT the mode is ADAPTIVE — a query whose
    // first run lands under SPARK_GRAFT_MEDIAN_UNDER seconds (default
    // 5.0) gets two more reps and reports the median-of-3. Sub-threshold
    // queries are exactly where ambient-load scatter drowns the signal,
    // and re-running only them bounds the extra sweep wall time to
    // ~2× the SHORT-query mass, not 3× the whole sweep.
    // tolerant parse: a malformed value (typo, unexpanded template var)
    // must degrade to the adaptive default with a warning, not crash
    // the sweep after the session is already up and lose the round's
    // numbers to a NumberFormatException
    val explicitReps: Option[Int] = sys.env.get("SPARK_GRAFT_REPS").map(_.trim) match {
      case Some(s) =>
        val parsed = scala.util.Try(s.toInt).toOption.filter(_ >= 1)
        if (parsed.isEmpty) System.err.println(
          s"[bench] ignoring invalid SPARK_GRAFT_REPS='$s' (want a positive integer); adaptive mode")
        parsed
      case None => None
    }
    val medianUnder = sys.env.get("SPARK_GRAFT_MEDIAN_UNDER").map(_.trim) match {
      case Some(s) =>
        scala.util.Try(s.toDouble).toOption.filter(_ >= 0).getOrElse {
          System.err.println(
            s"[bench] ignoring invalid SPARK_GRAFT_MEDIAN_UNDER='$s'; 5.0")
          5.0
        }
      case None => 5.0
    }
    // In-sweep noise sentinel: the SAME trivial fixed-plan probe (the
    // table-free date spine + noop sink, ~0.1 s) re-timed at segment
    // boundaries through the sweep. Per-query scatter INSIDE a sweep
    // (retention 11.4 s in-sweep vs 3.4 s standalone; the driver r11
    // ngram_jaccard 11.5 s reading) previously cost a manual
    // adjudication round-trip per round; a sentinel spread ≫ its floor
    // localizes contention to the segment where it happened, without
    // re-measuring. Sentinel runs are NOT part of the headline total.
    val sentinelEvery = 15
    val sentinelTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def runSentinel(): Unit = {
      // guarded like every timed query: a transient failure during one
      // of the ~8 sentinel probes must not abort a multi-hour sweep and
      // discard the per-query times already collected — record the
      // failure sentinel (-1.0, excluded from min/max) and move on.
      // NonFatal ONLY: an OutOfMemoryError or other fatal VM error means
      // every timing collected after it runs in a corrupted JVM — the
      // sweep must abort, not keep recording readings indistinguishable
      // from clean ones
      val t0 = System.nanoTime()
      try {
        graft.gold.Dims.dateSpine(spark, "2015-01-01", "2030-12-31")
          .write.format("noop").mode("overwrite").save()
        sentinelTimes += (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(_) => sentinelTimes += -1.0 }
    }
    // sorted iteration: deterministic order round-over-round (a HashMap
    // order reshuffle moves JIT/codegen warm-up costs between queries)
    val perRun = selected.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, fn), qi) =>
      if (qi % sentinelEvery == 0) runSentinel()
      def runOnce(): Double = {
        val t0 = System.nanoTime()
        val elapsed =
          // noop sink, NOT count(): under a bare count() Catalyst prunes
          // every unreferenced projection and eliminates the final sort,
          // so projection-only queries (text stats, PII redaction, staging
          // casts...) timed a near-empty parquet scan instead of the
          // operator — a 100x regression in one of them was invisible.
          // The noop write consumes every output column, forcing the full
          // plan, and still writes nothing.
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9 }
          catch { case scala.util.control.NonFatal(e) =>
            // a broken query must not masquerade as a fast one; fatal VM
            // errors (OOM and kin) propagate and abort the sweep — every
            // reading taken after one runs in a corrupted JVM
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
          }
        // caches created by a query must not pin memory for the rest
        // (and a later rep must not time a cache the previous one left)
        spark.catalog.clearCache()
        elapsed
      }
      val first = runOnce()
      // a FAILED first run re-runs in adaptive mode too: a transiently
      // flaky short query should surface as flaky (some reps green),
      // not as a clean failure on one unlucky run
      val ts = explicitReps match {
        case Some(r) => first +: (1 to (r - 1)).map(_ => runOnce())
        case None if first < medianUnder => first +: (1 to 2).map(_ => runOnce())
        case None =>
          // Heavy queries (at/above the threshold) are exactly where a
          // single unadjudicable sample cost past rounds a manual re-run
          // (SCALE.md: dedup_groups 8.3 vs 19.7 s back-to-back, both far
          // above any threshold) — so they get a SECOND rep always, and a
          // tie-breaking THIRD only when the two disagree by >1.5x (or
          // either failed). Bounded cost: ~2x the heavy mass in the
          // common agreeing case, 3x only where the scatter that needs
          // adjudicating actually showed up.
          val second = runOnce()
          val agree = first >= 0 && second >= 0 &&
            math.max(first, second) <= 1.5 * math.min(first, second)
          if (agree) Seq(first, second) else Seq(first, second, runOnce())
      }
      name -> ts
    }
    runSentinel() // closing boundary: the last segment gets a reading too
    val results = perRun.map { case (name, ts) => name -> median(ts) }
    // millisecond precision in the emitted JSON: the harness captures a
    // bounded TAIL of stdout, and ~100 full-precision doubles pushed the
    // one-line record past that window (the r14 sweep's record survived
    // only as an unparseable fragment). 3 decimals halves the line; no
    // reading here is meaningful below a millisecond anyway (-1.0 error
    // sentinels round to themselves)
    def r3(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def fmt(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val qs = fmt(results)
    val (total, errors) = summarize(results)
    val loadAfter = loadAvg1m()
    val repMode = explicitReps match {
      case Some(r) => s""""rep_mode":"fixed","reps":$r"""
      case None => s""""rep_mode":"adaptive","median_under":$medianUnder"""
    }
    val repFields =
      if (perRun.forall(_._2.size == 1)) s""",$repMode"""
      else {
        // a query that fails on SOME reps but not all would otherwise
        // vanish: the -1.0 sentinels drop out of median and min, and
        // `errors` counts all-reps-failed only — a flaky query must not
        // produce a record indistinguishable from a clean sweep
        val flaky = perRun.collect {
          case (n, ts) if ts.exists(_ < 0) && ts.exists(_ >= 0) =>
            s"\"$n\":${ts.count(_ < 0)}"
        }
        val flakyField =
          if (flaky.isEmpty) ""
          else s""","flaky_reps":${flaky.mkString("{", ",", "}")}"""
        s""",$repMode,"queries_min":${fmt(perRun.map { case (n, ts) => n -> ts.filter(_ >= 0).minOption.getOrElse(-1.0) })}$flakyField"""
      }
    // sentinel min/max over successful probes only; all-failed → -1.0
    // markers. The per-probe times array rides only in the FULL record:
    // it grows with query count, and the trailer must stay
    // capture-window-proof at any suite size.
    val sentinelOk = sentinelTimes.toSeq.filter(_ >= 0)
    val sentinelMinMax =
      s""""every":$sentinelEvery,"min":${r3(if (sentinelOk.nonEmpty) sentinelOk.min else -1.0)},"max":${r3(if (sentinelOk.nonEmpty) sentinelOk.max else -1.0)}"""
    val fullLine =
      s"""{"metric":"total","record":"full","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","errors":$errors,"load_before":$loadBefore,"load_after":$loadAfter,"sentinel":{$sentinelMinMax,"times":[${sentinelTimes.toSeq.map(r3).mkString(",")}]}$repFields}"""
    println(fullLine)
    // the harness records only a bounded TAIL of stdout and parses the
    // record out of THAT — with ~98 query names (1.2k chars of keys
    // alone) the full line can never fit the window, so rounding alone
    // cannot make the record machine-readable (r14's and r15's survived
    // only as front-truncated fragments). Two-part repair: (1) persist
    // the full record to a file next to the build so any reader gets
    // the complete per-query map; (2) ALWAYS follow it with a compact
    // trailer as the final stdout line — itself complete, valid JSON
    // with the headline figures, the slowest queries, and a pointer to
    // the file — small enough (~600 bytes, no per-query or per-probe
    // arrays) to sit entirely inside any plausible tail window, so a
    // last-parseable-line extraction always succeeds. Both records
    // carry "metric":"total" (the driver's documented shape); the
    // "record" field tells them apart for consumers that see both.
    // A SUBSET invocation (explicit query args — scale experiments,
    // one-query probes) writes to bench_full_subset.json /
    // bench_trailer_subset.json: the unsuffixed
    // files are the committed full-sweep record of record, and a
    // ten-second subset probe silently overwriting them is exactly the
    // kind of artifact clobber that costs a round its close numbers
    // (it happened twice before this guard existed).
    val suffix = if (args.nonEmpty) "_subset" else ""
    val benchFile = java.nio.file.Paths.get(s"bench_full$suffix.json")
    java.nio.file.Files.write(benchFile, (fullLine + "\n").getBytes("UTF-8"))
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(8)
    val trailerLine =
      s"""{"metric":"total","record":"trailer","value":${r3(total)},"unit":"sec","sf":"$sfDir","errors":$errors,"queries_file":"${benchFile.toAbsolutePath}","queries_count":${results.size},"queries_slowest":${fmt(slowest)},"load_before":$loadBefore,"load_after":$loadAfter,"sentinel":{$sentinelMinMax},$repMode}"""
    // The trailer also lands in its OWN file: both the r15 and r16
    // driver records survived only as front-truncated stdout fragments
    // ("parsed": null) — a file ends the dependence on anyone's stdout
    // capture window entirely. stdout keeps both lines for humans.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"bench_trailer$suffix.json"),
      (trailerLine + "\n").getBytes("UTF-8"))
    println(trailerLine)
    spark.stop()
  }
}
