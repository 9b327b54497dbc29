package graft.model

import org.apache.spark.sql.functions._
import graft.sources.StatsIndex

/** Measures what file-level data skipping actually buys
  * ([[graft.sources.StatsIndex]] over a [[graft.ops.Layout.zOrdered]]
  * layout) — the read-side complement of the chain benches: the same
  * box-selective aggregate answered (a) by a plain scan of the whole
  * directory (parquet row-group stats only, discovered AFTER every
  * footer is opened) and (b) through the stats index's pruned file
  * list. Also times the index builds themselves — the footer build is
  * the claim "O(footers), no data pages", so it is measured, not
  * asserted.
  *
  * Usage: `runMain graft.model.SkipScanBench [sfDir] [numFiles]`
  * (default `SPARK_GRAFT_SF_DIR` else sf0.1; 64 files). Prints one
  * JSON line; timings are medians of 3 after a warm-up
  * ([[BenchHarness.median]]). The scratch layout lives under
  * java.io.tmpdir and is removed on exit. */
object SkipScanBench {
  import BenchHarness.{median, time}

  /** (files, bytes) the last execution of `df` scheduled across its
    * parquet scans — the ChainReadBench metric reader: what the
    * SCHEDULER committed to, the number that scales with the table
    * where local wall-time (sub-second scans, fixed planning costs)
    * does not. */
  private def scanMetrics(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
        case q: QueryStageExec => q +: allNodes(q.plan)
        case n => Seq(n)
      }
    val scans = allNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    (scans.flatMap(_.metrics.get("numFiles").map(_.value)).sum,
      scans.flatMap(_.metrics.get("filesSize").map(_.value)).sum)
  }

  def main(args: Array[String]): Unit = {
    val (spark, dir) = BenchHarness.session(args, "/root/testdata/sf0.1")
    val nFiles = args.drop(1).headOption.map(_.toInt).getOrElse(64)
    graft.Scratch.during("skip-scan-bench") { scratch =>
      val events = Tables.load(spark, dir, "events")
        .select("event_id", "user_id", "event_type", "value")
      val (layoutS, _) = time {
        graft.ops.Layout.zOrdered(events, Seq("user_id", "value"),
          bits = 16, numPartitions = nFiles)
          .drop("bk_user_id", "bk_value", "zvalue")
          .write.mode("overwrite").parquet(scratch)
      }
      val (scanBuildS, scanStats) = time(
        StatsIndex.build(spark, scratch, Seq("user_id", "value")).cache())
      scanStats.count()
      val (footerBuildS, stats) = time {
        val s = StatsIndex.buildFromFooters(spark, scratch, Seq("user_id", "value")).cache()
        s.count(); s
      }
      // the box: ~4% of users × ~12% of the value range — selective
      // enough to matter, wide enough to keep several files
      val keep = StatsIndex.mayContainBetween("user_id", 3L, 60L) &&
        StatsIndex.mayContainBetween("value", 20.0, 80.0)
      val rowPred = col("user_id").between(3L, 60L) &&
        col("value").between(20.0, 80.0)
      def aggDf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.agg(count(lit(1)), sum("value"), countDistinct("user_id"))
      // metrics live on the EXECUTED aggregate's plan — keep one
      // instance per side, execute it, read its scans
      val fullAgg = aggDf(spark.read.parquet(scratch).where(rowPred))
      fullAgg.collect()
      val (fullFiles, fullBytes) = scanMetrics(fullAgg)
      // time FRESH plans per rep on both sides (a reused df instance
      // reuses its exchanges and under-reports); the pruned side's rep
      // includes the index read, freshness listing and keep-list job —
      // the honest end-to-end cost of going through the index
      val (fullS, nRows) = median(
        aggDf(spark.read.parquet(scratch).where(rowPred))
          .collect()(0).getLong(0))
      val scan0 = StatsIndex.prunedRead(spark, scratch, stats, keep, rowPred)
      val prunedAgg = aggDf(scan0.df)
      val (prunedS, nRows2) = median {
        val s = StatsIndex.prunedRead(spark, scratch, stats, keep, rowPred)
        aggDf(s.df).collect()(0).getLong(0)
      }
      prunedAgg.collect()
      val (prunedFiles, prunedBytes) = scanMetrics(prunedAgg)
      require(nRows == nRows2, s"pruned read lost rows: $nRows vs $nRows2")
      // the Bloom side: point lookups on the id the layout scatters
      val nEvents = spark.read.parquet(scratch).count()
      val (bloomBuildS, bloom) = time {
        val b = StatsIndex.buildBloom(spark, scratch, "event_id",
          expectedPerFile = math.max(nEvents / nFiles, 100L)).cache()
        b.count(); b
      }
      val bloomBytes = bloom.select(sum(length(col("bloom_event_id"))))
        .collect()(0).getLong(0)
      val ids = Seq(17L, 423L, 777L)
      val bloomScan = StatsIndex.prunedRead(spark, scratch, bloom,
        StatsIndex.mayContainId("event_id", ids),
        col("event_id").isin(ids: _*))
      val bloomAgg = bloomScan.df.groupBy().count()
      bloomAgg.collect()
      val (bloomFiles, bloomScanBytes) = scanMetrics(bloomAgg)
      println(s"""{"metric":"skip_scan","sf":"$dir","files":$nFiles,""" +
        s""""kept_files":${scan0.keptFiles},"rows_matched":$nRows,""" +
        s""""layout_write_s":${f"$layoutS%.3f"},""" +
        s""""scan_build_s":${f"$scanBuildS%.3f"},""" +
        s""""footer_build_s":${f"$footerBuildS%.3f"},""" +
        s""""full_scan_s":${f"$fullS%.3f"},"pruned_scan_s":${f"$prunedS%.3f"},""" +
        s""""scheduled_full":{"files":$fullFiles,"bytes":$fullBytes},""" +
        s""""scheduled_pruned":{"files":$prunedFiles,"bytes":$prunedBytes},""" +
        s""""bloom":{"build_s":${f"$bloomBuildS%.3f"},"index_bytes":$bloomBytes,""" +
        s""""point_kept_files":${bloomScan.keptFiles},""" +
        s""""scheduled":{"files":$bloomFiles,"bytes":$bloomScanBytes}}}""")
      spark.catalog.clearCache()
    }
  }
}
