package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the READ side of the delta-chain economics —
  * [[DeltaAppendBench]]'s sibling. Appends are O(batch) (measured
  * there); what that buys is paid back at PROBE time, where a chain of
  * L links is L narrow scans unioned: L file listings, L footer
  * decodes, L× the per-scan planning overhead, on top of the
  * ~constant data mass. This main holds the corpus FIXED and varies
  * only how many links the second half of it is spread across
  * (1 / 8 / 32 append slices → chains of 2 / 9 / 33 links), then
  * probes each variant with the same batch, timing the probe
  * (median of 3 after an untimed warm-up) and reading per-link
  * `numFiles` / `filesSize` off the executed plan's scan metrics —
  * the same nodes the stores' plan-pin specs assert pruning on. The
  * compaction-cadence rule derived from these readings lives in
  * SCALE.md ("Chain-read economics").
  *
  * Usage: `runMain graft.model.ChainReadBench [sfDir]` (default
  * `SPARK_GRAFT_SF_DIR`, else sf0.1). Covers the two read shapes:
  * the SEMANTIC store (cell-partition-pruned scans per link) and the
  * MINHASH store (full narrow index+bands scans per link,
  * broadcast-pruned at the join, not the scan). Prints one JSON
  * line. */
object ChainReadBench {
  import BenchHarness.time

  /** (files, bytes) each chain link's scans scheduled during the last
    * execution of `df`, keyed by link (v=N), summed over that link's
    * scan nodes — read from the executed plan's `numFiles`/`filesSize`
    * SQL metrics, AQE and in-memory-relation nodes unwrapped like the
    * store specs do. */
  private def perLinkScanMetrics(df: DataFrame): Map[Long, (Long, Long)] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def allNodes(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
        case q: QueryStageExec => q +: allNodes(q.plan)
        case im: InMemoryTableScanExec => im +: allNodes(im.relation.cachedPlan)
        case n => Seq(n)
      }
    val VRe = ".*/v=(\\d+)/.*".r
    allNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
      .flatMap { s =>
        s.relation.location.rootPaths.headOption.map(_.toString).collect {
          case VRe(v) =>
            (v.toLong,
              s.metrics.get("numFiles").map(_.value).getOrElse(0L),
              s.metrics.get("filesSize").map(_.value).getOrElse(0L))
        }
      }
      .groupBy(_._1)
      .map { case (v, xs) => v -> (xs.map(_._2).sum, xs.map(_._3).sum) }
  }

  private def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Build one chain variant (init on `standing`, `slices` appends
    * covering `delta`), probe it, and return the JSON fragment:
    * median probe seconds plus per-link scan I/O split into the base
    * link (v=0, holds half the corpus) and the delta links (the term
    * that grows with chain length). */
  private def variant(spark: SparkSession, root: String, slices: Int,
                      init: String => Long,
                      append: (String, Int, Long) => Long,
                      probe: String => DataFrame): String = {
    val dir = s"$root/links-$slices"
    var v = init(dir)
    (0 until slices).foreach { s => v = append(dir, s, v) }
    val links = slices + 1
    // median-of-3 probes after one untimed warm-up; metrics read from
    // the LAST run's plan (each run builds a fresh frame, so the plan
    // object's metrics belong to exactly one execution)
    // collect(), not a noop write: the write path plans a SEPARATE
    // QueryExecution, leaving the frame's own plan (where the scan
    // metrics are read from) unexecuted and its numFiles/filesSize
    // unset. Probe output is a bounded pair list, so collect is safe.
    def runProbe(): DataFrame = {
      val df = probe(dir)
      df.collect()
      df
    }
    runProbe() // warm-up: listing caches, codegen, JIT
    val runs = (1 to 3).map(_ => time(runProbe()))
    val med = runs.map(_._1).sorted.apply(1)
    val metrics = perLinkScanMetrics(runs.last._2)
    val (baseFiles, baseBytes) = metrics.getOrElse(0L, (0L, 0L))
    val deltas = metrics.filter(_._1 > 0L).values.toSeq
    val (dFiles, dBytes) = (deltas.map(_._1).sum, deltas.map(_._2).sum)
    s"""{"links":$links,"probe_sec":${r3(med)},""" +
      s""""base_files":$baseFiles,"base_bytes":$baseBytes,""" +
      s""""delta_links":${deltas.size},"delta_files":$dFiles,""" +
      s""""delta_bytes":$dBytes}"""
  }

  def main(args: Array[String]): Unit = {
    import graft.ops.{MinhashIndexStore, SemanticIndexStore}
    val (spark, dir) = BenchHarness.session(args, "/root/testdata/sf0.1")
    try graft.Scratch.during("chain-bench") { root =>
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      // fixed corpus across variants: half standing at init, the other
      // half spread over `slices` appends — only the LINK COUNT varies
      val standingEmb = emb.where(col("vec_id") % 2 === 0)
      val standingDocs = docs.where(col("doc_id") % 2 === 0)
      // odd ids mod 2·of land on the odd residues 1,3,…,2of−1 — one
      // slice per residue, integer arithmetic only (long / int would
      // promote to double)
      def embSlice(s: Int, of: Int): DataFrame =
        emb.where(pmod(col("vec_id"), lit(2L * of)) === (2L * s + 1))
      def docSlice(s: Int, of: Int): DataFrame =
        docs.where(pmod(col("doc_id"), lit(2L * of)) === (2L * s + 1))
      // the probe batch: a fixed thin sample re-keyed out of the
      // corpus id space — identical across variants
      val embBatch = emb.where(col("vec_id") % 997 === 3)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val docBatch = docs.where(col("doc_id") % 997 === 3)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
      val counts =
        s""""corpus_vecs":${emb.count()},"batch_vecs":${embBatch.count()},""" +
          s""""corpus_docs":${docs.count()},"batch_docs":${docBatch.count()}"""

      def semVariant(slices: Int): String =
        variant(spark, s"$root/sem", slices,
          d => { SemanticIndexStore.init(standingEmb, d, "vec_id",
            "embedding", nlist = 64); 0L },
          (d, s, v) => SemanticIndexStore.append(spark, d,
            embSlice(s, slices), "vec_id", "embedding", v),
          d => SemanticIndexStore.probeLatest(spark, d, embBatch,
            "vec_id", "embedding", threshold = 0.9))
      def mhVariant(slices: Int): String =
        variant(spark, s"$root/mh", slices,
          d => { MinhashIndexStore.init(standingDocs, d, "doc_id",
            "text"); 0L },
          (d, s, v) => MinhashIndexStore.append(spark, d,
            docSlice(s, slices), "doc_id", "text", v),
          d => MinhashIndexStore.probeLatest(spark, d, docBatch,
            "doc_id", "text", threshold = 0.5))

      val sem = Seq(1, 8, 32).map(semVariant).mkString("[", ",", "]")
      val mh = Seq(1, 8, 32).map(mhVariant).mkString("[", ",", "]")
      println(s"""{"dir":"$dir",$counts,"semantic":$sem,"minhash":$mh}""")
    } finally spark.stop()
  }
}
