package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the banded probe against the unified probe over a
  * PERSISTED index — the runnable form of the
  * [[graft.ops.Dedup.minhashIndexDedupBatchBanded]] economics claim:
  * with the bucket table pre-aggregated at build time, the per-probe
  * (band, bucket) exchange over broadcast-pruned index rows disappears,
  * so probe wall-time (and shuffle mass) should track batch +
  * candidate size with no corpus-size term.
  *
  * Usage: `runMain graft.model.BandedProbeBench [dir [maxBatchId]]`
  * (default `SPARK_GRAFT_SF_DIR`, else the 10× corpus). Builds the
  * standing index over `documents` (doc_id % 5 ≠ 0) through
  * [[graft.ops.MinhashIndexStore]], then times (median of 3, one
  * warm-up each) the unified probe over the reloaded index frame and
  * the banded probe over the reloaded (index, bands) pair, asserting
  * pair-count equality between the two. Prints one JSON line.
  * `maxBatchId` caps the batch at `doc_id < maxBatchId` — run the SAME
  * capped batch against corpora of different scales to read the
  * per-probe corpus-size term directly (the claim under test: the
  * banded probe's is zero up to the narrow pre-banded scan). */
object BandedProbeBench {
  import BenchHarness.{median, time}

  def main(args: Array[String]): Unit = {
    import graft.ops.{Dedup, MinhashIndexStore}
    val (spark, dir) = BenchHarness.session(args, "/tmp/graft-10x")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = args.drop(1).headOption match {
      case Some(cap) =>
        docs.where(col("doc_id") % 5 === 0 && col("doc_id") < cap.toLong)
      case None => docs.where(col("doc_id") % 5 === 0)
    }
    try graft.Scratch.during("banded-bench") { store =>
      val (buildSec, _) = time {
        MinhashIndexStore.init(corpus, store, "doc_id", "text", shingleK = 5)
        0L
      }
      def clearAll(): Unit = spark.catalog.clearCache()
      val loaded = MinhashIndexStore.read(spark, store)
      val (unifiedSec, unifiedPairs) = median {
        clearAll()
        Dedup.minhashIndexDedupBatch(loaded.index, batch,
          "doc_id", "text", shingleK = 5, threshold = 0.5).count()
      }
      val (bandedSec, bandedPairs) = median {
        clearAll()
        MinhashIndexStore.probeLatest(spark, store, batch,
          "doc_id", "text", threshold = 0.5).count()
      }
      require(unifiedPairs == bandedPairs,
        s"probe disagreement: unified=$unifiedPairs banded=$bandedPairs")
      println(
        s"""{"dir":"$dir","corpus_rows":${corpus.count()},""" +
        s""""batch_rows":${batch.count()},"pairs":$unifiedPairs,""" +
        s""""build_init_sec":$buildSec,"unified_probe_sec":$unifiedSec,""" +
        s""""banded_probe_sec":$bandedSec}""")
    } finally spark.stop()
  }
}
