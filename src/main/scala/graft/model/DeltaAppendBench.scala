package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the delta-append maintenance economics of the three
  * versioned index stores — the runnable form of the "O(batch)
  * maintenance I/O" claim (SCALE.md): an append writes batch-mass
  * bytes, a compact (or the old snapshot-append it replaced) writes
  * corpus-mass bytes, so the append/init byte ratio should track the
  * batch/corpus row ratio, not 1.
  *
  * Usage: `runMain graft.model.DeltaAppendBench [sfDir]` (default
  * `SPARK_GRAFT_SF_DIR`, else sf0.1). For each store — MinHash/LSH
  * over `documents`, SemDeDup and IVF over `embeddings` — init v=0
  * from the 95% standing slice (id % 20 ≠ 0), append the 5% batch
  * slice as the v=1 delta, REMOVE a ~0.5% takedown slice (id % 200 =
  * 1) as the v=2 tombstone delta, then compact to a full v=3, timing
  * each step and summing each version directory's parquet bytes off
  * disk. Prints one JSON line with per-store
  * `{init_sec, init_bytes, append_sec, append_bytes, remove_sec,
  * remove_bytes, compact_sec, compact_bytes}`; the claims under test
  * are `append_bytes/init_bytes ≈ 0.05` (plus per-version fixed
  * overhead: meta, centroids, bands headers) against the snapshot
  * regime's ~1.05, and `remove_bytes` = tombstone mass (KBs against a
  * corpus-mass init — the O(tombstones) takedown claim; the removed
  * rows' actual exit from disk is `compact_bytes`' job). */
object DeltaAppendBench {
  import BenchHarness.time

  private def dirBytes(f: java.io.File): Long =
    BenchHarness.dirFilesBytes(f)._2

  def main(args: Array[String]): Unit = {
    import graft.ops.{Dedup, IvfIndexStore, MinhashIndexStore, SemanticIndexStore}
    val (spark, dir) = BenchHarness.session(args, "/root/testdata/sf0.1")

    // one lifecycle = init(standing) → append(batch delta) →
    // remove(tombstone delta) → compact; returns the JSON fragment
    def lifecycle(name: String, store: String,
                  init: () => Long, append: () => Long,
                  remove: () => Long, compact: () => Long): String = {
      val (initSec, _) = time(init())
      val initBytes = dirBytes(new java.io.File(s"$store/v=0"))
      val (appendSec, _) = time(append())
      val appendBytes = dirBytes(new java.io.File(s"$store/v=1"))
      val (removeSec, _) = time(remove())
      val removeBytes = dirBytes(new java.io.File(s"$store/v=2"))
      val (compactSec, _) = time(compact())
      val compactBytes = dirBytes(new java.io.File(s"$store/v=3"))
      s""""$name":{"init_sec":$initSec,"init_bytes":$initBytes,""" +
        s""""append_sec":$appendSec,"append_bytes":$appendBytes,""" +
        s""""remove_sec":$removeSec,"remove_bytes":$removeBytes,""" +
        s""""compact_sec":$compactSec,"compact_bytes":$compactBytes}"""
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val standingDocs = docs.where(col("doc_id") % 20 =!= 0)
    val batchDocs = docs.where(col("doc_id") % 20 === 0)
    val standingEmb = emb.where(col("vec_id") % 20 =!= 0)
    val batchEmb = emb.where(col("vec_id") % 20 === 0)
    // the takedown slice: ~0.5% of each corpus, O(tombstones) to remove
    val removeDocs = docs.where(col("doc_id") % 200 === 1).select("doc_id")
    val removeEmb = emb.where(col("vec_id") % 200 === 1).select("vec_id")
    try graft.Scratch.during("delta-bench") { root =>
      val mh = lifecycle("minhash", s"$root/mh",
        () => MinhashIndexStore.init(standingDocs, s"$root/mh",
          "doc_id", "text"),
        () => MinhashIndexStore.append(spark, s"$root/mh", batchDocs,
          "doc_id", "text", expectedBase = 0L),
        () => MinhashIndexStore.remove(spark, s"$root/mh", removeDocs,
          "doc_id", expectedBase = 1L),
        () => MinhashIndexStore.compact(spark, s"$root/mh"))
      val sem = lifecycle("semantic", s"$root/sem",
        () => SemanticIndexStore.init(standingEmb, s"$root/sem",
          "vec_id", "embedding"),
        () => SemanticIndexStore.append(spark, s"$root/sem", batchEmb,
          "vec_id", "embedding", expectedBase = 0L),
        () => SemanticIndexStore.remove(spark, s"$root/sem", removeEmb,
          "vec_id", expectedBase = 1L),
        () => SemanticIndexStore.compact(spark, s"$root/sem"))
      val ivf = lifecycle("ivf", s"$root/ivf",
        () => IvfIndexStore.init(standingEmb, s"$root/ivf",
          "vec_id", "embedding", nlist = 64),
        () => IvfIndexStore.append(spark, s"$root/ivf", batchEmb,
          "vec_id", "embedding", expectedBase = 0L),
        () => IvfIndexStore.remove(spark, s"$root/ivf", removeEmb,
          "vec_id", expectedBase = 1L),
        () => IvfIndexStore.compact(spark, s"$root/ivf"))
      println(
        s"""{"dir":"$dir","standing_docs":${standingDocs.count()},""" +
        s""""batch_docs":${batchDocs.count()},""" +
        s""""standing_vecs":${standingEmb.count()},""" +
        s""""batch_vecs":${batchEmb.count()},$mh,$sem,$ivf}""")
    } finally spark.stop()
  }
}
