package graft.model

import org.apache.spark.sql.functions.{col, pmod, lit}

import graft.streaming.{DedupIngestStream, IvfIngestStream, SemanticIngestStream}

/** Measures the INGEST LOOPS end-to-end — the per-batch cost of
  * [[graft.streaming.DedupIngestStream]] and
  * [[graft.streaming.SemanticIngestStream]] as the standing corpus
  * grows underneath them. The loops' scale claim is that a batch pays
  * batch-mass work (probe exchanges, delta append, meta-only chain
  * poll) plus the measured per-link chain tax — NOT corpus-mass work —
  * so per-batch wall should stay ~flat across a run that grows the
  * corpus by ~6% per batch, with one visible spike at the cadence
  * batch that runs the O(corpus) compact (the amortized term). This
  * main makes that claim a reading instead of prose.
  *
  * Method: init each store on HALF its table (even ids), then drive
  * 8 batches of odd ids split by residue, `compactEvery = 4` so the
  * cadence trips mid-run — batch timings before and after the compact
  * also show whether the chain reset pays back. Per batch: wall
  * seconds, accepted rows, the store version, and whether a compact
  * ran. Single pass per store (the loop is stateful — there is no
  * warm-up that doesn't change the state); loadavg is printed so a
  * contended reading can be adjudicated like every other single-run
  * number on this box (SCALE.md bench doctrine).
  *
  * `SPARK_GRAFT_BATCH_DENOM` (default 16, must be a multiple of 16)
  * sets the residue denominator the 8 batch slices are cut with —
  * each batch is table/denom rows. The FIXED-BATCH decade experiment:
  * run the default at sf0.1 and denom=160 at the 10× corpus, and the
  * batches are the same ~300-doc size against a 10× standing corpus —
  * a flat per-batch band across that pair is the no-corpus-term claim
  * isolated from batch-size growth, while init/compact (corpus-mass
  * by design) are expected to carry the 10×.
  *
  * Usage: `runMain graft.model.IngestLoopBench [sfDir]` (default
  * `SPARK_GRAFT_SF_DIR`, else sf0.1). Prints one JSON line. */
object IngestLoopBench {
  import BenchHarness.time

  private def r3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  private def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  def main(args: Array[String]): Unit = {
    val (spark, dir) = BenchHarness.session(args, "/root/testdata/sf0.1")
    val before = loadavg()
    try graft.Scratch.during("ingest-bench") { root =>
      val Batches = 8
      // batch slice geometry (see the object doc): batch b = ids with
      // id % denom == step*b + 1 — odd (disjoint from the even standing
      // half) and disjoint across b for any denom that is a multiple
      // of 16
      val denom = sys.env.get("SPARK_GRAFT_BATCH_DENOM").map(_.trim.toInt)
        .getOrElse(16)
      require(denom >= 16 && denom % 16 == 0,
        s"SPARK_GRAFT_BATCH_DENOM must be a positive multiple of 16, got $denom")
      val step = denom / 8
      def slice(df: org.apache.spark.sql.DataFrame, idCol: String, b: Int) =
        df.where(pmod(col(idCol), lit(denom)) === step * b + 1)
      def run(store: String,
              initF: () => Long,
              batchF: (Int, Long) => (Long, Long, Option[Long])): String = {
        val (initSec, _) = time(initF())
        val rows = (0 until Batches).map { b =>
          val (sec, (accepted, version, compacted)) =
            time(batchF(b, b.toLong))
          s"""{"b":$b,"sec":${r3(sec)},"accepted":$accepted,""" +
            s""""version":$version,"compacted":${compacted.nonEmpty}}"""
        }
        s""""$store":{"init_sec":${r3(initSec)},"batches":[${rows.mkString(",")}]}"""
      }

      // minhash loop over documents: standing = even doc ids; batches =
      // 8 disjoint odd-id slices cut by `slice` (denom-controlled)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val mh = run("minhash",
        () => graft.ops.MinhashIndexStore.init(
          docs.where(pmod(col("doc_id"), lit(2)) === 0),
          s"$root/mh/store", "doc_id", "text",
          shingleK = 5, numBands = 24, rowsPerBand = 2),
        (b, batchId) => {
          val batch = slice(docs, "doc_id", b)
          val o = DedupIngestStream.processBatch(batch, batchId,
            s"$root/mh/store", s"$root/mh/accepted", "doc_id", "text",
            threshold = 0.5, compactEvery = 4, checkpointDir = s"$root/bench-cp")
          (o.accepted, o.version, o.compactedTo)
        })

      // semantic loop over embeddings: same split shape; threshold 0.9
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val sem = run("semantic",
        () => graft.ops.SemanticIndexStore.init(
          vecs.where(pmod(col("vec_id"), lit(2)) === 0),
          s"$root/sem/store", "vec_id", "embedding", nlist = 16),
        (b, batchId) => {
          val batch = slice(vecs, "vec_id", b)
          val o = SemanticIngestStream.processBatch(batch, batchId,
            s"$root/sem/store", s"$root/sem/accepted", "vec_id", "embedding",
            threshold = 0.9, compactEvery = 4, checkpointDir = s"$root/bench-cp")
          (o.accepted, o.version, o.compactedTo)
        })

      // ivf loop over the same embeddings split: append-only (no dedup
      // decision), so its per-batch cost is the floor of the triad
      val ivf = run("ivf",
        () => graft.ops.IvfIndexStore.init(
          vecs.where(pmod(col("vec_id"), lit(2)) === 0),
          s"$root/ivf/store", "vec_id", "embedding", nlist = 16),
        (b, batchId) => {
          val batch = slice(vecs, "vec_id", b)
          val o = IvfIngestStream.processBatch(batch, batchId,
            s"$root/ivf/store", "vec_id", "embedding",
            compactEvery = 4, checkpointDir = s"$root/bench-cp")
          (o.appended, o.version, o.compactedTo)
        })

      // curation front gate over the same document slices: the claim
      // is O(batch · narrow-expr) with NO state term at all — per-batch
      // wall should sit well under the dedup loop's and stay flat
      val rule = graft.streaming.CurationGate.Rule(
        minQuality = 0.5, minTokens = 20, allowedLangs = Set("en", "zh"))
      val curRows = (0 until Batches).map { b =>
        val batch = slice(docs, "doc_id", b)
        val (sec, (kept, rejected)) = time {
          val (_, o) = graft.streaming.CurationGate.processBatch(batch,
            b.toLong, s"$root/cur/rejected", "doc_id", "text", rule)
          (o.kept, o.rejected)
        }
        s"""{"b":$b,"sec":${r3(sec)},"kept":$kept,"rejected":$rejected}"""
      }
      val cur = s""""curation":{"batches":[${curRows.mkString(",")}]}"""

      println(s"""{"metric":"ingest_loop","sf":"$dir","batch_denom":$denom,""" +
        s""""load_before":$before,"load_after":${loadavg()},""" +
        s"""$mh,$sem,$ivf,$cur}""")
    } finally spark.stop()
  }
}
