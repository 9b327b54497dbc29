package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{IvfIndexStore, LinkageStore, MinhashIndexStore, SemanticIndexStore, Similarity}
import graft.sources.StatsIndex
import graft.streaming.AcceptedSink

/** The five store reads, one op each, checked against their unpruned
  * equivalent where there is one: `MinhashIndexStore.probeLatest`,
  * `SemanticIndexStore.probeLatest`, `IvfIndexStore.probeLatest`,
  * `LinkageStore.resolveRows` and an `AcceptedSink.prunedReadAccepted`
  * as-of read. Query frames carry `doc_id`, `text`, `lang`, `sig` and
  * `embedding`; the accepted sink carries `doc_id` and `batch` stats.
  * `asOfWindow` draws the (as-of batch, low id, high id) of each as-of
  * read. */
final class Probes(spark: SparkSession, storeDir: String => String, sink: String,
                   asOfWindow: () => (Long, Long, Long)) {
  import Probes._

  private var keptFiles = 0L
  private var totalFiles = 0L
  private var asofReads = 0

  /** The full-scan reference of the IVF parity check, loaded once. */
  private lazy val ivf = IvfIndexStore.read(spark, storeDir("ivf"))

  /** One probe of `kind` (one of [[Kinds]]) for query batch `q`. */
  def probe(ops: Ops, kind: String, q: DataFrame): Option[_] = kind match {
    case "minhash" =>
      ops.op("probe.minhash")(Digest.of(MinhashIndexStore.probeLatest(spark,
        storeDir("minhash"), q, "doc_id", "text")))(_ => None)
    case "semantic" =>
      ops.op("probe.semantic")(Digest.of(SemanticIndexStore.probeLatest(spark,
        storeDir("semantic"), q, "doc_id", "embedding", threshold = 0.9)))(_ => None)
    case "ivf" =>
      ops.op("probe.ivf")(Digest.of(IvfIndexStore.probeLatest(spark,
        storeDir("ivf"), q, "doc_id", "embedding", k = 10, nprobe = 4))) { d =>
        // parity: the pruned probe must answer exactly like the
        // full-scan probe over every cell
        val full = Digest.of(Similarity.ivfProbe(ivf.centroids, ivf.cells, q,
          "doc_id", "embedding", k = 10, nprobe = 4))
        if (d == full) None else Some(s"pruned ivf probe $d != full scan $full")
      }
    case "linkage" =>
      ops.op("probe.linkage")(LinkageStore.resolveRows(spark, storeDir("linkage"),
        q.select("doc_id", "lang", "sig")).select("doc_id", "canonical_sig")
        .collect()) { rows =>
        val n = q.count()
        if (rows.length == n) None
        else Some(s"resolveRows returned ${rows.length} rows for $n")
      }
    case "asof" =>
      val (asOf, lo, hi) = asOfWindow()
      val rowFilter = col("batch") <= asOf && col("doc_id").between(lo, hi)
      ops.op("probe.asof") {
        val p = AcceptedSink.prunedReadAccepted(spark, sink, Seq("doc_id", "batch"),
          StatsIndex.mayContainBetween("batch", 0L, asOf) &&
            StatsIndex.mayContainBetween("doc_id", lo, hi), rowFilter)
        (Digest.of(p.df.select("doc_id", "batch")), p.keptFiles, p.totalFiles)
      } { case (d, kept, total) =>
        keptFiles += kept; totalFiles += total; asofReads += 1
        val plain = Digest.of(AcceptedSink.readAccepted(spark, sink)
          .where(rowFilter).select("doc_id", "batch"))
        if (d == plain) None else Some(s"pruned as-of read $d != plain filter $plain")
      }
  }

  /** Files kept and seen per as-of read. */
  def layers: Seq[(String, Double)] = Seq(
    "sources.skip.kept_files" -> (if (asofReads > 0) keptFiles.toDouble / asofReads else 0.0),
    "sources.skip.total_files" -> (if (asofReads > 0) totalFiles.toDouble / asofReads else 0.0))
}

object Probes {
  val Kinds: Seq[String] = Seq("minhash", "semantic", "ivf", "linkage", "asof")
}
