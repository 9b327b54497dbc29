package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{IvfIndexStore, LinkageStore, MinhashIndexStore, SemanticIndexStore}
import graft.streaming.{AcceptedSink, CurationGate, TriadPipeline}

/** `triad_ingest`: the curation operator's write path. Each cycle, on
  * fresh state, initializes the four index stores over a seeded
  * standing half of the sf0.1 corpus (documents joined to embeddings),
  * runs one seeded micro-batch of the other half through
  * `TriadPipeline.processBatch` with the curation front gate and the
  * linkage tail, at a compaction cadence that trips on that batch,
  * takes down a seeded sample of accepted ids with
  * `TriadPipeline.takedown`, and reads the state it leaves with one
  * round of the five store probes. A deep `TriadPipeline.audit` and the
  * accepted-id digest follow, outside the cycle. The cycle's work is
  * fixed: more cycles run while time remains, each the same. */
final class TriadIngest(spark: SparkSession, data: String, work: String,
                        seed: Long) extends Workload {
  import TriadIngest._

  private var inputs = ""

  def setup(round: Int): Unit = {
    val dir = s"$work/inputs-$round"
    val docs = spark.read.parquet(s"$data/$Scale/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"),
        substring(col("text"), 1, 10).as("sig"))
    val vecs = spark.read.parquet(s"$data/$Scale/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // slots are dealt round-robin in seeded hash order, so every seed gets
    // equal-sized batches and standing half
    val dealt = Window.orderBy(xxhash64(col("doc_id"), lit(seed)), col("doc_id"))
    docs.join(vecs, Seq("doc_id"))
      .withColumn("slot", pmod(row_number().over(dealt), lit(2 * Slots)))
      .write.partitionBy("slot").parquet(s"$dir/corpus")
    inputs = dir
  }

  private def config(root: String) = TriadPipeline.Config(root, "doc_id", "text",
    "embedding", checkpointDir = s"$root/cp",
    semanticThreshold = 0.9,
    minhashCompactEvery = CompactEvery, vectorCompactEvery = CompactEvery,
    curation = Some(CurationGate.Rule(minQuality = 0.05, minTokens = 3)),
    acceptedStatsCols = Seq("doc_id", "batch"),
    linkage = Some(TriadPipeline.LinkageStage("sig", Seq("lang"), maxDist = 3,
      compactEvery = CompactEvery)))

  /** State of the last cycle: its config, store sizes after init, and
    * its probes (the layer metrics read them). */
  private var cfg = config(s"$work/triad-0")
  private var storeBytesBefore = Map.empty[String, (Long, Long)]
  private var probes: Option[Probes] = None

  private var docsIn = 0L
  private var accepted = 0L
  private var batchSecs = 0.0
  private val stageSecs = scala.collection.mutable.Map.empty[String, Double]
  private var batches = 0
  private var corpusDocs = 0L
  private var diskBytesPerDoc = Seq.empty[Double]
  private val digests = new Digests

  def run(ops: Ops, deadlineNs: Long): Unit = {
    val corpus = spark.read.parquet(s"$inputs/corpus")
    // the standing half is every even slot; the batch and the probe
    // queries are two odd slots in a seeded order
    val standing = corpus.where(col("slot") % 2 === 0).drop("slot")
    val order = new scala.util.Random(seed).shuffle((0 until Slots).toList)
    val batch = corpus.where(col("slot") === 2 * order(0) + 1).drop("slot")
    val queries = corpus.where(col("slot") === 2 * order(1) + 1).drop("slot")
    val r = standing.agg(count(lit(1)), min("doc_id"), max("doc_id")).head()
    corpusDocs = r.getLong(0)
    val (idLo, idHi) = (r.getLong(1), r.getLong(2))
    val rows = batch.count()
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadlineNs) {
      cfg = config(s"$work/triad-$pass")
      // every cycle draws the same probe order and as-of window
      val rng = new scala.util.Random(seed)
      val width = (idHi - idLo) / 4
      val lo = idLo + (rng.nextDouble() * 3 * width).toLong
      val window = (0L, lo, lo + width)
      val p = new Probes(spark, storeDir, cfg.semanticAccepted, () => window)
      probes = Some(p)
      ops.cycle { c =>
        c.add(ops.op("index_build") {
          ops.layer("minhash.init")(MinhashIndexStore.init(standing, cfg.minhashDir,
            "doc_id", "text", shingleK = 5, numBands = 24, rowsPerBand = 2))
          ops.layer("semantic.init")(SemanticIndexStore.init(standing,
            cfg.semanticDir, "doc_id", "embedding", nlist = 16))
          ops.layer("ivf.init")(IvfIndexStore.init(standing, cfg.ivfDir,
            "doc_id", "embedding", nlist = 16))
          ops.layer("linkage.init")(TriadPipeline.initLinkageStore(spark, cfg))
        }(_ => None))
        storeBytesBefore = StoreNames.map(s => s -> Fs.bytesFiles(storeDir(s))).toMap
        c.add(ops.op("batch")(TriadPipeline.processBatch(batch, 0L, cfg)) { o =>
          val kept = o.curation.map(_.kept).getOrElse(rows)
          if (o.dedup.accepted > kept || o.semantic.accepted > o.dedup.accepted)
            Some(s"accepted counts not monotone: kept=$kept " +
              s"dedup=${o.dedup.accepted} semantic=${o.semantic.accepted}")
          else None
        }).foreach { o =>
          batchSecs += ops.of("batch").last
          docsIn += rows
          accepted += o.semantic.accepted
          batches += 1
          o.stageSecs.foreach { case (k, v) => stageSecs(k) = stageSecs.getOrElse(k, 0.0) + v }
        }
        // the ids are fixed before the takedown, so the check reads the
        // same ids; no accepted sink (a failed batch) fails the cycle
        val gone = scala.util.Try(spark.createDataFrame(
          AcceptedSink.readAccepted(spark, cfg.semanticAccepted).select("doc_id")
            .orderBy(xxhash64(col("doc_id"), lit(seed + 1)), col("doc_id"))
            .limit(TakedownDocs).collect().map(r => Tuple1(r.getLong(0))).toSeq)
          .toDF("doc_id")).toOption
        c.add(gone.flatMap(ids => ops.op("takedown")(TriadPipeline.takedown(spark, cfg, ids)) { _ =>
          val left = AcceptedSink.readAccepted(spark, cfg.semanticAccepted)
            .join(ids, Seq("doc_id"), "left_semi").count()
          if (left != 0) Some(s"$left taken-down ids still read as accepted") else None
        }))
        rng.shuffle(Probes.Kinds).foreach(k => c.add(p.probe(ops, k, queries)))
      }
      ops.op("audit")(TriadPipeline.audit(spark, cfg, deep = true)) { r =>
        if (r.ok) None else Some(s"deep audit: $r")
      }
      ops.op("digest")(Digest.of(AcceptedSink.readAccepted(spark, cfg.semanticAccepted)
        .select("doc_id")))(digests.sameAsFirst("accepted_ids", _))
      diskBytesPerDoc :+= Fs.bytesFiles(cfg.root)._1.toDouble / (corpusDocs + rows)
      pass += 1
    }
  }

  private def storeDir(s: String): String = s match {
    case "minhash" => cfg.minhashDir
    case "semantic" => cfg.semanticDir
    case "ivf" => cfg.ivfDir
    case "linkage" => cfg.linkageDir
  }

  def metrics(ops: Ops): Seq[Metric] = {
    val probeSecs = Probes.Kinds.flatMap(k => ops.of(s"probe.$k"))
    Seq(
      Metric.median("index_build_s", ops.of("index_build")),
      Metric.median("batch_p50_s", ops.of("batch")),
      Metric("ingest_docs_per_s", if (batchSecs > 0) docsIn / batchSecs else Double.NaN,
        "1/s", batches),
      Metric.median("takedown_s", ops.of("takedown")),
      Metric.median("probe_p50_s", probeSecs),
      Metric("disk_bytes_per_doc", Stats.median(diskBytesPerDoc).getOrElse(Double.NaN),
        "B", diskBytesPerDoc.size))
  }

  def layers(t: Trace): Seq[(String, Double)] = {
    val stages = Seq("curation", "dedup", "semantic", "ivf", "linkage").map { s =>
      s"streaming.triad.${s}_s" -> (if (batches > 0) stageSecs.getOrElse(s, 0.0) / batches else 0.0)
    }
    val stores = StoreNames.flatMap { s =>
      val (bytes, files) = Fs.bytesFiles(storeDir(s))
      val (b0, f0) = storeBytesBefore.getOrElse(s, (0L, 0L))
      Seq(s"ops.store.$s.bytes_written" -> (bytes - b0).toDouble,
        s"ops.store.$s.files_written" -> (files - f0).toDouble,
        s"ops.store.$s.chain_len" -> Stores.chainLen(spark, s, storeDir(s)).toDouble)
    }
    stages ++ Seq("streaming.triad.accept_ratio" ->
      (if (docsIn > 0) accepted.toDouble / docsIn else 0.0)) ++ stores ++
      Sinks.layers(spark, cfg.semanticAccepted) ++ probes.toSeq.flatMap(_.layers)
  }

  def outputDigests: Map[String, String] = digests.toMap
}

object TriadIngest {
  /** Testdata scale the inputs derive from. */
  val Scale = "sf0.1"
  /** The corpus is hashed into 2 × Slots slots: even slots stand, one
    * odd slot arrives as the batch and another is the probe queries
    * (~125 documents each at sf0.1). */
  val Slots = 8
  /** Chain length that trips a compaction: 1 compacts every store on
    * the batch, so the cycle's one batch carries the whole maintenance
    * path. */
  val CompactEvery = 1
  /** Accepted documents the closing takedown withdraws. */
  val TakedownDocs = 12
  val StoreNames: Seq[String] = Seq("minhash", "semantic", "ivf", "linkage")
}

/** Chain length of a named store. */
object Stores {
  def chainLen(spark: SparkSession, kind: String, dir: String): Int =
    if (!Fs.exists(dir)) 0
    else kind match {
      case "minhash" => MinhashIndexStore.chainLength(spark, dir)
      case "semantic" => SemanticIndexStore.chainLength(spark, dir)
      case "ivf" => IvfIndexStore.chainLength(spark, dir)
      case "linkage" => LinkageStore.chainLength(spark, dir)
    }
}

/** Accepted-sink shape: live batch directories, archive chain length
  * and bytes on disk. */
object Sinks {
  def layers(spark: SparkSession, dir: String): Seq[(String, Double)] = {
    val has = Fs.exists(dir) && AcceptedSink.hasAccepted(spark, dir)
    Seq(
      "streaming.sink.live_batches" ->
        (if (has) AcceptedSink.liveBatchIds(spark, dir).size.toDouble else 0.0),
      "streaming.sink.archive_chain" ->
        (if (has) AcceptedSink.archiveChain(spark, dir).size.toDouble else 0.0),
      "streaming.sink.bytes_written" -> Fs.bytesFiles(dir)._1.toDouble)
  }
}

object Fs {
  def exists(p: String): Boolean = new java.io.File(p).exists()

  /** Recursive (bytes, data files) under `p`; hidden and `_`-prefixed
    * bookkeeping files count toward bytes only. */
  def bytesFiles(p: String): (Long, Long) = {
    def walk(f: java.io.File): (Long, Long) =
      if (f.isFile) (f.length, if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L else 1L)
      else Option(f.listFiles).getOrElse(Array.empty[java.io.File]).map(walk)
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    walk(new java.io.File(p))
  }

  def delete(p: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(p))
  }
}
