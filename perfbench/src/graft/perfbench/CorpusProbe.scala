package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{IvfIndexStore, LinkageStore, MinhashIndexStore, SemanticIndexStore}
import graft.streaming.AcceptedSink

/** `corpus_probe`: the read side of the same stores. A seeded,
  * key-shifted replication of sf0.1 documents joined to embeddings is
  * built in set-up into a fixed mid-cadence chain per store (init,
  * appended deltas, one tombstone delta; not compacted) and an
  * accepted sink with a folded, stats-indexed archive plus live
  * batches. The timed part is a seeded closed-loop mix of
  * `MinhashIndexStore.probeLatest`, `SemanticIndexStore.probeLatest`,
  * `IvfIndexStore.probeLatest`, `LinkageStore.resolveRows` and
  * `AcceptedSink.prunedReadAccepted` as-of reads. */
final class CorpusProbe(spark: SparkSession, data: String, work: String,
                        seed: Long) extends Workload {
  import CorpusProbe._

  private var inputs = ""

  /** Derive the replicated corpus. Its `h` column, a seeded hash bucket
    * of the id, places each row in the init, an appended delta and an
    * accepted-sink batch. */
  def setup(round: Int): Unit = {
    val dir = s"$work/inputs-$round"
    val docs = spark.read.parquet(s"$data/$Scale/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val vecs = spark.read.parquet(s"$data/$Scale/embeddings.parquet")
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val base = docs.join(vecs, Seq("doc_id"))
    base.crossJoin(spark.range(Replication).withColumnRenamed("id", "rep"))
      .select(
        (col("doc_id") * Replication + col("rep")).as("doc_id"),
        col("text"), col("lang"), substring(col("text"), 1, 10).as("sig"),
        col("embedding"))
      .withColumn("h", pmod(xxhash64(col("doc_id"), lit(seed)), lit(16)))
      .write.parquet(s"$dir/corpus")
    // probe queries: the unreplicated rows under negative ids, which
    // can never collide with a corpus id
    base.select((-(col("doc_id") + 1)).as("doc_id"), col("text"), col("lang"),
      substring(col("text"), 1, 10).as("sig"), col("embedding"))
      .write.parquet(s"$dir/queries")
    inputs = dir
  }

  private def storeDir(s: String): String = s"$work/stores/$s"
  private def sink: String = s"$work/stores/accepted"

  /** Build the mid-cadence chains and the accepted sink over the
    * derived corpus. */
  override def build(): Unit = {
    val corpus = spark.read.parquet(s"$inputs/corpus")
    def part(p: Int): DataFrame = corpus.where(col("h") % (Deltas + 1) === p)
      .drop("h")
    val init = part(0)
    var mh = MinhashIndexStore.init(init, storeDir("minhash"), "doc_id", "text",
      shingleK = 5, numBands = 24, rowsPerBand = 2)
    var sem = SemanticIndexStore.init(init, storeDir("semantic"), "doc_id",
      "embedding", nlist = 16)
    var ivf = IvfIndexStore.init(init, storeDir("ivf"), "doc_id", "embedding",
      nlist = 64)
    var link = LinkageStore.init(init.select("lang", "sig"), storeDir("linkage"),
      "sig", Seq("lang"), maxDist = 3)
    // each verb returns the head it leaves (a no-op delta keeps the base)
    (1 to Deltas).foreach { d =>
      val delta = part(d)
      mh = MinhashIndexStore.append(spark, storeDir("minhash"), delta, "doc_id",
        "text", mh)
      sem = SemanticIndexStore.append(spark, storeDir("semantic"), delta,
        "doc_id", "embedding", sem)
      ivf = IvfIndexStore.append(spark, storeDir("ivf"), delta, "doc_id",
        "embedding", ivf)
      link = LinkageStore.append(spark, storeDir("linkage"),
        delta.select("lang", "sig"), link)
    }
    // one tombstone delta: a seeded sixteenth of the init rows (for the
    // value-keyed linkage store, their values no other row carries)
    val gone = init.where(pmod(xxhash64(col("doc_id"), lit(seed + 1)), lit(16)) === 0)
    val ids = gone.select("doc_id")
    MinhashIndexStore.remove(spark, storeDir("minhash"), ids, "doc_id", mh)
    SemanticIndexStore.remove(spark, storeDir("semantic"), ids, "doc_id", sem)
    IvfIndexStore.remove(spark, storeDir("ivf"), ids, "doc_id", ivf)
    LinkageStore.remove(spark, storeDir("linkage"),
      gone.select("lang", "sig").distinct()
        .join(corpus.join(ids, Seq("doc_id"), "left_anti").select("lang", "sig"),
          Seq("lang", "sig"), "left_anti"), link)
    // accepted sink: one batch directory per hash bucket, the older
    // ones folded into a stats-indexed archive, the newest left live
    (0 until SinkBatches).foreach { b =>
      corpus.where(col("h") % SinkBatches === b)
        .select("doc_id", "text", "lang")
        .write.parquet(s"$sink/batch=$b")
    }
    AcceptedSink.fold(spark, sink, belowBatch = SinkBatches - LiveBatches,
      statsCols = Seq("doc_id", "batch"))
    val r = corpus.agg(min("doc_id"), max("doc_id")).head()
    corpusIds = (r.getLong(0), r.getLong(1))
  }

  private var corpusIds = (0L, 0L)
  private val rng = new scala.util.Random(seed)
  private lazy val probes = new Probes(spark, storeDir, sink, () => {
    val asOf = rng.nextInt(SinkBatches).toLong
    val width = (corpusIds._2 - corpusIds._1) / 8
    val lo = corpusIds._1 + (rng.nextDouble() * 7 * width).toLong
    (asOf, lo, lo + width)
  })

  def run(ops: Ops, deadlineNs: Long): Unit = {
    val queries = spark.read.parquet(s"$inputs/queries").cache()
    val nQueries = queries.count()
    var i = 0
    var rounds = 0
    while (rounds == 0 || System.nanoTime() < deadlineNs) {
      // each round visits every probe kind once, in a seeded order
      ops.cycle { c =>
        rng.shuffle(Probes.Kinds).foreach { kind =>
          val q = queries.where(pmod(xxhash64(col("doc_id"), lit(seed * 7919 + i)),
            lit(math.max(1L, nQueries / QueryBatch))) === 0)
          i += 1
          c.add(probes.probe(ops, kind, q))
        }
      }
      rounds += 1
    }
    queries.unpersist()
  }

  def metrics(ops: Ops): Seq[Metric] = {
    val all = Probes.Kinds.flatMap(k => ops.of(s"probe.$k"))
    Seq(Metric.median("probe_p50_s", all), Metric.pct("probe_p90_s", all, 90))
  }

  def layers(t: Trace): Seq[(String, Double)] = {
    val stores = TriadIngest.StoreNames.map { s =>
      s"ops.store.$s.chain_len" -> Stores.chainLen(spark, s, storeDir(s)).toDouble
    }
    stores ++ Sinks.layers(spark, sink) ++ probes.layers
  }

  def outputDigests: Map[String, String] = Map.empty
}

object CorpusProbe {
  /** Testdata scale the inputs derive from. */
  val Scale = "sf0.1"
  /** Copies of each sf0.1 document, under shifted keys. */
  val Replication = 10
  /** Appended deltas on top of the init version. */
  val Deltas = 3
  val SinkBatches = 6
  val LiveBatches = 2
  /** Queries per probe (a seeded hash sample of the unreplicated rows). */
  val QueryBatch = 32
}
