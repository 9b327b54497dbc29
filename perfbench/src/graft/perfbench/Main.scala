package graft.perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{lit, pmod, xxhash64}

import graft.EngineConf

/** One end-to-end metric as measured, with its sample count. A NaN
  * value means "not reported" (too few samples for the percentile). */
final case class Metric(name: String, value: Double, unit: String, n: Int)

object Metric {
  def median(name: String, xs: Seq[Double]): Metric =
    Metric(name, Stats.median(xs).getOrElse(Double.NaN), "s", xs.size)

  /** Percentile `p`, reported only with ten samples beyond it. */
  def pct(name: String, xs: Seq[Double], p: Double): Metric =
    Metric(name, Stats.percentile(xs, p).getOrElse(Double.NaN), "s", xs.size)
}

/** A benchmark workload: seeded inputs made in `setup` (repeatable,
  * each round into a fresh directory), optional untimed `build` of
  * standing state, then the timed closed loop. */
trait Workload {
  def setup(round: Int): Unit
  def build(): Unit = ()
  /** The timed closed loop: at least one cycle (`Ops.cycle`), more
    * while time remains before `deadlineNs`. */
  def run(ops: Ops, deadlineNs: Long): Unit
  /** The workload's own end-to-end metrics. */
  def metrics(ops: Ops): Seq[Metric]
  /** Layer counters not derived from Spark events (traced runs). */
  def layers(t: Trace): Seq[(String, Double)]
  /** Output digests that must be equal for every run of a seed. */
  def outputDigests: Map[String, String]
}

object Inputs {
  /** The seeded hash split: keep all but one id in `n`. */
  def keep(id: Column, seed: Long, n: Int): Column =
    pmod(xxhash64(id, lit(seed)), lit(n)) =!= 0
}

/** The benchmark's JVM entry point. Usage:
  *
  * {{{
  * graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --data <dir> --work <dir> --out <file>
  * }}}
  *
  * Writes one JSON record to `--out` (and the spans of a traced run
  * next to it); `perfbench/run.py` is the front end that builds, runs
  * and reports. */
object Main {
  /** Set-up repeats; `setup_s` is their median (the first pays the
    * JVM's and Spark's first-use costs). */
  val SetupRounds = 5

  /** Spark ops whose per-op counters the traced run reports. */
  val SparkOps: Seq[String] = Seq("batch", "index_build", "takedown", "refresh",
    "mart", "probe.minhash", "probe.semantic", "probe.ivf", "probe.linkage",
    "probe.asof")

  /** Layer counters the workloads measure themselves; a workload reports
    * 0 for a layer it does not exercise. */
  val WorkloadLayers: Seq[String] =
    Seq("curation", "dedup", "semantic", "ivf", "linkage").map(s => s"streaming.triad.${s}_s") ++
      Seq("streaming.triad.accept_ratio") ++
      Seq("minhash", "semantic", "ivf", "linkage").flatMap(s =>
        Seq("bytes_written", "files_written", "chain_len").map(k => s"ops.store.$s.$k")) ++
      Seq("streaming.sink.live_batches", "streaming.sink.archive_chain",
        "streaming.sink.bytes_written", "sources.skip.kept_files",
        "sources.skip.total_files", "pipeline.dwh.write_s", "pipeline.dwh.check_s",
        "pipeline.dwh.models_built", "pipeline.dwh.checks_run")

  private def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Peak resident set of this process (VmHWM), MB. */
  private def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(Double.NaN) finally src.close()
    } catch { case _: Exception => Double.NaN }

  /** Heap still in use after a full collection: what the layers'
    * caches and leftovers retain once the timed phase is over, MB. The
    * least of three collections, each after a pause in which the
    * listener bus drains and Spark's context cleaner releases what the
    * previous one freed. */
  private def retainedHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      Thread.sleep(300)
      System.gc()
      heap.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val data = opt("data")
    val work = opt("work")
    val out = opt("out")

    val loadBefore = loadAvg1m()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.optimizer.excludedRules", EngineConf.ExcludedOptimizerRules)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        EngineConf.CanChangeCachedPlanPartitioning)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        EngineConf.AqeMinPartitionSize)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val trace = if (traced) {
        val t = new Trace(spark.sparkContext)
        spark.sparkContext.addSparkListener(t)
        Some(t)
      } else None
      val wl: Workload = workload match {
        case "dwh_refresh" => new DwhRefresh(spark, data, work, seed)
        case "triad_ingest" => new TriadIngest(spark, data, work, seed)
        case "corpus_probe" => new CorpusProbe(spark, data, work, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val setupSecs = (1 to SetupRounds).map(r => timed(wl.setup(r)))
      val buildSecs = timed(wl.build())
      val ops = new Ops(trace)
      val cpu0 = Ops.processCpuNs()
      wl.run(ops, System.nanoTime() + (seconds * 1e9).toLong)
      val cpuSecs = (Ops.processCpuNs() - cpu0) / 1e9
      val retainedMb = retainedHeapMb()
      val loadAfter = loadAvg1m()
      trace.foreach(_.drain())

      val metrics = Seq(
        Metric("setup_s", Stats.median(setupSecs).get + buildSecs, "s", setupSecs.size),
        Metric.median("cycle_s", ops.cycleSecs.toSeq),
        Metric.median("cycle_cpu_s", ops.cycleCpuSecs.toSeq),
        Metric("peak_rss_mb", peakRssMb(), "MB", 1),
        Metric("retained_heap_mb", retainedMb, "MB", 1),
        Metric("cpu_s", cpuSecs, "s", 1),
        Metric("failed_op_ratio", ops.failed.toDouble / math.max(ops.attempted, 1L),
          "ratio", ops.attempted.toInt)) ++ wl.metrics(ops)
      val layers: Seq[(String, Double)] = trace.toSeq.flatMap { t =>
        val own = wl.layers(t).toMap
        val unknown = own.keySet -- WorkloadLayers
        require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
        SparkOps.flatMap { op =>
          t.sparkLayer(op).toSeq.sortBy(_._1).map { case (k, v) => s"spark.$op.$k" -> v }
        } ++ WorkloadLayers.map(n => n -> own.getOrElse(n, 0.0))
      }
      val conf = spark.conf
      val engine = Seq(
        "spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.optimizer.excludedRules",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")
        .map(k => k -> Json.str(conf.getOption(k).getOrElse("")))
      val overrides = Seq("GRAFT_CACHED_PLAN_AQE", "GRAFT_AQE_MIN_PARTITION_SIZE")
        .flatMap(k => sys.env.get(k).map(v => k -> Json.str(v)))
      val samples = ops.samples.toSeq.map { case (k, v) =>
        k -> Json.arr(v.map(Json.num)) }
      val record = Json.obj(Seq(
        "workload" -> Json.str(workload),
        "seed" -> seed.toString,
        "trace" -> (if (traced) "1" else "0"),
        "run_seconds" -> Json.num(seconds),
        "cores" -> cores.toString,
        "spark_version" -> Json.str(spark.version),
        "engine_conf" -> Json.obj(engine),
        "env_overrides" -> Json.obj(overrides),
        "load_before" -> Json.num(loadBefore),
        "load_after" -> Json.num(loadAfter),
        "attempted" -> ops.attempted.toString,
        "failed" -> ops.failed.toString,
        "failures" -> Json.arr(ops.failures.map(Json.str)),
        "setup_rounds_s" -> Json.arr(setupSecs.map(Json.num)),
        "build_s" -> Json.num(buildSecs),
        "metrics" -> Json.obj(metrics.map { m =>
          m.name -> Json.obj(Seq("value" -> Json.num(m.value),
            "unit" -> Json.str(m.unit), "n" -> m.n.toString))
        }),
        "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
        "samples" -> Json.obj(samples),
        "digests" -> Json.obj(wl.outputDigests.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.str(v) })))
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        record.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      trace.foreach { t =>
        java.nio.file.Files.write(java.nio.file.Paths.get(out + ".spans.jsonl"),
          t.allSpans.map(Trace.spanJson).mkString("", "\n", "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    } finally spark.stop()
  }
}
