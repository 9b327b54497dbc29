package graft.model

import org.apache.spark.sql.SparkSession

/** The shared session + timing harness of the measurement mains
  * ([[BandedProbeBench]], [[DeltaAppendBench]], [[SpreadCalibrate]]):
  * the [[graft.EngineConf.session]] builder with the graft extensions,
  * so no main can silently measure a differently configured engine. */
private[model] object BenchHarness {

  /** The standard local bench session: `SPARK_GRAFT_CPUS` threads
    * (default 32), graft extensions registered, the same excluded
    * rules and determinism settings as `graft.Bench`. `dir` resolution:
    * first program argument, else `SPARK_GRAFT_SF_DIR`, else
    * `defaultDir`. Returns (session, resolved data dir). */
  def session(args: Array[String], defaultDir: String): (SparkSession, String) = {
    val dir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(defaultDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.EngineConf.session(cpus.toInt)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, dir)
  }

  /** Wall-time one evaluation of `body`: (seconds, result). */
  def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Median of `reps` timed runs after one untimed warm-up (JIT,
    * codegen, page cache land on the warm-up). */
  def median(body: => Long, reps: Int = 3): (Double, Long) = {
    time(body) // warm-up
    val runs = (1 to reps).map(_ => time(body))
    (runs.map(_._1).sorted.apply(reps / 2), runs.head._2)
  }

  /** Recursive (parquet file count, total bytes) of a directory — the
    * on-disk mass a pruned or delta read actually touches. */
  def dirFilesBytes(f: java.io.File): (Long, Long) =
    if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L, f.length)
    else Option(f.listFiles).getOrElse(Array.empty)
      .map(dirFilesBytes).foldLeft((0L, 0L)) {
        case ((nf, nb), (f2, b2)) => (nf + f2, nb + b2) }
}
