package graft.pipeline

import java.util.concurrent.{Callable, ExecutorCompletionService, LinkedBlockingQueue,
  ThreadPoolExecutor, TimeUnit}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.quality.{CheckResult, QualityCheck}

/** O2/O3 + S4–S6 — the pipeline runner: bronze → silver → gold → test,
  * with dbt-style view/table materialization and full-refresh semantics.
  *
  * Models are declared with dependencies (the reference's dbt `ref()`
  * graph, `f_loan_contract.sql:4,37-44`) and run the way dbt runs with
  * `threads: 4` (`profiles.yml:11`). Each [[run]] creates its own pool
  * of `min(#models, defaultParallelism)` threads. A model is submitted
  * the moment its last declared dep is materialized; once every model
  * is, all checks go to the same pool (`dbt run && dbt test`, each
  * phase threaded). Spark's scheduler interleaves the jobs of whatever
  * is in flight, so small driver-bound jobs overlap instead of queueing.
  * A build sees the sources and its declared deps only: reading any
  * other name fails by name rather than racing a sibling. The pool's
  * threads are started on the calling thread, after anything it set, so
  * they carry its Spark local properties (job tags, job group) onto
  * every job. The pool is never shared: a thread created earlier would
  * carry stale properties.
  *
  * Results do not depend on the schedule: `built` is the topological
  * order and `checks` the (topo model, declared check) order. If a
  * build fails, models not downstream of it still build (dbt skips only
  * the dependents), no check runs, and `run` waits for every build in
  * flight before it rethrows, so no write outlives the call. The
  * exception is the one a sequential run would throw: the failed build
  * earliest in topo order, else the earliest failed check.
  *
  * Views stay lazy temp views (recomputed, like dbt `view`
  * materialization); tables are written to parquet and re-registered
  * (dbt `table`), so downstream reads scan the materialized copy instead
  * of recomputing the lineage. A run is a full refresh: overwrite-mode
  * writes, idempotent (`dags/bank_etl_dag.py:58-64`).
  */
object Runner {

  sealed trait Materialization
  case object View extends Materialization
  case object Table extends Materialization
  /** Hive-style partitioned parquet table — the 100 TB materialization:
    * downstream filters on the partition columns prune whole directories
    * at the scan (visible as `PartitionFilters` in explain). */
  final case class PartitionedTable(partitionCols: Seq[String]) extends Materialization
  /** Bucketed catalog table: co-locates rows by hash of the bucket
    * columns at WRITE time, so joins/aggregations between tables bucketed
    * the same way need no shuffle at READ time — the standard way to
    * amortize one shuffle across every downstream join of a 100 TB fact.
    * Requires a catalog (saveAsTable), unlike the path-based modes. */
  final case class BucketedTable(bucketCols: Seq[String], numBuckets: Int)
    extends Materialization
  /** Incremental partitioned table (dbt incremental-model analogue):
    * dynamic partition overwrite replaces ONLY the partitions present in
    * this run's batch and leaves the rest of the table untouched — how a
    * 100 TB fact absorbs a daily batch without rewriting history. The
    * model's build should emit just the affected partitions (e.g. the
    * current load window); a full-refresh rebuild is the plain
    * [[PartitionedTable]]. */
  final case class IncrementalTable(partitionCols: Seq[String])
    extends Materialization

  /** One model: name, upstream model names, transform over the resolved
    * upstream frames, materialization, quality checks. */
  final case class Model(
      name: String,
      deps: Seq[String],
      build: Map[String, DataFrame] => DataFrame,
      materialization: Materialization = View,
      checks: Seq[QualityCheck] = Nil)

  final case class RunResult(built: Seq[String], checks: Seq[CheckResult],
                             frames: Map[String, DataFrame]) {
    def passed: Boolean = checks.forall(_.passed)
    def apply(model: String): DataFrame = frames(model)
  }

  /** Topologically order models by their dep edges (Kahn). `external`
    * names (source/bronze frames) count as already satisfied. Cycles or
    * unknown deps fail fast with the offending names. */
  def topoOrder(models: Seq[Model], external: Set[String] = Set.empty): Seq[Model] = {
    // duplicate names would both run, with the later frame clobbering
    // the resolution map — the FIRST model's checks would then silently
    // validate the SECOND model's output
    val dup = models.groupBy(_.name).collect { case (n, ms) if ms.size > 1 => n }
    require(dup.isEmpty, s"duplicate model name(s): ${dup.mkString(", ")}")
    // a model sharing a name with an external source is the same bug in
    // a different coat: the source name counts as already-satisfied, so
    // a dependent listed earlier in the Seq would build from the RAW
    // source frame while a dependent listed later gets the model's
    // output — silent, input-order-dependent results
    val shadow = models.map(_.name).filter(external.contains)
    require(shadow.isEmpty,
      s"model name(s) shadow external source(s): ${shadow.mkString(", ")}")
    val byName = models.map(m => m.name -> m).toMap
    models.foreach { m =>
      val missing = m.deps.filterNot(d => byName.contains(d) || external.contains(d))
      require(missing.isEmpty, s"model ${m.name}: unknown deps $missing")
    }
    val order = scala.collection.mutable.ListBuffer.empty[Model]
    val done = scala.collection.mutable.Set.empty[String]
    done ++= external
    var remaining = models
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.deps.forall(done))
      require(ready.nonEmpty, s"dependency cycle among ${remaining.map(_.name)}")
      order ++= ready
      done ++= ready.map(_.name)
      remaining = blocked
    }
    order.toList
  }

  /** Run all models (full refresh) and their checks — the engine's
    * `dbt run && dbt test`. `sources` seeds every build's inputs (bronze
    * frames); `warehouseDir` hosts table materializations. See the
    * object doc for the schedule and the failure rule. */
  def run(spark: SparkSession, sources: Map[String, DataFrame],
          models: Seq[Model], warehouseDir: String): RunResult = {
    val ordered = topoOrder(models, sources.keySet).toVector
    val at = ordered.map(_.name).zipWithIndex.toMap
    val dependents = ordered.map(m => ordered.indices.filter(ordered(_).deps.contains(m.name)))
    val pending = ordered.map(_.deps.distinct.count(at.contains)).toArray
    val frames = new Array[DataFrame](ordered.size)
    val violations = ordered.map(m => new Array[Long](m.checks.size))
    // keyed (topo index, check index; -1 for the build): the first key
    // is the failure to rethrow
    val failures = mutable.SortedMap.empty[(Int, Int), Throwable]
    // threads are created here, on the calling thread, so each inherits
    // its Spark local properties (job tags, job group, active session)
    val threads = math.max(1, math.min(ordered.size, spark.sparkContext.defaultParallelism))
    val pool = new ThreadPoolExecutor(threads, threads, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable]())
    pool.prestartAllCoreThreads()
    val finished = new ExecutorCompletionService[((Int, Int), Option[Throwable])](pool)
    var inFlight = 0
    def submit(key: (Int, Int))(body: => Unit): Unit = {
      finished.submit(new Callable[((Int, Int), Option[Throwable])] {
        def call() = key -> (try { body; None } catch { case t: Throwable => Some(t) })
      })
      inFlight += 1
    }
    def build(i: Int): Unit = {
      val m = ordered(i)
      val inputs = (sources ++ m.deps.collect { case d if at.contains(d) => d -> frames(at(d)) })
        .withDefault(d => throw new IllegalArgumentException(
          s"model ${m.name} reads undeclared dep $d — add it to the model's deps"))
      submit((i, -1))(frames(i) = materialize(spark, m, m.build(inputs), warehouseDir))
    }
    // wait for everything submitted; a successful build releases the
    // dependents it was the last dep of
    def awaitAll(): Unit = while (inFlight > 0) {
      val (key, failure) = finished.take().get()
      inFlight -= 1
      failure match {
        case Some(t) => failures(key) = t
        case None if key._2 == -1 => dependents(key._1).foreach { j =>
          pending(j) -= 1
          if (pending(j) == 0) build(j)
        }
        case None => ()
      }
    }
    try {
      ordered.indices.filter(pending(_) == 0).foreach(build)
      awaitAll()
      if (failures.isEmpty) {
        for ((m, i) <- ordered.zipWithIndex; (check, k) <- m.checks.zipWithIndex) {
          val df = frames(i)
          submit((i, k))(violations(i)(k) = check.violations(df))
        }
        awaitAll()
      }
    } finally pool.shutdown()
    failures.headOption.foreach { case (_, t) => throw t }
    val checks = for {
      (m, i) <- ordered.zipWithIndex
      (c, k) <- m.checks.zipWithIndex
    } yield CheckResult(m.name, c.name, violations(i)(k))
    RunResult(ordered.map(_.name), checks, sources ++ ordered.map(_.name).zip(frames))
  }

  /** Write `df` as `model`'s materialization and return the frame
    * downstream models read. */
  private def materialize(spark: SparkSession, m: Model, df: DataFrame,
                          warehouseDir: String): DataFrame =
    m.materialization match {
      case View =>
        df.createOrReplaceTempView(m.name)
        df
      case Table =>
        val path = s"$warehouseDir/${m.name}"
        df.write.mode("overwrite").parquet(path)
        val back = spark.read.parquet(path)
        back.createOrReplaceTempView(m.name)
        back
      case PartitionedTable(cols) =>
        val path = s"$warehouseDir/${m.name}"
        df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)
        val back = spark.read.parquet(path)
        back.createOrReplaceTempView(m.name)
        back
      case IncrementalTable(cols) =>
        val path = s"$warehouseDir/${m.name}"
        df.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(cols: _*).parquet(path)
        val back = spark.read.parquet(path)
        back.createOrReplaceTempView(m.name)
        back
      case BucketedTable(cols, n) =>
        // external table pinned under warehouseDir (a bare saveAsTable
        // would write to the session-global warehouse). The table NAME
        // is still catalog-global — bucketing metadata only lives in a
        // catalog, so concurrent runs sharing one session must use
        // distinct model names. A stale temp view from a previous
        // View-materialized run of this name would shadow the catalog
        // table in spark.table — drop it first.
        spark.catalog.dropTempView(m.name)
        df.write.mode("overwrite")
          .bucketBy(n, cols.head, cols.tail: _*)
          .sortBy(cols.head, cols.tail: _*)
          .option("path", s"$warehouseDir/${m.name}")
          .saveAsTable(m.name)
        spark.table(m.name)
    }
}
