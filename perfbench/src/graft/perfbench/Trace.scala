package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a layer. `op` is the op instance the span
  * belongs to (its own id for a top-level span); `parent` is 0 at the
  * top. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startNs: Long, endNs: Long, ok: Boolean) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder: spans kept in memory (written out at
  * exit), plus a `SparkListener` that maps every job, task and SQL
  * execution back to the op that caused it. The link is a job tag
  * (`pbop-<op id>`) set on the calling thread for the op's duration;
  * Spark keeps tags in local properties, which the thread pools a layer
  * starts inside the op (the triad's IVF/linkage overlap) inherit, and
  * stamps them on each job and SQL execution. */
final class Trace(sc: SparkContext) extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack = List.empty[(Long, Long)] // (span id, op id)

  import Trace.{Interval, TaskAgg}

  private val jobs = mutable.Map.empty[Int, Interval]
  private val execs = mutable.Map.empty[Long, Interval]
  private val stageOp = mutable.Map.empty[Int, Long]
  private val taskAgg = mutable.Map.empty[Long, TaskAgg]

  private def opOf(tags: Iterable[String]): Option[Long] =
    tags.collectFirst { case t if t.startsWith("pbop-") => t.drop(5).toLong }

  /** Run `body` as span `name`. A top-level span is an op: the Spark
    * work it causes is tagged with its id. */
  def span[A](name: String)(body: => A): A = {
    val (id, parent, op) = synchronized {
      nextId += 1
      (nextId, stack.headOption.map(_._1).getOrElse(0L),
        stack.headOption.map(_._2).getOrElse(nextId))
    }
    val top = parent == 0L
    if (top) sc.addJobTag(s"pbop-$id")
    stack = (id, op) :: stack
    val t0 = System.nanoTime()
    var ok = false
    try { val a = body; ok = true; a }
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (top) sc.removeJobTag(s"pbop-$id")
      synchronized { spans += Span(id, name, parent, op, t0, t1, ok) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSeq).getOrElse(Nil)
    opOf(tags).foreach { op =>
      jobs(e.jobId) = Interval(op, e.time, -1L, "")
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val agg = taskAgg.getOrElseUpdate(op, new TaskAgg)
      agg.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        agg.cpuNs += m.executorCpuTime
        agg.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        opOf(s.jobTags).foreach { op =>
          execs(s.executionId) = Interval(op, s.time, -1L, s.details)
        }
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ => ()
    }
  }

  /** Wait (up to 10 s) until every tagged job and execution has its
    * end event: the listener bus delivers asynchronously. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def open = synchronized(
      jobs.values.count(_.end < 0) + execs.values.count(_.end < 0))
    Thread.sleep(200)
    while (open > 0 && System.nanoTime() < deadline) Thread.sleep(100)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private def opsOf(kind: String): Seq[Span] =
    spans.filter(s => s.parent == 0L && s.name == kind && s.ok).toSeq

  /** Spark counters of op kind `kind`, per successful op instance:
    * `sql_execs`, `jobs`, `tasks`, `executor_cpu_s`, `shuffle_bytes`
    * (shuffle bytes written), `off_exec_s` (op wall that none of its
    * SQL executions covers: analysis, planning and other work on the
    * calling thread), and
    * `job_p50_ms` over all its jobs. Zero where the kind never ran. */
  def sparkLayer(kind: String): Map[String, Double] = synchronized {
    val ops = opsOf(kind)
    val n = math.max(ops.size, 1).toDouble
    val ids = ops.map(_.id).toSet
    val myJobs = jobs.values.filter(j => ids(j.op) && j.end >= 0).toSeq
    val myExecs = execs.values.filter(x => ids(x.op) && x.end >= 0).toSeq
    val aggs = ids.toSeq.flatMap(taskAgg.get)
    val offExec = ops.map { s =>
      val covered = Trace.covered(myExecs.filter(_.op == s.id)
        .map(x => (x.start, x.end)))
      math.max(0.0, s.secs - covered / 1e3)
    }.sum
    Map(
      "sql_execs" -> myExecs.size / n,
      "jobs" -> myJobs.size / n,
      "tasks" -> aggs.map(_.tasks).sum / n,
      "job_p50_ms" -> Stats.median(myJobs.map(j => (j.end - j.start).toDouble))
        .getOrElse(0.0),
      "executor_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9 / n,
      "shuffle_bytes" -> aggs.map(_.shuffleBytes).sum / n,
      "off_exec_s" -> offExec / n)
  }

  /** Wall seconds per op instance of kind `kind` covered by its SQL
    * executions whose call-site details satisfy `p`. */
  def execSecs(kind: String)(p: String => Boolean): Double = synchronized {
    val ops = opsOf(kind)
    val ids = ops.map(_.id).toSet
    val covered = execs.values
      .filter(x => ids(x.op) && x.end >= 0 && p(x.details))
      .groupBy(_.op).values
      .map(xs => Trace.covered(xs.map(x => (x.start, x.end)).toSeq))
    covered.sum / 1e3 / math.max(ops.size, 1)
  }
}

object Trace {
  private final case class Interval(op: Long, start: Long, var end: Long,
                                    details: String)
  private final class TaskAgg(var tasks: Long = 0, var cpuNs: Long = 0,
                              var shuffleBytes: Long = 0)

  /** Length of the union of `[start, end]` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def spanJson(s: Span): String =
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs},"ok":${s.ok}}"""
}
