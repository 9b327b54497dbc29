package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

object Stats {
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val n = s.size
      Some(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2)
    }

  /** Nearest-rank percentile, reported only when at least `beyond`
    * samples lie strictly above the rank (a p90 of 12 samples is the
    * second largest sample, not a percentile). */
  def percentile(xs: Seq[Double], p: Double, beyond: Int = 10): Option[Double] = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    if (s.isEmpty || s.size - rank < beyond) None
    else Some(s(math.max(rank, 1) - 1))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** Order-independent content digest of a frame: row count plus the
  * exact sum of a 64-bit hash of every row (decimal, so the sum does
  * not depend on partitioning or row order). One action. */
object Digest {
  def of(df: DataFrame): String = {
    val cols: Seq[Column] = df.columns.toSeq.sorted.map(c => col(s"`$c`"))
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).cast("string")).head()
    s"${r.getLong(0)}:${r.getString(1)}"
  }
}

/** A run's output digests by key. The first digest of a key is the
  * reference every later one in the run must equal. */
final class Digests {
  private val first = mutable.LinkedHashMap.empty[String, String]

  /** None when `d` equals the key's reference, else the mismatch. */
  def sameAsFirst(key: String, d: String): Option[String] =
    first.get(key) match {
      case Some(ref) if ref != d => Some(s"$key digest $d differs from $ref")
      case Some(_) => None
      case None => first(key) = d; None
    }

  def toMap: Map[String, String] = first.toMap
}

/** The closed-loop client's op runner. Each op is timed from outside
  * its layer call, in wall time and in process CPU; a `NonFatal` throw
  * or an output mismatch counts the op as failed and keeps its time out
  * of the samples (a failed op is never timed as if it were fast).
  * Fatal errors propagate and abort the run. Failures are counted only
  * from these two sources — log lines (Spark's benign "non-existent
  * accumulator" ERROR, say) never count. */
final class Ops(trace: Option[Trace]) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  /** Wall and process-CPU seconds of the last successful op. */
  private var lastSecs = 0.0
  private var lastCpuSecs = 0.0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Wall and process-CPU seconds of each completed cycle. */
  val cycleSecs = mutable.ArrayBuffer.empty[Double]
  val cycleCpuSecs = mutable.ArrayBuffer.empty[Double]

  private def fail(kind: String, msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$kind: $msg"
    System.err.println(s"[perfbench] FAILED $kind: $msg")
  }

  /** Time `body` as one op of `kind`, then `check` its result outside
    * the timed section (None = correct, Some(msg) = mismatch). */
  def op[A](kind: String)(body: => A)(check: A => Option[String]): Option[A] = {
    attempted += 1
    val c0 = Ops.processCpuNs()
    val t0 = System.nanoTime()
    val res =
      try Right(trace.fold(body)(_.span(kind)(body)))
      catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpuSecs = (Ops.processCpuNs() - c0) / 1e9
    res match {
      case Left(e) =>
        fail(kind, e.toString.linesIterator.take(3).mkString(" "))
        None
      case Right(a) =>
        val bad =
          try check(a)
          catch { case NonFatal(e) => Some(s"check threw ${e.toString.take(300)}") }
        bad match {
          case Some(msg) => fail(kind, msg); None
          case None =>
            samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += secs
            lastSecs = secs
            lastCpuSecs = cpuSecs
            Some(a)
        }
    }
  }

  /** The ops of one closed-loop cycle: `add` each op's result. */
  final class Cycle {
    private[Ops] var secs = 0.0
    private[Ops] var cpuSecs = 0.0
    private[Ops] var ok = true
    def add[A](r: Option[A]): Option[A] = {
      if (r.isEmpty) ok = false
      else { secs += lastSecs; cpuSecs += lastCpuSecs }
      r
    }
  }

  /** Run one cycle. Its wall and CPU are the sums over the ops it adds,
    * so checks and bookkeeping between them stay out; a cycle with a
    * failed op is no sample. */
  def cycle(body: Cycle => Unit): Unit = {
    val c = new Cycle
    body(c)
    if (c.ok) { cycleSecs += c.secs; cycleCpuSecs += c.cpuSecs }
  }

  /** A child span around one layer call inside an op (no-op untraced). */
  def layer[A](name: String)(body: => A): A =
    trace.fold(body)(_.span(name)(body))

  def of(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
}

object Ops {
  /** CPU time of this process, all threads (Spark's local executors
    * included). */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
}
