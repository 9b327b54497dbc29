package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Runner
import graft.pipeline.Runner.{Model, Table, View}
import graft.quality.{NotNull, Unique}

/** The runner's schedule: models and checks run concurrently on a
  * per-call pool, yet results, failures and Spark job attribution are
  * those of a sequential topological run. */
class RunnerSpec extends SparkSpec {
  import RunnerSpec._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-runner").toString

  private def ids(n: Int): DataFrame = spark.range(0, n, 1, 2).toDF("id")

  /** Run `body` with a listener attached; return its outcome and every
    * job that started after the call began, once the listener has seen
    * them all (a marker job's end event closes the window: the bus
    * delivers in order). */
  private def withJobs[A](body: => A): (Try[A], Long, Seq[Job]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, Job]
    val markerSeen = new CountDownLatch(1)
    val marker = s"runner-spec-marker-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(',').toSet).getOrElse(Set.empty[String])
        if (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).contains(marker))
          jobs.put(e.jobId, Job(e.jobId, e.time, -1L, Set(marker)))
        else jobs.put(e.jobId, Job(e.jobId, e.time, -1L, tags))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
        if (j != null && j.tags.contains(marker)) markerSeen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.currentTimeMillis()
      val out = Try(body)
      val returnedAt = System.currentTimeMillis()
      sc.setJobGroup(marker, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      val seen = jobs.values.asScala.toSeq
        .filter(j => j.start >= t0 && !j.tags.contains(marker)).sortBy(_.id)
      (out, returnedAt, seen)
    } finally sc.removeSparkListener(listener)
  }

  test("built and checks follow the topological order on every run") {
    val models = Seq(
      Model("d", Seq("b", "c"), r => r("b").join(r("c"), "id"), Table, Seq(NotNull("id"))),
      // a repeated dep is one edge, not two to wait for
      Model("c", Seq("a", "a"), r => r("a").where(col("id") % 2 === 0), Table,
        Seq(Unique("id"))),
      Model("e", Nil, _ => ids(10), Table, Seq(Unique("id"), NotNull("id"))),
      Model("b", Seq("a", "src"), r => r("a").join(r("src"), "id"), View, Seq(NotNull("id"))),
      Model("a", Nil, _ => ids(100), Table, Seq(NotNull("id"), Unique("id"))))
    val sources = Map("src" -> ids(50))
    val topo = Runner.topoOrder(models, sources.keySet)
    val expectedChecks = topo.flatMap(m => m.checks.map(c => (m.name, c.name)))
    (1 to 3).foreach { _ =>
      val result = Runner.run(spark, sources, models, tmp())
      assert(result.built === topo.map(_.name))
      assert(result.checks.map(c => (c.model, c.check)) === expectedChecks)
      assert(result.passed, result.checks.filterNot(_.passed).toString)
      assert(result.frames.keySet === sources.keySet ++ models.map(_.name))
      assert(result("d").count() === 25)
    }
  }

  test("independent table models build concurrently: their jobs overlap") {
    // each model's write task waits (bounded) until the other's is
    // running too, so a sequential schedule would show no overlap
    latch = new CountDownLatch(2)
    val meet = udf { (x: Long) => if (rendezvous()) x else -1L }.asNondeterministic()
    val tag = s"runner-spec-overlap-${System.nanoTime()}"
    val model = (n: String) =>
      Model(n, Nil, _ => spark.range(0, 1, 1, 1).select(meet(col("id")).as("id")), Table)
    val (out, _, jobs) = withJobs {
      spark.sparkContext.addJobTag(tag)
      try Runner.run(spark, Map.empty, Seq(model("left"), model("right")), tmp())
      finally spark.sparkContext.removeJobTag(tag)
    }
    val result = out.get
    assert(result("left").collect().map(_.getLong(0)).toSeq === Seq(0L), "left waited alone")
    assert(result("right").collect().map(_.getLong(0)).toSeq === Seq(0L), "right waited alone")
    val tagged = jobs.filter(_.tags.contains(tag))
    val overlapping = for {
      a <- tagged; b <- tagged if a.id < b.id && a.start < b.end && b.start < a.end
    } yield (a.id, b.id)
    assert(overlapping.nonEmpty, s"no two jobs overlapped: $tagged")
  }

  test("failures: the earliest failed model in topo order is rethrown after in-flight work lands") {
    val wh = tmp()
    val childBuilt = new AtomicBoolean(false)
    val slow = udf { (x: Long) => Thread.sleep(1500); x }.asNondeterministic()
    val models = Seq(
      Model("fails_late", Nil, _ => { Thread.sleep(500); throw new IllegalStateException("fails_late") }),
      Model("fails_early", Nil, _ => throw new IllegalStateException("fails_early")),
      Model("slow_sibling", Nil,
        _ => spark.range(0, 1, 1, 1).select(slow(col("id")).as("id")), Table),
      Model("child", Seq("fails_late"), r => { childBuilt.set(true); r("fails_late") }, Table))
    val tag = s"runner-spec-fail-${System.nanoTime()}"
    val (out, returnedAt, jobs) = withJobs {
      spark.sparkContext.addJobTag(tag)
      try Runner.run(spark, Map.empty, models, wh)
      finally spark.sparkContext.removeJobTag(tag)
    }
    val e = out.failed.get
    // the model's own exception, not an executor wrapper, and not the
    // sibling that failed first in time
    assert(e.isInstanceOf[IllegalStateException] && e.getMessage === "fails_late", e)
    assert(new java.io.File(s"$wh/slow_sibling/_SUCCESS").exists(),
      "the in-flight sibling's write had not landed when run threw")
    val tagged = jobs.filter(_.tags.contains(tag))
    assert(tagged.nonEmpty && tagged.forall(j => j.end >= 0 && j.end <= returnedAt),
      s"a job outlived run: $tagged (returned at $returnedAt)")
    assert(!childBuilt.get, "a dependent of a failed model was built")
    assert(!new java.io.File(s"$wh/child").exists())
  }

  test("a job tag set on the calling thread reaches every job the run launches") {
    val tag = s"runner-spec-tag-${System.nanoTime()}"
    val models = Seq(
      Model("t1", Nil, _ => ids(200), Table, Seq(NotNull("id"), Unique("id"))),
      Model("v1", Seq("t1"), r => r("t1").where(col("id") > 10), View, Seq(Unique("id"))),
      Model("t2", Seq("v1"), r => r("v1").groupBy((col("id") % 7).as("k")).count(), Table,
        Seq(Unique("k"))),
      Model("t3", Nil, _ => ids(30), Table))
    val (out, _, jobs) = withJobs {
      spark.sparkContext.addJobTag(tag)
      try Runner.run(spark, Map.empty, models, tmp())
      finally spark.sparkContext.removeJobTag(tag)
    }
    assert(out.get.passed)
    // three table writes plus at least one job per check
    assert(jobs.size >= 7, jobs)
    val untagged = jobs.filterNot(_.tags.contains(tag))
    assert(untagged.isEmpty, s"jobs without the caller's tag: $untagged")
  }

  test("a build reading an undeclared dep fails by model and dep name") {
    val models = Seq(
      Model("stg_orders", Nil, _ => ids(5), Table),
      Model("orders_summary", Seq("src"), r => r("stg_orders").join(r("src"), "id"), View))
    val e = intercept[IllegalArgumentException](
      Runner.run(spark, Map("src" -> ids(5)), models, tmp()))
    assert(e.getMessage.contains("orders_summary") && e.getMessage.contains("stg_orders"),
      e.getMessage)
    // a source needs no declaration
    val ok = Runner.run(spark, Map("src" -> ids(5)),
      Seq(Model("from_src", Nil, r => r("src"), View)), tmp())
    assert(ok("from_src").count() === 5)
  }
}

object RunnerSpec {
  final case class Job(id: Int, start: Long, end: Long, tags: Set[String])

  /** Shared by the overlap test's tasks (local mode: one JVM). */
  @volatile var latch: CountDownLatch = new CountDownLatch(0)

  /** Arrive, then wait up to 20 s for the other party; true if it came. */
  def rendezvous(): Boolean = {
    latch.countDown()
    latch.await(20, TimeUnit.SECONDS)
  }
}
