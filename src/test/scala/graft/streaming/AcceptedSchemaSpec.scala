package graft.streaming

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.SparkSpec

/** Specs for the accepted sink's SCHEMA-EVOLUTION POLICY
  * ([[AcceptedSink.requireSchemaCompatible]]): the first accepted batch
  * establishes the corpus schema, and every later batch must match it
  * exactly — added, dropped, and retyped columns each fail by name, in
  * both tiers (live directories and, after a fold, the archive) and
  * through the ingest loop itself. Column ORDER and nullability are
  * deliberately not part of the contract (readers union by name;
  * parquet round-trips nullability loosely). */
class AcceptedSchemaSpec extends SparkSpec {
  import spark.implicits._

  private def batchDf(ids: Long*): DataFrame =
    ids.map(i => (i, s"doc $i", "web")).toDF("doc_id", "text", "src")

  private def writeBatch(dir: String, b: Long, df: DataFrame): Unit =
    df.coalesce(1).write.parquet(s"$dir/batch=$b")

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("accepted-schema").toString
    try body(dir)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      spark.catalog.clearCache()
    }
  }

  private def failure(body: => Unit): String =
    intercept[IllegalArgumentException](body).getMessage

  /** `body`'s value and the number of Spark jobs it started under a
    * caller-thread job tag, counted once the listener has seen them
    * all (a marker job's start closes the window: the bus delivers in
    * order). */
  private def taggedJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"accepted-schema-${System.nanoTime()}"
    val marker = s"$tag-marker"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    def prop(e: SparkListenerJobStart, key: String): Set[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(key)))
        .map(_.split(',').toSet).getOrElse(Set.empty)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (prop(e, "spark.jobGroup.id").contains(marker)) markerSeen.countDown()
        else if (prop(e, "spark.job.tags").contains(tag)) jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      sc.setJobGroup(marker, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "listener never saw the marker job")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("first accept establishes the schema; a matching batch passes in any column order") {
    withDir { acc =>
      // nothing accepted yet: any schema passes (it becomes the standard)
      AcceptedSink.requireSchemaCompatible(spark, acc, batchDf(1L))
      writeBatch(acc, 0L, batchDf(1L, 2L))
      // same columns, different order: fine — readers union by name
      AcceptedSink.requireSchemaCompatible(spark, acc,
        batchDf(3L).select("src", "doc_id", "text"))
      assert(AcceptedSink.acceptedSchema(spark, acc).get.fieldNames.sorted
        === Array("doc_id", "src", "text"))
    }
  }

  test("added, dropped, and retyped columns fail by name against the live tier") {
    withDir { acc =>
      writeBatch(acc, 0L, batchDf(1L, 2L))
      val added = failure(AcceptedSink.requireSchemaCompatible(spark, acc,
        batchDf(3L).withColumn("lang", org.apache.spark.sql.functions.lit("en"))))
      assert(added.contains("ADDS") && added.contains("lang"), added)
      val dropped = failure(AcceptedSink.requireSchemaCompatible(spark, acc,
        batchDf(3L).drop("src")))
      assert(dropped.contains("DROPS") && dropped.contains("src"), dropped)
      val retyped = failure(AcceptedSink.requireSchemaCompatible(spark, acc,
        batchDf(3L).withColumn("doc_id", col("doc_id").cast("int"))))
      assert(retyped.contains("RETYPES") && retyped.contains("doc_id") &&
        retyped.contains("bigint") && retyped.contains("int"), retyped)
      // one drifted batch can carry several classes at once — all named
      val both = failure(AcceptedSink.requireSchemaCompatible(spark, acc,
        batchDf(3L).drop("text")
          .withColumn("lang", org.apache.spark.sql.functions.lit("en"))))
      assert(both.contains("ADDS") && both.contains("DROPS"), both)
    }
  }

  test("the policy survives a fold: the archive is the schema authority, minus `batch`") {
    withDir { acc =>
      writeBatch(acc, 0L, batchDf(1L, 2L))
      writeBatch(acc, 1L, batchDf(3L))
      assert(AcceptedSink.fold(spark, acc, belowBatch = 2L) === Some(1L))
      // live directories are gone; the standing schema now comes from
      // the archive and must NOT include the fold's `batch` data column
      assert(AcceptedSink.liveBatchIds(spark, acc).isEmpty)
      assert(AcceptedSink.acceptedSchema(spark, acc).get.fieldNames.sorted
        === Array("doc_id", "src", "text"))
      AcceptedSink.requireSchemaCompatible(spark, acc, batchDf(4L))
      val msg = failure(AcceptedSink.requireSchemaCompatible(spark, acc,
        batchDf(4L).drop("text")))
      assert(msg.contains("DROPS") && msg.contains("text"), msg)
    }
  }

  test("the EARLIEST live batch is the schema authority, not a drifted newest one") {
    withDir { acc =>
      writeBatch(acc, 0L, batchDf(1L, 2L))
      // a drifted batch lands anyway (older writer without the check, a
      // manual write): on restart the authority must stay the FIRST
      // accepted batch — adopting the newest would enforce the drift
      // and refuse every correct batch from then on
      writeBatch(acc, 1L, batchDf(3L)
        .withColumn("lang", org.apache.spark.sql.functions.lit("en")))
      assert(AcceptedSink.acceptedSchema(spark, acc).get.fieldNames.sorted
        === Array("doc_id", "src", "text"))
      AcceptedSink.requireSchemaCompatible(spark, acc, batchDf(4L))
      val msg = failure(AcceptedSink.requireSchemaCompatible(spark, acc,
        batchDf(4L).withColumn("lang",
          org.apache.spark.sql.functions.lit("en"))))
      assert(msg.contains("ADDS") && msg.contains("lang"), msg)
    }
  }

  test("the ingest loop refuses a drifted batch before any byte lands") {
    withDir { root =>
      val store = s"$root/store"
      val acc = s"$root/accepted"
      def uniq(i: Long) = (0 until 12).map(w => s"w${i}x$w").mkString(" ")
      graft.ops.MinhashIndexStore.init(
        Seq((1L, uniq(1))).toDF("doc_id", "text"), store, "doc_id", "text",
        shingleK = 5, numBands = 24, rowsPerBand = 2)
      DedupIngestStream.processBatch(
        Seq((10L, uniq(10))).toDF("doc_id", "text"), 0L, store, acc,
        "doc_id", "text", threshold = 0.5, compactEvery = 8,
        checkpointDir = s"$root/cp")
      val before = AcceptedSink.liveBatchIds(spark, acc).toSet
      val msg = failure(DedupIngestStream.processBatch(
        Seq((11L, uniq(11), "en")).toDF("doc_id", "text", "lang"), 1L,
        store, acc, "doc_id", "text", threshold = 0.5, compactEvery = 8,
        checkpointDir = s"$root/cp"))
      assert(msg.contains("ADDS") && msg.contains("lang"), msg)
      // refused at accept time: no batch=1 directory was created
      assert(AcceptedSink.liveBatchIds(spark, acc).toSet === before,
        "a refused batch must leave the sink untouched")
    }
  }

  test("a repeat schema-coherence audit of an unchanged sink starts no Spark job") {
    withDir { acc =>
      writeBatch(acc, 0L, batchDf(1L, 2L))
      AcceptedSink.fold(spark, acc, belowBatch = 1L)
      writeBatch(acc, 1L, batchDf(3L))
      AcceptedSink.fold(spark, acc, belowBatch = 2L)
      writeBatch(acc, 2L, batchDf(4L))
      assert(AcceptedSink.archiveChain(spark, acc).size === 2)
      assert(AcceptedSink.liveBatchIds(spark, acc) === Seq(2L))
      assert(AcceptedSink.schemaCoherenceFindings(spark, acc).isEmpty)
      // every archive link's and live directory's schema comes from the
      // listing-signature memo: nothing changed, so nothing is inferred
      val (findings, jobs) =
        taggedJobs(AcceptedSink.schemaCoherenceFindings(spark, acc))
      assert(findings.isEmpty)
      assert(jobs === 0, s"the repeat audit started $jobs Spark job(s)")
    }
  }
}
