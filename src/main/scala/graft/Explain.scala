package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan for queries (plan-quality
  * audit — pushed filters, broadcast joins, codegen spans).
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    // first arg is the sf dir unless it names a query/smoke target. A
    // first arg that is NEITHER is rejected here: a typo'd query name
    // would otherwise be reinterpreted as the sf dir and crash later
    // with a misleading path-not-found pointing at the data
    val isName = (s: String) => s == "stream-smoke" || SparkEntry.queries.contains(s)
    val (sfDir, rest) = args.headOption match {
      case Some(h) if !isName(h) =>
        require(new java.io.File(h).isDirectory,
          s"'$h' is neither a known query/smoke target nor an existing sf directory " +
            "(known: stream-smoke, " + SparkEntry.queries.keys.toSeq.sorted.take(3).mkString(", ") + ", ...)")
        (h, args.tail.toSeq)
      case _ => ("/root/testdata/sf0.001", args.toSeq)
    }
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    val spark = EngineConf.session(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach {
      case "stream-smoke" => streamSmoke(spark)
      case name =>
        println(s"\n========== $name ==========")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }

  /** Drive the streaming leg end-to-end from the CLI: feed events through
    * a memory stream into the windowed aggregation and print the sink. */
  private def streamSmoke(spark: SparkSession): Unit = {
    import graft.streaming.EventStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[EventStream.Event]
    val query = EventStream.startToMemory(
      EventStream.windowedCounts(input.toDF(), "1 hour", "10 minutes"), "smoke")
    input.addData(
      EventStream.Event(1, Timestamp.valueOf("2024-01-01 00:05:00"), 1, "click", 1.0),
      EventStream.Event(2, Timestamp.valueOf("2024-01-01 00:35:00"), 2, "click", 2.0),
      EventStream.Event(3, Timestamp.valueOf("2024-01-01 01:05:00"), 1, "view", 5.0))
    query.processAllAvailable()
    println("========== stream-smoke ==========")
    spark.table("smoke").orderBy("window_start", "event_type").show(truncate = false)
    query.stop()
  }
}
