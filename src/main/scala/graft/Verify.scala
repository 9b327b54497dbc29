package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run concurrently on a small pool — Spark's scheduler
  * interleaves their jobs across the local cores, cutting wall time vs.
  * serial execution (results are independent writes; plan/metadata work
  * also overlaps). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [nameSubstr,...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional comma-separated substring filter — local iteration on a
    // few queries without paying the full query dump (the driver always
    // runs unfiltered)
    val only: Option[Seq[String]] =
      if (args.length >= 3) Some(args(2).split(",").toSeq.map(_.trim)) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineConf.session(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val selected = SparkEntry.queries.toSeq.filter { case (name, _) =>
      only.forall(_.exists(name.contains)) }
    def deleteRecursively(p: java.nio.file.Path): Unit =
      if (Files.exists(p))
        scala.util.Using.resource(Files.walk(p)) { walk =>
          walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.delete(f))
        }
    val futures = selected.map { case (name, fn) =>
      Future {
        // scoped: each query's operator-internal caches release as its
        // write completes (thread-local — concurrent queries' scopes
        // don't interact) instead of all ~65 queries' caches staying
        // resident until the sweep ends. A cross-thread release of a
        // plan another in-flight query shares just recomputes — safe.
        try graft.ops.OpCaches.scoped {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a failed query must not leave the PREVIOUS run's parquet in
          // place — rerunning into a reused outDir would let the DuckDB
          // gate hash-match the stale (old, correct) output and pass a
          // broken query silently
          try deleteRecursively(Paths.get(s"$outDir/$name"))
          catch { case c: Throwable =>
            System.err.println(s"[verify] $name stale-output cleanup failed: ${c.getMessage}")
          }
        }
      }
    }
    Await.result(Future.sequence(futures), Duration.Inf)
    pool.shutdown()
    spark.catalog.clearCache() // release any caches registered outside scopes
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
