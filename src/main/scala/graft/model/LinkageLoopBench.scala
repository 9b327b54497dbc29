package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the linkage loop's per-batch cost terms
  * ([[graft.ops.LinkageStore.append]]): the claim is batch-mass
  * COMPARISON work plus one keep-latest read of the value-mass label
  * state — so per-batch cost should grow with STANDING DISTINCT
  * VALUES only through the state-scan term (a scan, not a
  * comparison), and stay flat across consecutive batches at fixed
  * state. Two experiments:
  *
  *  1. STATE GROWTH: init stores at 20k / 200k / 2M standing distinct
  *     values, append the same-shaped 1k-value batch to each, time
  *     the append (median of 3 on fresh store copies — an append
  *     mutates its store).
  *  2. LOOP FLATNESS: at the middle state size, run 8 consecutive
  *     1k-value appends and report each batch's seconds (the chain
  *     grows one link per batch — the read-side chain tax is visible
  *     here and is what the compact cadence bounds).
  *  3. STEADY STATE: 18 batches through the production loop
  *     ([[graft.streaming.LinkageIngestStream.processBatch]]) at
  *     `compactEvery = 8` — TWO compact cycles, so the reading pins
  *     that the chain tax returns to the post-compact band after
  *     every trip (the cadence holds the cost flat indefinitely, not
  *     just across the first cycle).
  *
  * Fixture discipline: 16,384 hash blocks, so per-block distinct mass
  * stays bounded at every state size (the operator's own blocking
  * contract — an under-blocked corpus is quadratic by definition and
  * measures the caller's mistake, not the store). ~1% of each batch
  * is a one-edit twin of a standing value in the standing value's own
  * block, so the component/relabel path runs with a realistic match
  * rate. Usage: `runMain graft.model.LinkageLoopBench`. Prints one
  * JSON line; the SCALE.md row quotes it. */
object LinkageLoopBench {
  import BenchHarness.time

  private val Blocks = 16384L

  /** `n` standing distinct values: one unique name per id, hash block. */
  private def standing(spark: SparkSession, n: Long): DataFrame =
    spark.range(0L, n).select(
      concat(lit("blk"), pmod(col("id"), lit(Blocks))).as("blk"),
      concat(lit("name-"), col("id"), lit("-q")).as("name"))

  /** A 1k-value batch: ids in a disjoint range; every 100th row is a
    * one-edit twin (`-z` for `-q`) of standing id `(row*37) mod n`, in
    * THAT id's block, so it links; the rest are fresh uniques. */
  private def batchOf(spark: SparkSession, lo: Long, n: Long): DataFrame = {
    val sid = pmod(col("id") * 37L, lit(n))
    spark.range(lo, lo + 1000L).select(
      when(pmod(col("id"), lit(100L)) === 0,
        concat(lit("blk"), pmod(sid, lit(Blocks))))
        .otherwise(concat(lit("blk"), pmod(col("id"), lit(Blocks)))).as("blk"),
      when(pmod(col("id"), lit(100L)) === 0,
        concat(lit("name-"), sid, lit("-z")))
        .otherwise(concat(lit("name-"), col("id"), lit("-q"))).as("name"))
  }

  private def freshStore(spark: SparkSession, root: String, tag: String,
                         n: Long): String = {
    val dir = s"$root/store-$tag"
    graft.ops.LinkageStore.init(standing(spark, n), dir,
      "name", Seq("blk"), maxDist = 1)
    dir
  }

  def main(args: Array[String]): Unit = {
    val (spark, _) = BenchHarness.session(args, "/root/testdata/sf0.1")
    def r3(d: Double) = math.rint(d * 1000) / 1000
    try graft.Scratch.during("linkage-bench") { root =>
      locally { // warm-up lifecycle
        val d = freshStore(spark, root, "warm", 2000L)
        graft.ops.LinkageStore.append(spark, d,
          batchOf(spark, 10000000L, 2000L), expectedBase = 0L)
      }
      val growth = Seq(20000L, 200000L, 2000000L).map { n =>
        val ts = (1 to 3).map { rep =>
          val dir = freshStore(spark, root, s"g$n-$rep", n)
          val (sec, _) = time(graft.ops.LinkageStore.append(spark, dir,
            batchOf(spark, 20000000L, n), expectedBase = 0L))
          sec
        }.sorted
        (n, r3(ts(1)))
      }
      val loopDir = freshStore(spark, root, "loop", 200000L)
      var base = 0L
      val loop = (0 until 8).map { b =>
        val (sec, v) = time(graft.ops.LinkageStore.append(spark, loopDir,
          batchOf(spark, 30000000L + b * 1000L, 200000L), expectedBase = base))
        base = v
        r3(sec)
      }
      // 3. STEADY STATE, two compact cycles: 18 batches through the
      //    PRODUCTION loop itself ([[LinkageIngestStream.processBatch]]
      //    — ledger, owner stamp, and the compactEvery=8 cadence all
      //    included), reporting per-batch wall, the chain length the
      //    NEXT batch will read, and whether this batch's cadence trip
      //    fired. The claim experiment 2 cannot make: after EVERY
      //    compact trip the chain tax returns to the post-compact band
      //    — the cadence holds the loop's cost flat in steady state,
      //    not just across the first cycle.
      val ssDir = freshStore(spark, root, "steady", 200000L)
      val ssCp = s"$root/steady-cp"
      val steady = (0 until 18).map { b =>
        val (sec, o) = time(
          graft.streaming.LinkageIngestStream.processBatch(
            batchOf(spark, 40000000L + b * 1000L, 200000L), b.toLong,
            ssDir, compactEvery = 8, checkpointDir = ssCp))
        s"""{"b":$b,"sec":${r3(sec)},""" +
          s""""chain":${graft.ops.LinkageStore.chainLength(spark, ssDir)},""" +
          s""""compacted":${o.compactedTo.nonEmpty}}"""
      }
      println(s"""{"bench":"linkage_loop","blocks":$Blocks,""" +
        s""""state_growth":[${growth.map { case (s, t) =>
          s"""{"standing":$s,"append_sec":$t}""" }.mkString(",")}],""" +
        s""""loop_batches_sec":[${loop.mkString(",")}],""" +
        s""""steady_batches":[${steady.mkString(",")}]}""")
    } finally spark.stop()
  }
}
