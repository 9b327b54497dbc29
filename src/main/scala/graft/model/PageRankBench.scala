package graft.model

import org.apache.spark.sql.functions._

/** Measures the round economics [[graft.ops.Graph.pageRankCheckpointed]]
  * exists for: the UNROLLED [[graft.ops.Graph.pageRank]] nests one
  * join-agg-join layer per round into a single plan, so plan
  * analysis + codegen + the un-truncatable lineage make cost-per-round
  * GROW with the round count; the checkpointed walk round-trips each
  * round through parquet, so every round is the same flat plan and
  * cost-per-round is constant — which is what makes 20+ round walks
  * (rank-order convergence on real link graphs) tenable at corpus
  * scale. This main runs both forms over the q_pagerank graph
  * (lineitem part↔supplier, both directions) at increasing round
  * counts and prints seconds-per-round for each; the SCALE.md row
  * quotes it. Usage: `runMain graft.model.PageRankBench [sfDir]`. */
object PageRankBench {
  import BenchHarness.time

  def main(args: Array[String]): Unit = {
    val (spark, dir) = BenchHarness.session(args, "/root/testdata/sf0.1")
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val edges = li.select(col("l_partkey").as("src"),
      (col("l_suppkey") + lit(1000000000L)).as("dst"))
      .unionByName(li.select((col("l_suppkey") + lit(1000000000L)).as("src"),
        col("l_partkey").as("dst")))
    def r3(d: Double) = math.rint(d * 1000) / 1000
    // one untimed warm-up so session bring-up lands on neither form
    graft.ops.Graph.pageRank(edges, "src", "dst", iters = 1).count()
    val unrolled = Seq(3, 20, 40, 80).map { it =>
      val (sec, _) = time(
        graft.ops.Graph.pageRank(edges, "src", "dst", it).count())
      (it, r3(sec), r3(sec / it))
    }
    val ckpt = Seq(3, 20, 80).map { it =>
      graft.Scratch.during("pr-bench") { scratch =>
        val (sec, _) = time(graft.ops.Graph.pageRankCheckpointed(
          edges, "src", "dst", it, scratch).count())
        (it, r3(sec), r3(sec / it))
      }
    }
    def js(rows: Seq[(Int, Double, Double)]) = rows.map { case (it, s, per) =>
      s"""{"iters":$it,"sec":$s,"sec_per_round":$per}"""
    }.mkString("[", ",", "]")
    println(s"""{"bench":"pagerank_rounds","sf":"$dir",""" +
      s""""edges":${edges.count()},""" +
      s""""unrolled":${js(unrolled)},"checkpointed":${js(ckpt)}}""")
    spark.stop()
  }
}
