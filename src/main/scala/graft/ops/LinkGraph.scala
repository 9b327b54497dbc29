package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The link graph OVER THE CORPUS — what wires [[Graph.pageRank]] to
  * the documents it was built to score. A training-data pipeline ranks
  * its corpus on link structure (the classic web-quality signal); the
  * corpora here carry no hyperlinks, so the graph is the SHARED-
  * VOCABULARY co-citation structure on the doc↔term incidence: every
  * document links INTO each distinct token it contains, and a token
  * links back to its documents only when at least TWO documents carry
  * it. A shared term routes rank between its documents; an exclusive
  * term is a dead end that absorbs what flows in. PageRank over this
  * graph is corpus-cohesion centrality — documents connected to the
  * corpus through common vocabulary rank high, documents of exclusive
  * or isolated vocabulary drain to the teleport floor — the
  * rank-the-corpus-then-prune-the-tail curation loop's scoring half
  * ([[graft.streaming.TriadPipeline.qualityRank]] runs it over the
  * accepted corpus and [[graft.streaming.TriadPipeline.takedown]]
  * withdraws the tail).
  *
  * Why the one-way rule matters (and why the naive both-directions
  * bipartite graph is WRONG for quality): with every term reciprocating,
  * an isolate doc with k exclusive terms forms a closed 1+k-node
  * community that keeps its whole teleport mass circulating to its one
  * doc — undirected PageRank degenerates toward degree centrality and
  * vocabulary ISOLATES outrank connected docs. Cutting the df=1 return
  * edges makes exclusive vocabulary leak mass instead of hoarding it
  * (dropped dangling mass is [[Graph.pageRank]]'s documented
  * simplification), so the score orders by genuine shared-vocabulary
  * connectivity.
  *
  * Scale shape: tokenization is per-row narrow work; the distinct
  * (doc, term) incidence is one hash shuffle of token mass plus one
  * hash aggregate for document frequency; each PageRank round is the
  * flat join-agg-join of [[Graph.pageRankCheckpointed]] — the
  * many-round production form, round cost constant in the round count,
  * crash-resumable. Node keys are `d:`/`t:`-prefixed strings so the
  * two populations share one key space without collision.
  *
  * Determinism: tokens split on whitespace (the [[TextOps]] kernel),
  * ranks follow the [[Graph.pageRank]] exact-decimal doctrine — the
  * whole rank vector is oracle-gateable cross-engine (`q_corpus_rank`).
  */
object LinkGraph {

  /** The shared-vocabulary edge list — `(src, dst)` strings: `d:` →
    * `t:` for every distinct (doc, token); `t:` → `d:` only for tokens
    * with document frequency ≥ 2 (see the object doc). Distinct per
    * (doc, token): term frequency is a content property, not link
    * multiplicity. NULL/empty texts contribute no edges — such
    * documents are rankless isolates, absent from [[docRank]]'s output
    * (callers left-join and default, the usual dangling-row rule). */
  def termEdges(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the incidence feeds THREE consumers (fwd edges, the df aggregate,
    // the rev join) — cache it or the tokenize re-runs per plan branch
    val inc = OpCaches.registered(docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).cast("string").as("doc"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
      .distinct())
    val shared = inc.groupBy("tok").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2).select("tok")
    val fwd = inc.select(concat(lit("d:"), col("doc")).as("src"),
      concat(lit("t:"), col("tok")).as("dst"))
    val rev = inc.join(shared, Seq("tok"), "left_semi")
      .select(concat(lit("t:"), col("tok")).as("src"),
        concat(lit("d:"), col("doc")).as("dst"))
    fwd.unionByName(rev)
  }

  /** PageRank the corpus on its term graph — `(<idCol>, rank)` for
    * every document with at least one token. Runs the CHECKPOINTED
    * many-round walk ([[Graph.pageRankCheckpointed]] — flat plan per
    * round, crash resume, bounded scratch), because a quality score is
    * read at convergence depth, not the 3-round gate depth. The caller
    * owns `scratchDir`'s lifecycle and the resume contract (same
    * corpus content per scratch — use a fresh dir per corpus version).
    * Ranks sum to < 1: exclusive terms are dead ends by design (the
    * object doc) — the ORDER is the signal, read it relatively. */
  def docRank(docs: DataFrame, idCol: String, textCol: String,
              iters: Int, scratchDir: String,
              damping: Double = 0.85): DataFrame =
    // roundsPerWrite = 4: each parquet round-trip costs ~0.4–0.6 s of
    // pure fixed cost at gate scale (write job + commit + footer read,
    // `perfbench/run.py --trace 1`) against rank vectors that are
    // node-mass small; nesting 4 rounds per trip keeps the plan at the
    // unrolled gate form's proven depth while quartering the trips.
    // Bit-identical for any k ([[Graph.pageRankCheckpointed]]); a crash
    // re-computes at most 3 rounds.
    // edgesDistinct: [[termEdges]] is distinct by construction — the
    // incidence is distinct per (doc, token), fwd/rev are one-to-one
    // maps of it, and the two directions live in disjoint `d:`/`t:` key
    // prefixes — so the walk's build-time dedup exchange is skipped
    Graph.pageRankCheckpointed(termEdges(docs, idCol, textCol),
      "src", "dst", iters, scratchDir, damping, roundsPerWrite = 4,
      edgesDistinct = true)
      .where(col("node").startsWith("d:"))
      .select(expr("substring(node, 3)").cast("long").as(idCol), col("rank"))
}
