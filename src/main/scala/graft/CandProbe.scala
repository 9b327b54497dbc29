package graft

import org.apache.spark.sql.functions._

/** Stage-timing probe for the verified-MinHash dedup path
  * (`Dedup.minhashVerifiedDups`): times signature build, candidate
  * generation, the signature-estimate screen, and the exact verify
  * SEPARATELY, and reports candidate/survivor counts at minPairBands 1
  * and 2 — the numbers SCALE.md's 10× table cites.
  *
  * Usage: `runMain graft.CandProbe <sfDir> [threshold] [margin]`.
  *
  * Every stage calls the SAME code the shipped operator runs
  * ([[graft.ops.Dedup.bandedCandidates]], [[graft.ops.Dedup.shingleHashed]],
  * [[graft.ops.Dedup.minhashSignatureFromHashes]]) with the operator's
  * default parameters — the band-key scheme and the estimate cut are
  * derived, not inlined, so the probe cannot drift from the engine.
  */
object CandProbe {
  // the shipped defaults of Dedup.minhashVerifiedDups, referenced (not
  // copied) — a change to the operator's geometry flows here
  private val NumBands = graft.ops.Dedup.DefaultNumBands
  private val RowsPerBand = graft.ops.Dedup.DefaultRowsPerBand
  private val NumHashes = NumBands * RowsPerBand
  private val ShingleK = graft.ops.Dedup.DefaultShingleK

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: CandProbe <sfDir> [threshold=0.5] [prefilterMargin=0.25]")
    val sfDir = args(0)
    val threshold = if (args.length > 1) args(1).toDouble else 0.5
    val margin = if (args.length > 2) args(2).toDouble else 0.25
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    require(cpus.nonEmpty && cpus.forall(_.isDigit) && cpus.toInt > 0,
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$cpus'")
    val spark = EngineConf.session(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.ops.Dedup

    val docs = graft.model.Tables.load(spark, sfDir, "documents")
    // THE shipped construction, not a copy: setGroupsWithSig is the
    // single source of truth for the distinct-shingle-set group table
    // (minhashVerifiedDups and the index lifecycle run it verbatim), so
    // the probe cannot drift from the engine. Its internal caches own
    // both stage frames; the `hashed` re-declaration below carries the
    // identical canonicalized plan and resolves to the same cache entry,
    // existing purely to time the first stage separately.
    val setGroups = Dedup.setGroupsWithSig(docs, "doc_id", "text", ShingleK,
      NumHashes, Dedup.DefaultMaxGroupSize, "CandProbe setGroups")
    val hashed = Dedup.shingleHashed(docs, "doc_id", "text", ShingleK)
      .select(col("id"), array_distinct(col("shh")).as("shh"))
    val sig = setGroups.select(col("gid").as("id"), col("sig"))

    def tm(label: String)(f: => Long): Long = {
      val t0 = System.nanoTime; val n = f
      println(f"PROBE-STAGE $label%-26s ${(System.nanoTime - t0) / 1e9}%8.2f s  rows=$n")
      n
    }

    tm("hashed(cache)")(hashed.count())
    tm("setGroups(cache)")(setGroups.count())
    // the shipped candidate generator over set representatives, both
    // screen settings. NB: the first call materializes
    // bandedCandidates' internal sig-group cache; the second call's
    // identical subplan resolves to the SAME cache entry (canonicalized
    // -plan matching), so the two stage times are not comparable — the
    // labels say which is which.
    val cand1 = Dedup.bandedCandidates(sig, NumBands, RowsPerBand, minPairBands = 1)
      .select(col("id_a").as("ga"), col("id_b").as("gb")).cache()
    val nb1 = tm("setPairs(nb>=1,+groups)")(cand1.count())
    val nb2 = tm("setPairs(nb>=2,cached)")(
      Dedup.bandedCandidates(sig, NumBands, RowsPerBand, minPairBands = 2).count())
    // signature-estimate screen at set level, cut derived as shipped
    val minMatches = math.ceil((threshold - margin) * NumHashes).toInt
    // the shipped native screen kernel, not the composed HOF it
    // replaced — the stage must time what the operator actually runs
    val est = tm(s"est-screen(>=$minMatches/$NumHashes)")(
      cand1
        .join(sig.select(col("id").as("ga"), col("sig").as("sig_a")), Seq("ga"))
        .join(sig.select(col("id").as("gb"), col("sig").as("sig_b")), Seq("gb"))
        .where(graft.functions.TextHashFunctions
          .sig_match_count(col("sig_a"), col("sig_b")) >= lit(minMatches))
        .count())
    // exact-verify surviving SET pairs over the unscreened candidates
    // (stage cost upper bound; the shipped operator verifies only est
    // survivors), plus the within-set pair mass for reference
    val verified = tm("verify(exact,set-pairs)")(
      cand1
        .join(setGroups.select(col("gid").as("ga"), col("shh").as("sh_a")), Seq("ga"))
        .join(setGroups.select(col("gid").as("gb"), col("shh").as("sh_b")), Seq("gb"))
        .select(size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
          size(col("sh_a")).as("sz_a"), size(col("sh_b")).as("sz_b"))
        .where(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter"))
          >= threshold)
        .count())
    tm("withinSetPairs")(
      // Column./ is double division (n*(n-1) is even, so the quotient is
      // exact); cast back so sum() stays LongType for getLong
      setGroups.select(((size(col("ids")).cast("long") *
          (size(col("ids")).cast("long") - 1)) / 2).cast("long").as("p"))
        .agg(coalesce(sum(col("p")), lit(0L))).collect()(0).getLong(0))
    // the shipped operator end-to-end, for cross-checking the stage sum
    spark.catalog.clearCache()
    val t0 = System.nanoTime
    val e2e = Dedup.minhashVerifiedDups(docs, "doc_id", "text",
      shingleK = ShingleK, numBands = NumBands, rowsPerBand = RowsPerBand,
      threshold = threshold, prefilterMargin = margin).count()
    println(f"PROBE-STAGE e2e(shipped)          ${(System.nanoTime - t0) / 1e9}%8.2f s  rows=$e2e")
    println(s"PROBE dir=$sfDir nb>=1: $nb1  nb>=2: $nb2  est-survivors: $est  verified: $verified")
    spark.stop()
  }
}
