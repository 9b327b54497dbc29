package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators — reference parity (W1) plus the large-scale
  * training-data variants (exact hash, MinHash+LSH, SimHash, n-gram
  * Jaccard).
  *
  * ID CONTRACT for the near-dup operators: `idCol` is assumed unique
  * per document (it is the pair-output key). Duplicate id values with
  * identical content are tolerated — member lists dedup, so pairs are
  * emitted once and never self-pair — but the SAME id carrying
  * DIFFERENT content is malformed input: group keys (min member id)
  * can collide across groups and pairs involving that id may be
  * dropped or mis-scored. Dedup the id space first (`firstPerKey`).
  *
  * Reference parity: `stg_corebank_customers.sql:16,30` dedups with
  * `row_number() over (partition by k order by k)` + `rn = 1`.
  *
  * Scale design: every operator here is a hash-shuffle on the dedup key
  * (or LSH bucket) — no global sorts, no cross joins. Candidate-pair
  * generation for near-dup goes through banding/bucketing so the join is
  * equi on (band, signature) and never quadratic in the corpus.
  */
object Dedup {

  /** Shipped defaults of [[minhashVerifiedDups]]'s shingle/banding
    * geometry — the single source of truth for everything that must
    * reproduce the operator's stage behavior (the `CandProbe`
    * stage-timing main references these, so its numbers cannot
    * desynchronize from the shipped path when the defaults change). */
  val DefaultShingleK = 5
  val DefaultNumBands = 24
  val DefaultRowsPerBand = 2

  /** Default bound for the grouped operators' `maxGroupSize` valve:
    * 10⁷ members ≈ 80 MB of ids in ONE group row — large enough that no
    * legitimate corpus trips it (the biggest clique measured in the 100×
    * experiment is 100 members), small enough to fail long before an
    * executor OOMs on a multi-GB row. */
  val DefaultMaxGroupSize: Int = 10000000

  /** The identical-content-clique safety valve shared by every grouped
    * near-dup operator: group rows carry their full member-id list
    * (`collect_list`), so one degenerate content value repeated n times
    * is ONE n-wide row. The guard fails fast — with the group size and
    * a member id, at the grouping stage, BEFORE the row fans out into
    * pair expansion — instead of letting a pathological corpus OOM an
    * executor deep in a downstream stage. (The aggregation buffer for
    * the one offending row is still paid while the list is collected;
    * a corpus expected to be adversarial should be pre-collapsed with
    * [[exactKeepFirst]], which counts per key without building lists.)
    * Embedded in the projection that CONSUMES the list — not a
    * dropped side column — so column pruning cannot eliminate it. */
  private[ops] def boundedIds(rawIds: Column, maxGroupSize: Int, what: String,
      remedy: String = "pre-collapse exact duplicates (Dedup.exactKeepFirst)"): Column = {
    require(maxGroupSize > 0, s"maxGroupSize must be > 0, got $maxGroupSize")
    // `what`/`remedy` ride as %s ARGUMENTS, not spliced into the
    // template — a call-site label containing '%' must surface in the
    // error verbatim, not throw IllegalFormatException inside the valve
    when(size(rawIds) > maxGroupSize,
      raise_error(format_string(
        s"%s has %s members, over maxGroupSize=$maxGroupSize" +
          " — one group row would carry the whole member list; %s" +
          " or raise maxGroupSize (member id %s)",
        lit(what), size(rawIds).cast("string"), lit(remedy),
        element_at(rawIds, 1).cast("string"))))
      .otherwise(rawIds)
  }

  /** The shared grouping aggregate of the dup-mass pattern: collected
    * member ids, valve-bounded ([[boundedIds]]), sorted, deduped — the
    * one expression every grouped near-dup operator builds its group
    * rows with (ngramJaccardPairs uses the unbounded-dedup variant
    * because it needs the raw collected count as its df weight). */
  private[graft] def groupIdsAgg(id: Column, maxGroupSize: Int, what: String,
      remedy: String = "pre-collapse exact duplicates (Dedup.exactKeepFirst)"): Column =
    array_distinct(sort_array(boundedIds(collect_list(id), maxGroupSize, what, remedy)))

  /** Weighted distinct-shingle-set group rows — the shared builder of
    * the df-weighted grouped operators ([[ngramJaccardPairs]],
    * [[crossCorpusNearDups]]): one row per distinct shingle set with
    * `gid` (min member id), `shh`, deduped member `ids`, and `w` = RAW
    * collected row count (the df weight — document frequency counts
    * documents, so duplicates must weigh). Encodes both measured
    * array-keyed-groupBy rules in one place: the per-doc arrays cache
    * BEFORE the groupBy (the sort-agg fallback re-materializes its
    * input — the 10× pitfall documented in minhashVerifiedDups), and
    * the degenerate-set guard sits AFTER that cache (pushed below the
    * projection it would re-evaluate the tokenize→shingle pipeline
    * inside the predicate, measured 5×; and docs shorter than k tokens
    * all share the empty array — one corpus-sized group row). */
  private[ops] def weightedSetGroups(df: DataFrame, idCol: String, textCol: String,
                                     k: Int, maxGroupSize: Int, what: String): DataFrame = {
    val docHashed = OpCaches.registered(shingleHashed(df, idCol, textCol, k)
      .select(col("id"), array_distinct(col("shh")).as("shh")))
    OpCaches.registered(docHashed
      .where(size(col("shh")) > 0)
      .groupBy("shh").agg(sort_array(boundedIds(collect_list(col("id")),
        maxGroupSize, what)).as("rawIds"))
      .select(element_at(col("rawIds"), 1).as("gid"), col("shh"),
        array_distinct(col("rawIds")).as("ids"),
        size(col("rawIds")).cast("long").as("w")))
  }

  /** W1 + F3 — keep exactly one row per key, first by `order` (must be a
    * total order within the key for determinism). */
  def firstPerKey(df: DataFrame, key: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    require(!df.columns.contains("_rn"),
      "input carries a column named _rn — it would be overwritten by the " +
        "dedup rank and then dropped; rename it first")
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact content dedup: group by a content hash, keep the smallest id.
    * sha2-256 collisions are negligible; grouping on the 64-hex-char hash
    * instead of the full text keeps shuffle rows small at 100 TB. */
  def exactByHash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    require(!df.columns.contains("_h"),
      "input must not carry a _h column (it would be clobbered by the " +
        "synthesized content hash and dropped from the result)")
    df.withColumn("_h", sha2(col(textCol), 256))
      .groupBy("_h")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .drop("_h")
  }

  /** Exact content dedup keeping the full surviving row (min id per
    * distinct content) — one shuffle keyed by the content hash; the
    * window never carries document text twice. */
  def exactKeepFirst(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    require(!df.columns.contains("_h"),
      "input must not carry a _h column (it would be clobbered by the " +
        "synthesized content hash and dropped from the result)")
    firstPerKey(df.withColumn("_h", sha2(col(textCol), 256)),
      Seq("_h"), Seq(col(idCol))).drop("_h")
  }

  /** Word k-shingles from a pre-split token array column, distinct.
    * Documents shorter than k tokens yield an empty array (guard needed:
    * Spark `sequence(1, 0)` would count *down*, not produce empty).
    *
    * PERF: `toks` MUST be a plain column attribute, not an inline
    * `split(...)` expression — the slice lambda evaluates its body per
    * element, so an embedded split would re-tokenize the document once
    * per shingle (measured 50× slowdown). Stage the split in a prior
    * projection (see [[shingled]]). */
  def shinglesOfTokens(toks: Column, k: Int): Column = {
    val n = size(toks)
    when(n < k, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), n - k + 1),
        i => concat_ws(" ", slice(toks, i, lit(k))))))
  }

  /** id + distinct k-shingle array per document, with the tokenize and
    * shingle steps as separate projections so each is computed exactly
    * once per row. */
  def shingled(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col("id"), shinglesOfTokens(col("toks"), k).as("sh"))

  /** id + xxhash64 of every k-token window (NOT distinct, may repeat) —
    * the hashed shingle form minhash/jaccard actually consume. Hashing
    * the token-slice array directly skips both the shingle-string
    * construction and `array_distinct` over strings, whose per-element
    * UTF8String comparisons measured 12× slower than the whole hashed
    * pipeline. Dedup on the long hashes where set semantics are needed.
    *
    * Evaluated by the native [[graft.functions.TokenWindowHashes]]
    * kernel — bit-identical to the composed
    * `transform(sequence(...), i => xxhash64(slice(toks, i, k)))` form
    * (equivalence property spec), which as a higher-order function ran
    * interpreted (`CodegenFallback`) and dominated every shingle-stage
    * profile once the bench stopped letting Catalyst prune it. */
  def shingleHashed(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.TextHashFunctions
        .token_window_hashes(col(textCol), k).as("shh"))

  /** MinHash signature from hashed shingles: per seed, min over
    * seed-rehashed shingle hashes (duplicates can't change a min, so the
    * non-distinct [[shingleHashed]] form feeds this directly).
    *
    * Evaluated by the native [[graft.functions.MinHashSignature]]
    * kernel — bit-identical to the composed one-pass fold
    * `aggregate(shh, fill(MaxValue), zip_with(acc, seeds, least(a,
    * xxhash64(s, h))))` (equivalence property spec), with the
    * h-independent `hashInt(seed, 42)` stage precomputed once per seed
    * instead of per (shingle, seed) pair. Empty input yields the
    * Long.MaxValue init (callers exclude shingle-less docs before
    * banding — the degenerate-bucket guard). */
  def minhashSignatureFromHashes(hashesCol: Column, numHashes: Int): Column =
    graft.functions.TextHashFunctions.minhash_signature(hashesCol, numHashes)

  /** Word k-shingles straight from a text column — convenience for
    * single-use contexts (tests, one-shot exprs). For anything that
    * reuses the result, go through [[shingled]]. */
  def shingles(textCol: Column, k: Int): Column =
    shinglesOfTokens(split(trim(textCol), "\\s+"), k)

  /** Streamed C(n, 2) pair expansion of a sorted-array column:
    * posexplode picks each left element with its position, the second
    * explode pairs it with every LATER element (slice start is
    * 1-based, pos is 0-based, so pos + 2 = the next element; empty
    * tails are dropped by the inner explode). Per-row memory is O(set
    * size), never O(set²) — an earlier in-row form (flatten of nested
    * transform) materialized all C(n, 2) structs in ONE row and would
    * trip Spark's ~2 GB array limit on a degenerate set; the streamed
    * form A/B-measured identical cost. The strict `aCol =!= bCol`
    * filter preserves the raw formulations' `id_a < id_b` semantics
    * when the input carries duplicate ids (a sorted list with equal
    * adjacent values would otherwise pair an id with itself). */
  /** Expand verified GROUP pairs into member pairs: explode both
    * sides' id lists, normalize to `id_a < id_b` via least/greatest,
    * and suppress the self-pairs a duplicate id spanning two groups
    * would fabricate (the duplicate-id guard — see [[pairsOf]]; unique
    * ids remain the input contract, the guard is defense-in-depth).
    * Shared by every grouped near-dup family (minhash, jaccard,
    * simhash, cosine, semantic): `carry` columns (score / hamming /
    * jaccard) ride through, output is `(id_a, id_b, carry…)`. Member
    * expansion happens AFTER the per-group-pair verification filter by
    * construction — the caller applies its threshold first. */
  private[ops] def expandGroupPairs(df: DataFrame, carry: Seq[String]): DataFrame = {
    val cs = carry.map(col)
    df.select(cs ++ Seq(explode(col("ids_a")).as("x"), col("ids_b")): _*)
      .select(cs ++ Seq(col("x"), explode(col("ids_b")).as("y")): _*)
      .select(Seq(least(col("x"), col("y")).as("id_a"),
        greatest(col("x"), col("y")).as("id_b")) ++ cs: _*)
      .where(col("id_a") =!= col("id_b"))
  }

  private[ops] def pairsOf(sets: DataFrame, setCol: String,
                           aCol: String, bCol: String,
                           carry: Seq[String] = Nil): DataFrame =
    sets.select(carry.map(col) :+ col(setCol) :+
        posexplode(col(setCol)).as(Seq("pos", aCol)): _*)
      .select(carry.map(col) :+ col(aCol) :+
        explode(slice(col(setCol), col("pos") + lit(2), size(col(setCol)))).as(bCol): _*)
      .where(col(aCol) =!= col(bCol))

  /** Banded LSH candidate pairs from a signature frame (id, sig) —
    * signature-grouped and bucket-grouped, not self-joined. Shared by
    * the estimating and verifying minhash operators (and `CandProbe`)
    * so the band-key scheme cannot drift between them.
    *
    * Two grouping shuffles, both on compact keys: (1) docs group on
    * their FULL signature, collapsing exact-duplicate cliques to one
    * row each (see the dup-mass comment in the body — banding cost
    * scales with distinct content mass, not raw docs); (2) distinct
    * signatures band and group on (band, bucket), and each bucket
    * expands its C(size, 2) group pairs by a STREAMED double explode
    * over the sorted key list. The previous self-join formulation
    * shuffled BOTH 1.2M-row banded sides at the 10× corpus and
    * recomputed the band-hash expression per side (measured: the pair
    * stage was the single largest cost in the operator, ~10 s of ~29 s
    * at 10×; the bucket-grouped form measures ~3-7 s). Pair expansion
    * is quadratic per bucket, but bucket sizes after signature
    * grouping are the corpus's DISTINCT near-dup family sizes, and the
    * generates pipeline the pairs: per-row memory is O(set size),
    * never O(set²). The remaining per-row bound is the collect_list
    * itself (8 bytes × set size — a 10⁷-member identical-dup clique is
    * an 80 MB `groups` row; beyond that, shard the key before
    * grouping).
    *
    * A pair appears at most once per band (one bucket per doc per
    * band), so the pair-dedup group count is the number of COLLIDING
    * BANDS — E[bands] = numBands·j^rowsPerBand, and under seed
    * independence a background pair at jaccard j reaches the output
    * w.p. 1 − (1−j^r)^b at minPairBands 1 vs the much smaller ≥ 2-band
    * binomial tail at 2. `minPairBands` is a noise-mass knob for
    * corpora with real background similarity; a true pair at j ≥ 0.75
    * still arrives w.p. ≈ 1 (miss ≤ 10⁻⁷ at the shipped geometries).
    *
    * The binomial model is an average over hash FAMILIES — for a
    * boilerplate corpus (all docs sharing template shingles) the
    * realized counts under ONE fixed seed set deviate in the screen's
    * favor: per seed, "the min lands in the template" is decided once
    * for every pair by how small the fixed template-min hash is, so
    * per-seed match rates are bimodal (measured 0.00–0.98 across 48
    * seeds, mean = j as theory demands) and background admission
    * concentrates in the few hot bands whose seeds are all
    * template-favored. Requiring a SECOND hot band then suppresses
    * background super-multiplicatively (measured 83 → 0 background
    * pairs on the template-corpus spec, vs the ~29× binomial
    * prediction); true pairs are immune because their payloads
    * coincide, matching in most bands regardless of template luck
    * (spec: OpsSpec "minPairBands >= 2 screens boilerplate noise").
    * The driver test-corpus family needs no screen (background pairs
    * share ~no shingles, j ≈ 0 — candidates ≈ true pairs at sf0.1 AND
    * 10×), so the default is 1 (strongest recall bound); the count
    * costs nothing either way because the pair dedup is this same
    * aggregation. */
  /** The LSH band-key scheme: bucket hash of band `b` = xxhash64 of the
    * comma-joined signature slice `[b·rowsPerBand, (b+1)·rowsPerBand)`.
    * ONE definition shared by [[bandedCandidates]] and the incremental
    * index probe ([[minhashIndexDedupBatch]]) so a persisted index and a
    * fresh recompute can never band apart. */
  private[graft] def bandBuckets(sig: Column, numBands: Int,
                                 rowsPerBand: Int): Column =
    array((0 until numBands).map { b =>
      xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)))
    }: _*)

  private[graft] def bandedCandidates(sig: DataFrame, numBands: Int,
                                      rowsPerBand: Int,
                                      minPairBands: Int = 1,
                                      maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    // within-group pairs collide in every band by construction, so the
    // raw-id equivalence (and any sensible screen) needs the bound here
    // too, not only in minhashVerifiedDups
    require(minPairBands >= 1 && minPairBands <= numBands,
      s"minPairBands must be in [1, numBands=$numBands], got $minPairBands")
    // DISTINCT-SIGNATURE GROUPING (the dup-mass guard): raw training
    // corpora carry heavy exact-duplicate mass (30-60% of a web crawl),
    // and identical documents have identical signatures — banding raw
    // docs would emit every within-clique pair once PER BAND before the
    // dedup (measured on the 100× corpus, where every doc is a
    // 100-member clique: 655M pre-dedup pair rows for 27.3M candidates,
    // 211 s of the 415 s operator total). Grouping on the full
    // signature first makes banding cost scale with DISTINCT content
    // mass: within-group pairs are emitted directly exactly once
    // (identical signatures collide in every band, so their band count
    // is numBands and passes any minPairBands screen), and only the
    // distinct signatures go through banding, keyed by the group's min
    // id. Output is pair-for-pair identical to banding raw ids, for
    // any corpus and any minPairBands. The `groups` cache backs the
    // returned frame — callers release via OpCaches.scoped or a session
    // clearCache between queries (Bench does the latter), same contract
    // as the signature caches.
    val groups = OpCaches.registered(sig.groupBy("sig")
      .agg(groupIdsAgg(col("id"), maxGroupSize,
        "bandedCandidates: a single signature value").as("ids"))
      .select(element_at(col("ids"), 1).as("gid"), col("sig"), col("ids")))
    val withinGroup = pairsOf(groups.where(size(col("ids")) > 1), "ids", "id_a", "id_b")
    val banded = groups.select(
      col("gid"),
      posexplode(bandBuckets(col("sig"), numBands, rowsPerBand))
        .as(Seq("band", "bucket")))
    // the same valve covers the bucket rows: a low-entropy corpus where
    // millions of DISTINCT signatures agree on one band's values would
    // build one unbounded gid list here (and C(n,2) pairs after it) —
    // fail with the bucket named rather than OOM in the expansion
    val buckets = banded.groupBy("band", "bucket")
      .agg(groupIdsAgg(col("gid"), maxGroupSize,
        "bandedCandidates: one band bucket (distinct signatures)",
        remedy = "use more rowsPerBand (more selective buckets)").as("gids"))
      .where(size(col("gids")) > 1)
    // group-level pair dedup: nb = number of colliding bands between
    // the two signatures, identical semantics to the raw-id form
    val groupPairs = pairsOf(buckets, "gids", "ga", "gb")
      .groupBy("ga", "gb").agg(count(lit(1)).as("nb"))
      .where(col("nb") >= minPairBands)
    // expand surviving group pairs to member pairs; groups are disjoint
    // id sets, so no cross-pair dedup is needed after the group-level
    // dedup, and least/greatest restores the id_a < id_b orientation
    val crossGroup = groupPairs
      .join(groups.select(col("gid").as("ga"), col("ids").as("ids_a")), Seq("ga"))
      .join(groups.select(col("gid").as("gb"), col("ids").as("ids_b")), Seq("gb"))
    withinGroup.unionByName(expandGroupPairs(crossGroup, Nil))
  }

  /** MinHash + LSH near-duplicate pairs.
    *
    * signature (numBands × rowsPerBand hashes) → band keys → group docs
    * sharing a band bucket → candidate pairs → verify with exact signature
    * agreement ratio ≥ `threshold`.
    *
    * Scale: the only shuffle joins are equi on (band, bucketHash); bucket
    * sizes are bounded in practice by hash dispersion. The self-join is on
    * bucket keys, never a cross join. Output: (id_a < id_b, similarity). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 5, numBands: Int = 4, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    val numHashes = numBands * rowsPerBand
    // staged projections: toks → shingle hashes → signature, each an
    // attribute at the next stage (prevents the hash transforms from
    // inlining — and re-evaluating — the shingle expression). Cached:
    // three consumers (both self-join sides via `banded`, plus the two
    // verify lookups) would otherwise re-tokenize and re-hash the corpus
    // once each. Cache rows are (id, 16 longs) — ~140 bytes/doc, far
    // smaller than the text they replace. The cache backs the RETURNED
    // frame, so the operator cannot release it itself: long-lived
    // sessions calling this repeatedly wrap the call + materialization
    // in OpCaches.scoped (releases exactly these caches) or
    // `spark.catalog.clearCache()` between invocations (global; Bench
    // does this), same contract as [[Similarity.cosineNearDups]].
    val sig = OpCaches.registered(shingleHashed(df, idCol, textCol, shingleK)
      // degenerate-bucket guard: all-null signatures of shingle-less
      // docs would share one bucket per band (quadratic in their count)
      // and can never pass the threshold — drop them before banding
      .where(size(col("shh")) > 0)
      .select(col("id"), minhashSignatureFromHashes(col("shh"), numHashes).as("sig")))
    // candidate generation shuffles bare (band, bucket, id) longs and the
    // dedup shuffles bare id pairs — signature arrays re-join AFTER the
    // dedup for the one verify pass (shipping sig_a/sig_b through the
    // candidate shuffle would multiply its width ~16×)
    val candidates = bandedCandidates(sig, numBands, rowsPerBand,
      maxGroupSize = maxGroupSize)
    candidates
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        graft.functions.TextHashFunctions
          .sig_match_count(col("sig_a"), col("sig_b"))
          .cast("double") / lit(numHashes.toDouble))
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** MinHash + LSH candidates, verified with the EXACT shingle-set
    * Jaccard — output is the exact near-dup pair set (id_a < id_b,
    * jaccard ≥ threshold), not an estimate.
    *
    * Banding is dense by default (24 bands × 2 rows = 48 hashes) so that
    * recall at the threshold is effectively 1: a pair at Jaccard j
    * collides per band w.p. j², and reaches the verify stage unless
    * FEWER than `minPairBands` bands collide — with the default
    * minPairBands = 1 the miss is (1 − j²)²⁴, ≤ 1·10⁻³ at j = 0.5 and
    * ≤ 2.5·10⁻⁹ at j = 0.75 (near-dup corpora cluster well above the
    * threshold; the per-corpus argument for the oracle gate is the
    * measured 0.03→0.75 jaccard gap, where the miss bound is the 10⁻⁹
    * one — spec-gated in OpsSpec "minhash oracle validity"). With
    * recall ~1 and exact
    * verification the output equals a plain exact Jaccard pair scan,
    * which is what makes this operator ORACLE-CHECKABLE (the DuckDB
    * mirror computes all-pairs exact Jaccard) while still running the
    * 100 TB shape: candidate generation is banded equi-joins, never the
    * quadratic scan the oracle does. The signature stage is the main
    * knob: hashes = numBands × rowsPerBand xxhash64 evaluations per
    * shingle (48 measured ~1.1 s vs 72 ~2.4 s on the sf0.1 corpus).
    *
    * Scale shape: the DISTINCT SHINGLE SET is the unit of every
    * per-content stage (see the body comment) — banding shuffles bare
    * (band, bucket, gid) longs over distinct sets, the pair dedup
    * shuffles bare set-key pairs, and the screen/verify join shingle
    * arrays only for candidate SET pairs (bounded by set pairs ×
    * shingles, never corpus²); member pairs exist only in the final
    * post-threshold expansion. Documents with NO shingles (< k tokens)
    * are excluded before grouping: their all-null signatures would
    * otherwise share one degenerate bucket per band — quadratic in the
    * short-doc count at corpus scale — and they can never reach the
    * threshold anyway (empty shingle set ⇒ jaccard 0). `hashed` (the
    * per-doc distinct arrays) and `setGroups` (one row per distinct
    * set) are cached; both back the returned frame — callers running
    * many queries per session release via [[OpCaches.scoped]] or
    * `spark.catalog.clearCache()` (Bench does the latter).
    *
    * NOISE-CANDIDATE CONTROL: a background pair reaches the candidate
    * set w.p. ≈ numBands·j^(2·rowsPerBand)… which for DISJOINT shingle
    * sets (j ≈ 0) is ~0: measured on this corpus family the candidate
    * set ≈ the true pair set at sf0.1 (259 candidates) AND at 10×
    * (250.9k candidates ≈ the replicated true-pair mass) — LSH banding
    * itself is the noise filter. Two optional screens exist for
    * corpora with real background similarity (boilerplate-heavy text
    * where pair jaccard is substantially > 0): `minPairBands` (see
    * [[bandedCandidates]]) drops pairs colliding in < k bands before
    * anything per-pair-expensive runs, and the signature-estimate
    * prefilter screens survivors with the CHEAP minhash estimate
    * (48 longs per side, already cached for banding): keep a pair only
    * if matches/48 ≥ threshold − `prefilterMargin`. The screen cannot
    * break exactness at the output threshold: a true pair at j ≥
    * threshold has estimate matches ~ Binomial(48, j), so falling
    * below the cut needs a ≥ (margin/σ)·σ downward deviation — at
    * threshold 0.5 / margin 0.25 that is 3.5σ (≤ 2·10⁻⁴, exact
    * binomial tail), and in this corpus's j ≥ 0.75 pair regime it is
    * 8σ (≤ 10⁻¹⁴, Chernoff). The COMBINED per-pair miss probability is
    * banding miss + prefilter tail — at j = 0.5 exactly that is
    * ≤ 1·10⁻³ + 2·10⁻⁴ ≈ 1.2·10⁻³, and in this corpus's j ≥ 0.75
    * regime ≤ 2.5·10⁻⁹ + 10⁻¹⁴. Equality with the exact all-pairs scan
    * is thus PROBABILISTIC and corpus-dependent: it holds (to ~10⁻⁹)
    * because the measured corpus has no pairs near the threshold; a
    * corpus with mass at j ≈ threshold would see ~10⁻³ of those pairs
    * dropped (and raising minPairBands trades more of that tail for
    * noise reduction — re-derive before changing it).
    *
    * `prefilterMargin` semantics: larger margin = safer (lower cut =
    * smaller prefilter tail, more survivors to verify); margin ≥
    * threshold sets the cut to 0 and DISABLES the screen entirely.
    * margin = 0 is rejected: it puts the cut AT the threshold, where a
    * true pair at j exactly = threshold falls below it with probability
    * ~P(Binomial(48, j) < 24) ≈ 44% — not a screen, a coin flip. */
  def minhashVerifiedDups(df: DataFrame, idCol: String, textCol: String,
                          shingleK: Int = DefaultShingleK,
                          numBands: Int = DefaultNumBands,
                          rowsPerBand: Int = DefaultRowsPerBand,
                          threshold: Double = 0.5,
                          prefilterMargin: Double = 0.25,
                          minPairBands: Int = 1,
                          maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    require(minPairBands >= 1 && minPairBands <= numBands,
      s"minPairBands must be in [1, numBands=$numBands], got $minPairBands")
    require(prefilterMargin > 0,
      s"prefilterMargin must be > 0 (got $prefilterMargin): margin 0 puts the " +
        "prefilter cut AT the threshold and drops ~44% of true pairs at " +
        "j = threshold; to disable the prefilter pass margin >= threshold " +
        "(cut becomes 0)")
    val numHashes = numBands * rowsPerBand
    // The DISTINCT SHINGLE SET is the unit of every per-content stage
    // (the dup-mass guard, fully applied): docs group on their distinct
    // shingle-hash array, the signature is computed once per set, and
    // banding, the estimate screen, AND the exact verify all run on
    // one row per distinct set — identical docs (30-60% of a raw
    // crawl) collapse everywhere. Within-set pairs (identical arrays)
    // are emitted directly: their jaccard is inter/(sz_a + sz_b −
    // inter) with all three terms equal — exactly 1.0, bit-equal to
    // the pairwise division the cross path computes. Cross-set pairs
    // are admitted by banding on the set signatures (every member
    // pair maps to exactly one set pair with the same signatures, so
    // admission is pair-for-pair identical to per-doc banding),
    // verified once per set pair, and expanded to member pairs only
    // AFTER the threshold — so every stage costs distinct content
    // mass, and only the final expansion costs output mass. Measured
    // on the 100× identical-clique corpus: 524 s (raw-id round-start
    // form) → 59 s (grouped banding + per-set signatures) → see
    // SCALE.md for the per-set-verify numbers. The group-by key is
    // the array as-ordered: identical texts yield identical arrays;
    // differently-ordered equal sets merely group apart (bit-equal
    // signatures and jaccard either way, just less collapsing).
    // The cache backs the returned frame — callers clear between
    // queries (Bench/Verify do).
    // two stages, both cached: the per-doc arrays materialize BEFORE the
    // array-keyed groupBy. ObjectHashAggregate falls back to sort-based
    // aggregation on array grouping keys, and feeding it the raw
    // tokenize→shingle→distinct lineage measured ~10× the cached form
    // on the 100× corpus (263 s vs 22 + 3 s) — the sort path
    // re-materializes its input, so the expensive projection must
    // already be columnar bytes, not a pipeline.
    // the degenerate-set filter sits AFTER the cache: a where on
    // size(shh) pushes below the projection and re-evaluates the staged
    // tokenize→shingle pipeline inside the predicate (measured 5×
    // on this stage) — filtering materialized arrays is free
    val setGroups = setGroupsWithSig(df, idCol, textCol, shingleK, numHashes,
      maxGroupSize, "minhashVerifiedDups: a single shingle-set value")
    val szW = size(col("shh"))
    val within = pairsOf(
      setGroups.where(size(col("ids")) > 1)
        .withColumn("jaccard", szW.cast("double") / (szW + szW - szW))
        .where(col("jaccard") >= threshold),
      "ids", "id_a", "id_b", carry = Seq("jaccard"))
    // signature-estimate prefilter (see Scaladoc): integer match-count
    // cut over the 48-long set signatures; survivors reach the
    // array_intersect verify. Candidate set pairs are ≪ distinct sets,
    // so these joins broadcast the pair side against the cache —
    // shingle arrays ship only for verified-candidate set pairs.
    val minMatches = math.ceil((threshold - prefilterMargin) * numHashes).toInt
    // stage order matters: join the 48-long signatures FIRST, apply the
    // estimate cut, and only join the (wide) shingle arrays and member
    // lists for screen survivors — on a boilerplate corpus the screen
    // exists to reject most candidates, and they must not pay the
    // array columns through the joins
    val screened = bandedCandidates(
      setGroups.select(col("gid").as("id"), col("sig")),
      numBands, rowsPerBand, minPairBands, maxGroupSize)
      .select(col("id_a").as("ga"), col("id_b").as("gb"))
      .join(setGroups.select(col("gid").as("ga"), col("sig").as("sig_a")), Seq("ga"))
      .join(setGroups.select(col("gid").as("gb"), col("sig").as("sig_b")), Seq("gb"))
      .where(graft.functions.TextHashFunctions
        .sig_match_count(col("sig_a"), col("sig_b")) >= lit(minMatches))
      .select("ga", "gb")
    val crossVerified = screened
      .join(setGroups.select(col("gid").as("ga"),
        col("shh").as("sh_a"), col("ids").as("ids_a")), Seq("ga"))
      .join(setGroups.select(col("gid").as("gb"),
        col("shh").as("sh_b"), col("ids").as("ids_b")), Seq("gb"))
      // array_intersect hashes 8-byte longs, not strings — the 12×
      // string-array penalty does not apply
      .select(col("ids_a"), col("ids_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(col("sh_a")).as("sz_a"), size(col("sh_b")).as("sz_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
    within.select(col("id_a"), col("id_b"), col("jaccard"))
      .unionByName(expandGroupPairs(crossVerified, Seq("jaccard")))
  }

  /** The distinct-shingle-set group table `(gid, shh, ids, sig)` —
    * shared by [[minhashVerifiedDups]] and the incremental index
    * lifecycle so the set/signature scheme cannot drift between a fresh
    * recompute and a persisted index. Encodes the two measured
    * array-keyed-groupBy rules (cache the per-doc arrays BEFORE the
    * sort-agg groupBy; degenerate-set guard AFTER that cache — see
    * [[weightedSetGroups]]). */
  private[graft] def setGroupsWithSig(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int, numHashes: Int, maxGroupSize: Int,
      what: String): DataFrame = {
    val hashed = OpCaches.registered(shingleHashed(df, idCol, textCol, shingleK)
      .select(col("id"), array_distinct(col("shh")).as("shh")))
    OpCaches.registered(hashed
      .where(size(col("shh")) > 0) // degenerate-bucket guard (see Scaladoc)
      .groupBy("shh").agg(groupIdsAgg(col("id"), maxGroupSize, what).as("ids"))
      .select(element_at(col("ids"), 1).as("gid"), col("shh"), col("ids"),
        minhashSignatureFromHashes(col("shh"), numHashes).as("sig")))
  }

  /** MinHash/LSH index BUILD — the expensive pass of the near-dup
    * family as persistable state: one row per DISTINCT shingle set with
    * its member ids and minhash signature, `(shh, ids, sig)` — all
    * longs and long arrays, so the frame round-trips parquet
    * bit-exactly (the [[graft.ops.Similarity.ivfBuild]] precedent). An
    * always-ingesting corpus pipeline runs this ONCE over the standing
    * corpus, writes the frame, and then every arriving batch pays only
    * [[minhashIndexDedupBatch]] (probe) + [[minhashIndexAppend]]
    * (maintain) instead of re-shingling and re-signing 100 TB a day.
    * Parameters must match across build/probe/append for one index —
    * the signature length is `numBands · rowsPerBand`. */
  def minhashIndexBuild(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = DefaultShingleK,
                        numBands: Int = DefaultNumBands,
                        rowsPerBand: Int = DefaultRowsPerBand,
                        maxGroupSize: Int = DefaultMaxGroupSize): DataFrame =
    setGroupsWithSig(df, idCol, textCol, shingleK, numBands * rowsPerBand,
      maxGroupSize, "minhashIndexBuild: a single shingle-set value")
      .select("shh", "ids", "sig")

  /** MinHash/LSH index MAINTAIN: fold a new batch's index rows into the
    * standing index. Identical shingle sets merge (sorted, deduped,
    * valve-bounded member lists); the signature is a pure function of
    * the set, so either side's copy is THE value. Bit-equal to
    * rebuilding from scratch over the union corpus (spec-pinned):
    * `build(a ∪ b) ≡ append(build(a), build(b))` — which is what lets
    * a daily pipeline keep one standing index instead of one standing
    * recompute. Ids must be unique across the merged corpora (the
    * reconciliation contract every keyed merge here shares). */
  def minhashIndexAppend(index: DataFrame, delta: DataFrame,
                         maxGroupSize: Int = DefaultMaxGroupSize): DataFrame =
    index.select("shh", "ids", "sig")
      .unionByName(delta.select("shh", "ids", "sig"))
      .groupBy("shh").agg(
        array_distinct(sort_array(boundedIds(flatten(collect_list(col("ids"))),
          maxGroupSize,
          "minhashIndexAppend: a merged shingle-set group"))).as("ids"),
        first(col("sig")).as("sig"))
      .select("shh", "ids", "sig")

  /** MinHash/LSH index PROBE — incremental near-dup detection: all
    * verified near-dup pairs `(id_a, id_b, jaccard)` that involve at
    * least one NEW document, i.e. exactly the pairs a full
    * [[minhashVerifiedDups]] over `index corpus ∪ batch` would emit
    * minus the index-internal pairs an earlier run already reported
    * (the exact contract, oracle-gated). The batch pays its own
    * shingling and signatures; the index side is NEVER shuffled or
    * cached corpus-wide — it is read by exactly two narrow scans (the
    * band-key projection and the colliding-row fetch), each pruned by a
    * BROADCAST of batch-derived keys before any exchange, so per-batch
    * shuffle/cache mass tracks batch size + true candidate mass, not
    * corpus size. A persisted parquet index makes those scans cheap
    * columnar reads. (At production scale, additionally persist the
    * pre-aggregated bucket table — [[minhashIndexBands]] — and probe
    * through [[minhashIndexDedupBatchBanded]]: the band join becomes
    * exchange-free, output pair-for-pair identical.)
    * [[minhashIndexAppend]] does
    * shuffle the index on its key — run it as the amortized maintenance
    * job (daily/compaction), never per probe.
    *
    * There is deliberately NO identical-set merge join against the
    * index (the groupBy-shh stage [[minhashVerifiedDups]] runs): a
    * batch set identical to an indexed set has the IDENTICAL signature,
    * so the pair collides in every band, sails through the estimate
    * screen, and the exact verify computes jaccard = sz/(2sz−sz) = 1.0
    * exactly — the same value the merge path would emit as a constant.
    * The merge join bought the full recompute duplicate-mass collapse;
    * here both inputs are already one-row-per-distinct-set, so it
    * bought only stage count (measured: dropping it + its caches took
    * the probe from 16 s to the full-recompute class at 10×).
    *
    * Mechanics otherwise mirror [[minhashVerifiedDups]] stage for
    * stage — banded candidates via the shared [[bandBuckets]] scheme,
    * signature-estimate screen, exact `array_intersect` verify — with
    * one addition: member expansion is SIDED (`all × new ∪ new × old`),
    * so already-reported old×old pairs never re-emit. */
  def minhashIndexDedupBatch(index: DataFrame, batch: DataFrame,
                             idCol: String, textCol: String,
                             shingleK: Int = DefaultShingleK,
                             numBands: Int = DefaultNumBands,
                             rowsPerBand: Int = DefaultRowsPerBand,
                             threshold: Double = 0.5,
                             prefilterMargin: Double = 0.25,
                             minPairBands: Int = 1,
                             maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    require(minPairBands >= 1 && minPairBands <= numBands,
      s"minPairBands must be in [1, numBands=$numBands], got $minPairBands")
    require(prefilterMargin > 0,
      s"prefilterMargin must be > 0 (got $prefilterMargin) — see minhashVerifiedDups")
    val (newSide, indexSide, activeBands) =
      probeSides(index, batch, idCol, textCol, shingleK, numBands,
        rowsPerBand, maxGroupSize)
    val indexBands = indexSide.select(col("gid"),
      posexplode(bandBuckets(col("sig"), numBands, rowsPerBand))
        .as(Seq("band", "bucket")))
      .join(broadcast(activeBands.select("band", "bucket").distinct()),
        Seq("band", "bucket"), "left_semi")
    val buckets = indexBands
      .unionByName(activeBands.select(col("ga").as("gid"), col("band"),
        col("bucket")))
      .groupBy("band", "bucket")
      .agg(groupIdsAgg(col("gid"), maxGroupSize,
        "minhashIndexDedupBatch: one band bucket (distinct signatures)",
        remedy = "use more rowsPerBand (more selective buckets)").as("gids"))
    // countDistinct collapses the double orientation a new-new pair
    // produces (both sides are active) to the colliding-band count nb,
    // identical to bandedCandidates' per-band pair dedup
    val candPairs = activeBands.join(buckets, Seq("band", "bucket"))
      .select(col("band"), col("ga"), explode(col("gids")).as("gb"))
      .where(col("ga") =!= col("gb"))
      .select(col("band"), least(col("ga"), col("gb")).as("pa"),
        greatest(col("ga"), col("gb")).as("pb"))
      .groupBy("pa", "pb").agg(countDistinct(col("band")).as("nb"))
      .where(col("nb") >= minPairBands)
      .select(col("pa").as("ga"), col("pb").as("gb"))
    probeScreenVerifyExpand(candPairs, newSide, indexSide,
      numBands * rowsPerBand, threshold, prefilterMargin)
  }

  /** The shared probe inputs: the batch's distinct-set frame (sided —
    * all members NEW, materialized once: it feeds the within pairs, the
    * active band keys, and the colliding-row assembly), the standing
    * index as a pure narrow sided projection (all members OLD — no
    * join, no filter, no cache; index sets identical to a batch set
    * stay in and meet their twin through the banding path), and the
    * batch's exploded band keys.
    *
    * localCheckpoint, not cache, for the batch frame (the
    * [[connectedComponents]] rationale): a cache entry still CARRIES
    * the build lineage's logical plan — the shingling expressions and
    * the 24-element band-hash arrays — and the analyzer re-walks it in
    * every one of the ~25 downstream Dataset constructions the probe
    * tree makes per micro-batch, measured as ~0.9 s of off-execution
    * driver time per probe (`perfbench/run.py --trace 1`) plus AQE
    * re-optimization cost per stage inside the execution. The
    * checkpoint truncates to a LogicalRDD: same blocks, same single
    * materialization, O(1)-sized leaf in every downstream plan. Lazy —
    * the probe's own first action computes every partition and persists
    * the blocks itself. */
  private def probeSides(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleK: Int, numBands: Int,
      rowsPerBand: Int, maxGroupSize: Int): (DataFrame, DataFrame, DataFrame) = {
    val emptyIds = typedlit(Seq.empty[Long])
    val newSide =
      minhashIndexBuild(batch, idCol, textCol, shingleK,
        numBands, rowsPerBand, maxGroupSize)
        .select(element_at(col("ids"), 1).as("gid"), col("shh"),
          emptyIds.as("old_ids"), col("ids").as("new_ids"), col("sig"))
        .localCheckpoint(false)
    val indexSide = index
      .select(element_at(col("ids"), 1).as("gid"), col("shh"),
        col("ids").as("old_ids"), emptyIds.as("new_ids"), col("sig"))
    val activeBands = newSide
      .select(col("gid").as("ga"),
        posexplode(bandBuckets(col("sig"), numBands, rowsPerBand))
          .as(Seq("band", "bucket")))
    (newSide, indexSide, activeBands)
  }

  /** The shared probe tail from candidate gid pairs to verified sided
    * member pairs: batch within-set pairs, colliding-set assembly,
    * signature-estimate screen, exact verify, sided expansion.
    * `candPairs` is registered here (read twice: the colliding-gid
    * broadcast and the screen — recomputing it would re-run the band
    * scan and both aggregations). */
  private def probeScreenVerifyExpand(candPairsIn: DataFrame,
      newSide: DataFrame, indexSide: DataFrame, numHashes: Int,
      threshold: Double, prefilterMargin: Double): DataFrame = {
    // within-set pairs among the batch's own members: a set's members
    // are mutually identical documents, jaccard exactly 1.0 (the
    // bit-equal constant minhashVerifiedDups' within path computes)
    val withinNew = pairsOf(newSide.where(size(col("new_ids")) > 1),
      "new_ids", "id_a", "id_b")
      .withColumn("jaccard", lit(1.0d))
      .where(col("jaccard") >= threshold)
    // cached (small: true candidate mass) — read twice below
    val candPairs = OpCaches.registered(candPairsIn)
    // colliding-set assembly: the ONLY index rows that reach the wide
    // screen/verify joins — fetched by one more narrow index scan,
    // pruned by a broadcast of the candidate gids (small: true
    // candidate mass), then cached alongside the new-side rows
    val candGids = candPairs
      .select(explode(array(col("ga"), col("gb"))).as("gid")).distinct()
    val candSets = OpCaches.registered(
      indexSide.join(broadcast(candGids), Seq("gid"), "left_semi")
        .unionByName(newSide.join(broadcast(candGids), Seq("gid"),
          "left_semi")))
    // estimate screen, then exact verify — minhashVerifiedDups verbatim
    val minMatches = math.ceil((threshold - prefilterMargin) * numHashes).toInt
    val screened = candPairs
      .join(candSets.select(col("gid").as("ga"), col("sig").as("sig_a")), Seq("ga"))
      .join(candSets.select(col("gid").as("gb"), col("sig").as("sig_b")), Seq("gb"))
      .where(graft.functions.TextHashFunctions
        .sig_match_count(col("sig_a"), col("sig_b")) >= lit(minMatches))
      .select("ga", "gb")
    // cached: the sided expansion reads this frame twice, and the
    // plan-branch recompute trap would re-run the candidate joins
    val verified = OpCaches.registered(screened
      .join(candSets.select(col("gid").as("ga"), col("shh").as("sh_a"),
        col("old_ids").as("old_a"), col("new_ids").as("new_a")), Seq("ga"))
      .join(candSets.select(col("gid").as("gb"), col("shh").as("sh_b"),
        col("old_ids").as("old_b"), col("new_ids").as("new_b")), Seq("gb"))
      .select(col("old_a"), col("new_a"), col("old_b"), col("new_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(col("sh_a")).as("sz_a"), size(col("sh_b")).as("sz_b"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold))
    // sided member expansion: all_a × new_b covers old×new and new×new;
    // new_a × old_b covers the rest — disjoint, complete, no old×old
    def sidedExpand(df: DataFrame, fromCol: String, toCol: String): DataFrame =
      df.select(col("jaccard"), explode(col(fromCol)).as("x"), col(toCol))
        .select(col("jaccard"), col("x"), explode(col(toCol)).as("y"))
        .select(least(col("x"), col("y")).as("id_a"),
          greatest(col("x"), col("y")).as("id_b"), col("jaccard"))
        .where(col("id_a") =!= col("id_b"))
    val cross = sidedExpand(
      verified.withColumn("all_a", concat(col("old_a"), col("new_a"))),
      "all_a", "new_b")
      .unionByName(sidedExpand(verified, "new_a", "old_b"))
    withinNew.select(col("id_a"), col("id_b"), col("jaccard"))
      .unionByName(cross)
  }

  /** The index's exploded band table, pre-aggregated per bucket —
    * `(band, bucket, gids)` — the production-scale companion state of
    * [[minhashIndexBuild]]: persist it next to the index (ordinary
    * parquet; longs and long arrays round-trip bit-exactly) and the
    * probe's band join becomes EXCHANGE-FREE
    * ([[minhashIndexDedupBatchBanded]]). The one (band, bucket)-keyed
    * exchange the per-probe path pays ([[minhashIndexDedupBatch]]'s
    * bucket aggregation over broadcast-pruned survivors) moves HERE, to
    * build/maintenance time, where it amortizes over every probe —
    * exactly the [[minhashIndexBuild]] economics, one stage further.
    * The per-bucket member valve (`maxGroupSize`) fires at build time;
    * a bucket that degenerate means the banding parameters are wrong
    * for the corpus (the remedy names the knob), and failing the BUILD
    * is strictly better than failing every probe. Parameters must
    * match the index's (`numBands · rowsPerBand` = signature length). */
  def minhashIndexBands(index: DataFrame,
                        numBands: Int = DefaultNumBands,
                        rowsPerBand: Int = DefaultRowsPerBand,
                        maxGroupSize: Int = DefaultMaxGroupSize): DataFrame =
    index.select(element_at(col("ids"), 1).as("gid"),
      posexplode(bandBuckets(col("sig"), numBands, rowsPerBand))
        .as(Seq("band", "bucket")))
      .groupBy("band", "bucket")
      .agg(groupIdsAgg(col("gid"), maxGroupSize,
        "minhashIndexBands: one band bucket (distinct signatures)",
        remedy = "use more rowsPerBand (more selective buckets)").as("gids"))

  /** [[minhashIndexDedupBatch]] over a PRE-BANDED index — the
    * production probe: candidates against the standing corpus come from
    * ONE broadcast hash join of the batch's band keys against the
    * persisted [[minhashIndexBands]] bucket table, so no CORPUS-mass
    * index row ever crosses an exchange — not the band scan
    * (pre-exploded, pre-aggregated at build time), not the bucket
    * aggregation (gone), not the candidate join (broadcast, batch side
    * ships). The only exchanges left in the whole probe are batch-sized
    * (the batch's own build groupBy, its self-collision aggregation) or
    * candidate-sized (the pair dedup on bare gid pairs, whose
    * index-derived rows were broadcast-join-pruned first) — per-batch
    * shuffle mass tracks batch size + true candidate mass with a ZERO
    * corpus-size term, which is the invariant that makes a daily probe
    * against a 100 TB standing corpus affordable (plan-spec-pinned:
    * `PlanQualitySpec` "banded probe" — no bucket-keyed or set-keyed
    * exchange reads the index, and every index scan beneath any
    * exchange passes a broadcast hash join first).
    *
    * Output is pair-for-pair identical to [[minhashIndexDedupBatch]]
    * over the same index (parity spec-pinned: `MinhashBandedSpec`,
    * every pair class + minPairBands + empty edges; gated end-to-end by
    * `q_minhash_banded` against the exact batch-touching all-pairs
    * oracle): the split candidate
    * generation (batch×index via the bucket table, batch×batch via the
    * batch's own buckets) admits exactly the pairs the unified bucket
    * aggregation admits — a pair collides in band `b` iff both sides
    * share `b`'s bucket, whichever side of the split it rides — and
    * `countDistinct(band)` collapses orientations identically. The one
    * semantic shift is WHERE the bucket valve fires: per side (index
    * buckets at build, batch buckets here) rather than on the combined
    * membership — a combined bucket can reach 2× `maxGroupSize` before
    * refusing, and a valve that fires at probe time on the banded path
    * names the batch, not the index (divergence spec-pinned:
    * `MinhashBandedSpec` "valve placement"). `index` (the full `(shh, ids,
    * sig)` frame) is still required: the screen/verify stages fetch
    * signatures and shingle arrays for colliding sets — by
    * broadcast-pruned narrow scans, as ever. */
  def minhashIndexDedupBatchBanded(index: DataFrame, bands: DataFrame,
                                   batch: DataFrame,
                                   idCol: String, textCol: String,
                                   shingleK: Int = DefaultShingleK,
                                   numBands: Int = DefaultNumBands,
                                   rowsPerBand: Int = DefaultRowsPerBand,
                                   threshold: Double = 0.5,
                                   prefilterMargin: Double = 0.25,
                                   minPairBands: Int = 1,
                                   maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    require(minPairBands >= 1 && minPairBands <= numBands,
      s"minPairBands must be in [1, numBands=$numBands], got $minPairBands")
    require(prefilterMargin > 0,
      s"prefilterMargin must be > 0 (got $prefilterMargin) — see minhashVerifiedDups")
    val (newSide, indexSide, activeBands) =
      probeSides(index, batch, idCol, textCol, shingleK, numBands,
        rowsPerBand, maxGroupSize)
    // batch×index candidates: broadcast the batch's band keys against
    // the persisted bucket table — a broadcast hash join on the narrow
    // bands scan; the index side never shuffles
    val candOld = bands.join(broadcast(activeBands), Seq("band", "bucket"))
      .select(col("band"), col("ga"), explode(col("gids")).as("gb"))
      .where(col("ga") =!= col("gb"))
    // batch×batch candidates: the batch's own bucket aggregation
    // (batch-sized exchange), same shape as the unified probe's
    val newBuckets = activeBands.groupBy("band", "bucket")
      .agg(groupIdsAgg(col("ga"), maxGroupSize,
        "minhashIndexDedupBatchBanded: one batch band bucket (distinct signatures)",
        remedy = "use more rowsPerBand (more selective buckets)").as("gids"))
    val candNew = activeBands.join(newBuckets, Seq("band", "bucket"))
      .select(col("band"), col("ga"), explode(col("gids")).as("gb"))
      .where(col("ga") =!= col("gb"))
    val candPairs = candOld.unionByName(candNew)
      .select(col("band"), least(col("ga"), col("gb")).as("pa"),
        greatest(col("ga"), col("gb")).as("pb"))
      .groupBy("pa", "pb").agg(countDistinct(col("band")).as("nb"))
      .where(col("nb") >= minPairBands)
      .select(col("pa").as("ga"), col("pb").as("gb"))
    probeScreenVerifyExpand(candPairs, newSide, indexSide,
      numBands * rowsPerBand, threshold, prefilterMargin)
  }

  /** SimHash (64-bit) of a token stream: sign-sum of per-token hash bits.
    * Composed from built-ins: explode tokens → packed per-bit one-counts
    * → sum → reassemble bits. Near-dups = hamming distance ≤ maxDistance,
    * found via block permutation (pigeonhole: split 64 bits into
    * maxDistance+1 blocks; equal pair must share ≥1 exact block).
    *
    * PERF: the vote accumulation packs 3 bit-counters of 20 bits each
    * into one long, so the aggregate carries 22 packed sums + a count
    * instead of 64 independent `sum(when(...))` columns. The 64-column
    * form measured 12 s at sf0.1 — that many agg buffers with branchy
    * inputs falls out of the fast codegen path, and each exploded token
    * row paid 64 conditional evaluations. The packed form is branch-free
    * shift/mask arithmetic and stays map-side-combined: the shuffle is
    * still one row per document. Lane math: per-lane counts are bounded
    * by [[SimhashMaxTokens]] < 2^20, and a packed row value is
    * < 2^41, so partial sums stay far below Long.MaxValue (ANSI-mode
    * overflow-safe). The ±1 vote sign is recovered as
    * `2*ones > n_tokens` — identical semantics to the vote-sum form
    * (asserted against it in the spec).
    *
    * SEMANTIC CAP: the signature is computed over the first
    * [[SimhashMaxTokens]] (1M) whitespace tokens — the 20-bit lane
    * counters require a bound, and a million tokens of prefix is
    * overwhelming evidence for a sign-vote sketch anyway. Two documents
    * differing only beyond the cap hash identical (hamming 0); the cap
    * is asserted in the spec, and any change to it shifts near-dup
    * pair sets for over-cap corpora. */
  val SimhashMaxTokens = 1000000
  private val SimhashLaneBits = 20
  require(SimhashMaxTokens < (1 << SimhashLaneBits),
    "SimhashMaxTokens must fit the packed lane counters")

  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val LanesPerWord = 3
    val LaneBits = SimhashLaneBits
    // REAL tokens only (the engine-wide r12 rule): split(-1)'s phantom
    // empty token from a leading/trailing separator would cast a vote —
    // two documents identical up to a trailing newline could sketch
    // maxDistance+ bits apart on short texts, and every whitespace-only
    // document would share the hash-of-"" signature, all mutually
    // "identical". Token-less documents instead carry a NULL sketch
    // (kept, not dropped — the row-preserving convention): no content,
    // no evidence, excluded from near-dup scanning by both the operator
    // and the exact reference.
    val tokens = df.select(col(idCol).as("id"),
      explode(slice(split(lower(col(textCol)), "\\s+"), 1, SimhashMaxTokens)).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("h", xxhash64(col("tok")))
    val packCols = (0 until 64).grouped(LanesPerWord).toSeq.zipWithIndex.map {
      case (bits, g) =>
        val packed = bits.zipWithIndex.map { case (b, lane) =>
          shiftleft(shiftright(col("h"), b).bitwiseAND(1), lane * LaneBits)
        }.reduce(_ + _)
        sum(packed).as(s"_p$g")
    }
    val aggs = packCols :+ count(lit(1)).as("_n")
    val votes = tokens.groupBy("id").agg(aggs.head, aggs.tail: _*)
    val sh = (0 until 64).map { i =>
      val g = i / LanesPerWord
      val lane = i % LanesPerWord
      val ones = shiftright(col(s"_p$g"), lane * LaneBits)
        .bitwiseAND((1L << LaneBits) - 1)
      when(ones * 2 > col("_n"), shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    // left join back onto the DISTINCT id set: token-less documents
    // (empty, whitespace-only, null text) survive with a NULL sketch,
    // and duplicate input ids still vote-merge to ONE sketch row (the
    // unique-ids-by-construction invariant the gate relies on)
    df.select(col(idCol).as("id")).distinct()
      .join(votes.select(col("id"), sh.as("simhash")), Seq("id"), "left")
  }

  /** Hamming-distance near-dup pairs over simhash values using the
    * pigeonhole block trick — equi-join on (blockIdx, blockValue), then
    * exact popcount filter.
    *
    * Same dup-mass guard as [[bandedCandidates]]: docs group on their
    * exact simhash value first (identical documents sketch
    * identically), within-group pairs are emitted directly at hamming
    * 0 exactly once, and only DISTINCT simhash values enter the block
    * join — the raw-id join would produce every within-clique pair
    * once per shared block (blocks × C(clique, 2) rows) before the
    * dedup, and two cliques of sizes m, n at hamming ≤ k would pay the
    * m·n expansion inside the join instead of once at group level.
    * Output is pair-for-pair identical; join and expansion cost scale
    * with distinct sketch mass. The `groups` cache backs the returned
    * frame — callers release via [[OpCaches.scoped]] or a session
    * clearCache between queries, same contract as the minhash
    * caches. */
  def simhashNearDups(sim: DataFrame, maxDistance: Int = 3,
                      maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    require(maxDistance >= 0 && maxDistance < 32, s"maxDistance out of range: $maxDistance")
    val blocks = maxDistance + 1
    val bitsPerBlock = 64 / blocks
    // NB: Scala's 1L << 64 wraps to 1 (shift mod 64), so the full-width
    // mask for maxDistance=0 must be spelled -1L explicitly
    val mask = if (bitsPerBlock >= 64) -1L else (1L << bitsPerBlock) - 1
    // NULL sketches (token-less documents) carry no content evidence
    // and never pair — without the filter they'd all group together as
    // mutual hamming-0 "duplicates" of nothing
    val groups = OpCaches.registered(sim.where(col("simhash").isNotNull)
      .groupBy("simhash")
      .agg(groupIdsAgg(col("id"), maxGroupSize,
        "simhashNearDups: a single sketch value").as("ids"))
      .select(element_at(col("ids"), 1).as("gid"), col("simhash"), col("ids")))
    val withinGroup = pairsOf(groups.where(size(col("ids")) > 1), "ids", "id_a", "id_b")
      .withColumn("hamming", lit(0))
    val banded = groups.select(col("gid"), col("simhash"),
      posexplode(array((0 until blocks).map { b =>
        shiftright(col("simhash"), b * bitsPerBlock).bitwiseAND(mask)
      }: _*)).as(Seq("block", "blockval")))
    val a = banded.select(col("block"), col("blockval"),
      col("gid").as("ga"), col("simhash").as("sh_a"))
    val b = banded.select(col("block"), col("blockval"),
      col("gid").as("gb"), col("simhash").as("sh_b"))
    val groupPairs = a.join(b, Seq("block", "blockval"))
      .where(col("ga") < col("gb"))
      .dropDuplicates("ga", "gb")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxDistance)
    // expand surviving group pairs to member pairs; groups are disjoint
    // id sets, so no member-level dedup is needed, and the pair hamming
    // is the group-level hamming (sketch equality within a group)
    val crossGroup = groupPairs
      .join(groups.select(col("gid").as("ga"), col("ids").as("ids_a")), Seq("ga"))
      .join(groups.select(col("gid").as("gb"), col("ids").as("ids_b")), Seq("gb"))
    withinGroup.select("id_a", "id_b", "hamming")
      .unionByName(expandGroupPairs(crossGroup, Seq("hamming")))
  }

  /** Apply [[dupSpans]]: rebuild every document WITHOUT its duplicated
    * spans — the actual Lee et al. 2022 transformation (the spans table
    * is the diagnostic; the cut corpus is the product). Every
    * occurrence of a duplicated span is removed (the boilerplate-strip
    * semantics: navigation chrome pasted everywhere should vanish
    * everywhere; keeping one canonical occurrence would need a global
    * occurrence order — a deliberate non-goal here, documented).
    * Output: `(id, text_clean, n_tokens_kept, n_tokens_cut)` with
    * tokens reassembled single-space-separated (canonical whitespace —
    * the cut is token-level, so original spacing inside kept runs is
    * normalized; a span-free document still passes through the
    * tokenize→reassemble round trip).
    *
    * Scale shape: one posexplode over the corpus tokens, a doc-keyed
    * join against that doc's spans (span rows per doc are few; the
    * range predicate rides the equi-join), and one per-doc
    * sort-and-join aggregate. The spans subplan is [[dupSpans]]
    * verbatim — its corpus-wide multiplicity aggregate is the only
    * corpus-keyed shuffle. */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
               L: Int = 5): DataFrame = {
    val spans = dupSpans(df, idCol, textCol, L)
      .select(col("id"), col("span_start"), col("span_end"))
    val toks = df.select(col(idCol).as("id"),
      posexplode(split(trim(col(textCol)), "\\s+", -1)).as(Seq("pos", "tok")))
    val kept = toks.join(spans, Seq("id"), "left")
      .withColumn("_cut",
        col("span_start").isNotNull &&
          col("pos").between(col("span_start"), col("span_end")))
      // a position may match several spans of its doc (fan-out) — any
      // match cuts it; the max-aggregate collapses the fan-out back to
      // one row per position
      .groupBy("id", "pos", "tok")
      .agg(max(col("_cut")).as("cut"))
    // phantom empty tokens (split(-1)'s leading/trailing "" on padded
    // or empty text) stay in the POSITION frame above — span indices
    // come from the window kernel's raw token frame and must align —
    // but they are NOT tokens: they don't count as kept or cut (an
    // empty document has 0 tokens, the engine-wide r12 rule) and they
    // don't reassemble (an empty token in array_join would print a
    // double space)
    val real = col("tok") =!= ""
    val rebuilt = kept.groupBy("id")
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("cut") && real,
            struct(col("pos"), col("tok"))))),
          s => s.getField("tok")), " ").as("text_clean"),
        sum(when(!col("cut") && real, 1L).otherwise(0L)).as("n_tokens_kept"),
        sum(when(col("cut") && real, 1L).otherwise(0L)).as("n_tokens_cut"))
    // NULL-text documents vanish in the posexplode (split(NULL) yields
    // no row) — left-join the rebuild back onto the full id set so the
    // transformation preserves every input row, like the sibling
    // per-doc operators; such docs carry NULL text_clean + zero counts
    df.select(col(idCol).as("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("text_clean"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("n_tokens_cut"), lit(0L)).as("n_tokens_cut"))
  }

  /** Connected components of a near-dup pair graph: every document gets
    * the minimum doc id of its transitive duplicate group — the full
    * group resolution that the greedy pair-drop in
    * [[CorpusPipeline.clean]] approximates (greedy can split a chain
    * a~b~c into two survivors; components never do).
    *
    * Min-label propagation with pointer halving: each round every node
    * takes the min of its own and its neighbors' labels (one equi-join +
    * hash aggregate), then shortcuts label := label(label) (one self-
    * join) — the halving step collapses chains exponentially, so the
    * fixpoint lands in O(log diameter) rounds instead of O(diameter).
    * A 1M-hop pathological chain converges in ~20 rounds; plain 1-hop
    * propagation would need 1M. An iterative algorithm needs driver-
    * controlled looping; labels are bare (id, label) longs and the
    * per-round convergence check counts changed labels. Throws if
    * `maxIters` rounds don't converge — a silent partial fixpoint would
    * mislabel groups. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 20): DataFrame = {
    // both edge directions from ONE pass over the pair lineage (a
    // two-branch union would re-run the upstream pair generation twice —
    // the plan-branch recompute trap), then cached for the loop. No
    // distinct: duplicate edges cannot change a min-aggregation, so the
    // dedup shuffle would buy nothing.
    // localCheckpoint, not cache: a cache entry still CARRIES the pair
    // lineage's logical plan (often a several-thousand-node near-dup
    // subtree), and the analyzer/optimizer re-walk it in every round's
    // freshly built plan — measured as whole seconds of driver time
    // between executions on the big pair producers. The checkpoint
    // truncates to a LogicalRDD, so each round's plan is O(1) in the
    // upstream's size. Same storage class (MEMORY_AND_DISK blocks),
    // same single materialization of the pair lineage.
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .localCheckpoint(false)
    // ONE node-mass aggregate builds BOTH the self-loop rows and the
    // init labels: grouping the edge list by src once yields the
    // neighbor min per node (init label = least(src, min(dst)) = min
    // over N(v) ∪ {v} — the identical first propagation round), and the
    // group keys ARE the distinct node set the self-loop rows need
    // (every node appears as a src — edges hold both directions). The
    // previous shape paid a SECOND edge-mass aggregate
    // (select("src").distinct()) plus its own checkpoint just to build
    // the self rows, then re-aggregated edges ∪ self for init — one
    // whole edge-mass pass of pure fixed cost at round-1
    // materialization, felt most by the single-round consumers (entity
    // resolution's tiny pair sets). Guide §1.2 (fewer passes).
    val initAgg = edges.groupBy("src").agg(min(col("dst")).as("_nmin"))
      .localCheckpoint(false)
    // one SELF-LOOP per node (node-mass): unioned under the per-round
    // join so each round's single aggregate sees every node's OWN label
    // (the dst = src row) alongside its neighbors' — new label = min
    // over N(v) ∪ {v}, and the old label rides out of the same
    // aggregate as min(when(dst = src)). This removes the separate
    // labels ⋈ neighborMin join (and its exchanges) the loop used to pay
    // per round just to least() the own label back in and carry _old.
    // Distinct by construction (group keys), narrow over the
    // checkpointed blocks — no recompute, no extra rows: node-mass is
    // the right price, paid once.
    val selfLoops = initAgg.select(col("src"), col("src").as("dst"))
    // consumed once per round: a narrow union over the two checkpointed
    // frames — no per-round shuffle is added by the self-loop branch
    val withSelf = edges.unionByName(selfLoops)
    var labels = initAgg.select(col("src").as("id"),
      least(col("src"), col("_nmin")).as("label"))
    // the frame BACKING labels (labels itself may be a projection over
    // it — unpersist must hit the backing plan, not a derivation). The
    // init backing is the checkpointed initAgg projection, for which
    // unpersist is a documented no-op (blocks retire with the RDD
    // reference); later rounds rotate checkpointed steps through here.
    var backing = labels
    var converged = false
    var i = 0
    try {
      while (!converged && i < maxIters) {
        // ONE join + ONE aggregate per round: the self-loop rows make
        // min(dlabel) the complete new label (own ∪ neighbors), and the
        // previous label rides out of the same aggregate (the dst = src
        // row is the only one the `when` keeps; min is just null-skip)
        // so materializing the new labels and counting changes stays ONE
        // action per round with no separate labels join to fetch _old
        val prop = withSelf
          .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), Seq("dst"))
          .groupBy(col("src"))
          .agg(min(col("dlabel")).as("label"),
            min(when(col("dst") === col("src"), col("dlabel"))).as("_old"))
          .select(col("src").as("id"), col("_old"), col("label"))
          .cache() // feeds both sides of the halving self-join + the count
        // pointer halving: label := label(label). Every label value is a
        // node id (mins of ids), and every node appears as an edge src
        // (edges hold both directions), so the lookup side covers all
        // labels — left join + coalesce only guards the init round's
        // self-labels. Columns are renamed per side: self-joining two
        // aliases of ONE plan can silently resolve both sides to the
        // same attribute (trap #4, SCALE.md). The localCheckpoint
        // TRUNCATES LINEAGE — the self-join references prop twice, so
        // without truncation the logical plan doubles every round and
        // analysis cost goes exponential (measured: OOM by round ~7).
        // LAZY, not eager: the convergence count below is the round's
        // one action and computes every partition, so it materializes
        // the checkpoint blocks itself — an eager checkpoint would run
        // a second whole job per round just to persist the same rows
        // (measured: the two-action form spent ~0.5 s/round at sf0.1,
        // almost all fixed stage latency, across every CC consumer —
        // linkage init/append/remove, dedup groups, entity resolution).
        // Checkpoint state is the (id, label) pairs only — 16 bytes/node,
        // MEMORY_AND_DISK, freed by the context cleaner as rounds retire.
        val step = prop
          .join(prop.select(col("id").as("_lid"), col("label").as("_llabel")),
            col("label") === col("_lid"), "left")
          .select(col("id"), col("_old"),
            least(col("label"), coalesce(col("_llabel"), col("label"))).as("label"))
          .localCheckpoint(false)
        val changed = step.where(col("label") =!= col("_old")).count()
        prop.unpersist()
        // backing is a real cache only on round 1 (the init labels);
        // later rounds' checkpointed steps are NOT cache-manager entries
        // — Dataset.unpersist() is a no-op for them, and their blocks
        // are released by the context cleaner as the RDD references
        // retire with each loop iteration
        backing.unpersist()
        backing = step
        labels = step.select("id", "label")
        converged = changed == 0
        i += 1
      }
      if (!converged) {
        // a silent partial fixpoint would mislabel groups; free the
        // loop caches before surfacing (backing stays valid for callers
        // that catch — it is unpersisted here too)
        throw new IllegalStateException(s"not converged after $maxIters rounds")
      }
    } finally {
      // edges/selfLoops are checkpointed, not cache-manager entries —
      // their blocks retire with the RDD references (the step-frame
      // rule); only the genuinely cached frames need release here
      if (!converged) backing.unpersist()
    }
    labels.withColumnRenamed("label", "group_id")
  }

  /** Exact n-gram Jaccard near-dup pairs, document-frequency-capped.
    *
    * Shingles are hashed to longs ([[shingleHashed]]); shingles appearing
    * in more than `dfCap` documents are dropped before the pair join
    * (stop-shingle trick — bounds per-shingle fan-out to dfCap², which is
    * what keeps a small-vocabulary corpus from going quadratic). The
    * intersection join shuffles 8-byte hashes, never shingle strings, and
    * the multi-consumer filtered-shingle frame is cached because Spark
    * re-runs a subplan's whole lineage once per consuming branch. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 5, threshold: Double = 0.2,
                        dfCap: Int = 50,
                        maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    // Dup-mass guard (same pattern as the other near-dup operators):
    // docs group on their distinct-shingle-hash array, so identical
    // documents collapse to one row through the shingle explode, the
    // df computation, the intersection self-join, and the jaccard
    // scoring. The DOCUMENT-frequency semantics are preserved exactly:
    // each group carries its member count `w`, and df per shingle is
    // sum(w) — the cap still counts raw documents, so a 100-member
    // identical clique still turns its own shingles into stop-shingles
    // at dfCap < 100, exactly as the ungrouped form did. Within-group
    // pairs (identical surviving sets) score through the same
    // inter/(sz_a + sz_b − inter) expression with all three terms
    // equal — exactly 1.0, bit-equal to the pairwise division — and
    // are emitted only when the group has ≥ 1 surviving shingle
    // (groups whose shingles were all capped produce no pairs, same
    // as the ungrouped form). Group-row construction (cache placement,
    // valve, df weight): [[weightedSetGroups]].
    val groups = weightedSetGroups(df, idCol, textCol, k, maxGroupSize,
      "ngramJaccardPairs: a single shingle-set value")
    val sh = groups.select(col("gid"), col("w"), explode(col("shh")).as("s"))
    val rare = sh.groupBy("s").agg(sum(col("w")).as("df")).where(col("df") <= dfCap)
    val shf = OpCaches.registered(sh.join(rare.select("s"), Seq("s")))
    val sizes = shf.groupBy("gid").agg(count(lit(1)).as("sz"))
    val withinGroup = pairsOf(
      groups.join(sizes, Seq("gid")) // inner: drops all-capped groups
        .where(size(col("ids")) > 1)
        .withColumn("jaccard",
          col("sz").cast("double") / (col("sz") + col("sz") - col("sz")))
        .where(col("jaccard") >= threshold),
      "ids", "id_a", "id_b", carry = Seq("jaccard"))
    val inter = shf.as("x").join(shf.as("y"), Seq("s"))
      .where(col("x.gid") < col("y.gid"))
      .groupBy(col("x.gid").as("ga"), col("y.gid").as("gb"))
      .agg(count(lit(1)).as("inter"))
    val crossGroup = inter
      .join(sizes.select(col("gid").as("ga"), col("sz").as("sz_a")), Seq("ga"))
      .join(sizes.select(col("gid").as("gb"), col("sz").as("sz_b")), Seq("gb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .where(col("jaccard") >= threshold)
      .join(groups.select(col("gid").as("ga"), col("ids").as("ids_a")), Seq("ga"))
      .join(groups.select(col("gid").as("gb"), col("ids").as("ids_b")), Seq("gb"))
    withinGroup.select(col("id_a"), col("id_b"), col("jaccard"))
      .unionByName(expandGroupPairs(crossGroup, Seq("jaccard")))
  }

  /** Cross-corpus near-duplicate pairs: exact k-gram Jaccard between
    * every (left, right) document pair above `threshold` — the FUZZY
    * form of train/eval decontamination ([[graft.ops.TextOps
    * .contamination]] counts exact shingle overlap; this finds eval
    * documents that survive paraphrase-level edits in the training
    * corpus, the standard fuzzy-decontamination pass before an eval is
    * trusted). Output: (left_id, right_id, jaccard); within-side pairs
    * are NEVER computed — running the within-corpus operator on a
    * tagged union would spend its work on the (usually much larger)
    * within-side pair mass just to discard it.
    *
    * Scale shape, inherited from [[ngramJaccardPairs]]: per side, docs
    * group on their distinct-shingle-set (dup-mass guard — clique
    * replication costs distinct work, member expansion happens only at
    * the output); the df cap counts DOCUMENTS across both sides
    * (weights `w`), so a boilerplate shingle shared by everything
    * becomes a stop-shingle before it can quadratically join; the
    * intersection is a shared-shingle equi-join — pairs sharing
    * nothing are never materialized (their jaccard is 0 < threshold).
    * At 100 TB the right side is typically benchmark-sized: its capped
    * shingle frame broadcasts under AQE and the left corpus never
    * reshuffles more than its shingle explode. */
  def crossCorpusNearDups(left: DataFrame, right: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 5, threshold: Double = 0.2, dfCap: Int = 50,
                          maxGroupSize: Int = DefaultMaxGroupSize): DataFrame = {
    val lg = weightedSetGroups(left, idCol, textCol, k, maxGroupSize,
      "crossCorpusNearDups: a single left shingle-set value")
    val rg = weightedSetGroups(right, idCol, textCol, k, maxGroupSize,
      "crossCorpusNearDups: a single right shingle-set value")
    val lsh = lg.select(col("gid"), col("w"), explode(col("shh")).as("s"))
    val rsh = rg.select(col("gid"), col("w"), explode(col("shh")).as("s"))
    // cached: the df aggregate over BOTH corpora feeds both sides'
    // filtered-shingle cache builds — two separate InMemoryRelations
    // share no exchanges, so uncached the most expensive corpus-wide
    // shuffle in the operator would run twice (the multi-consumer rule
    // ngramJaccardPairs' shf cache follows)
    val rare = OpCaches.registered(
      lsh.select("s", "w").unionAll(rsh.select("s", "w"))
        .groupBy("s").agg(sum(col("w")).as("df"))
        .where(col("df") <= dfCap).select("s"))
    val lf = OpCaches.registered(lsh.select("gid", "s").join(rare, Seq("s")))
    val rf = OpCaches.registered(rsh.select("gid", "s").join(rare, Seq("s")))
    val lsz = lf.groupBy("gid").agg(count(lit(1)).as("sz_l"))
    val rsz = rf.groupBy("gid").agg(count(lit(1)).as("sz_r"))
    lf.select(col("gid").as("ga"), col("s"))
      .join(rf.select(col("gid").as("gb"), col("s")), Seq("s"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("inter"))
      .join(lsz.select(col("gid").as("ga"), col("sz_l")), Seq("ga"))
      .join(rsz.select(col("gid").as("gb"), col("sz_r")), Seq("gb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_l") + col("sz_r") - col("inter")))
      .where(col("jaccard") >= threshold)
      .join(lg.select(col("gid").as("ga"), col("ids").as("ids_a")), Seq("ga"))
      .join(rg.select(col("gid").as("gb"), col("ids").as("ids_b")), Seq("gb"))
      .select(col("jaccard"), explode(col("ids_a")).as("left_id"), col("ids_b"))
      .select(col("left_id"), explode(col("ids_b")).as("right_id"), col("jaccard"))
  }

  /** Exact duplicated-substring spans (the suffix-array dedup of Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", re-expressed shuffle-natively): every MAXIMAL token span
    * covered by `L`-token windows that occur at least twice in the
    * corpus — across documents or repeated within one. Document-level
    * dedup (exact/minhash/simhash families above) misses these: a
    * boilerplate paragraph pasted into a thousand otherwise-distinct
    * documents survives every whole-document gate, and Lee et al.
    * measure that cutting the spans, not the documents, is what
    * removes the memorization mass. Output: `(id, span_start,
    * span_end, n_windows)` in token indices (0-based, inclusive),
    * ready for [[graft.ops.Curation]]-style span cutting.
    *
    * Instead of a suffix array (pointer-chasing, hostile to
    * distribution), duplicated spans fall out of three relational
    * steps: per-position window hashes (native
    * [[graft.functions.TokenWindowHashes]] kernel, one pass), a
    * corpus-wide hash-count to find windows with multiplicity ≥ 2 (an
    * 8-byte-key aggregate — the exact-dedup shuffle shape), and a
    * per-document gap-and-island merge (positions ≤ L apart fuse) via
    * one doc-partitioned window. Hashes stand in for gram identity
    * under the standard no-collision assumption (the
    * repetition/jaccard oracle precedent — the DuckDB oracle groups
    * the gram STRINGS). */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               L: Int = 5): DataFrame = {
    require(L >= 1, s"window length must be >= 1: $L")
    import graft.functions.TextHashFunctions.token_window_hashes
    // cached: feeds the multiplicity count AND the position semi-join —
    // uncached, the tokenize+hash pass runs twice
    val grams = OpCaches.registered(
      df.select(col(idCol).as("id"),
        posexplode(token_window_hashes(col(textCol), L)).as(Seq("pos", "h"))))
    val dup = grams.groupBy("h").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("h")
    val hits = grams.join(dup, Seq("h"), "left_semi")
    val w = Window.partitionBy("id").orderBy("pos")
    hits
      .withColumn("_ns",
        when(col("pos") - lag(col("pos"), 1).over(w) <= L, 0).otherwise(1))
      .withColumn("_island", sum(col("_ns")).over(w))
      .groupBy(col("id"), col("_island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + L - 1).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("id", "span_start", "span_end", "n_windows")
  }

  /** Edit-distance near-duplicate VALUE pairs — record linkage for the
    * short-string fields a corpus is keyed by (author names, titles,
    * domains, product names), where shingle/minhash machinery is the
    * wrong tool (a 2-token name has no 5-shingles) and character edits
    * ARE the duplication model (typos, OCR noise, transliteration).
    *
    * The shape that survives scale: collapse to DISTINCT
    * `(block, value)` FIRST — the quadratic compare runs over value
    * pairs, never row pairs, so a billion rows with a million distinct
    * names cost exactly what the million names cost, and exact
    * duplicates (the common mass) collapse before any comparison.
    * Then compare only within equality blocks (the record-linkage
    * blocking discipline — cross-block pairs are declared non-matches
    * by the block choice), guarded by the length-band prefilter
    * (`|len(a) − len(b)| > maxDist` cannot match — a free cut before
    * the O(len²) distance), with the THRESHOLDED Levenshtein kernel
    * (early-exits at maxDist+1 instead of filling the full matrix).
    * Output: block columns + `value_a < value_b`, `dist`, and each
    * value's row support (`n_a`/`n_b` — the fan-out a caller's
    * id-level expansion would pay, reported instead of materialized).
    *
    * Blocks must be chosen so per-block DISTINCT-value mass is
    * bounded (the same contract as every blocked near-dup here);
    * all-NULL values are dropped (no edit distance to NULL). */
  def editNearDups(df: DataFrame, textCol: String, blockCols: Seq[String],
                   maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    require(blockCols.nonEmpty,
      "editNearDups needs at least one blocking column (an unblocked " +
        "compare is all-pairs over the distinct values — pass a literal " +
        "block to say that explicitly)")
    val v = OpCaches.registered(
      df.select(blockCols.map(col) :+ col(textCol).as("value"): _*)
        .where(col("value").isNotNull)
        .groupBy(blockCols.map(col) :+ col("value"): _*)
        .agg(count(lit(1)).as("n")))
    val a = v.select(blockCols.map(col) :+ col("value").as("value_a") :+
      col("n").as("n_a"): _*)
    val b = v.select(blockCols.map(col) :+ col("value").as("value_b") :+
      col("n").as("n_b"): _*)
    a.join(b, blockCols)
      .where(col("value_a") < col("value_b") &&
        abs(length(col("value_a")) - length(col("value_b"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("value_a"), col("value_b"), maxDist))
      .where(col("dist") >= 0) // thresholded kernel: -1 = beyond maxDist
      .select(blockCols.map(col) ++
        Seq(col("value_a"), col("value_b"), col("dist"),
          col("n_a"), col("n_b")): _*)
  }

  /** ENTITY RESOLUTION — the linkage capstone: [[editNearDups]] pairs
    * resolved to transitive groups ([[connectedComponents]] over
    * composite `(block, value)` keys — edges never cross blocks, so
    * per-block components fall out of the key prefix) and every row
    * relabeled with its group's canonical value (the lexicographic
    * MIN — deterministic, and stable under re-runs because it is a
    * data element, not a generated id). Rows whose value linked to
    * nothing keep their own value; NULL values pass through NULL.
    *
    * Output: the input columns plus `canonical_<textCol>`. Group mass
    * stays value-level throughout (the [[editNearDups]] economics);
    * only the final relabel join touches row mass — one broadcast of
    * the value-count-sized label table at typical cardinalities, a
    * shuffle join beyond. `\u0001` must not occur in block or value
    * strings (the composite-key separator — the contentChecksum
    * canonicalization convention). */
  def resolveEntities(df: DataFrame, textCol: String, blockCols: Seq[String],
                      maxDist: Int): DataFrame = {
    val pairs = editNearDups(df, textCol, blockCols, maxDist)
    def key(v: org.apache.spark.sql.Column) =
      concat_ws("\u0001", blockCols.map(col) :+ v: _*)
    val edges = pairs.select(key(col("value_a")).as("ka"),
      key(col("value_b")).as("kb"))
    val labels = connectedComponents(edges, "ka", "kb")
      .select(col("id").as("_ek"), col("group_id").as("_el"))
    df.withColumn("_ek", key(col(textCol)))
      .join(labels, Seq("_ek"), "left")
      .withColumn(s"canonical_$textCol",
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(
            substring_index(col("_el"), "\u0001", -1), col(textCol))))
      .drop("_ek", "_el")
  }

  /** Sorted-neighborhood edit-distance pairs — [[editNearDups]] for
    * corpora with NO natural equality block: rank the distinct values
    * in one global sort order, compare each value to its next `window`
    * successors only. The classic record-linkage fallback — candidate
    * volume is O(distinct · window) by construction, and the recall
    * contract is explicit: a near-string pair more than `window` ranks
    * apart is missed (sorted order clusters shared PREFIXES; pick the
    * sort key — or pre-normalize — so your duplication model agrees).
    *
    * Scale shape, no global funnel: the ranking is
    * [[graft.gold.Dims.denseRowKeys]] over a range repartition (the W2
    * no-global-sort recipe — per-partition row_number + broadcast
    * offsets), and the neighbor join is an EQUI-join on `rank div
    * window` buckets (a successor within `window` ranks lives in the
    * same or the next bucket, so the probe side ships each value to
    * exactly two buckets) — never a rank-range theta join, never a
    * single-partition window. Same guards as the blocked operator:
    * distinct-first with support counts, length band, thresholded
    * Levenshtein. */
  def sortedNeighborNearDups(df: DataFrame, textCol: String,
                             window: Int, maxDist: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    val distinct = df.select(col(textCol).as("value"))
      .where(col("value").isNotNull)
      .groupBy("value").agg(count(lit(1)).as("n"))
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val ranked = OpCaches.registered(graft.gold.Dims.denseRowKeys(
      distinct.repartitionByRange(parts, col("value")),
      "rk", Seq(col("value"))))
    val a = ranked.select(col("value").as("value_a"), col("n").as("n_a"),
        col("rk").as("rk_a"))
      .withColumn("bucket", floor(col("rk_a") / window))
    val b = ranked.select(col("value").as("value_b"), col("n").as("n_b"),
        col("rk").as("rk_b"))
      .withColumn("bucket", explode(array(
        floor(col("rk_b") / window), floor(col("rk_b") / window) - 1)))
    a.join(b, Seq("bucket"))
      .where(col("rk_b") > col("rk_a") &&
        col("rk_b") - col("rk_a") <= window &&
        abs(length(col("value_a")) - length(col("value_b"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("value_a"), col("value_b"), maxDist))
      .where(col("dist") >= 0)
      .select("value_a", "value_b", "dist", "n_a", "n_b")
  }
}
