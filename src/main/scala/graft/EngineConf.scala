package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide Spark tuning shared by every entry point (Bench, Verify,
  * Explain, smoke mains, test harness). */
object EngineConf {

  /** The pre-configured session builder every entry point starts from:
    * `local[cores]` with `cores` shuffle partitions, the three tunings
    * below, UTC session time, no UI, and nanosecond parquet timestamps
    * read as longs. Callers add their own app name, extensions and
    * local dirs. */
  def session(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.optimizer.excludedRules", ExcludedOptimizerRules)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        CanChangeCachedPlanPartitioning)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        AqeMinPartitionSize)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** `InferFiltersFromGenerate` inserts a `size(input) > 0 AND
    * isnotnull(input)` pre-filter under every explode. Semantics are
    * unchanged with or without it (explode already drops empty/null
    * inputs) — but the inferred predicate DUPLICATES the generate-input
    * expression, and this engine's explode inputs are staged
    * higher-order-function pipelines (tokenize → shingle → hash) that
    * the copied predicate re-evaluates with the staging collapsed: the
    * repetition-filter subplan measured 7.9 s with the rule and 0.9 s
    * without at sf0.1. Excluding it is safe and engine-appropriate;
    * plans whose generate inputs are plain attributes lose nothing.
    * (Measured + documented in SCALE.md.) */
  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning = true`:
    * let AQE re-plan (coalesce) the shuffle feeding a CACHED relation.
    * Spark's default `false` freezes every cached plan at the raw
    * `spark.sql.shuffle.partitions` — a stability conservatism for
    * consumers that rely on a cache's exact output partitioning, which
    * this engine never does (no operator requires a cached frame's
    * partition count; co-partitioning wins are expressed as explicit
    * `repartition(col)` whose CLUSTERING survives coalescing). The cost
    * of the default was measured engine-wide (r21): every
    * `OpCaches.registered` frame and everything downstream of one —
    * including the `localCheckpoint` blocks the probe/CC loops hang off
    * cached subtrees — inherited 32 near-empty partitions at KB scale
    * (banded-probe batch frame: 32 partitions / 1000 rows; CC edge
    * list: 32 / 12k rows), so every downstream stage scheduled 32
    * near-empty tasks, the dominant cost of the ~20 small-job-bound
    * gates at 32 cores (the r20 "32>8-core overhead class"). With the
    * flag, AQE right-sizes those frames BY BYTES (coalesce to 1 at KB
    * scale, to `advisoryPartitionSizeInBytes`-sized partitions at
    * corpus scale) — the scale-adaptive partition control the
    * optimization guide §2 prescribes, not a local-core-count constant.
    * Results are partitioning-independent by the engine's own doctrine
    * (order-sensitive aggregations are quantized to exact decimal;
    * oracle-gated 122/122 at both small SFs with the flag on). */
  val CanChangeCachedPlanPartitioning: String =
    sys.env.getOrElse("GRAFT_CACHED_PLAN_AQE", "true")

  /** `spark.sql.adaptive.coalescePartitions.minPartitionSize = 256k`
    * (Spark default: 1m). With `parallelismFirst` (default, kept), the
    * AQE coalescing target is `max(min(totalBytes / defaultParallelism,
    * advisorySize), minPartitionSize)` — the 1 MB floor is what turns a
    * ~5 MB mid-size frame into ~5 partitions at 32 cores, serializing
    * REAL per-row compute (vector distances, Levenshtein kernels,
    * kmeans assignment) that wants the cores; 256 KB keeps that
    * compute-dense 1–8 MB band at 4–32× more parallelism while
    * sub-256 KB control frames (probe sides, CC labels, candidate
    * pairs) still collapse to 1–2 partitions — the scheduling-tax win
    * the cached-plan flag above exists for. Chosen by a 4-config
    * 5-rep-median A/B at sf0.1/32 cores over the 18 gates the flag
    * moves most (r21): base 49.5 s, flag+1m 57.2 s (mid-size frames
    * serialized), flag+64k 48.3 s (generic sub-MB shuffles split into
    * tiny tasks again), flag+256k **37.7 s** — equal-or-faster than
    * base on 16 of the 18 (q_pagerank 4.49→2.56, q_semantic_dedup
    * 4.42→2.28, q_minhash_banded 3.20→2.16, q_ngram_jaccard
    * 2.84→1.22). Scale-safe by construction: on any real corpus the
    * bytes-per-parallelism term dominates both floors and the advisory
    * size (64 MB) takes over — this knob only matters when a frame is
    * tiny relative to the core count, which is exactly where it
    * should. */
  val AqeMinPartitionSize: String =
    sys.env.getOrElse("GRAFT_AQE_MIN_PARTITION_SIZE", "256k")
}
