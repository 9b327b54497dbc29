package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.gold.Dims
import graft.ops.{Curation, Dedup, Multimodal, Projections, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is an operator family from SURVEY.md §2
  * realized Spark-first over the driver testdata; `oracleSql` holds the
  * DuckDB-equivalent ANSI SQL for the hash-match gate.
  *
  * Determinism rules (SURVEY.md §5): money aggregates go through exact
  * DECIMAL(18,2) sums (order-independent, unlike double sums) and are cast
  * back to double so both engines emit identical bits; every result has a
  * total ORDER BY on a unique key; no current_date().
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Exact order-independent money sum: decimal(18,2) partial sums, double out. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Run a lifecycle gate over its own scratch directory. The rule
    * every gate relies on: its frame is materialized before the
    * directory is deleted, so the returned frame reads nothing from it.
    * Collected rows re-enter as a LOCAL relation, not an RDD —
    * `parallelize` sliced every one-row contract into
    * `defaultParallelism` (32) partitions, so each downstream action
    * scheduled 32 near-empty tasks per gate (measured as a uniform
    * ~0.1–0.3 s tail across the 15 lifecycle gates, r20). A local
    * relation scans in ONE task; the rows and schema are identical.
    * There is no global `clearCache`: Verify runs queries concurrently,
    * and a global clear mid-sweep evicts frames other in-flight queries
    * registered. The gates' caches are scope-released by Verify
    * (`OpCaches.scoped`) and swept by Bench's own between-query clear. */
  private def scratchGate(spark: SparkSession, prefix: String)(
      body: String => DataFrame): DataFrame =
    Scratch.during(prefix) { d =>
      import scala.jdk.CollectionConverters._
      val df = body(d)
      spark.createDataFrame(df.collect().toIndexedSeq.asJava, df.schema)
    }

  /** Delete a scratch directory at JVM exit (idempotent per path). */
  private val cleanupRegistered = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerCleanup(dir: String): Unit =
    if (cleanupRegistered.add(dir)) sys.addShutdownHook {
      Scratch.deleteTree(new java.io.File(dir))
    }

  /** A temp directory unique per (process, input dir), deleted at JVM
    * exit: concurrent graft processes (a Verify while a Bench scale run
    * is up) must not clobber or cross-read each other's files, and
    * per-pid dirs would otherwise accumulate. */
  private def processScratch(prefix: String, dir: String): String = {
    val tag = java.lang.Long.toHexString(
      java.util.UUID.nameUUIDFromBytes(dir.getBytes).getMostSignificantBits)
    val pid = ProcessHandle.current().pid()
    val scratch = sys.props("java.io.tmpdir") + s"/$prefix-$tag-$pid"
    registerCleanup(scratch)
    scratch
  }

  /** Determinism rule for query OUTPUT schemas: no raw decimal columns.
    * Decimals are exact inside the plan (partial sums, staging casts) but
    * Spark and DuckDB hash their parquet representation differently, so
    * every result column of DecimalType is cast to double at the edge. */
  private def decimalsToDouble(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.DecimalType =>
          col(f.name).cast("double").as(f.name)
        case _ => col(f.name)
      }
    }.toSeq: _*)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The 4-way star join (J1–J4 analogue): orders fact onto customer,
    * nation, region dims + a derived date key. */
  def entry(spark: SparkSession): DataFrame =
    qStarContract(spark, "/root/testdata/sf0.001")

  // ===========================================================================
  // Parity queries — one per operator family from SURVEY.md §2
  // ===========================================================================

  /** J6/J7 + A1–A5 + P9 + D4 — the f_dealer_performance_daily analogue:
    * fact ⟕ broadcast dim, 2-key hash aggregate with count / conditional
    * sum / sum / avg. Ref: `f_dealer_performance_daily.sql:14-30`. */
  def qDealerPerf(spark: SparkSession, dir: String): DataFrame = {
    val orders   = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"), "left")
      .groupBy(
        customer("c_nationkey").as("nation_key"),
        Projections.dateKey(orders("o_orderdate")).as("date_key"))
      .agg(
        count(lit(1)).as("num_orders"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("num_filled"),
        dsum(col("o_totalprice")).as("total_price"),
        (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
  }

  /** J1–J4 + P5 + P10 — f_loan_contract analogue: 4-way chained left join
    * of the orders fact onto customer → nation → region dims plus a date
    * key; literal stub columns and column duplication under two aliases.
    * Dims are broadcast (classic star-schema pattern — at 100 TB the fact
    * side streams, dims ship to every executor).
    * Ref: `f_loan_contract.sql:12-44`. */
  def qStarContract(spark: SparkSession, dir: String): DataFrame = {
    val orders   = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val nation   = t(spark, dir, "nation")
    val region   = t(spark, dir, "region")
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"), "left")
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
      .select(
        orders("o_orderkey").as("contract_id"),
        orders("o_orderkey").cast("string").as("contract_ref"), // P10: dup under 2nd alias
        customer("c_custkey").as("customer_key"),
        customer("c_name").as("customer_name"),
        nation("n_name").as("nation_name"),
        region("r_name").as("region_name"),
        Projections.dateKey(orders("o_orderdate")).as("date_key"),
        orders("o_totalprice").cast("decimal(18,2)").cast("double").as("contract_amount"),
        lit("INR").as("currency_code"),                          // P5: literal stub
        lit(null).cast("double").as("interest_rate"))            // P5: typed null stub
  }

  /** P1/P3/P4/P5/P10 + M6 — the staging rename-and-cast projection driven
    * by the generic staging macro: alias→expression pairs → SELECT.
    * Ref: `stg_corebank_loans.sql:7-68`, `dbt/macros/stg_generic.sql:1-13`. */
  def qStgProject(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    Projections.stgGeneric(li, Seq(
      "item_id"        -> col("l_orderkey").cast("string"),          // P1 cast+rename
      "loan_ref"       -> col("l_orderkey").cast("string"),          // P10 dup alias
      "line_no"        -> col("l_linenumber").cast("long"),
      "ship_date"      -> col("l_shipdate").cast("date"),            // P4 date cast
      "quantity"       -> col("l_quantity").cast("decimal(18,2)").cast("double"),
      "gross_amount"   -> col("l_extendedprice").cast("decimal(18,2)").cast("double"),
      "customer_type"  -> lit("RETAIL"),                             // P5 literal stub
      "interest_rate"  -> lit(null).cast("double")))                 // P5 typed null
  }

  /** P2/P3 — SAFE.PARSE_DATE with the BigQuery two-digit-year pivot:
    * format a real date to 'dd-MM-yy' text, reparse through the pivot
    * shim, and safe-parse a garbage column to NULL. Spark 4 runs ANSI
    * mode, so the SAFE behavior is `try_to_date` (null on malformed) —
    * same contract as DuckDB's try_strptime.
    * Ref: `stg_corebank_loans.sql:15-16`. */
  def qSafeDateParse(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val txt = date_format(col("o_orderdate"), "dd-MM-yy")
    // the shared helper, not a copy — a pivot-rule change must reach
    // this gate and the staging path together
    val parsed = Projections.safeParseDate2(txt)
    o.select(
      col("o_orderkey").as("order_id"),
      txt.as("date_text"),
      parsed.as("parsed_date"),
      try_to_date(col("o_orderpriority"), "dd-MM-yy").as("bad_parse"))
  }

  /** W1 + F3 — windowed dedup: one row per user, first event by
    * (ts, event_id). Ref: `stg_corebank_customers.sql:16,30`. */
  def qDedupFirstEvent(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    Dedup.firstPerKey(ev, Seq("user_id"), Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("ts").cast("date").as("first_date"),
        col("event_type"), col("value").cast("decimal(18,2)").cast("double").as("value"))
  }

  /** S8 + D3–D7 + P8 — generated date dimension (5,844-row spine with
    * calendar attributes). Ref: `dim_date.sql:3-17`. */
  def qDimDate(spark: SparkSession, dir: String): DataFrame =
    Dims.dateSpine(spark, "2015-01-01", "2030-12-31")

  /** A6 + W2 + P5 — distinct-values dimension with dense surrogate keys.
    * Ref: `dim_product.sql:4-17`, `dim_dealer.sql:4-18`. */
  def qSurrogateDim(spark: SparkSession, dir: String): DataFrame =
    Dims.surrogateDim(t(spark, dir, "part"), "p_brand", "brand_key",
      Seq("brand_name" -> col("p_brand"),              // P10 dup alias
          "source_system" -> lit("CATALOG")))          // P5 literal stub

  /** S7 + U1 + W2 + P7 — constant inline dimension (literal UNION ALL) with
    * set-membership recode. Ref: `dim_contract_status.sql:1-16`. */
  def qStatusDim(spark: SparkSession, dir: String): DataFrame =
    Dims.contractStatusDim(spark)

  /** P6 + D2 — CASE banding with a null bucket over a numeric measure and
    * BQ-style year-boundary diff from a pinned anchor date.
    * Ref: `dim_customer.sql:21-26`. */
  def qCaseBanding(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    val anchor = to_date(lit("2026-01-01"))
    val firstOrder = o.groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate").cast("date")).as("first_order_date"))
    c.join(firstOrder, c("c_custkey") === firstOrder("o_custkey"), "left")
      .select(
        c("c_custkey").as("customer_id"),
        Projections.band(c("c_acctbal"),
          Seq(0.0 -> "negative", 1000.0 -> "low", 5000.0 -> "mid"), "high")
          .as("balance_band"),
        Projections.yearDiff(anchor, col("first_order_date")).as("tenure_years"),
        Projections.band(Projections.yearDiff(anchor, col("first_order_date")).cast("double"),
          Seq(10.0 -> "recent", 20.0 -> "established"), "legacy")
          .as("tenure_band"))
  }

  /** F1/F2/F5 — null-guard and IN-list filters ahead of keying.
    * Ref: `stg_corebank_customers.sql:18`, `dim_dealer.sql:7`. */
  def qNullFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .where(col("user_id").isNotNull && col("props").isNotNull)
      .where(col("event_type").isin("click", "view", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** F4 + J5 + D4 — filtered fact subset joined to the date spine:
    * returned lineitems with their ship-date calendar attributes.
    * The filter and the two scan columns push down to parquet; the spine
    * is broadcast. Ref: `f_default_event.sql:10,28-29`. */
  def qFilteredFact(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val dd = Dims.dateSpine(spark, "1990-01-01", "2010-12-31")
    li.where(col("l_returnflag") === "R")
      .join(broadcast(dd), li("l_shipdate").cast("date") === dd("calendar_date"), "left")
      .select(
        li("l_orderkey").as("order_id"), li("l_linenumber").as("line_no"),
        dd("date_key"), dd("year"), dd("is_weekend"),
        li("l_extendedprice").cast("decimal(18,2)").cast("double").as("amount"))
  }

  /** D5–D7 + A1 — tumbling daily aggregation over the events table
    * (batch analogue of a windowed stream agg): date_trunc to day,
    * count + exact sum per (day, event_type). */
  def qEventsDaily(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(
        date_trunc("day", col("ts")).cast("date").as("event_date"),
        col("event_type"))
      .agg(
        count(lit(1)).as("num_events"),
        dsum(col("value")).as("total_value"))

  /** Incremental aggregate maintenance
    * ([[graft.pipeline.Incremental]]): per-type event rollup computed
    * as TWO disjoint batch states (first half of the month, rest)
    * merged and finalized — and the oracle is the PLAIN full-table
    * aggregate: algebraic decimal state makes the incremental path
    * bit-identical to full recompute, which is the whole point. */
  def qIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Incremental
    val ev = t(spark, dir, "events")
    val metric = Seq("value" -> col("value").cast("decimal(18,2)"))
    val a = Incremental.aggState(
      ev.where(dayofmonth(col("ts")) <= 15), Seq("event_type"), metric)
    val b = Incremental.aggState(
      ev.where(dayofmonth(col("ts")) > 15), Seq("event_type"), metric)
    Incremental.finalizeState(
      Incremental.merge(Seq(a, b), Seq("event_type")), Seq("event_type"))
  }

  /** k-anonymity audit ([[graft.quality.Checks.kAnonymity]]) over
    * customer quasi-identifiers (nation x market segment): cohort sizes
    * and at-risk flags for every combination — one hash aggregate, the
    * governance gate before attribute-bearing data leaves a trust
    * boundary. */
  def qKAnonymity(spark: SparkSession, dir: String): DataFrame =
    graft.quality.Checks.kAnonymity(t(spark, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), k = 5)

  /** Table reconciliation ([[graft.pipeline.Diff]]): the orders table
    * diffed against a deterministically mutated version of itself
    * (drop every 97th key, double the price on every 101st, re-insert
    * every 103rd under a shifted key) — one full-outer key join, no
    * collects, per-status and per-column change counts. The mutation
    * rules are integer arithmetic and one exact double×2, so the
    * oracle rebuilds the same right side and the summary hash-matches. */
  def qTableDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "orders")
    val mutated = base
      .where(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 101 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .unionByName(base.where(col("o_orderkey") % 103 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L)))
    graft.pipeline.Diff.diffSummary(base, mutated, Seq("o_orderkey"))
  }

  /** Cross-engine table CHECKSUM
    * ([[graft.pipeline.Diff.contentChecksum]]): per-returnflag row
    * counts + order-independent md5-sum fingerprints of the lineitem
    * fact's canonicalized rows. The oracle recomputes the identical
    * fingerprint in DuckDB from the same canonicalization (string
    * casts, NUL null-sentinel, SOH joins, leading-60-bit md5 sum) —
    * a hash match here IS the operator's use case: two engines, two
    * scan orders, one fingerprint. The double l_quantity goes through
    * an explicit decimal(18,2) per the canonicalization contract. */
  def qTableChecksum(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Diff.contentChecksum(
      t(spark, dir, "lineitem"), Seq("l_returnflag"), Seq(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(18,2)"),
        col("l_shipdate").cast("date"),
        col("l_linestatus")))

  /** The [[Dedup.cutSpans]] transformation: documents rebuilt WITHOUT
    * their duplicated spans (every occurrence removed — boilerplate-
    * strip semantics), with kept/cut token counts. Token-level cut, so
    * whitespace is canonicalized to single spaces; the oracle rebuilds
    * the same spans and reassembly. */
  def qSpanCut(spark: SparkSession, dir: String): DataFrame =
    Dedup.cutSpans(t(spark, dir, "documents"), "doc_id", "text", L = 5)
      .withColumnRenamed("id", "doc_id")

  /** Corpus-trained bigram-LM quality scores ([[TextOps.bigramLmScores]]
    * — the CCNet/KenLM perplexity-filter mechanism): per doc, the
    * add-k-smoothed mean token log-probability under the corpus's own
    * bigram statistics. Counts are exact; each ln is
    * decimal-quantized before summing (the dim-stats recipe), so the
    * scores hash-match the oracle. */
  def qLmScores(spark: SparkSession, dir: String): DataFrame =
    TextOps.bigramLmScores(t(spark, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  /** Exact duplicated-substring spans ([[Dedup.dupSpans]], the Lee et
    * al. 2022 span-level dedup): maximal token ranges covered by
    * 5-gram windows occurring ≥ 2 times corpus-wide — the boilerplate
    * mass whole-document dedup cannot see. Hash-gram vs string-gram
    * equivalence with the oracle rides the standard no-collision
    * precedent. */
  def qDupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(t(spark, dir, "documents"), "doc_id", "text", L = 5)
      .withColumnRenamed("id", "doc_id")

  /** Robust outlier QA over the events metric: exact per-type median,
    * MAD, and beyond-3-MAD counts ([[graft.ops.Stats.robustOutliers]])
    * — the corrupt-value screen that heavy tails can't fool. All
    * medians are data elements and every comparison is one IEEE op, so
    * the scan hash-matches the oracle exactly. */
  def qOutliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Stats
    Stats.robustOutliers(t(spark, dir, "events")
      .select(col("event_type"), col("value")),
      Seq("event_type"), "value", k = 3.0)
  }

  /** Retention cohort matrix (long form): users bucketed by
    * first-event DAY, then distinct active users per (cohort,
    * day-offset) — the product-analytics staple (daily grain because
    * the driver's events tables span one calendar month at every SF).
    * Shape for scale: the first-event table is ONE hash aggregate on
    * user_id; the join back is user-keyed, and the matrix aggregate is
    * cohort × offset — output-sized. */
  def qRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select(col("user_id"),
      date_trunc("day", col("ts")).cast("date").as("d"))
    val firsts = ev.groupBy("user_id").agg(min(col("d")).as("cohort_day"))
    ev.join(firsts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  // ===========================================================================
  // Analytics-surface breadth: window analytics, set ops, rollup,
  // semi/anti joins, pivot — the rest of the surface an analytics-engine
  // user expects even though the reference's own models don't use them
  // ===========================================================================

  /** Gap-based batch sessionization (30-minute inactivity): per-session
    * event counts and durations — the batch mirror of the streaming
    * sessionizer, expressed as two windows + a rollup. */
  def qSessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TimeOps
    TimeOps.sessionStats(t(spark, dir, "events"), "user_id", "ts",
      gapSeconds = 1800, tieBreak = col("event_id"))
  }

  /** As-of join (backward): each purchase event picks up the user's most
    * recent prior click — composed from a tagged union + one window (no
    * range-join explosion). Oracle: DuckDB's native ASOF JOIN, an
    * entirely independent implementation of the same semantics. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TimeOps
    val ev = t(spark, dir, "events")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    TimeOps.asofJoinBackward(purchases, clicks, "user_id", "ts", "ts",
      rightPayload = Seq("event_id", "value"),
      rightTieBreak = Some(col("event_id")))
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        floor(unix_timestamp(col("ts"))).cast("long").as("purchase_es"),
        col("_asof.event_id").as("click_id"),
        col("_asof.value").cast("decimal(18,2)").cast("double").as("click_value"))
  }

  /** Hopping (sliding) window aggregation: 2-hour windows every 30
    * minutes — each event lands in 4 windows. Spark's `window()` grid
    * aligns to the 1970 epoch, so the oracle regenerates the same grid
    * with generate_series; only non-empty windows are emitted by both
    * engines. The batch mirror of the streaming windowed aggregation
    * (same expression runs under readStream — see EventStream). */
  def qHoppingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(window(col("ts"), "2 hours", "30 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("sum_value"))

  /** Context-window chunk spans: every document split into 40-token
    * windows stepping by 30 (10-token overlap carried between
    * consecutive chunks) — the per-document windowing step before
    * sequence packing. Spans only, never substrings (narrow map,
    * no payload duplication). */
  def qChunkSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("n_tokens"))
    Curation.chunkSpans(docs, "doc_id", "n_tokens", maxTokens = 40, overlap = 10)
  }

  /** Binned range join: events matched into 200 deterministic
    * overlapping promo windows (varying lengths, so windows span 1-5
    * hourly bins) and rolled up per window. The oracle does the naive
    * BETWEEN join — the bin trick must be invisible in the result. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TimeOps
    val ev = t(spark, dir, "events").select(col("event_id"), col("ts"), col("value"))
    val base = to_timestamp(lit("2024-01-01 00:00:00"))
    val ranges = spark.range(200).select(
      col("id").as("range_id"),
      (base + expr("make_interval(0, 0, 0, 0, 0, cast(id * 200 as int), 0)"))
        .as("start_ts"),
      (base + expr("make_interval(0, 0, 0, 0, 0, cast(id * 200 + (id % 7 + 1) * 40 as int), 0)"))
        .as("end_ts"))
    val rolled = TimeOps.binnedRangeJoin(ev, "ts", ranges, "start_ts", "end_ts",
      binSeconds = 3600)
      .groupBy("range_id")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    ranges.select("range_id").join(rolled, Seq("range_id"), "left")
      .select(col("range_id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        col("sum_value"))
  }

  /** Approximate distinct counts (HLL++) next to exact ones — the sketch
    * every 100 TB rollup uses when exact distinct would shuffle the
    * world. HLL register merges are commutative, so results are stable
    * under any partitioning. The raw estimate differs from DuckDB's own
    * HLL, so the oracle-checked surface is the operator's CONTRACT: the
    * exact count (DuckDB-comparable) plus a boolean asserting the
    * estimate landed within 10% of it (measured max 6.7% at sf0.1;
    * default rsd is 5%) — the oracle emits literal TRUE, so an estimate
    * drifting out of bound fails the driver gate, not just the spec. */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.1).as("within_10pct"))

  /** Window-function breadth: lag (previous event gap), rank, and a
    * rolling 3-row frame sum per user over the events table. */
  def qWindowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(spark, dir, "events")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wFrame = w.rowsBetween(-2, 0)
    ev.select(
      col("user_id"), col("event_id"),
      col("ts").cast("date").as("event_date"),
      (unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(w))
        .as("secs_since_prev"),
      rank().over(w).cast("long").as("event_rank"),
      sum(col("value").cast("decimal(18,2)")).over(wFrame).cast("double")
        .as("rolling3_value"))
  }

  /** Set operations: users who clicked INTERSECT users who purchased,
    * and clickers EXCEPT purchasers, tagged and unioned. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val clickers = ev.where(col("event_type") === "click").select("user_id").distinct()
    val buyers = ev.where(col("event_type") === "purchase").select("user_id").distinct()
    clickers.intersect(buyers).withColumn("segment", lit("click_and_buy"))
      .union(clickers.except(buyers).withColumn("segment", lit("click_no_buy")))
  }

  /** Rollup with grouping id: order counts/amounts by (status, priority)
    * with subtotals and grand total. */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("num_orders"),
        dsum(col("o_totalprice")).as("total_price"))

  /** CUBE over two dimensions — all four grouping combinations in one
    * pass (q_rollup's hierarchy-prefix complement), disambiguated by
    * grouping_id. */
  def qCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("num_orders"),
        dsum(col("o_totalprice")).as("total_price"))

  /** Ordered funnel: users who clicked, then viewed AFTER the first
    * click, then purchased AFTER that first view — strict event-time
    * ordering, not mere co-occurrence. Three aggregate-and-join stages
    * (each one hash shuffle on user_id; the stage frames are
    * user-cardinality, so at scale the joins hash on bare ids). */
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").select("user_id", "event_type", "ts")
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val views = ev.where(col("event_type") === "view")
      .join(clicks, Seq("user_id"))
      .where(col("ts") > col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val purchases = ev.where(col("event_type") === "purchase")
      .join(views, Seq("user_id"))
      .where(col("ts") > col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    clicks.agg(count(lit(1)).as("n_users")).select(lit("1_click").as("stage"), col("n_users"))
      .unionByName(views.agg(count(lit(1)).as("n_users"))
        .select(lit("2_view").as("stage"), col("n_users")))
      .unionByName(purchases.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("stage"), col("n_users")))
  }

  /** Semi/anti joins: customers with at least one order vs none. */
  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), lit("has_orders").as("segment"))
    val without = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), lit("no_orders").as("segment"))
    withOrders.union(without)
  }

  /** Pivot: daily event counts pivoted into one column per event type
    * (explicit value list → deterministic schema). */
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("ts").cast("date").as("event_date"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** GROUPING SETS beyond rollup/cube: two independent single-dimension
    * subtotal slices in ONE pass — `((status), (priority))` is neither a
    * rollup prefix chain nor a full cube, the general form BigQuery /
    * ANSI GROUPING SETS exists for. One Expand + one hash aggregate
    * instead of two scans unioned. `gid` = grouping(status)·2 +
    * grouping(priority), computed per-column in both engines
    * (grouping_id() bit order is engine-specific; the per-column form
    * is portable). */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("orders_gs_t")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS num_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders_gs_t
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |""".stripMargin)
  }

  /** UNPIVOT (wide → long): the per-type daily count matrix of `q_pivot`
    * melted back to (event_date, event_type, n) rows — BigQuery's
    * UNPIVOT / dbt's melt. Spark-native `Dataset.unpivot`, a narrow
    * zero-shuffle reshape of the already-aggregated wide frame; rows
    * for absent (date, type) cells carry the filled 0, exactly like
    * the wide form they unfold from. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "signup", "error")
    qPivot(spark, dir).unpivot(
      Array(col("event_date")), types.map(col).toArray, "event_type", "n")
  }

  /** One-pass column profiling (ANALYZE-style QA surface): per column,
    * null count and exact distinct count over the customer table. All
    * columns reduce in a SINGLE aggregate — Spark plans the
    * multi-count-distinct via one Expand (one shuffle), not one scan
    * per column. */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
    val cust = t(spark, dir, "customer")
    val aggCols = count(lit(1)).as("_n") +:
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nulls_$c"),
        countDistinct(col(c)).as(s"_dist_$c")))
    val one = cust.agg(aggCols.head, aggCols.tail: _*)
    one.select(explode(array(cols.map(c => struct(
      lit(c).as("column"),
      col("_n").as("n_rows"),
      col(s"_nulls_$c").as("n_nulls"),
      col(s"_dist_$c").as("n_distinct"))): _*)).as("p"))
      .select("p.column", "p.n_rows", "p.n_nulls", "p.n_distinct")
  }

  // ===========================================================================
  // LLM-data-pipeline extensions (builder mandate): dedup, similarity,
  // text analysis, multimodal — over documents/embeddings
  // ===========================================================================

  /** Exact dedup by content hash: one survivor (min id) per distinct text
    * plus the duplicate count. Shuffles 64-hex hashes, not documents. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactByHash(t(spark, dir, "documents"), "text", "doc_id")

  /** MinHash + LSH near-duplicate pairs, exact-verified: LSH banding
    * generates candidates (the 100 TB shape), then each candidate is
    * re-scored with the exact shingle-set Jaccard. Dense banding makes
    * the miss probability ≤ 2.5e-9 for this corpus's pair regime
    * (j ≥ 0.75), so the output equals the exact all-pairs Jaccard scan
    * — which IS the DuckDB oracle. */
  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashVerifiedDups(t(spark, dir, "documents"), "doc_id", "text",
      shingleK = 5, numBands = 24, rowsPerBand = 2, threshold = 0.5)

  /** Incremental MinHash/LSH dedup — the index lifecycle the
    * always-ingesting pipeline runs daily: the standing corpus
    * (doc_id % 5 ≠ 0) is built into a persistable signature index ONCE
    * ([[Dedup.minhashIndexBuild]]), then the arriving batch
    * (doc_id % 5 = 0) is deduped against it
    * ([[Dedup.minhashIndexDedupBatch]]) without re-shingling the
    * corpus. Output = every verified near-dup pair touching the batch.
    * The oracle is the exact all-pairs Jaccard scan over the WHOLE
    * corpus filtered to batch-touching pairs — the same
    * recall-is-exactly-1 regime q_dedup_minhash pins, now proving the
    * incremental path emits precisely the full recompute's new pairs:
    * no old×old re-emission, no missed batch pair. */
  def qMinhashIncr(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val index = Dedup.minhashIndexBuild(corpus, "doc_id", "text",
      shingleK = 5, numBands = 24, rowsPerBand = 2)
    Dedup.minhashIndexDedupBatch(index, batch, "doc_id", "text",
      shingleK = 5, numBands = 24, rowsPerBand = 2, threshold = 0.5)
  }

  /** The PRODUCTION incremental probe — [[qMinhashIncr]]'s lifecycle
    * through the exchange-free banded path: the standing corpus is
    * built into the signature index PLUS its pre-aggregated
    * [[Dedup.minhashIndexBands]] bucket table (both persistable —
    * [[graft.ops.MinhashIndexStore]] writes them together), and the
    * batch probes via [[Dedup.minhashIndexDedupBatchBanded]], whose
    * candidate join against the corpus is one broadcast hash join on
    * the bucket table — no corpus-mass row crosses an exchange
    * (plan-pinned, `PlanQualitySpec`). Same exact oracle as
    * q_minhash_incr: every verified near-dup pair touching the batch,
    * per the all-pairs Jaccard scan — proving the banded split emits
    * pair-for-pair what the unified probe and the full recompute emit. */
  def qMinhashBanded(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    val index = Dedup.minhashIndexBuild(corpus, "doc_id", "text",
      shingleK = 5, numBands = 24, rowsPerBand = 2)
    val bands = Dedup.minhashIndexBands(index, numBands = 24, rowsPerBand = 2)
    Dedup.minhashIndexDedupBatchBanded(index, bands, batch, "doc_id", "text",
      shingleK = 5, numBands = 24, rowsPerBand = 2, threshold = 0.5)
  }

  /** The PERSISTED MinHash/LSH lifecycle end-to-end, gated: init a
    * versioned [[graft.ops.MinhashIndexStore]] from ~6/7 of the
    * standing corpus in a scratch dir, append the rest as an index
    * delta (built BY the store with the persisted meta — a
    * re-parameterized delta cannot exist), then probe the batch
    * through the store's banded path with the PERSISTED parameters. Same exact oracle as [[qMinhashBanded]]:
    * minhash signatures are content-only, so the split build must
    * emit pair-for-pair what the single build emits — persistence and
    * append order invisible to the answer. Materialized before the
    * scratch store is deleted. */
  def qMinhashStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.MinhashIndexStore
    val docs = t(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    scratchGate(spark, "q-minhash-store") { store =>
      // the store OWNS the builds: init persists the parameters, the
      // append delta is built with the persisted meta
      MinhashIndexStore.init(corpus.where(pmod(col("doc_id"), lit(7)) =!= 1),
        store, "doc_id", "text", shingleK = 5, numBands = 24, rowsPerBand = 2)
      MinhashIndexStore.append(spark, store,
        corpus.where(pmod(col("doc_id"), lit(7)) === 1),
        "doc_id", "text", expectedBase = 0L)
      MinhashIndexStore.probeLatest(spark, store, batch,
        "doc_id", "text", threshold = 0.5)
    }
  }

  /** TOMBSTONE REMOVAL from the persisted MinHash/LSH store, gated:
    * init a scratch [[graft.ops.MinhashIndexStore]] over the standing
    * corpus (doc_id % 5 ≠ 0), [[graft.ops.MinhashIndexStore.remove]]
    * the corpus docs with doc_id % 7 = 1 (an O(tombstones) delta — no
    * corpus rewrite), then probe the batch (doc_id % 5 = 0). The
    * oracle is the exact all-pairs Jaccard scan over the corpus WITH
    * the removed docs excluded — i.e. the pairs a fresh build over
    * corpus-minus-removed would emit, which is precisely the
    * store's removal contract: a takedown must be answer-equivalent to
    * never having ingested the documents. Materialized before the
    * scratch store is deleted (the qMinhashStore pattern). */
  def qMinhashRemove(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.MinhashIndexStore
    val docs = t(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val batch = docs.where(col("doc_id") % 5 === 0)
    scratchGate(spark, "q-minhash-remove") { store =>
      MinhashIndexStore.init(corpus, store, "doc_id", "text",
        shingleK = 5, numBands = 24, rowsPerBand = 2)
      MinhashIndexStore.remove(spark, store,
        corpus.where(pmod(col("doc_id"), lit(7)) === 1).select("doc_id"),
        "doc_id", expectedBase = 0L)
      MinhashIndexStore.probeLatest(spark, store, batch,
        "doc_id", "text", threshold = 0.5)
    }
  }

  /** The STREAMING INGEST LOOP's semantics end-to-end, gated: init a
    * scratch [[graft.ops.MinhashIndexStore]] over the standing corpus
    * (doc_id % 5 ≠ 0), then drive the batch half through TWO sequential
    * micro-batches of [[graft.streaming.DedupIngestStream.processBatch]]
    * (even then odd batch ids) and return every accepted (near-dup-free)
    * document with the batch that accepted it. The oracle replays the
    * keep-first survivor rule in SQL over the exact all-pairs Jaccard
    * table, SEQUENTIALLY: batch-1 docs reject against the corpus or a
    * smaller batch-1 id; batch-2 docs reject against the corpus, the
    * batch-1 SURVIVORS (a doc that only near-dups a batch-1 REJECT is
    * accepted — rejects never enter the index), or a smaller batch-2
    * id. This pins the loop's cross-batch statefulness — the append
    * taking effect, and only survivors standing — against an
    * independent engine, not just a spec. Materialized before the
    * scratch store is deleted (the qMinhashStore pattern). */
  def qIngestLoop(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.DedupIngestStream
    val docs = t(spark, dir, "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    scratchGate(spark, "q-ingest-loop") { root =>
      graft.ops.MinhashIndexStore.init(corpus, s"$root/store",
        "doc_id", "text", shingleK = 5, numBands = 24, rowsPerBand = 2)
      Seq(0L, 1L).foreach { b =>
        DedupIngestStream.processBatch(
          docs.where(col("doc_id") % 5 === 0 && pmod(col("doc_id"), lit(10)) === b * 5),
          b, s"$root/store", s"$root/accepted", "doc_id", "text",
          threshold = 0.5, compactEvery = 8, checkpointDir = s"$root/gate-cp")
      }
      // the corpus read surface (archive tier + live batch dirs) — at
      // this gate's two batches nothing folds, but the gate must read
      // through the same API a production consumer would
      graft.streaming.AcceptedSink
        .readAccepted(spark, s"$root/accepted")
        .select(col("doc_id"), col("batch").cast("int").as("batch"))
        .orderBy("doc_id")
    }
  }

  /** The accepted corpus's reproducible-read + data-skipping lifecycle
    * ([[graft.streaming.AcceptedSink]]): three batch directories land
    * (documents split by `doc_id % 3`), a fold archives batches 0–1
    * WITH the per-version stats index, a takedown withdraws
    * `doc_id % 97 = 3`, and the gate reads the corpus AS OF batch 1
    * through [[AcceptedSink.prunedReadAccepted]] — the skipping path,
    * which must prune the live batch-2 files off its directory-name
    * stats without `batch` being a data column there (asserted, so a
    * pruning regression fails the gate rather than silently scanning).
    * The oracle is the plain filter the pruned read must equal:
    * batches ≤ 1 minus the withdrawn ids (takedown is retroactive —
    * the [[AcceptedSink.readAcceptedAsOf]] rule). Eager lifecycle over
    * a scratch store (the qMinhashStore pattern). */
  def qAcceptedAsof(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.AcceptedSink
    import graft.sources.StatsIndex
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    scratchGate(spark, "q-accepted-asof") { root =>
      val acc = s"$root/accepted"
      (0L to 2L).foreach { b =>
        docs.where(pmod(col("doc_id"), lit(3)) === b)
          .coalesce(2).write.parquet(s"$acc/batch=$b")
      }
      AcceptedSink.fold(spark, acc, belowBatch = 2L,
        statsCols = Seq("doc_id", "batch"))
      AcceptedSink.remove(spark, acc,
        docs.where(pmod(col("doc_id"), lit(97)) === 3), "doc_id")
      val asOf = AcceptedSink.prunedReadAccepted(spark, acc,
        Seq("doc_id", "batch"),
        StatsIndex.mayContainBetween("batch", 0L, 1L), col("batch") <= 1L)
      require(asOf.keptFiles < asOf.totalFiles,
        s"q_accepted_asof: the batch-range read pruned nothing " +
          s"(${asOf.keptFiles}/${asOf.totalFiles} files) — the live tier's " +
          "directory-name stats stopped skipping")
      asOf.df
        .select(col("doc_id"), col("batch").cast("int").as("batch"))
        .orderBy("doc_id")
    }
  }

  /** Deterministic training-shard export ([[graft.ops.Curation
    * .exportShards]]): the corpus lands as 16 hash-shuffled shards plus
    * a manifest (per-shard row count + order-invariant key checksum).
    * The gate emits the manifest AS RE-READ FROM DISK — so the oracle,
    * recomputing the same md5-prefix arithmetic from the ids alone,
    * hash-checks that the shards on disk carry exactly the right rows
    * in the right shards (the manifest is computed from the written
    * bytes, not the plan). Eager lifecycle over a scratch directory
    * (the qMinhashStore pattern). */
  def qTrainShards(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    scratchGate(spark, "q-train-shards") { root =>
      graft.ops.Curation.exportShards(docs, "doc_id", 16, root)
        .orderBy("shard")
    }
  }

  /** AS-OF-PINNED TRAINING EXPORT ([[graft.streaming.AcceptedSink
    * .exportShardsAsOf]]) — the round-17 verbs composed into the
    * reproducibility capstone: the same accepted-corpus lifecycle as
    * [[qAcceptedAsof]] (three batches by `doc_id % 3`, a fold, a
    * takedown of `doc_id % 97 = 3`), then ONE call exports the corpus
    * as of batch 1 into receipt-verifiable shards with the pin
    * (`as_of_batch`, live-tombstone count + checksum) stamped into the
    * export. The gate emits the manifest as re-read from disk joined
    * with the provenance stamp; the oracle re-derives every column
    * from the raw table — the as-of filter, the retroactive takedown,
    * the md5-prefix shard assignment and checksums, AND the tombstone
    * stamp — so the hash-match proves the whole composition, pin
    * included, cross-engine. Eager lifecycle over a scratch dir (the
    * qMinhashStore pattern). */
  def qShardsAsof(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.AcceptedSink
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    scratchGate(spark, "q-shards-asof") { root =>
      val acc = s"$root/accepted"
      (0L to 2L).foreach { b =>
        docs.where(pmod(col("doc_id"), lit(3)) === b)
          .coalesce(2).write.parquet(s"$acc/batch=$b")
      }
      AcceptedSink.fold(spark, acc, belowBatch = 2L)
      AcceptedSink.remove(spark, acc,
        docs.where(pmod(col("doc_id"), lit(97)) === 3), "doc_id")
      val out = s"$root/export"
      val manifest = AcceptedSink.exportShardsAsOf(spark, acc,
        asOfBatch = 1L, "doc_id", numShards = 8, out)
      manifest.crossJoin(
        AcceptedSink.shardProvenance(spark, out)
          .select("as_of_batch", "n_tombs", "tombs_checksum"))
        .orderBy("shard")
    }
  }

  /** Deterministic weighted sampling ([[graft.ops.Curation
    * .weightedSample]], Efraimidis–Spirakis keys over hash-derived
    * uniforms): 200 documents drawn with probability ∝ `n_chars`. The
    * selection AND the quantized keys are pure functions of the ids,
    * so DuckDB recomputes the identical sample — every arithmetic step
    * is IEEE-exact except `pow`, whose ulp-level libm variance the
    * DECIMAL(14,12) quantization collapses below the orderable grid. */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Curation.weightedSample(
      t(spark, dir, "documents"), "doc_id", col("n_chars"), 200)
      .select(col("doc_id"), col("sample_key").cast("string").as("sample_key"))
      .orderBy("doc_id")

  /** Exact all-pairs hamming reference for the simhash contract gate:
    * every (id_a < id_b, hamming ≤ maxDistance) pair, computed the
    * brute-force way — C(distinct sketches, 2) bit_count comparisons
    * via a non-equi self-join (a BroadcastNestedLoopJoin by
    * construction; ~12.5M comparisons at sf0.1 — fine for a
    * verification gate, never for the operator, which is why
    * [[Dedup.simhashNearDups]] exists). Pairs expand from DISTINCT
    * sketch values so the scan is quadratic in distinct sketch mass,
    * not raw docs: within-sketch member pairs at hamming 0, cross-
    * sketch pairs at the popcount of the XOR. */
  private[graft] def simhashExactPairs(sim: DataFrame, maxDistance: Int,
      maxGroupSize: Int = Dedup.DefaultMaxGroupSize): DataFrame = {
    // same domain as the operator it checks — without this, a direct
    // caller passing e.g. -1 would get the within branch's hamming-0
    // pairs while the true exact pair set is empty
    require(maxDistance >= 0 && maxDistance < 32, s"maxDistance out of range: $maxDistance")
    // three consumers (within + both sides of the non-equi self-join).
    // Grouping goes through the shared valved aggregation: qDedupSimhash
    // runs operator and reference in ONE job, so an unvalved collect_list
    // here could OOM an executor before the operator's own valve fires
    // NULL sketches excluded exactly as the operator excludes them —
    // the contract compares the two pair sets, so the domains must match
    val g = graft.ops.OpCaches.registered(sim.where(col("simhash").isNotNull)
      .groupBy("simhash")
      .agg(Dedup.groupIdsAgg(col("id"), maxGroupSize,
        "simhashExactPairs: a single sketch value").as("ids")))
    val within = g.where(size(col("ids")) > 1)
      .select(explode(col("ids")).as("x"), col("ids"))
      .select(col("x"), explode(col("ids")).as("y"))
      .where(col("x") < col("y"))
      .select(col("x").as("id_a"), col("y").as("id_b"), lit(0).as("hamming"))
    // columns renamed per side — self-joining two aliases of one plan
    // can silently resolve both sides to the same attribute (SCALE.md
    // trap #4)
    val a = g.select(col("simhash").as("sh_a"), col("ids").as("ids_a"))
    val b = g.select(col("simhash").as("sh_b"), col("ids").as("ids_b"))
    val cross = a.join(b, col("sh_a") < col("sh_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxDistance)
      .select(col("hamming"), explode(col("ids_a")).as("x"), col("ids_b"))
      .select(col("hamming"), col("x"), explode(col("ids_b")).as("y"))
      .select(least(col("x"), col("y")).as("id_a"),
        greatest(col("x"), col("y")).as("id_b"), col("hamming"))
      // an out-of-contract duplicate id landing under two sketches
      // would make a self-pair here; suppress it exactly as the
      // operator's crossGroup guard does. Unreachable via
      // qDedupSimhash — simhash() vote-merges per id, so its output
      // has unique ids by construction — this is defense-in-depth for
      // direct callers. NB unique ids are the INPUT CONTRACT of both
      // functions: on duplicate-id frames their full pair sets may
      // still diverge (the operator's min-id group tiebreak assumes
      // disjoint groups); the guard only keeps nonsensical (x,x) rows
      // out of either output.
      .where(col("id_a") =!= col("id_b"))
    within.unionByName(cross)
  }

  /** SimHash near-duplicate pairs (hamming ≤ 3 via pigeonhole blocks),
    * gated as a contract row — the house pattern of `q_ann_lsh` /
    * `q_fingerprint`. The sketch VALUES are xxhash64-based and have no
    * SQL mirror (round-4 analysis: DuckDB cannot reproduce them; the
    * SQL-mirror conversion is a dead end), but the operator's defining
    * property is checkable entirely in Spark: its output must equal
    * the exact all-pairs hamming scan over the same sketches
    * ([[simhashExactPairs]] — quadratic brute force, no pigeonhole
    * blocks, no banding). The gate emits one row: `n_docs` (which
    * DuckDB recomputes from the parquet) plus two contract bits the
    * oracle emits as literal TRUE — `found_pairs` (the corpus really
    * has near-dup pairs, so set equality is not vacuous; the sf0.01
    * corpus has 17, sf0.1 more) and `pair_set_exact` (the multiset
    * symmetric difference of (id_a, id_b, hamming) rows between the
    * operator and the exact scan is empty). Hash-checked TRUE here
    * means the pigeonhole block join found exactly the brute-force
    * pair set — ids AND hamming values. */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val maxDistance = 3
    // the sketch frame feeds the operator and the exact reference —
    // materialized once so the packed-vote aggregation runs once.
    // localCheckpoint, not cache (the probeSides/CC rationale, r20
    // changes 6/11): a cache entry still CARRIES the sketch-build
    // lineage (tokenize → shingle → 64 packed vote aggregates), and the
    // analyzer/optimizer re-walked it inside the operator, the exact
    // reference, AND the two exceptAll diff branches — measured 1.03 s
    // of off-execution driver time on this gate
    // (`perfbench/run.py --trace 1`).
    // The checkpoint truncates to a LogicalRDD leaf: same blocks, same
    // single materialization, O(1)-sized leaf in all four consumers.
    val sim = Dedup.simhash(docs, "doc_id", "text").localCheckpoint(false)
    val op = graft.ops.OpCaches.registered(
      Dedup.simhashNearDups(sim, maxDistance)
        .select("id_a", "id_b", "hamming"))
    val exact = graft.ops.OpCaches.registered(simhashExactPairs(sim, maxDistance))
    // multiset-aware symmetric difference: empty ⟺ pair sets identical
    // (exceptAll, not except — a duplicated output pair must fail)
    val diff = op.exceptAll(exact).unionAll(exact.exceptAll(op))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(op.agg(count(lit(1)).as("_np")))
      .crossJoin(diff.agg(count(lit(1)).as("_nd")))
      .select(col("n_docs"),
        (col("_np") > 0).as("found_pairs"),
        (col("_nd") === 0).as("pair_set_exact"))
  }

  /** Exact 5-gram Jaccard near-dup pairs, document-frequency-capped
    * (stop-shingle trick; see Dedup.ngramJaccardPairs for the scale
    * rationale). */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(spark, dir, "documents"), "doc_id", "text",
      k = 5, threshold = 0.2, dfCap = 50)

  /** Per-document text statistics: token counts (whitespace + BPE-ish),
    * punctuation/digit/stopword ratios, composite quality score. */
  def qTextStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.bpeishTokenCount(col("text")).as("n_bpeish"),
      TextOps.punctRatio(col("text")).as("punct_ratio"),
      TextOps.digitRatio(col("text")).as("digit_ratio"),
      TextOps.stopwordRatio(col("text")).as("stopword_ratio"),
      TextOps.qualityScore(col("text")).as("quality"))

  /** Language-ID heuristic (n-gram markers, argmax with deterministic
    * tie-break) vs. the labeled lang column. */
  def qLangId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextOps.languageId(col("text")).as("predicted_lang"))

  /** Corpus language breakdown: per-lang doc count, exact token totals,
    * average chars — the groupBy("lang") text-analysis rollup. */
  def qLangStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("source")).as("n_sources"))

  /** Corpus n-gram (bigram) frequency: top text patterns per language —
    * explode + two-key aggregate over shingles. */
  def qNgramFreq(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    docs.select(col("lang"), col("doc_id"),
      split(trim(col("text")), "\\s+").as("toks"))
      .select(col("lang"), explode(Dedup.shinglesOfTokens(col("toks"), 2)).as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= 20)
  }

  /** Exact token heavy hitters — every token holding ≥ 1/1000 of the
    * corpus token mass, with its EXACT count — via count-min-sketch
    * screen + exact verify ([[graft.ops.Sketch.heavyHitters]]). The
    * sketch's one-sided error makes the screen provably complete, so
    * the result is bit-exact (the DuckDB oracle is the plain
    * GROUP BY/HAVING) while the shuffle carries candidate rows instead
    * of one record per distinct token — the shape that survives a
    * billion-type vocabulary at 100 TB. The support threshold is
    * integer arithmetic (`n·1000 ≥ N`), shared exactly by both
    * engines. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("tk"))
      .where(length(col("tk")) > 0)
    graft.ops.Sketch.heavyHitters(toks, lower(col("tk")), supportDenom = 1000)
      .withColumnRenamed("k", "token")
  }

  /** Z-order (Morton) clustering key over the events fact — the
    * OPTIMIZE ZORDER layout primitive ([[graft.ops.Layout]]), gated on
    * its deterministic core: exact min/max bucketization (the int8
    * quantization recipe — no sampled range boundaries) + pure-integer
    * bit interleaving, both mirrored operation-for-operation in the
    * oracle. The layout itself (range repartition + in-partition sort,
    * whose per-partition z-ranges are disjoint ⇒ file-level min/max
    * skipping prunes on EITHER column) is partitioning, which a row
    * hash cannot see — it is spec-pinned instead. */
  def qZorder(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.zValue(
      t(spark, dir, "events").select("event_id", "user_id", "value"),
      Seq("user_id", "value"), bits = 16)
      .select("event_id", "bk_user_id", "bk_value", "zvalue")

  /** FILE-LEVEL DATA SKIPPING end-to-end, gated: write the events fact
    * z-ordered on (user_id, value) into a 16-file scratch layout
    * ([[graft.ops.Layout.zOrdered]] — the write side), index it with
    * [[graft.sources.StatsIndex.buildFromFooters]] (O(footers), no data
    * pages read), then answer a box-selective aggregate THROUGH
    * [[graft.sources.StatsIndex.prunedRead]]. The aggregate is
    * layout-invariant, so the oracle is the plain filtered aggregate
    * over the original table — completeness is exactly the property an
    * unsound pruning index silently breaks, and a hash mismatch here
    * means a matching row was skipped. `pruned_files` is the contract
    * bit: the box predicate must actually drop files on the z-layout
    * (kept strictly between 0 and all — checked as literal TRUE by the
    * oracle). */
  def qDataSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.StatsIndex
    val events = t(spark, dir, "events")
    scratchGate(spark, "q-data-skipping") { scratch =>
      graft.ops.Layout.zOrdered(
        events.select("event_id", "user_id", "event_type", "value"),
        Seq("user_id", "value"), bits = 16, numPartitions = 16)
        .drop("bk_user_id", "bk_value", "zvalue")
        .write.mode("overwrite").parquet(scratch)
      val stats = StatsIndex.buildFromFooters(spark, scratch, Seq("user_id", "value"))
      // constants hold at every test SF (user_id 3-6 exists from
      // sf0.001's ~15 users up; the box stays selective at sf0.1's 1500)
      val keep = StatsIndex.mayContainBetween("user_id", 3L, 6L) &&
        StatsIndex.mayContainBetween("value", 20.0, 80.0)
      val rowPred = col("user_id").between(3L, 6L) &&
        col("value").between(20.0, 80.0)
      val scan = StatsIndex.prunedRead(spark, scratch, stats, keep, rowPred)
      scan.df.agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .withColumn("pruned_files",
          lit(scan.keptFiles > 0 && scan.keptFiles < scan.totalFiles))
    }
  }

  /** PER-FILE BLOOM SKIPPING end-to-end, gated: the same z-ordered
    * scratch layout as [[qDataSkipping]], probed by EVENT ID — the
    * column the (user_id, value) clustering scatters, so min/max stats
    * cannot prune it and the per-file Bloom sketch
    * ([[graft.sources.StatsIndex.buildBloom]]) is what turns a 3-id
    * point lookup into a ~3-file read. Same soundness oracle shape as
    * the range gate (the plain IN-list aggregate over the original
    * table — Bloom false negatives are impossible by construction, so
    * a hash mismatch means a skipped holder file) plus the
    * `pruned_files` contract bit. */
  def qBloomSkipping(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.StatsIndex
    val events = t(spark, dir, "events")
    scratchGate(spark, "q-bloom-skipping") { scratch =>
      graft.ops.Layout.zOrdered(
        events.select("event_id", "user_id", "event_type", "value"),
        Seq("user_id", "value"), bits = 16, numPartitions = 16)
        .drop("bk_user_id", "bk_value", "zvalue")
        .write.mode("overwrite").parquet(scratch)
      val perFile = math.max(events.count() / 16L, 100L)
      val stats = StatsIndex.buildBloom(spark, scratch, "event_id",
        expectedPerFile = perFile)
      val ids = Seq(17L, 423L, 777L) // present from sf0.001's 1000 events up
      val scan = StatsIndex.prunedRead(spark, scratch, stats,
        StatsIndex.mayContainId("event_id", ids),
        col("event_id").isin(ids: _*))
      scan.df.agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .withColumn("pruned_files",
          lit(scan.keptFiles > 0 && scan.keptFiles < scan.totalFiles))
    }
  }

  /** Edit-distance near-duplicate value pairs ([[Dedup.editNearDups]]
    * — record linkage over the part names, blocked by brand, distinct
    * values compared, row support reported). The oracle runs the
    * identical two-stage shape with DuckDB's own `levenshtein`: the
    * two engines' classic DP distances must agree value-for-value
    * (hash-checked), and Spark's THRESHOLDED kernel (early exit past
    * maxDist) must change nothing but cost. */
  def qEditNearDups(spark: SparkSession, dir: String): DataFrame =
    Dedup.editNearDups(t(spark, dir, "part"), "p_name", Seq("p_brand"),
      maxDist = 4)

  /** Sorted-neighborhood linkage ([[Dedup.sortedNeighborNearDups]] —
    * no equality block: one global value ranking, each value compared
    * to its next 8 rank-successors). The oracle mirrors the whole
    * shape — row_number over the sorted distinct values, the rank
    * window, the length band, DuckDB's levenshtein — so the
    * no-global-sort ranking (range partitions + broadcast offsets) and
    * the bucket equi-join must together emit exactly the pairs the
    * naive ranked self-join defines. */
  def qSortedNeighbors(spark: SparkSession, dir: String): DataFrame =
    Dedup.sortedNeighborNearDups(t(spark, dir, "part"), "p_name",
      window = 8, maxDist = 4)

  /** ENTITY RESOLUTION over the part names
    * ([[Dedup.resolveEntities]] — linkage pairs → transitive
    * components → canonical lexicographic-min label, every ROW
    * relabeled). The oracle replays the whole chain in SQL: the same
    * distinct-value edit-distance pairs, a recursive-CTE transitive
    * closure over the composite `(brand, value)` node keys, min-label
    * canonicalization, and the row-level relabel join — transitivity
    * included (a~b~c groups even where dist(a,c) exceeds the cut). */
  def qEntityResolution(spark: SparkSession, dir: String): DataFrame =
    Dedup.resolveEntities(
      t(spark, dir, "part").select("p_partkey", "p_brand", "p_name"),
      "p_name", Seq("p_brand"), maxDist = 4)

  /** INCREMENTAL entity resolution ([[graft.ops.LinkageStore]]) —
    * the maintained form of [[qEntityResolution]], gated to the SAME
    * oracle: init a scratch store over the standing part rows
    * (p_partkey % 5 ≠ 0), fold the remaining rows in as a batch
    * (batch-mass comparisons and component work only — the
    * q_minhash_incr economics applied to linkage), then relabel the
    * WHOLE table through the store's standing state. The oracle is the
    * batch recursive-CTE closure over the full table, so the
    * hash-match proves the incremental append's label algebra
    * (label-rewritten component edges, canonical-flip relabeling)
    * answers exactly what the one-shot resolution answers — merges
    * and canonical changes across the batch boundary included.
    * Materialized before the scratch store is deleted (the
    * qMinhashStore pattern). */
  def qLinkageIncr(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.LinkageStore
    val part = t(spark, dir, "part").select("p_partkey", "p_brand", "p_name")
    scratchGate(spark, "q-linkage-incr") { store =>
      LinkageStore.init(part.where(col("p_partkey") % 5 =!= 0), store,
        "p_name", Seq("p_brand"), maxDist = 4)
      LinkageStore.append(spark, store,
        part.where(col("p_partkey") % 5 === 0), expectedBase = 0L)
      LinkageStore.resolveRows(spark, store, part)
    }
  }

  /** VALUE TAKEDOWN from the linkage store, gated ([[graft.ops
    * .LinkageStore.remove]] — the removal half [[qLinkageIncr]]'s
    * lifecycle leaves to specs, proven cross-engine like the three
    * sketch stores' removal gates): init a scratch store over the
    * whole part table, withdraw every name ending in "e" (144 of the
    * 1,130 distinct values at sf0.01, touching 428 of the 3,031
    * linkage pairs — groups genuinely split and lose canonicals),
    * then relabel the FULL table through the standing state. The
    * oracle is the batch recursive-CTE resolution computed over the
    * SURVIVING values only, with every row relabeled (withdrawn-name
    * rows fall back to their own name — the store's
    * as-if-never-ingested rule), so the hash-match proves the
    * O(affected-groups) re-resolution equals a fresh build over
    * corpus-minus-removed. */
  def qLinkageRemove(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.LinkageStore
    val part = t(spark, dir, "part").select("p_partkey", "p_brand", "p_name")
    scratchGate(spark, "q-linkage-remove") { store =>
      LinkageStore.init(part, store, "p_name", Seq("p_brand"), maxDist = 4)
      LinkageStore.remove(spark, store,
        part.where(col("p_name").endsWith("e")).select("p_brand", "p_name"),
        expectedBase = 0L)
      LinkageStore.resolveRows(spark, store, part)
    }
  }

  /** THE COMPOSED PIPELINE WITH THE LINKAGE TAIL, gated cross-engine —
    * the first oracle gate over [[graft.streaming.TriadPipeline]]
    * itself: init the three screens' stores over the standing corpus
    * (doc_id % 5 ≠ 0; the qIngestLoop fixture), init the linkage tail
    * EMPTY ([[graft.streaming.TriadPipeline.initLinkageStore]] — the
    * sink-as-carrier-of-record doctrine), then drive the batch half
    * through TWO composed micro-batches and relabel the final accepted
    * corpus through the standing linkage state. The oracle re-derives
    * the WHOLE composition in SQL: the sequential keep-first survivor
    * replay over the exact all-pairs Jaccard table (the qIngestLoop
    * oracle — stage 1's cross-batch statefulness), then the recursive-
    * CTE entity-resolution closure over the survivors' (lang, sig)
    * values (the qLinkageIncr oracle) — so the hash-match proves the
    * screens' survivor set AND the incremental resolution over it in
    * one gate. The semantic screen runs with per-doc xxhash64 formula
    * embeddings at threshold 0.95 (iid-uniform 64-d vectors — max
    * pairwise cosine ≈ 0.73 at this corpus mass), so it accepts every
    * dedup survivor; that no-op is a CHECKED invariant (`require`
    * below), not an assumption — drift here fails the gate loudly
    * rather than silently diverging from the oracle. `sig` is the
    * 10-char text prefix within `lang` blocks at maxDist 3 — real
    * merges at every SF (7 pairs among the sf0.01 batch docs, 958 at
    * sf0.1). Materialized before the scratch root is deleted (the
    * qMinhashStore pattern). */
  def qTriadLinkage(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{AcceptedSink, TriadPipeline}
    import graft.ops.{IvfIndexStore, LinkageStore, MinhashIndexStore, SemanticIndexStore}
    val docs = t(spark, dir, "documents")
      .withColumn("sig", substring(col("text"), 1, 10))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64(col("doc_id"), i, lit(42)), lit(1000003L))
          .cast("double") / 1000003.0 - 0.5).cast("float")))
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    scratchGate(spark, "q-triad-linkage") { root =>
      val cfg = TriadPipeline.Config(root, "doc_id", "text", "embedding",
        checkpointDir = s"$root/cp", semanticThreshold = 0.95,
        linkage = Some(TriadPipeline.LinkageStage("sig", Seq("lang"),
          maxDist = 3)))
      // the four store inits are independent (four directories, no
      // ordering contract between them) — submitted concurrently so
      // each build's tail (kmeans driver loops, single-threaded commit
      // renames, small trailing stages) back-fills the others' idle
      // cores instead of serializing four bring-ups. Results are
      // unchanged: every init commits its own store atomically, and
      // nothing below runs until all four are committed. Every init
      // runs to the end before a failure propagates, so none is still
      // writing when the scratch `root` is deleted.
      graft.ops.VersionedState.writeConcurrently(Seq(
        () => MinhashIndexStore.init(corpus, cfg.minhashDir, "doc_id",
          "text", shingleK = 5, numBands = 24, rowsPerBand = 2),
        () => SemanticIndexStore.init(corpus, cfg.semanticDir, "doc_id",
          "embedding", nlist = 4),
        () => IvfIndexStore.init(corpus, cfg.ivfDir, "doc_id",
          "embedding", nlist = 8),
        () => TriadPipeline.initLinkageStore(spark, cfg)))
      Seq(0L, 1L).foreach { b =>
        val o = TriadPipeline.processBatch(
          docs.where(col("doc_id") % 5 === 0 &&
            pmod(col("doc_id"), lit(10)) === b * 5), b, cfg)
        require(o.semantic.accepted == o.dedup.accepted,
          s"q_triad_linkage: the semantic screen rejected " +
            s"${o.dedup.accepted - o.semantic.accepted} doc(s) in batch $b " +
            "— the formula-embedding no-op invariant the oracle depends " +
            "on broke (cosine ceiling reached 0.95?)")
      }
      val accepted = AcceptedSink.readAccepted(spark, cfg.semanticAccepted)
        .select("doc_id", "lang", "sig")
      LinkageStore.resolveRows(spark, cfg.linkageDir, accepted)
        .select(col("doc_id"), col("lang"), col("sig"), col("canonical_sig"))
        .orderBy("doc_id")
    }
  }

  /** CORPUS PAGERANK through the CHECKPOINTED many-round walk
    * ([[graft.ops.LinkGraph.docRank]] →
    * [[graft.ops.Graph.pageRankCheckpointed]]) — the production
    * rank-the-corpus verb wired to the documents it was built for, and
    * the first oracle gate over the checkpointed walk (q_pagerank gates
    * the unrolled form; the specs pin bit-identity between the two —
    * this gates the flat-plan path cross-engine at 8 rounds, a depth
    * the unrolled plan shouldn't carry). The graph is the shared-
    * vocabulary co-citation structure (doc → term always; term → doc
    * only at document frequency ≥ 2 — exclusive vocabulary is a dead
    * end, see LinkGraph's degeneracy argument), and the oracle rebuilds
    * it and unrolls the same 8 exact-decimal rounds in SQL, so the
    * whole rank VECTOR is hash-checked. Scratch rounds live under a
    * temp dir swept at exit. */
  def qCorpusRank(spark: SparkSession, dir: String): DataFrame = {
    val scratch = java.nio.file.Files.createTempDirectory("q-corpus-rank").toString
    try {
      graft.ops.LinkGraph.docRank(t(spark, dir, "documents"),
        "doc_id", "text", iters = 8, s"$scratch/walk")
    } finally registerCleanup(scratch)
  }

  /** The CURATION GATE's decision function in batch form, oracle-gated:
    * every document's first failing screen (or `kept`) under a standard
    * rule (≥ 20 tokens, quality ≥ 0.5, lang ∈ {en, zh};
    * constants chosen so every screen fires on the corpus —
    * 350/43/50/57 kept/tokens/quality/lang at sf0.01) —
    * [[graft.streaming.CurationGate.curate]] over the documents table.
    * The token/quality/language kernels already gate bit-identically on
    * their own (`q_text_stats`, `q_lang_id`); this gates their
    * COMPOSITION and the first-failure ordering (empty → tokens →
    * quality → lang) that the streaming audit's `reason` column
    * promises. */
  def qCurationGate(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.CurationGate
    val rule = CurationGate.Rule(minQuality = 0.5, minTokens = 20,
      allowedLangs = Set("en", "zh"), redactPii = false)
    val (kept, rejected) = CurationGate.curate(
      t(spark, dir, "documents"), "doc_id", "text", rule)
    kept.select(col("doc_id"), lit("kept").as("verdict"))
      .unionByName(rejected.select(col("doc_id"), col("reason").as("verdict")))
  }

  /** Per-language document-length quantiles (exact discrete p50/p90/p99)
    * — the distribution summary a tokenizer-budget plan starts from. */
  def qLengthQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Stats
    Stats.quantilesDisc(t(spark, dir, "documents"), Seq("lang"), "n_chars",
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
  }

  /** Repetition quality signals (Gopher-style): per document, the
    * most-frequent-bigram fraction and the duplicate-trigram fraction.
    * Counts are over gram hashes in Spark and gram strings in the
    * oracle — identical under the no-collision assumption the Jaccard
    * oracle already relies on. */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(t(spark, dir, "documents"), "doc_id", "text",
      topN = 2, dupN = 3)
      .withColumnRenamed("id", "doc_id")

  /** Benchmark-contamination scan: documents probed against the shingle
    * vocabulary of a held-out benchmark slice (doc_id % 50 == 0) — the
    * train/eval overlap check run before any training job. */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    TextOps.contamination(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", k = 5)
      .withColumnRenamed("id", "doc_id")
  }

  /** Bloom-filter contamination screen, gated as a contract row (the
    * `q_dedup_simhash` house pattern — the sketch bits have no SQL
    * mirror, but the operator's defining properties are checkable in
    * Spark against the exact semi-join operator over the SAME split):
    * `no_false_negatives` — every document's flagged count ≥ its exact
    * contaminated count (a Bloom miss is impossible by construction;
    * any violation is a broken sketch) — and `fp_rate_ok` — the
    * false-positive mass over clean probes stays under 5× the sizing
    * target (10 bits/item ≈ 1%). The oracle recomputes `n_docs` and
    * `n_exact_hits` exactly from the parquet and emits the two
    * contract bits as literal TRUE. */
  def qBloomContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val probe = docs.where(col("doc_id") % 50 =!= 0)
    val bench = docs.where(col("doc_id") % 50 === 0)
    val exact = graft.ops.OpCaches.registered(
      TextOps.contamination(probe, bench, "doc_id", "text", k = 5)
        .select(col("id"), col("n_shingles"), col("n_contaminated")))
    val fuzzy = graft.ops.OpCaches.registered(
      TextOps.contaminationBloom(probe, bench, "doc_id", "text", k = 5)
        .select(col("id"), col("n_flagged")))
    exact.join(fuzzy, Seq("id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_contaminated")).as("n_exact_hits"),
        sum(when(col("n_flagged") < col("n_contaminated"), 1L).otherwise(0L)).as("_fn"),
        sum(col("n_flagged") - col("n_contaminated")).as("_fp"),
        sum(col("n_shingles") - col("n_contaminated")).as("_clean"))
      .select(col("n_docs"), col("n_exact_hits"),
        (col("_fn") === 0).as("no_false_negatives"),
        (col("_fp").cast("double") <=
          lit(0.05) * greatest(col("_clean"), lit(1L)).cast("double")).as("fp_rate_ok"))
  }

  /** PII scrub pass: the corpus has no native PII, so the query plants a
    * deterministic email/phone/SSN per document, counts the spans, and
    * redacts them. The oracle applies the SAME regexes (generated from
    * [[TextOps.piiPatterns]]) in the same order — plain character-class
    * patterns that mean the same thing in Java regex and RE2. */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-123-4567 ssn 123-45-6789")).as("text"))
      .select(col("doc_id"),
        TextOps.piiCount(col("text")).as("n_pii"),
        TextOps.redactPii(col("text")).as("redacted"))

  /** Unigram-rarity score (surprisal proxy) of every document against
    * the corpus unigram distribution. */
  def qRarity(spark: SparkSession, dir: String): DataFrame =
    TextOps.unigramRarity(t(spark, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")

  /** Query terms for the BM25 gate — mid-frequency corpus vocabulary,
    * shared with the generated oracle SQL. */
  private[graft] val Bm25Terms = Seq("spark", "join", "vector", "stream")

  /** BM25 relevance of every document against a fixed query-term set
    * (rational RSJ idf — no libm log — so scores are bit-exact across
    * engines; see TextOps.bm25). */
  def qBm25(spark: SparkSession, dir: String): DataFrame =
    TextOps.bm25(t(spark, dir, "documents"), "doc_id", "text", Bm25Terms)
      .withColumnRenamed("id", "doc_id")

  /** Proportional stratified sample: ~120 docs preserving the corpus
    * language mix, selected per-stratum by md5(id) rank (deterministic
    * reservoir). The operator runs the two-stage salted rank; the
    * oracle is the plain single-window form — the salting must be
    * invisible in the result. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Curation.proportionalSample(
      t(spark, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang", total = 120)
      .select(col("doc_id"), col("lang"), col("sample_rank"))

  /** Cross-corpus fuzzy decontamination: exact 5-gram Jaccard pairs
    * between the probe corpus and the benchmark side (same id%50 split
    * as `q_contamination`), df-capped across both sides. The oracle
    * recomputes every cross pair in SQL — the emitted pair set and
    * scores must match exactly. */
  def qCrossDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Dedup.crossCorpusNearDups(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0),
      "doc_id", "text", k = 5, threshold = 0.2, dfCap = 50)
  }

  /** BPE merge-candidate pair counts over the corpus (tokenizer vocab
    * induction, first iteration): adjacent character pairs weighted by
    * word frequency — pair work is vocabulary-sized, not corpus-sized. */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpePairCounts(t(spark, dir, "documents"), "text")

  /** Full BPE tokenization round-trip: learn 50 rank-ordered merges
    * from the corpus ([[TextOps.bpeLearnMerges]] — one corpus pass,
    * then vocabulary-sized rounds), then ENCODE every document with the
    * native [[graft.functions.BpeEncode]] kernel. Gated as a contract
    * row: `n_docs` and the whitespace token total are exact
    * DuckDB-computable anchors; the invariant bits — emitted TRUE in
    * the oracle — pin LOSSLESSNESS (per doc, concatenated BPE tokens ==
    * the doc with whitespace removed; byte-equality, every doc) and
    * COMPRESSION direction (per doc, whitespace ≤ BPE tokens ≤
    * non-space chars; 50 merges strictly shrink the corpus total vs
    * character tokenization). The BPE totals themselves are
    * deterministic but have no SQL mirror (the merge list is learned
    * state), so they gate through the invariants, like the simhash
    * sketch contract. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val merges = TextOps.bpeLearnMerges(docs, "text", numMerges = 50)
    val lt = lower(trim(col("text")))
    val perDoc = docs
      .select(col("doc_id"), lt.as("lt"),
        graft.functions.BpeFunctions.bpe_encode(lt, merges).as("toks"))
      .select(
        col("doc_id"),
        size(filter(split(col("lt"), "\\s+"), t => t =!= "")).as("n_ws"),
        size(col("toks")).as("n_bpe"),
        length(regexp_replace(col("lt"), "\\s+", "")).as("n_sp_chars"),
        (array_join(col("toks"), "")
          === regexp_replace(col("lt"), "\\s+", "")).as("lossless"))
    perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_ws")).as("total_ws_tokens"),
      min(col("lossless")).as("lossless_ok"),
      min(col("n_ws") <= col("n_bpe") && col("n_bpe") <= col("n_sp_chars"))
        .as("bounds_ok"),
      (sum(col("n_bpe")) < sum(col("n_sp_chars"))).as("compresses_ok"))
  }

  /** Transitive dedup-group resolution: connected components over the
    * n-gram Jaccard near-dup pairs (same parameters as
    * `q_ngram_jaccard`, whose pair set is oracle-verified) — every
    * document labeled with the min doc id of its duplicate group. The
    * oracle computes the same closure with a recursive CTE. */
  def qDedupGroups(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 5, threshold = 0.2, dfCap = 50)
    val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("doc_id")).as("group_id"))
  }

  /** SCD2 dimension merge: customer snapshot initialized at 2026-01-01,
    * then an update batch (every 3rd key re-segmented, every 5th key's
    * balance shifted) merged at 2026-06-01 — changed keys close their
    * first version and open a second; untouched keys keep one open row.
    * The oracle derives the same three row groups set-wise. */
  def qScd2(spark: SparkSession, dir: String): DataFrame = {
    import graft.gold.Scd2
    val snap = t(spark, dir, "customer").select(
      col("c_custkey"), col("c_mktsegment"),
      col("c_acctbal").cast("double").as("acctbal"))
    val state0 = Scd2.init(snap, "2026-01-01")
    val updates = snap.select(
      col("c_custkey"),
      when(col("c_custkey") % 3 === 0, lit("MOVED"))
        .otherwise(col("c_mktsegment")).as("c_mktsegment"),
      when(col("c_custkey") % 5 === 0, col("acctbal") + 100.0)
        .otherwise(col("acctbal")).as("acctbal"))
    // updates are a 1:1 projection of the customer PK — skip the
    // uniqueness-check job (keeps construction lazy and the bench
    // number about the merge itself)
    Scd2.merge(state0, updates, "c_custkey",
      Seq("c_mktsegment", "acctbal"), "2026-06-01", assumeUniqueKeys = true)
  }

  /** Training-data mix: epoch-weighted language proportions (2 epochs of
    * de, 1.3 of en, 1 of es, half of fr, zh dropped) via the
    * deterministic bucket — the corpus-assembly step before
    * tokenization. The oracle replays the identical integer
    * arithmetic. */
  def qDataMix(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Mix
    Mix.weightedMix(
      t(spark, dir, "documents").select("doc_id", "lang", "source"),
      "lang",
      Map("en" -> 1.3, "de" -> 2.0, "fr" -> 0.5, "es" -> 1.0),
      key = col("doc_id"))
  }

  /** Deterministic train/val/test assignment (90/5/5) — the
    * dataset-version-stable split gate before eval construction; a doc
    * keeps its split as the corpus around it changes. The oracle replays
    * the salted bucket arithmetic. */
  def qSplitAssign(spark: SparkSession, dir: String): DataFrame =
    Curation.splitAssign(
      t(spark, dir, "documents").select("doc_id", "lang"), col("doc_id"))

  /** Per-domain volume cap: top-25 docs per source by token count
    * (doc_id tie-break makes the rank total) — the crawl-mix guard
    * against one domain flooding the corpus. */
  def qDomainCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
    Curation.domainCap(docs, "source", 25,
      Seq(col("n_tokens").desc, col("doc_id")))
  }

  /** Fixed-budget sequence packing: per-language token stream cut every
    * 2048 tokens; each doc gets its shard index and in-shard offset —
    * the concatenate-then-split layout a tokenizer run consumes. */
  def qSeqPack(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
    Curation.packSequences(docs, "doc_id", "n_tokens", "lang", 2048L)
  }

  /** Corpus line-dedup over deterministically planted boilerplate: every
    * doc gains a header and footer line (100% document frequency — must
    * be stripped everywhere) and every 7th doc a promo line (~14% —
    * must survive); the original text rides as the middle line. The
    * oracle replays the whole frequency/filter/reassembly pipeline. */
  def qLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"),
      concat(
        lit("nav home products contact\n"),
        col("text"),
        lit("\ncopyright footer all rights reserved"),
        when(col("doc_id") % 7 === 0, lit("\nsubscribe to the newsletter"))
          .otherwise(lit(""))).as("text"))
    TextOps.lineDedup(docs, "doc_id", "text", maxDocFrac = 0.5)
      .withColumnRenamed("id", "doc_id")
  }

  /** Sketch-based grouped quantiles (the 100 TB path when value
    * cardinality defeats the exact window in [[graft.ops.Stats]]) gated
    * like `q_approx_distinct`: the oracle-comparable surface is the
    * EXACT discrete quantile plus a boolean asserting the
    * `percentile_approx` sketch (accuracy 1000 — at accuracy 100 the
    * p90 of a 100-doc group missed by >10% at sf0.01) landed within
    * 10% — the oracle emits literal TRUE, so sketch drift fails the
    * gate. */
  def qApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Stats
    val lens = t(spark, dir, "documents")
      .select(col("lang"), length(col("text")).as("len"))
    val exact = Stats.quantilesDisc(lens, Seq("lang"), "len",
      Seq("p50" -> 0.5, "p90" -> 0.9))
    val approx = lens.groupBy("lang").agg(
      percentile_approx(col("len"), lit(0.5), lit(1000)).as("a50"),
      percentile_approx(col("len"), lit(0.9), lit(1000)).as("a90"))
    // multiplication form, not division: a zero exact quantile (a group
    // that is ≥50% empty docs) would make the divided form NULL, which
    // can never hash-match the oracle's literal TRUE
    exact.join(approx, Seq("lang"))
      .select(col("lang"), col("p50"), col("p90"),
        (abs(col("a50") - col("p50")).cast("double") <= col("p50") * 0.1 &&
          abs(col("a90") - col("p90")).cast("double") <= col("p90") * 0.1)
          .as("within_10pct"))
  }

  /** The end-use composition: training-corpus filtering — keep documents
    * above a quality floor with enough tokens, project the features a
    * downstream tokenizer run would consume. Filter + narrow projection;
    * at 100 TB this is the map-only pass that feeds the tokenizer. */
  def qCorpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    docs.select(
      col("doc_id"), col("lang"), col("source"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.qualityScore(col("text")).as("quality"))
      .where(col("quality") >= 0.5 && col("n_tokens") >= 20)
  }

  /** The flagship end-to-end training-corpus assembly, composed entirely
    * from oracle-mirrorable stages (unlike `q_corpus_clean`, whose
    * MinHash stage has no SQL mirror): held-out benchmark slice →
    * quality floor → repetition filters → contamination filter → exact
    * dedup (min id per content) → epoch-weighted language mix. Each
    * stage is the same operator its standalone query gates; this checks
    * the COMPOSITION end-to-end against one DuckDB query. */
  def qTrainingCorpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Mix
    val docs = t(spark, dir, "documents")
    val bench = docs.where(col("doc_id") % 50 === 0)
    // cand feeds five consumer branches (two repetition gram passes, two
    // contamination passes, the final semi-joins) — cached so the scan +
    // quality filter run once; Bench clears caches between queries (or
    // OpCaches.scoped releases it)
    val cand = graft.ops.OpCaches.registered(
      docs.where(col("doc_id") % 50 =!= 0)
        .where(TextOps.qualityScore(col("text")) >= 0.3 &&
          TextOps.tokenCount(col("text")) >= 10))
    val repOk = TextOps.repetitionStats(cand, "doc_id", "text")
      .where(col("top_ngram_frac") <= 0.08 && col("dup_ngram_frac") <= 0.05)
      .select(col("id").as("doc_id"))
    val contamOk = TextOps.contamination(cand, bench, "doc_id", "text", k = 5)
      .where(col("contamination_frac") <= 0.2)
      .select(col("id").as("doc_id"))
    val filtered = cand.join(repOk, Seq("doc_id"), "left_semi")
      .join(contamOk, Seq("doc_id"), "left_semi")
    val deduped = Dedup.exactKeepFirst(filtered, "text", "doc_id")
    Mix.weightedMix(deduped.select("doc_id", "lang", "text"), "lang",
      Map("en" -> 2.0, "de" -> 1.0, "fr" -> 0.5, "es" -> 1.0),
      key = col("doc_id"))
      .select(col("doc_id"), col("lang"), col("epoch"),
        TextOps.tokenCount(col("text")).as("n_tokens"))
  }

  /** The complete corpus-cleaning pipeline (quality floor → exact dedup
    * → exact-verified MinHash near-dedup) — survivors only. The verified
    * near-dup stage makes the whole composition deterministic, so the
    * entire pipeline is mirrored in one DuckDB oracle statement (quality
    * expr → text-partition dedup → all-pairs exact Jaccard → anti-join).
    * Stats stay off (they cost full corpus scans) and the multi-consumer
    * survivor frame checkpoints to parquet instead of pinning an
    * executor cache. */
  def qCorpusClean(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.CorpusPipeline
    // NB: choosing the materializeDir path makes query CONSTRUCTION run
    // the upstream write job — Explain on this query audits only the
    // downstream plan.
    val checkpointDir = processScratch("graft-corpus-clean", dir)
    val (cleaned, _) = CorpusPipeline.clean(t(spark, dir, "documents"),
      minQuality = 0.3, minTokens = 10, nearThreshold = 0.9,
      materializeDir = Some(checkpointDir))
    cleaned.select("doc_id", "lang", "source", "n_chars")
  }

  /** Bottom-k rolling-hash document fingerprint contract. The hash
    * VALUES are xxhash64-based and have no SQL mirror, but the sketch's
    * structural contract does: its size is exactly
    * least(k, #distinct shingles) (bottom-k of a distinct set — DuckDB
    * recomputes it from the text), and it is sorted ascending with no
    * duplicates (contract bits; oracle emits literal TRUE). The raw
    * hash values are exercised in the spec. */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        TextOps.fingerprint(col("text"), k = 5, n = 8).as("fp"))
      .select(
        col("doc_id"),
        size(col("fp")).as("fp_size"),
        (col("fp") === array_sort(col("fp"))).as("is_sorted"),
        (size(array_distinct(col("fp"))) === size(col("fp"))).as("is_distinct"))

  /** Exact brute-force cosine top-k: first 100 vec_ids as the query set,
    * broadcast against the full corpus; scores via a sequential double
    * fold so both engines emit identical bits. */
  def qCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 100),
      "vec_id", "embedding", k = 5)
  }

  /** One-row ANN recall contract: exact columns DuckDB recomputes (query
    * count, exact-result count, decimal-summed exact score mass) plus a
    * contract bit — recall@k of the approximate result against the
    * brute-force baseline ≥ `floor` — that the oracle emits as literal
    * TRUE. Both engines agree on the exact columns; the bit converts the
    * approximate operator's quality bound into a hash-checked value.
    * Recall here is deterministic (seeded planes / deterministic k-means
    * init), not a flaky sample. */
  private def annRecallContract(approx: DataFrame, exact: DataFrame,
                                floor: Double): DataFrame = {
    // the exact baseline feeds TWO branches (the recall semi-join and
    // the aggregate) — cache it or the brute-force subplan runs twice
    // (plan-branch recompute, SCALE.md). k·queries rows only. The cache
    // backs the returned frame; Bench/Verify clear between queries
    // (or OpCaches.scoped releases it), same contract as the dedup
    // operators' caches.
    val exactC = graft.ops.OpCaches.registered(exact)
    val hits = exactC.select("query_id", "corpus_id")
      .join(approx.select("query_id", "corpus_id"),
        Seq("query_id", "corpus_id"), "left_semi")
    exactC.agg(
      countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_exact"),
      sum(col("score").cast("decimal(12,6)")).cast("double").as("sum_score"))
      .crossJoin(hits.agg(count(lit(1)).as("_nh")))
      .select(col("n_queries"), col("n_exact"), col("sum_score"),
        (col("_nh").cast("double") / col("n_exact") >= lit(floor)).as("recall_ok"))
  }

  /** LSH-bucketed approximate top-k (the 100 TB ANN path), gated as a
    * recall contract vs the brute-force baseline (measured 0.83–0.85 on
    * this corpus; contract floor 0.75 leaves margin). */
  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") < 100)
    annRecallContract(
      Similarity.lshTopK(emb, q, "vec_id", "embedding", dim = 64, k = 5),
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5),
      floor = 0.75)
  }

  /** IVF approximate top-k (DataFrame-native k-means cells + nprobe
    * probing) — the partition-pruned ANN path, gated as a recall
    * contract vs brute force (measured 0.81–0.83; floor 0.75). */
  def qIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") < 100)
    annRecallContract(
      Similarity.ivfTopK(emb, q, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 8),
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5),
      floor = 0.75)
  }

  /** IVF-ADC top-k ([[Similarity.ivfAdcTopK]]: cell-pruned candidates
    * scored through dequantized int8 codes, exact re-rank of the 10×
    * shortlist — the composed FAISS-style production pipeline), gated
    * as a recall contract vs brute force. Pruning loss dominates (the
    * re-rank removes the screen's quantization misordering inside the
    * shortlist), so the floor matches the IVF family's 0.75
    * (measured ≈ the plain IVF path's 0.81–0.83). */
  def qIvfAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") < 100)
    annRecallContract(
      Similarity.ivfAdcTopK(emb, q, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 8),
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5),
      floor = 0.75)
  }

  /** The PERSISTED IVF lifecycle end-to-end, gated: init a versioned
    * [[graft.ops.IvfIndexStore]] from 90 % of the corpus in a scratch
    * dir, append the held-out slice against the STANDING centroids
    * (the maintenance path — one narrow assign, no retrain), then
    * answer through the cell-pruned store probe. Same recall contract
    * and DuckDB oracle as the ANN family: the whole lifecycle
    * (train → commit → append → partition-pruned probe) must answer
    * like an ANN operator over the full merged corpus. The contract
    * row is materialized before the scratch store is deleted, so the
    * returned frame is self-contained. */
  def qIvfStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.IvfIndexStore
    val emb = t(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") < 100)
    scratchGate(spark, "q-ivf-store") { store =>
      IvfIndexStore.init(emb.where(pmod(col("vec_id"), lit(10)) =!= 3),
        store, "vec_id", "embedding", nlist = 16)
      IvfIndexStore.append(spark, store,
        emb.where(pmod(col("vec_id"), lit(10)) === 3),
        "vec_id", "embedding", expectedBase = 0L)
      annRecallContract(
        IvfIndexStore.probeLatest(spark, store, q, "vec_id", "embedding",
          k = 5, nprobe = 8),
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5),
        floor = 0.75)
    }
  }

  /** TOMBSTONE REMOVAL from the persisted IVF store, gated: the
    * qIvfStore lifecycle (init 90 %, append the held-out slice) plus a
    * [[graft.ops.IvfIndexStore.remove]] of the corpus vectors with
    * vec_id % 9 = 4 (query ids stay — queries must keep probing), then
    * the recall contract against BRUTE FORCE OVER CORPUS-MINUS-REMOVED
    * — the removal contract: a takedown must be answer-equivalent to
    * never having ingested the vectors. The extra `no_removed` bit is
    * the sharp edge: literally no removed id may appear in the probe's
    * top-k (a recall ratio alone could stay above the floor with a few
    * removed rows still surfacing). */
  def qIvfRemove(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.IvfIndexStore
    val emb = t(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") < 100)
    val removed = pmod(col("vec_id"), lit(9)) === 4 && col("vec_id") >= 100
    scratchGate(spark, "q-ivf-remove") { store =>
      IvfIndexStore.init(emb.where(pmod(col("vec_id"), lit(10)) =!= 3),
        store, "vec_id", "embedding", nlist = 16)
      IvfIndexStore.append(spark, store,
        emb.where(pmod(col("vec_id"), lit(10)) === 3),
        "vec_id", "embedding", expectedBase = 0L)
      IvfIndexStore.remove(spark, store,
        emb.where(removed).select("vec_id"), "vec_id", expectedBase = 1L)
      val probe = graft.ops.OpCaches.registered(
        IvfIndexStore.probeLatest(spark, store, q, "vec_id", "embedding",
          k = 5, nprobe = 8))
      annRecallContract(probe,
        Similarity.bruteForceTopK(emb.where(!removed), q,
          "vec_id", "embedding", k = 5),
        floor = 0.75)
        .crossJoin(probe.join(emb.where(removed).select(
            col("vec_id").as("corpus_id")), Seq("corpus_id"), "left_semi")
          .agg(count(lit(1)).as("_nr")))
        .select(col("n_queries"), col("n_exact"), col("sum_score"),
          col("recall_ok"), (col("_nr") === 0L).as("no_removed"))
    }
  }

  /** Asymmetric-distance quantized top-k ([[Similarity.adcTopK]]:
    * corpus scored through dequantized int8 codes, queries exact) —
    * gated as a recall contract vs brute force. With no candidate
    * pruning the only loss is quantization precision, so the floor sits
    * above the pruned families' (measured ≥0.9; floor 0.85). */
  def qAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") < 100)
    annRecallContract(
      Similarity.adcTopK(emb, q, "vec_id", "embedding", k = 5),
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5),
      floor = 0.85)
  }

  /** Product-quantization top-k (8×256 learned codebooks; full-corpus
    * screen over codes only, exact re-rank of the 10× shortlist) — the
    * 32×-compression ANN path, gated as a recall contract vs brute
    * force (measured 0.99 at sf0.001; floor 0.75 leaves margin for the
    * lossier large-corpus regime). */
  def qPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val q = emb.where(col("vec_id") < 100)
    annRecallContract(
      Similarity.pqTopK(emb, q, "vec_id", "embedding", k = 5, dim = 64),
      Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 5),
      floor = 0.75)
  }

  /** A1 at whale-key scale — two-phase salted aggregation: phase 1
    * spreads each key over 8 salt buckets, phase 2 merges partials.
    * The oracle is the PLAIN group-by: salting must be invisible in the
    * result (exact decimal partials keep it bit-invisible). */
  def qSaltedAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Skew
    Skew.saltedAggregate(t(spark, dir, "lineitem"), Seq("l_returnflag"),
      col("l_orderkey"), saltBuckets = 8, Seq(
        ("num_items", count(lit(1)), p => sum(p)),
        ("sum_qty", sum(col("l_quantity").cast("decimal(18,2)")),
          p => sum(p).cast("double")),
        ("sum_price", sum(col("l_extendedprice").cast("decimal(18,2)")),
          p => sum(p).cast("double"))))
  }

  /** Skew-salted join at whale-key scale: orders (big, salted by order
    * key) joined to customer (small, replicated per salt). The oracle is
    * the PLAIN join — salting must be invisible in the result. */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Skew
    val big = t(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey").as("custkey"),
      col("o_totalprice").cast("double").as("totalprice"))
    val small = t(spark, dir, "customer").select(
      col("c_custkey").as("custkey"), col("c_mktsegment"))
    Skew.saltedJoin(big, small, "custkey", saltBuckets = 8, saltBy = col("o_orderkey"))
  }

  /** The embeddings as double vectors `v`, unioned with one planted
    * near-dup per vector at `vec_id + idOffset`: a copy with 5% of the
    * next coordinate rotated in (see [[qCosineNearDups]]; the +1000001
    * offset is explained at [[qSemanticIncr]]). */
  private def plantedEmbeddings(spark: SparkSession, dir: String,
                                idOffset: Long): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val planted = emb.select(
      (col("vec_id") + lit(idOffset)).as("vec_id"),
      zip_with(col("v"), concat(slice(col("v"), 2, 63), slice(col("v"), 1, 1)),
        (x, y) => x + lit(0.05) * y).as("v"))
    emb.unionByName(planted)
  }

  /** Embedding near-dup pairs above cosine 0.9 via LSH buckets. The
    * synthetic corpus has no native near-dups (max pairwise cosine
    * ≈ 0.48), so the query plants one per vector — a copy with 5% of
    * the next coordinate rotated in (cosine vs the original ≥ 0.9987,
    * while every cross pair stays below ~0.55) — and must recover all
    * of them. At that cosine the per-pair LSH miss probability with
    * size-derived planes × 12 tables is ≤ 3e-11 at every test scale,
    * so the exact all-pairs scan is a valid DuckDB oracle (scores are
    * the same left-fold bits). The recall-vs-threshold behaviour for
    * pairs NEAR 0.9 is measured in the spec against a brute-force
    * scan. */
  def qCosineNearDups(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDups(plantedEmbeddings(spark, dir, 1000000L),
      "vec_id", "v", dim = 64, threshold = 0.9, numTables = 12)

  /** SemDeDup-style semantic dedup over the planted corpus, gated as a
    * pair-recall contract: the cluster-restricted pair set
    * ([[Similarity.semanticNearDups]]) must recover ≥ 0.9 of the
    * reference pair set — [[Similarity.cosineNearDups]], which on this
    * corpus provably equals the exact all-pairs scan the DuckDB oracle
    * runs (planted-pair LSH miss probability ~1e-11, see
    * qCosineNearDups). The hashed columns are the reference set's
    * deterministic aggregates (pair count, decimal-summed score mass)
    * plus the recall bit; the semantic pair count itself is NOT emitted
    * — k-means means are double sums whose last ulp can shift with
    * partitioning, so boundary cell assignments (and with them the
    * cross-cell miss set) are not bitwise-pinned, while planted pairs
    * co-cluster at any jitter (measured recall 1.0; floor 0.9). */
  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val corpus = plantedEmbeddings(spark, dir, 1000000L)
    val sem = Similarity.semanticNearDups(corpus, "vec_id", "v",
      threshold = 0.9) // nlist derived from distinct mass (512-vector cells)
    val ref = graft.ops.OpCaches.registered(
      Similarity.cosineNearDups(corpus, "vec_id", "v",
        dim = 64, threshold = 0.9, numTables = 12))
    val hits = ref.select("id_a", "id_b")
      .join(sem.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi")
    ref.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("score").cast("decimal(12,6)")).cast("double").as("sum_score"))
      .crossJoin(hits.agg(count(lit(1)).as("_nh")))
      .select(col("n_pairs"), col("sum_score"),
        (col("_nh").cast("double") / col("n_pairs") >= lit(0.9)).as("recall_ok"))
  }

  /** Incremental SemDeDup — the semantic index lifecycle the
    * always-ingesting pipeline runs daily, gated with the
    * q_semantic_dedup contract shape: the standing corpus (vec_id %
    * 5 ≠ 0) trains the k-means cells ONCE
    * ([[Similarity.semanticIndexBuild]]), then the arriving batch
    * (vec_id % 5 = 0) probes against the STANDING cells
    * ([[Similarity.semanticDedupBatch]]) without re-training — emitting
    * exact-cosine near-dup pairs touching the batch, old×old never
    * re-emitted. Planted near-dups ride a +1000001 id shift so the
    * planted pairs span every class (old×new, new×old, old×old —
    * suppressed, new×new). The reference is [[Similarity.cosineNearDups]]
    * (≡ the exact all-pairs scan on this corpus, see qCosineNearDups)
    * filtered to batch-touching pairs; hashed columns are its
    * deterministic aggregates plus the recall bit (floor 0.9 — standing
    * cells, not a retrain, set the boundary-miss geometry) and the
    * sidedness bit (zero emitted pairs that touch no batch id). */
  def qSemanticIncr(spark: SparkSession, dir: String): DataFrame = {
    val corpus = plantedEmbeddings(spark, dir, 1000001L)
    val isNew = col("vec_id") % 5 === 0
    val (centroids, cells) = Similarity.semanticIndexBuild(
      corpus.where(!isNew), "vec_id", "v")
    val sem = graft.ops.OpCaches.registered(Similarity.semanticDedupBatch(
      centroids, cells, corpus.where(isNew), "vec_id", "v", threshold = 0.9))
    val ref = graft.ops.OpCaches.registered(
      Similarity.cosineNearDups(corpus, "vec_id", "v",
        dim = 64, threshold = 0.9, numTables = 12)
        .where(col("id_a") % 5 === 0 || col("id_b") % 5 === 0))
    semanticBatchContract(sem, ref)
  }

  /** The incremental-SemDeDup contract aggregate shared by
    * [[qSemanticIncr]] and [[qSemanticStore]]: exact-reference pair
    * count and score sum, a ≥0.9 recall bit of the reference pairs the
    * semantic batch path found, and a sidedness bit (every emitted
    * pair touches the batch — standing×standing pairs are the full
    * recompute's job, not the probe's). */
  private def semanticBatchContract(sem: DataFrame, ref: DataFrame): DataFrame = {
    val hits = ref.select("id_a", "id_b")
      .join(sem.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi")
    val unsided = sem.where(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0)
    ref.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("score").cast("decimal(12,6)")).cast("double").as("sum_score"))
      .crossJoin(hits.agg(count(lit(1)).as("_nh")))
      .crossJoin(unsided.agg(count(lit(1)).as("_nu")))
      .select(col("n_pairs"), col("sum_score"),
        (col("_nh").cast("double") / col("n_pairs") >= lit(0.9)).as("recall_ok"),
        (col("_nu") === lit(0)).as("sided_ok"))
  }

  /** The PERSISTED SemDeDup lifecycle end-to-end, gated: init a
    * versioned [[graft.ops.SemanticIndexStore]] from ~6/7 of the
    * standing corpus in a scratch dir, append the rest against the
    * STANDING centroids (the maintenance path — assignment, never a
    * retrain), then probe the batch through the cell-pruned store
    * read. Same exact reference and contract bits as
    * [[qSemanticIncr]]: the whole lifecycle must recover ≥0.9 of the
    * reference pairs touching the batch, one-sided. The contract row
    * is materialized before the scratch store is deleted. */
  def qSemanticStore(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SemanticIndexStore
    val corpus = plantedEmbeddings(spark, dir, 1000001L)
    val isNew = col("vec_id") % 5 === 0
    val standing = corpus.where(!isNew)
    scratchGate(spark, "q-sem-store") { store =>
      SemanticIndexStore.init(standing.where(pmod(col("vec_id"), lit(7)) =!= 1),
        store, "vec_id", "v")
      SemanticIndexStore.append(spark, store,
        standing.where(pmod(col("vec_id"), lit(7)) === 1),
        "vec_id", "v", expectedBase = 0L)
      val sem = graft.ops.OpCaches.registered(
        SemanticIndexStore.probeLatest(spark, store,
          corpus.where(isNew), "vec_id", "v", threshold = 0.9))
      val ref = graft.ops.OpCaches.registered(
        Similarity.cosineNearDups(corpus, "vec_id", "v",
          dim = 64, threshold = 0.9, numTables = 12)
          .where(col("id_a") % 5 === 0 || col("id_b") % 5 === 0))
      semanticBatchContract(sem, ref)
    }
  }

  /** TOMBSTONE REMOVAL from the persisted SemDeDup store, gated: init
    * a scratch [[graft.ops.SemanticIndexStore]] over the standing side
    * of the planted corpus, [[graft.ops.SemanticIndexStore.remove]] the
    * standing docs with vec_id % 7 = 2 (an O(tombstones) delta), then
    * probe the batch. The contract is [[semanticBatchContract]] against
    * the exact cosine reference OVER CORPUS-MINUS-REMOVED — the removal
    * contract: a takedown must be answer-equivalent to never having
    * ingested the vectors — plus the sharp `removed_absent` bit: no
    * emitted pair may name a removed id (a recall ratio alone could
    * clear its floor with a few removed pairs still surfacing). */
  def qSemanticRemove(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.SemanticIndexStore
    val corpus = plantedEmbeddings(spark, dir, 1000001L)
    val isNew = col("vec_id") % 5 === 0
    val removed = !isNew && pmod(col("vec_id"), lit(7)) === 2
    scratchGate(spark, "q-sem-remove") { store =>
      SemanticIndexStore.init(corpus.where(!isNew), store, "vec_id", "v")
      SemanticIndexStore.remove(spark, store,
        corpus.where(removed).select("vec_id"), "vec_id", expectedBase = 0L)
      val sem = graft.ops.OpCaches.registered(
        SemanticIndexStore.probeLatest(spark, store,
          corpus.where(isNew), "vec_id", "v", threshold = 0.9))
      val ref = graft.ops.OpCaches.registered(
        Similarity.cosineNearDups(corpus.where(!removed), "vec_id", "v",
          dim = 64, threshold = 0.9, numTables = 12)
          .where(col("id_a") % 5 === 0 || col("id_b") % 5 === 0))
      val removedHits = sem.where(
        (col("id_a") % 5 =!= 0 && pmod(col("id_a"), lit(7)) === 2) ||
          (col("id_b") % 5 =!= 0 && pmod(col("id_b"), lit(7)) === 2))
      semanticBatchContract(sem, ref)
        .crossJoin(removedHits.agg(count(lit(1)).as("_nr")))
        .select(col("n_pairs"), col("sum_score"), col("recall_ok"),
          col("sided_ok"), (col("_nr") === 0L).as("removed_absent"))
    }
  }

  /** Embedding analytics rollup: per-label vector counts and norm
    * statistics. Norms go through the bit-stable dot kernel, then
    * DECIMAL(12,6) partials make the per-group sums order-independent
    * (a raw double sum would depend on partitioning). */
  def qEmbeddingStats(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("label"), transform(col("embedding"), _.cast("double")).as("v"))
      .select(col("label"), Similarity.norm(col("v")).as("nrm"))
    emb.groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        sum(col("nrm").cast("decimal(12,6)")).cast("double").as("sum_norm"),
        min(col("nrm")).as("min_norm"),
        max(col("nrm")).as("max_norm"))
  }

  /** Per-DIMENSION embedding statistics: mean and variance of every
    * coordinate across the corpus (embedding-drift / QA surface — a
    * collapsed or exploded dimension shows up immediately). One
    * posexplode + one hash aggregate on the 64 dimension ids; decimal
    * partial sums keep the result partition-invariant and
    * oracle-exact. */
  def qDimStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(posexplode(transform(col("embedding"), _.cast("double")))
        .as(Seq("dim", "x")))
      // ONE quantize to decimal(12,6), then all sums/products in exact
      // decimal. Quantizing at 6 digits is the cross-engine-safe scale:
      // an engine pair disagrees on a value's quantization only when a
      // rounding boundary falls inside the value's half-ulp (~1e-17
      // relative) — probability ~1e-11 at 1e-6 granularity vs ~1e-5 at
      // 1e-12, which measurably flipped single ulps at sf0.1 volume
      .select(col("dim"), col("x").cast("decimal(12,6)").as("xq"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum(col("xq")).cast("double").as("_s"),
        sum(col("xq") * col("xq")).cast("double").as("_s2"))
      // all post-aggregate arithmetic in DOUBLE: IEEE ops are
      // bit-identical across engines, decimal division scales are not
      // greatest(..., 0): E[x²] − mean² can round to a tiny negative for
      // a collapsed (constant) dimension — the exact case this QA
      // surface exists to flag; clamp in BOTH engines
      .select(col("dim"), col("n"),
        (col("_s") / col("n")).as("mean"),
        greatest(col("_s2") / col("n") - (col("_s") / col("n")) * (col("_s") / col("n")),
          lit(0.0)).as("variance"))

  /** Multimodal asset metadata: binary payload column + typed metadata +
    * frame count — the column-level half of the multimodal pipeline
    * (the decode stub itself is exercised in ScalaTest). */
  def qMultimodalMeta(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.syntheticAssets(t(spark, dir, "documents"), "doc_id", "text")
    assets.select(
      col("asset_id"),
      col("media_type"),
      col("meta.n_bytes").as("n_bytes"),
      // binary-substr prefix; == char prefix since the corpus is ASCII
      upper(hex(col("payload").substr(lit(1), lit(8)))).as("prefix_hex"),
      ceil(col("meta.n_bytes").cast("double") / 256.0).cast("long").as("n_frames"))
  }

  /** Int8 scalar quantization of the embeddings table
    * ([[Similarity.quantizeEmbeddings]]: per-dim min/max learned from
    * the corpus, codes in [-128,127]) gated through per-vector integer
    * invariants (dim count, code sum/min/max) — scalars, so the oracle
    * compare is exact-integer, immune to array-cell formatting. The
    * oracle recomputes the same codes from the same per-dim stats in
    * SQL; a quantizer off by one dimension, one rounding rule, or one
    * scale factor shifts the sums and fails the hash. */
  def qQuantizeEmbeddings(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeEmbeddings(t(spark, dir, "embeddings"), "embedding")
      .select(col("vec_id"),
        size(col("codes")).as("n_dims"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"))

  /** Little-endian byte encoding of a non-negative integer column —
    * RIFF/GIF headers are LE where PNG/JPEG are BE; byte order is just
    * hex-string order under unhex, so both assemble declaratively. */
  private def leBytes(c: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(b =>
      unhex(lpad(hex(shiftright(c, 8 * b) % 256), 2, "0"))): _*)

  /** Real image-header decode over the multimodal surface: per-document
    * PNG / JPEG / GIF payloads (doc_id mod 3) are assembled
    * declaratively (hex/unhex/concat — codegen'd, no UDF) with
    * dimensions derived from the id, then [[Multimodal.decodeImageMeta]]
    * parses format/width/height back out of the BYTES with the real
    * header codec (PNG IHDR big-endian int32s; JPEG SOF marker walk past
    * APP0; GIF little-endian screen descriptor). The oracle recomputes
    * the expected dims arithmetically, so a parser that misreads
    * offsets, endianness, or the marker stream fails the hash gate.
    * (The PNG CRC trailer is a fixed filler — header parsers, like this
    * one, don't verify CRCs; the spec covers genuine `ImageIO`-encoded
    * files of all three formats.) */
  def qImageMeta(spark: SparkSession, dir: String): DataFrame = {
    val w = (lit(16) + col("doc_id") % 31).cast("int")
    val h = (lit(16) + (col("doc_id") * 7) % 31).cast("int")
    def be(c: Column, hexDigits: Int): Column = unhex(lpad(hex(c), hexDigits, "0"))
    val png = concat(
      unhex(lit("89504E470D0A1A0A")), // signature
      unhex(lit("0000000D49484452")), // IHDR chunk: length 13, type
      be(col("w"), 8), be(col("h"), 8),
      unhex(lit("08060000001F15C489"))) // depth 8, RGBA, CRC filler
    val jpeg = concat(
      unhex(lit("FFD8")), // SOI
      unhex(lit("FFE000104A46494600010100000100010000")), // APP0 (JFIF), len 16
      unhex(lit("FFC0001108")), // SOF0, len 17, precision 8
      be(col("h"), 4), be(col("w"), 4),
      unhex(lit("03011100021101031101"))) // 3 components
    val gif = concat(
      lit("GIF89a".getBytes("US-ASCII")),
      leBytes(col("w"), 2), leBytes(col("h"), 2),
      unhex(lit("F70000"))) // screen-descriptor packed/bg/aspect bytes
    val assets = t(spark, dir, "documents")
      .select(col("doc_id").as("asset_id"), w.as("w"), h.as("h"))
      .select(col("asset_id"),
        when(col("asset_id") % 3 === 0, png)
          .when(col("asset_id") % 3 === 1, jpeg)
          .otherwise(gif).as("payload"))
    Multimodal.decodeImageMeta(assets)
  }

  /** Real audio-header decode: per-document WAV payloads (RIFF/fmt/data
    * chunks, all little-endian, assembled declaratively) carry PCM
    * geometry derived from the id; [[Multimodal.decodeAudioMeta]] walks
    * the chunk list and reports channels/rate/bits/frame-count, which
    * the oracle recomputes arithmetically. Header-only payloads (the
    * data chunk declares its size but carries no samples) — exactly the
    * metadata-scan shape a 100 TB audio corpus wants. */
  def qAudioMeta(spark: SparkSession, dir: String): DataFrame = {
    val channels = (lit(1) + col("doc_id") % 2).cast("int")
    val rate = (lit(8000) * (lit(1) + col("doc_id") % 5)).cast("int")
    val blockAlign = (channels * 2).cast("int") // 16-bit PCM
    val dataSize = ((col("doc_id") % 100 + 1) * 64).cast("int")
    val wav = concat(
      lit("RIFF".getBytes("US-ASCII")), leBytes(lit(36) + col("dsz"), 4),
      lit("WAVE".getBytes("US-ASCII")),
      lit("fmt ".getBytes("US-ASCII")), leBytes(lit(16), 4),
      leBytes(lit(1), 2), // PCM
      leBytes(col("ch"), 2), leBytes(col("rate"), 4),
      leBytes(col("rate") * col("block"), 4), // byte rate
      leBytes(col("block"), 2), leBytes(lit(16), 2),
      lit("data".getBytes("US-ASCII")), leBytes(col("dsz"), 4))
    val assets = t(spark, dir, "documents")
      .select(col("doc_id").as("asset_id"), channels.as("ch"), rate.as("rate"),
        blockAlign.as("block"), dataSize.as("dsz"))
      .select(col("asset_id"), wav.as("payload"))
    Multimodal.decodeAudioMeta(assets)
  }

  /** Full pixel decode over the multimodal surface — the tensor tier:
    * per-document GENUINE PNG payloads (encoded through the real
    * `ImageIO` PNG writer — zlib, CRCs and all — with a deterministic
    * gray formula `g(x,y) = (id+x+y) mod 256`) are decoded back to
    * band-interleaved pixel tensors by [[Multimodal.decodePixels]],
    * then reduced declaratively to per-image channel stats. The oracle
    * recomputes width/height/mean/min/max arithmetically from the
    * formula, so a decoder that drops a row, transposes the raster, or
    * misreads any sample shifts the sums and fails the hash. */
  def qPixelStats(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.syntheticPngAssets(t(spark, dir, "documents"), "doc_id")
    Multimodal.decodePixels(assets)
      .select(col("asset_id"), col("width"), col("height"), col("n_channels"),
        (aggregate(col("pixels"), lit(0L), (a, p) => a + p).cast("double") /
          size(col("pixels"))).as("px_mean"),
        array_min(col("pixels")).as("px_min"),
        array_max(col("pixels")).as("px_max"))
  }

  /** IMAGE RESIZE tier ([[Multimodal.resizeImages]] — deterministic
    * bilinear to 8×8 over the genuine-PNG fixture): the decode is the
    * [[qPixelStats]] surface, and the resize kernel is plain IEEE
    * arithmetic, so the oracle recomputes the ENTIRE resized tensor
    * from the fixture formula — half-pixel source coords, edge-clamped
    * 2×2 gather, two lerps, floor(v+0.5) — operation-for-operation in
    * SQL. A kernel that mis-centers, mis-clamps, swaps an interleave
    * index, or rounds differently shifts the sums and fails the
    * hash. */
  def qImageResize(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.syntheticPngAssets(t(spark, dir, "documents"), "doc_id")
    Multimodal.resizeImages(assets, 8, 8)
      .select(col("asset_id"), col("width"), col("height"), col("n_channels"),
        aggregate(col("pixels"), lit(0L), (a, p) => a + p).as("px_sum"),
        array_min(col("pixels")).as("px_min"),
        array_max(col("pixels")).as("px_max"))
  }

  /** PageRank over the part↔supplier supply graph
    * ([[graft.ops.Graph.pageRank]] — the link-graph quality signal a
    * corpus-curation pipeline ranks domains with), both edge
    * directions so no mass dangles, 3 synchronous rounds. The oracle
    * UNROLLS the identical three iterations in SQL: per-edge
    * contributions quantized to DECIMAL(28,14) and summed exactly
    * (the order-free sum both engines share), damping blend in plain
    * doubles — the whole rank VECTOR is hash-checked, not a summary.
    * Supplier nodes are offset by 10⁹ to share the long key space. */
  def qPageRank(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val fwd = li.select(col("l_partkey").as("src"),
      (col("l_suppkey") + lit(1000000000L)).as("dst"))
    val rev = li.select((col("l_suppkey") + lit(1000000000L)).as("src"),
      col("l_partkey").as("dst"))
    graft.ops.Graph.pageRank(fwd.unionByName(rev), "src", "dst", iters = 3)
      .withColumnRenamed("node", "node_id")
  }

  /** VIDEO FRAME tier ([[Multimodal.decodeGifFrames]] — REAL
    * multi-frame container decode: every 2nd frame of genuine animated
    * GIFs through the JDK's own sequence reader, skipped frames never
    * decoded). The fixture writes `2 + id mod 4` formula frames per
    * document, and gray GIF round-trips exactly, so the oracle
    * recomputes every sampled frame's pixel stats arithmetically — a
    * reader that miscounts the sequence, samples the wrong indices, or
    * corrupts a raster fails the hash. */
  def qVideoFrames(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.syntheticGifAssets(t(spark, dir, "documents"), "doc_id")
    Multimodal.decodeGifFrames(assets, stride = 2)
      .select(col("asset_id"), col("frame"), col("n_frames"),
        col("width"), col("height"),
        aggregate(col("pixels"), lit(0L), (a, p) => a + p).as("px_sum"),
        array_min(col("pixels")).as("px_min"),
        array_max(col("pixels")).as("px_max"))
  }

  /** AUDIO RESAMPLE tier ([[Multimodal.resampleAudio]] — deterministic
    * linear resample of the genuine-WAV fixture's mixed rates
    * (8–40 kHz) to one 16 kHz rail): the [[qImageResize]] doctrine in
    * 1-D. The oracle recomputes every resampled sample from the
    * fixture formula — integer output frame count `n·16000/src`,
    * source positions, edge clamps, lerp, floor(v+0.5) — so a kernel
    * that mis-scales positions, drops the clamp, swaps the channel
    * interleave, or mishandles negative PCM rounding fails the hash. */
  def qAudioResample(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.syntheticWavAssets(t(spark, dir, "documents"), "doc_id")
    Multimodal.resampleAudio(assets, 16000)
      .select(col("asset_id"), col("channels"), col("samples"),
        explode(sequence(lit(0), col("channels") - 1)).as("channel"))
      .select(col("asset_id"), col("channel").cast("int").as("channel"),
        (size(col("samples")) / col("channels")).cast("int").as("n_frames"),
        filter(col("samples"),
          (_, i) => i % col("channels") === col("channel")).as("cs"))
      .select(col("asset_id"), col("channel"), col("n_frames"),
        aggregate(col("cs"), lit(0L), (a, p) => a + p).as("px_sum"),
        array_min(col("cs")).as("px_min"),
        array_max(col("cs")).as("px_max"))
  }

  /** Audio SAMPLE tier over the multimodal surface — the
    * [[qPixelStats]] pattern for waveforms: per-document GENUINE WAV
    * payloads (16-bit PCM through the real
    * `javax.sound.sampled.AudioSystem` WAVE writer, samples from the
    * deterministic formula `s(f,c) = (7·id + 9973·f + 12345·c) mod 65536 −
    * 32768`) are decoded back to frame-interleaved waveforms by
    * [[Multimodal.decodeAudioSamples]], then reduced declaratively to
    * per-channel mean/RMS/peak (the de-interleave is an index-lambda
    * `filter`, the sums exact long folds — all narrow HOFs, no
    * shuffle). The oracle recomputes every sample arithmetically, so a
    * decoder that misreads the chunk walk, the sign, the endianness,
    * or the interleave shifts the sums and fails the hash. */
  def qAudioStats(spark: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.syntheticWavAssets(t(spark, dir, "documents"), "doc_id")
    Multimodal.decodeAudioSamples(assets)
      .select(col("asset_id"), col("channels"), col("sample_rate"), col("samples"),
        explode(sequence(lit(0), col("channels") - 1)).as("channel"))
      .select(col("asset_id"), col("channel"), col("sample_rate"),
        (size(col("samples")) / col("channels")).cast("int").as("n_frames"),
        filter(col("samples"),
          (_, i) => i % col("channels") === col("channel")).as("cs"))
      .select(col("asset_id"), col("channel"), col("sample_rate"), col("n_frames"),
        (aggregate(col("cs"), lit(0L), (a, x) => a + x).cast("double") /
          size(col("cs"))).as("ch_mean"),
        sqrt(aggregate(col("cs"), lit(0L),
          (a, x) => a + x.cast("long") * x).cast("double") /
          size(col("cs"))).as("ch_rms"),
        array_max(transform(col("cs"), x => abs(x))).as("ch_peak"))
  }

  /** CDC apply-changes over a deterministic synthetic changeset:
    * deletes (key%10=0), a two-step update where the later seq must win
    * (key%10=1: ×2 then ×3), an update superseded by a delete
    * (key%10=3), and fresh inserts (key%10=4 shifted to new key space).
    * Exercises latest-wins, delete-wins-over-earlier-update, upsert,
    * and untouched passthrough in one result. */
  def qCdcApply(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Cdc
    val base = t(spark, dir, "orders").select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("double").as("totalprice"),
      col("o_orderstatus"))
    def change(filterMod: Int, price: Column, status: Column, key: Column,
               op: String, seq: Long): DataFrame =
      base.where(col("o_orderkey") % 10 === filterMod).select(
        key.as("o_orderkey"), col("o_custkey"),
        price.as("totalprice"), status.as("o_orderstatus"),
        lit(op).as("op"), lit(seq).as("seq"))
    val k = col("o_orderkey")
    val p = col("totalprice")
    val s = col("o_orderstatus")
    val changes =
      change(0, p, s, k, "D", 1L)
        .unionByName(change(1, p * 2, s, k, "U", 1L))
        .unionByName(change(1, p * 3, s, k, "U", 2L))
        .unionByName(change(3, p * 2, s, k, "U", 1L))
        .unionByName(change(3, p, s, k, "D", 2L))
        // inserted keys are the NEGATED source keys: o_orderkey >= 1 at every
        // sf, so -k can never collide with a real key (an additive shift
        // collides once max(o_orderkey) reaches it — +900M broke at sf ~150)
        .unionByName(change(4, p, lit("N"), -k, "I", 1L))
    Cdc.applyChanges(base, changes, Seq("o_orderkey"), "seq", "op")
  }

  /** The dbt-test layer as a gated query: the full check suite —
    * not_null, unique, accepted_values, relationships (staging.yml /
    * marts_core.yml test types) — over the testdata tables, emitted as
    * one (model, check, violations, passed) report frame. Includes a
    * deliberately failing accepted_values check so non-zero violation
    * counting is exercised, not just the all-green path. */
  def qQualityReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.quality._
    val orders = t(spark, dir, "orders")
    val customer = t(spark, dir, "customer")
    val lineitem = t(spark, dir, "lineitem")
    Checks.reportDf(Seq(
      ("orders", orders, Seq(
        NotNull("o_orderkey"),
        Unique("o_orderkey"),
        AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        // deliberately narrow value list — counts the other priorities
        AcceptedValues("o_orderpriority", Seq("1-URGENT", "2-HIGH")),
        RelationshipTo("o_custkey", () => customer, "c_custkey"))),
      ("lineitem", lineitem, Seq(
        NotNull("l_orderkey"),
        RelationshipTo("l_orderkey", () => orders, "o_orderkey"))),
      ("customer", customer, Seq(
        NotNull("c_custkey"),
        Unique("c_custkey")))))
  }

  /** The capstone parity query: the whole bank model end-to-end through
    * the pipeline runner (O2/O3) — testdata orders shaped into the Kaggle
    * raw schema, silver staging (P1-P5, W1, F1), gold dims (A6, W2) and
    * the 4-way star fact (J1-J4) — with the entire lineage mirrored in
    * one oracle SQL statement. */
  def qBankPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Runner
    import graft.pipeline.Runner.{Model, View}
    import graft.silver.Staging
    import graft.gold.BankMarts
    val orders = t(spark, dir, "orders")
    // shape testdata into the Kaggle vehicle-loans raw schema
    val raw = orders.select(
      col("o_orderkey").cast("string").as("UniqueID"),
      date_format(col("o_orderdate"), "dd-MM-yy").as("DisbursalDate"),
      date_format(date_sub(col("o_orderdate").cast("date"), 10000), "dd-MM-yy").as("Date_of_Birth"),
      col("o_totalprice").as("disbursed_amount"),
      (col("o_totalprice") * 1.25).as("asset_cost"),
      lit(80.0).as("ltv"),
      concat(lit("S"), (col("o_custkey") % 10).cast("string")).as("supplier_id"),
      col("o_orderpriority").as("manufacturer_id"),
      when(col("o_orderstatus") === "F", 1).otherwise(0).as("loan_default"),
      concat(lit("B"), (col("o_custkey") % 7).cast("string")).as("branch_id"),
      lit("ST1").as("State_ID"),
      lit("P1").as("Current_pincode_ID"), lit("Salaried").as("Employment_Type"),
      lit(1).as("MobileNo_Avl_Flag"), lit(1).as("Aadhar_flag"), lit(0).as("PAN_flag"),
      (col("o_custkey") % 2).cast("int").as("VoterID_flag"),
      lit(0).as("Driving_flag"), lit(1).as("Passport_flag"),
      lit(650).as("PERFORM_CNS_SCORE"), lit("A").as("PERFORM_CNS_SCORE_DESCRIPTION"),
      lit(0).as("PRI_NO_OF_ACCTS"), lit(0).as("PRI_ACTIVE_ACCTS"),
      lit(0).as("PRI_OVERDUE_ACCTS"), lit(0.0).as("PRI_CURRENT_BALANCE"),
      lit(0.0).as("PRI_SANCTIONED_AMOUNT"), lit(0.0).as("PRI_DISBURSED_AMOUNT"),
      (col("o_custkey") % 3).cast("int").as("SEC_NO_OF_ACCTS"),
      lit(0).as("SEC_ACTIVE_ACCTS"), lit(0).as("SEC_OVERDUE_ACCTS"),
      lit(0.0).as("SEC_CURRENT_BALANCE"), lit(0.0).as("SEC_SANCTIONED_AMOUNT"),
      lit(0.0).as("SEC_DISBURSED_AMOUNT"),
      (col("o_totalprice") / 60.0).as("PRIMARY_INSTAL_AMT"),
      lit(0.0).as("SEC_INSTAL_AMT"),
      lit("1yrs 10mon").as("AVERAGE_ACCT_AGE"),
      lit("5yrs 2mon").as("CREDIT_HISTORY_LENGTH"),
      lit(0).as("NEW_ACCTS_IN_LAST_SIX_MONTHS"),
      lit(0).as("DELINQUENT_ACCTS_IN_LAST_SIX_MONTHS"), lit(0).as("NO_OF_INQUIRIES"))
    val models = Seq(
      Model("stg_loans", Seq("raw_loans"), r => Staging.stgCorebankLoans(r("raw_loans"))),
      Model("stg_customers", Seq("raw_loans"), r => Staging.stgCorebankCustomers(r("raw_loans"))),
      Model("dim_customer", Seq("stg_customers"), r => BankMarts.dimCustomer(r("stg_customers"))),
      Model("dim_product", Seq("stg_loans"), r => BankMarts.dimProduct(r("stg_loans"))),
      Model("dim_dealer", Seq("stg_loans"), r => BankMarts.dimDealer(r("stg_loans"))),
      Model("dim_date", Nil, _ => Dims.dateSpine(spark, "1990-01-01", "2010-12-31")),
      Model("f_loan_contract",
        Seq("stg_loans", "dim_customer", "dim_product", "dim_dealer", "dim_date"),
        r => BankMarts.fLoanContract(r("stg_loans"), r("dim_customer"),
          r("dim_product"), r("dim_dealer"), r("dim_date"))))
    val result = Runner.run(spark, Map("raw_loans" -> raw), models,
      processScratch("graft-wh", dir))
    result("f_loan_contract").select(
      col("loan_id"), col("customer_key"), col("product_key"), col("dealer_key"),
      col("origination_date_key"),
      col("amount_financed").cast("double").as("amount_financed"),
      col("asset_cost").cast("double").as("asset_cost"),
      col("ltv_ratio").cast("double").as("ltv_ratio"),
      col("primary_instal_amt").cast("double").as("primary_instal_amt"),
      col("sec_instal_amt").cast("double").as("sec_instal_amt"),
      col("loan_default"), col("term_months"),
      col("currency_code"), col("country_code"))
  }

  /** M1–M3 + D8 — schema-adaptive ingestion: a Home-Credit-shaped frame
    * is detected by its marker columns, mapped through the synonym table,
    * and staged by the generated transform (incl. the DAYS_BIRTH negative
    * day-offset decode against a pinned anchor). */
  def qAdapterStaging(spark: SparkSession, dir: String): DataFrame = {
    import graft.adapt.DatasetAdapter
    val orders = t(spark, dir, "orders")
    val raw = orders.select(
      col("o_orderkey").as("SK_ID_CURR"),
      col("o_totalprice").as("AMT_CREDIT"),
      (col("o_totalprice") * 1.2).as("AMT_GOODS_PRICE"),
      (-(col("o_custkey") % 15000) - 8000).cast("int").as("DAYS_BIRTH"),
      (-(col("o_orderkey") % 1000)).cast("int").as("DAYS_DECISION"),
      when(col("o_orderstatus") === "F", 1).otherwise(0).as("TARGET"),
      col("o_orderpriority").as("NAME_INCOME_TYPE"),
      lit("M").as("CODE_GENDER"),
      (col("o_custkey") % 3 + 1).cast("string").as("REGION_RATING_CLIENT"))
    require(DatasetAdapter.detect(raw.columns).name == "home_credit")
    decimalsToDouble(
      DatasetAdapter.stagingTransform(raw.columns, anchor = "2026-01-01")(raw))
  }

  /** The SQL-text surface (the reference's user-facing language is SQL
    * via dbt): shape a raw view, let the adapter GENERATE staging SQL
    * text (M3's codegen form), and execute that text with spark.sql —
    * proving the generated SQL and the Column-API transform agree. */
  def qSqlStaging(spark: SparkSession, dir: String): DataFrame = {
    import graft.adapt.DatasetAdapter
    val orders = t(spark, dir, "orders")
    val raw = orders.select(
      col("o_orderkey").cast("string").as("UniqueID"),
      date_format(col("o_orderdate"), "dd-MM-yy").as("DisbursalDate"),
      date_format(date_sub(col("o_orderdate").cast("date"), 10000), "dd-MM-yy").as("Date_of_Birth"),
      col("o_totalprice").as("disbursed_amount"),
      (col("o_totalprice") * 1.25).as("asset_cost"),
      lit(80.0).as("ltv"),
      concat(lit("B"), (col("o_custkey") % 10).cast("string")).as("branch_id"),
      col("o_orderpriority").as("manufacturer_id"),
      concat(lit("P"), (col("o_custkey") % 100).cast("string")).as("Current_pincode_ID"),
      lit("Salaried").as("Employment_Type"),
      lit("ST1").as("State_ID"),
      lit(650).as("PERFORM_CNS_SCORE"),
      when(col("o_orderstatus") === "F", 1).otherwise(0).as("loan_default"))
    raw.createOrReplaceTempView("raw_vehicle_loans")
    require(DatasetAdapter.detect(raw.columns).name == "vehicle_loan")
    val sql = DatasetAdapter.stagingSql(raw.columns, "raw_vehicle_loans")
    decimalsToDouble(spark.sql(sql))
  }

  /** JSON property extraction from the events props column (semi-
    * structured payload handling). */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events").select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k_value"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dealer_perf"      -> qDealerPerf,
    "q_star_contract"    -> qStarContract,
    "q_stg_project"      -> qStgProject,
    "q_safe_date_parse"  -> qSafeDateParse,
    "q_dedup_first_event" -> qDedupFirstEvent,
    "q_dim_date"         -> qDimDate,
    "q_surrogate_dim"    -> qSurrogateDim,
    "q_status_dim"       -> qStatusDim,
    "q_case_banding"     -> qCaseBanding,
    "q_null_filter"      -> qNullFilter,
    "q_filtered_fact"    -> qFilteredFact,
    "q_events_daily"     -> qEventsDaily,
    "q_approx_distinct"  -> qApproxDistinct,
    "q_sessionize_batch" -> qSessionizeBatch,
    "q_asof_join"        -> qAsofJoin,
    "q_range_join"       -> qRangeJoin,
    "q_hopping_window"   -> qHoppingWindow,
    "q_window_analytics" -> qWindowAnalytics,
    "q_set_ops"          -> qSetOps,
    "q_rollup"           -> qRollup,
    "q_cube"             -> qCube,
    "q_funnel"           -> qFunnel,
    "q_semi_anti"        -> qSemiAnti,
    "q_pivot"            -> qPivot,
    "q_unpivot"          -> qUnpivot,
    "q_profile"          -> qProfile,
    "q_grouping_sets"    -> qGroupingSets,
    "q_dedup_exact"      -> qDedupExact,
    "q_dedup_minhash"    -> qDedupMinhash,
    "q_minhash_incr"     -> qMinhashIncr,
    "q_minhash_banded"   -> qMinhashBanded,
    "q_minhash_remove"   -> qMinhashRemove,
    "q_minhash_store"    -> qMinhashStore,
    "q_ingest_loop"      -> qIngestLoop,
    "q_accepted_asof"    -> qAcceptedAsof,
    "q_train_shards"     -> qTrainShards,
    "q_shards_asof"      -> qShardsAsof,
    "q_weighted_sample"  -> qWeightedSample,
    "q_dedup_simhash"    -> qDedupSimhash,
    "q_ngram_jaccard"    -> qNgramJaccard,
    "q_text_stats"       -> qTextStats,
    "q_lang_id"          -> qLangId,
    "q_lang_stats"       -> qLangStats,
    "q_ngram_freq"       -> qNgramFreq,
    "q_length_quantiles" -> qLengthQuantiles,
    "q_repetition"       -> qRepetition,
    "q_contamination"    -> qContamination,
    "q_bloom_contamination" -> qBloomContamination,
    "q_pii_redact"       -> qPiiRedact,
    "q_rarity"           -> qRarity,
    "q_bm25"             -> qBm25,
    "q_bpe_pairs"        -> qBpePairs,
    "q_cross_dedup"      -> qCrossDedup,
    "q_stratified_sample" -> qStratifiedSample,
    "q_data_mix"         -> qDataMix,
    "q_split_assign"     -> qSplitAssign,
    "q_domain_cap"       -> qDomainCap,
    "q_seq_pack"         -> qSeqPack,
    "q_chunk_spans"      -> qChunkSpans,
    "q_approx_quantiles" -> qApproxQuantiles,
    "q_line_dedup"       -> qLineDedup,
    "q_scd2"             -> qScd2,
    "q_dedup_groups"     -> qDedupGroups,
    "q_corpus_filter"    -> qCorpusFilter,
    "q_training_corpus"  -> qTrainingCorpus,
    "q_corpus_clean"     -> qCorpusClean,
    "q_fingerprint"      -> qFingerprint,
    "q_cosine_topk"      -> qCosineTopK,
    "q_ann_lsh"          -> qAnnLsh,
    "q_ivf_topk"         -> qIvfTopK,
    "q_ivfadc_topk"      -> qIvfAdcTopK,
    "q_ivf_remove"       -> qIvfRemove,
    "q_ivf_store"        -> qIvfStore,
    "q_salted_agg"       -> qSaltedAgg,
    "q_salted_join"      -> qSaltedJoin,
    "q_embedding_stats"  -> qEmbeddingStats,
    "q_dim_stats"        -> qDimStats,
    "q_cosine_near_dups" -> qCosineNearDups,
    "q_semantic_dedup"   -> qSemanticDedup,
    "q_semantic_incr"    -> qSemanticIncr,
    "q_semantic_remove"  -> qSemanticRemove,
    "q_semantic_store"   -> qSemanticStore,
    "q_heavy_hitters"    -> qHeavyHitters,
    "q_bpe_encode"       -> qBpeEncode,
    "q_zorder"           -> qZorder,
    "q_data_skipping"    -> qDataSkipping,
    "q_bloom_skipping"   -> qBloomSkipping,
    "q_curation_gate"    -> qCurationGate,
    "q_edit_near_dups"   -> qEditNearDups,
    "q_sorted_neighbors" -> qSortedNeighbors,
    "q_entity_resolution" -> qEntityResolution,
    "q_linkage_incr"     -> qLinkageIncr,
    "q_linkage_remove"   -> qLinkageRemove,
    "q_triad_linkage"    -> qTriadLinkage,
    "q_corpus_rank"      -> qCorpusRank,
    "q_retention"        -> qRetention,
    "q_outliers"         -> qOutliers,
    "q_dup_spans"        -> qDupSpans,
    "q_span_cut"         -> qSpanCut,
    "q_lm_scores"        -> qLmScores,
    "q_table_diff"       -> qTableDiff,
    "q_table_checksum"   -> qTableChecksum,
    "q_k_anonymity"      -> qKAnonymity,
    "q_incremental_agg"  -> qIncrementalAgg,
    "q_multimodal_meta"  -> qMultimodalMeta,
    "q_image_meta"       -> qImageMeta,
    "q_pixel_stats"      -> qPixelStats,
    "q_image_resize"     -> qImageResize,
    "q_audio_resample"   -> qAudioResample,
    "q_video_frames"     -> qVideoFrames,
    "q_pagerank"         -> qPageRank,
    "q_audio_meta"       -> qAudioMeta,
    "q_audio_stats"      -> qAudioStats,
    "q_quantize_emb"     -> qQuantizeEmbeddings,
    "q_adc_topk"         -> qAdcTopK,
    "q_pq_topk"          -> qPqTopK,
    "q_json_extract"     -> qJsonExtract,
    "q_cdc_apply"        -> qCdcApply,
    "q_quality_report"   -> qQualityReport,
    "q_bank_pipeline"    -> qBankPipeline,
    "q_adapter_staging"  -> qAdapterStaging,
    "q_sql_staging"      -> qSqlStaging,
  )

  /** BM25 oracle, generated from the SAME term list and k1/b constants
    * the operator folds with — every numeric literal is interpolated
    * via Double.toString (round-trips to identical bits in DuckDB), and
    * the arithmetic mirrors the Spark expression shape operation for
    * operation (rational RSJ idf, fixed-order term sum), so the scores
    * hash-match exactly. */
  private def bm25OracleSql: String = {
    val k1 = TextOps.Bm25K1
    val b = TextOps.Bm25B
    def d(x: Double): String = s"CAST($x AS DOUBLE)"
    val tfCols = Bm25Terms.indices.map { i =>
      s"""CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |         x -> x = '${Bm25Terms(i)}')) AS BIGINT) AS tf_$i""".stripMargin
    }.mkString(",\n       ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
      .mkString(",\n              ")
    val avgdl = s"(CAST(sumdl AS DOUBLE) / CAST(nn AS DOUBLE))"
    val score = Bm25Terms.indices.map { i =>
      s"""((nn - df_$i + ${d(0.5)}) / (df_$i + ${d(0.5)}))
         |    * (CAST(tf_$i AS DOUBLE) * ${d(k1 + 1.0)})
         |    / (CAST(tf_$i AS DOUBLE) + ${d(k1)} * (${d(1.0)} - ${d(b)}
         |       + ${d(b)} * (CAST(dl AS DOUBLE) / $avgdl)))""".stripMargin
    }.mkString("\n  + ")
    s"""WITH p AS (SELECT doc_id,
       |       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
       |            x -> x <> '')) AS BIGINT) AS dl,
       |       $tfCols
       |  FROM documents),
       |s AS (SELECT count(*) AS nn, CAST(sum(dl) AS BIGINT) AS sumdl,
       |              $dfCols
       |      FROM p)
       |SELECT doc_id, dl AS n_tokens,
       |  $score AS bm25
       |FROM p CROSS JOIN s ORDER BY doc_id""".stripMargin
  }

  /** Shared ANN-contract oracle: the exact brute-force top-5 aggregate
    * (query count, result count, decimal-summed score mass) + literal
    * TRUE for the recall contract bit. */
  /** The q_dedup_minhash exact all-pairs Jaccard oracle filtered to
    * pairs touching the batch (doc_id % 5 = 0) — shared by
    * `q_minhash_incr`, `q_minhash_banded`, and `q_minhash_store`. */
  private def minhashIncrOracleSql: String =
    """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
      |              FROM documents),
      |sh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
      |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
      |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
      |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
      |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
      |          FROM sh x JOIN sh y USING (s) WHERE x.id < y.id GROUP BY 1, 2)
      |SELECT id_a, id_b, i::DOUBLE / (a.sz + b.sz - i) AS jaccard
      |FROM inter JOIN sizes a ON inter.id_a = a.id JOIN sizes b ON inter.id_b = b.id
      |WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.5
      |  AND (id_a % 5 = 0 OR id_b % 5 = 0)
      |ORDER BY id_a, id_b""".stripMargin

  /** The q_minhash_remove oracle: the q_minhash_incr exact all-pairs
    * Jaccard scan with the REMOVED corpus docs (doc_id % 5 ≠ 0 AND
    * doc_id % 7 = 1) excluded from both endpoints — the pair set a
    * fresh build over corpus-minus-removed emits, which is the store's
    * removal contract. Batch ids (% 5 = 0) never match the removal
    * predicate, so the batch side is untouched. */
  private def minhashRemoveOracleSql: String =
    """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
      |              FROM documents),
      |sh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
      |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
      |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
      |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
      |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
      |          FROM sh x JOIN sh y USING (s) WHERE x.id < y.id GROUP BY 1, 2)
      |SELECT id_a, id_b, i::DOUBLE / (a.sz + b.sz - i) AS jaccard
      |FROM inter JOIN sizes a ON inter.id_a = a.id JOIN sizes b ON inter.id_b = b.id
      |WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.5
      |  AND (id_a % 5 = 0 OR id_b % 5 = 0)
      |  AND NOT (id_a % 5 <> 0 AND id_a % 7 = 1)
      |  AND NOT (id_b % 5 <> 0 AND id_b % 7 = 1)
      |ORDER BY id_a, id_b""".stripMargin

  /** The q_ingest_loop oracle: the keep-first survivor rule replayed
    * SEQUENTIALLY in SQL over the exact all-pairs Jaccard table (the
    * minhashIncrOracleSql CTEs). Batch-1 docs (doc_id % 10 = 0) reject
    * against the corpus (% 5 ≠ 0) or a smaller batch-1 id; batch-2
    * docs (% 10 = 5) reject against the corpus, batch-1's SURVIVORS
    * (rejects never entered the index), or a smaller batch-2 id. */
  private def ingestLoopOracleSql: String =
    """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
      |              FROM documents),
      |sh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
      |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
      |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
      |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
      |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
      |          FROM sh x JOIN sh y USING (s) WHERE x.id < y.id GROUP BY 1, 2),
      |jac AS (SELECT id_a, id_b
      |        FROM inter JOIN sizes a ON inter.id_a = a.id
      |                   JOIN sizes b ON inter.id_b = b.id
      |        WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.5),
      |prs AS (SELECT id_a AS x, id_b AS y FROM jac
      |        UNION ALL SELECT id_b, id_a FROM jac),
      |corpus AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
      |b1 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
      |b2 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 5),
      |rej1 AS (SELECT DISTINCT p.x AS doc_id FROM prs p
      |         WHERE p.x IN (SELECT doc_id FROM b1)
      |           AND (p.y IN (SELECT doc_id FROM corpus)
      |                OR (p.y IN (SELECT doc_id FROM b1) AND p.y < p.x))),
      |acc1 AS (SELECT doc_id FROM b1
      |         WHERE doc_id NOT IN (SELECT doc_id FROM rej1)),
      |stand2 AS (SELECT doc_id FROM corpus UNION SELECT doc_id FROM acc1),
      |rej2 AS (SELECT DISTINCT p.x AS doc_id FROM prs p
      |         WHERE p.x IN (SELECT doc_id FROM b2)
      |           AND (p.y IN (SELECT doc_id FROM stand2)
      |                OR (p.y IN (SELECT doc_id FROM b2) AND p.y < p.x))),
      |acc2 AS (SELECT doc_id FROM b2 EXCEPT SELECT doc_id FROM rej2)
      |SELECT doc_id, CAST(0 AS INT) AS batch FROM acc1
      |UNION ALL SELECT doc_id, CAST(1 AS INT) AS batch FROM acc2
      |ORDER BY doc_id""".stripMargin

  /** The q_triad_linkage oracle: the WHOLE composition re-derived —
    * the ingestLoopOracleSql survivor replay (sequential keep-first
    * over the exact all-pairs Jaccard table; the semantic screen is a
    * gate-CHECKED no-op, see [[qTriadLinkage]]) feeding the
    * entityResolutionOracleSql recursive closure, here over the
    * survivors' (lang, 10-char-prefix) values at maxDist 3. */
  private def triadLinkageOracleSql: String =
    """WITH RECURSIVE
      |toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
      |         FROM documents),
      |sh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
      |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
      |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
      |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
      |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
      |          FROM sh x JOIN sh y USING (s) WHERE x.id < y.id GROUP BY 1, 2),
      |jac AS (SELECT id_a, id_b
      |        FROM inter JOIN sizes a ON inter.id_a = a.id
      |                   JOIN sizes b ON inter.id_b = b.id
      |        WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.5),
      |prs AS (SELECT id_a AS x, id_b AS y FROM jac
      |        UNION ALL SELECT id_b, id_a FROM jac),
      |corpus AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
      |b1 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 0),
      |b2 AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 5),
      |rej1 AS (SELECT DISTINCT p.x AS doc_id FROM prs p
      |         WHERE p.x IN (SELECT doc_id FROM b1)
      |           AND (p.y IN (SELECT doc_id FROM corpus)
      |                OR (p.y IN (SELECT doc_id FROM b1) AND p.y < p.x))),
      |acc1 AS (SELECT doc_id FROM b1
      |         WHERE doc_id NOT IN (SELECT doc_id FROM rej1)),
      |stand2 AS (SELECT doc_id FROM corpus UNION SELECT doc_id FROM acc1),
      |rej2 AS (SELECT DISTINCT p.x AS doc_id FROM prs p
      |         WHERE p.x IN (SELECT doc_id FROM b2)
      |           AND (p.y IN (SELECT doc_id FROM stand2)
      |                OR (p.y IN (SELECT doc_id FROM b2) AND p.y < p.x))),
      |acc2 AS (SELECT doc_id FROM b2
      |         WHERE doc_id NOT IN (SELECT doc_id FROM rej2)),
      |surv AS (SELECT doc_id FROM acc1 UNION ALL SELECT doc_id FROM acc2),
      |v AS (SELECT d.lang, substr(d.text, 1, 10) AS value
      |      FROM documents d JOIN surv USING (doc_id)
      |      WHERE substr(d.text, 1, 10) IS NOT NULL GROUP BY 1, 2),
      |lpairs AS (SELECT a.lang, a.value AS va, b.value AS vb
      |           FROM v a JOIN v b
      |             ON a.lang = b.lang AND a.value < b.value
      |           WHERE abs(length(a.value) - length(b.value)) <= 3
      |             AND levenshtein(a.value, b.value) <= 3),
      |ledges AS (SELECT lang || chr(1) || va AS src,
      |                  lang || chr(1) || vb AS dst FROM lpairs
      |           UNION
      |           SELECT lang || chr(1) || vb, lang || chr(1) || va
      |           FROM lpairs),
      |walk AS (SELECT src AS id, dst AS reach FROM ledges
      |         UNION
      |         SELECT w.id, e.dst FROM walk w JOIN ledges e ON w.reach = e.src),
      |comp AS (SELECT id, least(id, min(reach)) AS label FROM walk GROUP BY id)
      |SELECT d.doc_id, d.lang, substr(d.text, 1, 10) AS sig,
      |       coalesce(string_split(c.label, chr(1))[-1],
      |                substr(d.text, 1, 10)) AS canonical_sig
      |FROM documents d JOIN surv USING (doc_id)
      |LEFT JOIN comp c
      |  ON d.lang || chr(1) || substr(d.text, 1, 10) = c.id
      |ORDER BY d.doc_id""".stripMargin

  /** The q_corpus_rank oracle: the shared-vocabulary co-citation graph
    * (doc → term always, term → doc only at df ≥ 2 —
    * [[graft.ops.LinkGraph]]'s degeneracy rule) rebuilt in SQL, then
    * the q_pagerank exact-decimal round unrolled EIGHT times — the
    * checkpointed walk's depth, proven cross-engine on the whole rank
    * vector. */
  private def corpusRankOracleSql: String = {
    def iter(k: Int, prev: String): String =
      s"""c$k AS (SELECT e.dst AS node,
         |           CAST($prev.rank / deg.deg AS DECIMAL(28,14)) AS q
         |        FROM e JOIN $prev ON e.src = $prev.node
         |               JOIN deg ON e.src = deg.src),
         |s$k AS (SELECT node, sum(q) AS mass FROM c$k GROUP BY 1),
         |r$k AS (SELECT n.node,
         |           (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / p.nd
         |           + CAST(0.85 AS DOUBLE) *
         |             coalesce(CAST(s$k.mass AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
         |        FROM nodes n CROSS JOIN params p
         |        LEFT JOIN s$k ON n.node = s$k.node)""".stripMargin
    val rounds = (1 to 8).map(k => iter(k, s"r${k - 1}")).mkString(",\n")
    s"""WITH inc AS (
       |  SELECT DISTINCT 'd:' || CAST(doc_id AS VARCHAR) AS doc,
       |         't:' || tok AS term
       |  FROM (SELECT doc_id,
       |               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
       |        FROM documents WHERE text IS NOT NULL)
       |  WHERE length(tok) > 0),
       |shared AS (SELECT term FROM inc GROUP BY term HAVING count(*) >= 2),
       |e AS (SELECT doc AS src, term AS dst FROM inc
       |      UNION ALL
       |      SELECT term, doc FROM inc
       |      WHERE term IN (SELECT term FROM shared)),
       |nodes AS (SELECT DISTINCT src AS node FROM e
       |          UNION SELECT DISTINCT dst FROM e),
       |params AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST(1 AS DOUBLE) / p.nd AS rank
       |       FROM nodes CROSS JOIN params p),
       |$rounds
       |SELECT CAST(substr(node, 3) AS BIGINT) AS doc_id, rank FROM r8
       |WHERE node LIKE 'd:%' ORDER BY doc_id""".stripMargin
  }

  /** The q_semantic_dedup exact all-pairs reference with the +1000001
    * planted shift, filtered to pairs touching the batch (vec_id % 5 =
    * 0); recall and sidedness bits are the contract, emitted as TRUE.
    * Shared by `q_semantic_incr` (in-memory incremental path) and
    * `q_semantic_store` (the persisted lifecycle). */
  private def semanticIncrOracleSql: String = {
    val dotAB = sqlDot("a.v", "b.v")
    val dotAA = sqlDot("a.v", "a.v")
    val dotBB = sqlDot("b.v", "b.v")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id + 1000001 AS vec_id,
       |             list_transform(list_zip(v, v[2:64] || v[1:1]),
       |                            x -> x[1] + 0.05 * x[2]) AS v
       |      FROM e),
       |u AS (SELECT * FROM e UNION ALL SELECT * FROM p),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         $dotAB / (sqrt($dotAA) * sqrt($dotBB)) AS score
       |  FROM u a CROSS JOIN u b WHERE a.vec_id < b.vec_id)
       |SELECT count(*) AS n_pairs,
       |       CAST(SUM(CAST(score AS DECIMAL(12,6))) AS DOUBLE) AS sum_score,
       |       TRUE AS recall_ok, TRUE AS sided_ok
       |FROM pairs WHERE score >= 0.9
       |  AND (id_a % 5 = 0 OR id_b % 5 = 0)""".stripMargin
  }

  /** The q_semantic_remove oracle: the semanticIncrOracleSql exact
    * all-pairs reference with the REMOVED standing docs (id % 5 ≠ 0 AND
    * id % 7 = 2, over the shifted planted ids too) excluded from both
    * endpoints, plus the literal TRUE removed-absent bit. */
  private def semanticRemoveOracleSql: String = {
    val dotAB = sqlDot("a.v", "b.v")
    val dotAA = sqlDot("a.v", "a.v")
    val dotBB = sqlDot("b.v", "b.v")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |p AS (SELECT vec_id + 1000001 AS vec_id,
       |             list_transform(list_zip(v, v[2:64] || v[1:1]),
       |                            x -> x[1] + 0.05 * x[2]) AS v
       |      FROM e),
       |u AS (SELECT * FROM e UNION ALL SELECT * FROM p),
       |live AS (SELECT * FROM u WHERE NOT (vec_id % 5 <> 0 AND vec_id % 7 = 2)),
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |         $dotAB / (sqrt($dotAA) * sqrt($dotBB)) AS score
       |  FROM live a CROSS JOIN live b WHERE a.vec_id < b.vec_id)
       |SELECT count(*) AS n_pairs,
       |       CAST(SUM(CAST(score AS DECIMAL(12,6))) AS DOUBLE) AS sum_score,
       |       TRUE AS recall_ok, TRUE AS sided_ok, TRUE AS removed_absent
       |FROM pairs WHERE score >= 0.9
       |  AND (id_a % 5 = 0 OR id_b % 5 = 0)""".stripMargin
  }

  private def annOracleSql: String = {
    val dotQC = sqlDot("q.v", "c.v")
    val dotQQ = sqlDot("q.v", "q.v")
    val dotCC = sqlDot("c.v", "c.v")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 100),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |         $dotQC / (sqrt($dotQQ) * sqrt($dotCC)) AS score
       |  FROM e c CROSS JOIN q WHERE c.vec_id <> q.vec_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                     ORDER BY score DESC, corpus_id) AS rank FROM scored)
       |SELECT count(DISTINCT query_id) AS n_queries, count(*) AS n_exact,
       |       CAST(SUM(CAST(score AS DECIMAL(12,6))) AS DOUBLE) AS sum_score,
       |       TRUE AS recall_ok
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** The q_ivf_remove oracle: the ANN-contract aggregate computed over
    * brute-force top-5 with the removed corpus vectors (vec_id % 9 = 4,
    * vec_id ≥ 100) excluded — the exact side of the removal contract —
    * plus the literal TRUE bits for the recall floor and the
    * no-removed-id-in-output check. */
  private def ivfRemoveOracleSql: String = {
    val dotQC = sqlDot("q.v", "c.v")
    val dotQQ = sqlDot("q.v", "q.v")
    val dotCC = sqlDot("c.v", "c.v")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < 100),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
       |         $dotQC / (sqrt($dotQQ) * sqrt($dotCC)) AS score
       |  FROM e c CROSS JOIN q
       |  WHERE c.vec_id <> q.vec_id
       |    AND NOT (c.vec_id % 9 = 4 AND c.vec_id >= 100)),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |                     ORDER BY score DESC, corpus_id) AS rank FROM scored)
       |SELECT count(DISTINCT query_id) AS n_queries, count(*) AS n_exact,
       |       CAST(SUM(CAST(score AS DECIMAL(12,6))) AS DOUBLE) AS sum_score,
       |       TRUE AS recall_ok, TRUE AS no_removed
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** DuckDB stopword list literal — generated from the same Scala constant
    * the Spark queries use. */
  private def stopwordsSqlList: String =
    TextOps.defaultStopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB per-language score expression mirroring TextOps.languageId
    * (generated from the same profiles). */
  private def langScoreSql(grams: Seq[String]): String =
    grams.map(g => s"(length(t) - length(replace(t, '$g', ''))) / ${g.length}.0")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** The batch entity-resolution oracle — shared verbatim by
    * `q_entity_resolution` (the one-shot operator) and `q_linkage_incr`
    * (the [[graft.ops.LinkageStore]] lifecycle), because the store's
    * whole contract is answering exactly what the one-shot resolution
    * answers: the same distinct-value edit-distance pairs, a
    * recursive-CTE transitive closure over `brand||chr(1)||value`
    * nodes, min-label canonicalization, and the row-level relabel. */
  private val entityResolutionOracleSql: String =
    """WITH RECURSIVE
      |v AS (SELECT p_brand, p_name AS value FROM part
      |      WHERE p_name IS NOT NULL GROUP BY 1, 2),
      |pairs AS (SELECT a.p_brand, a.value AS va, b.value AS vb
      |          FROM v a JOIN v b
      |            ON a.p_brand = b.p_brand AND a.value < b.value
      |          WHERE abs(length(a.value) - length(b.value)) <= 4
      |            AND levenshtein(a.value, b.value) <= 4),
      |edges AS (SELECT p_brand || chr(1) || va AS src,
      |                 p_brand || chr(1) || vb AS dst FROM pairs
      |          UNION
      |          SELECT p_brand || chr(1) || vb, p_brand || chr(1) || va
      |          FROM pairs),
      |walk AS (SELECT src AS id, dst AS reach FROM edges
      |         UNION
      |         SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
      |comp AS (SELECT id, least(id, min(reach)) AS label FROM walk GROUP BY id)
      |SELECT p.p_partkey, p.p_brand, p.p_name,
      |       coalesce(string_split(c.label, chr(1))[-1], p.p_name) AS canonical_p_name
      |FROM part p LEFT JOIN comp c
      |  ON p.p_brand || chr(1) || p.p_name = c.id
      |ORDER BY p.p_partkey""".stripMargin

  private def langIdOracle: String = {
    val langs = TextOps.langProfiles.map(_._1)
    val scoreCols = TextOps.langProfiles
      .map { case (l, grams) => s"${langScoreSql(grams)} AS s_$l" }.mkString(",\n       ")
    // argmax with (score, lang) tuple comparison — unique winner, ties
    // break to the alphabetically-greatest lang (same as Spark's
    // greatest-over-structs)
    val argmax = langs.map { l =>
      val others = langs.filterNot(_ == l)
        .map(m => s"(s_$l, '$l') >= (s_$m, '$m')").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString("CASE ", " ", " END")
    val bestScore = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    s"""WITH s AS (
       |  SELECT doc_id, lang, $scoreCols
       |  FROM (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t FROM documents))
       |SELECT doc_id, lang,
       |       CASE WHEN $bestScore > 0 THEN $argmax ELSE 'und' END AS predicted_lang
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** The curation gate's decision function, mirrored: the same token /
    * quality / language kernels as the `q_text_stats` and `q_lang_id`
    * oracles (bit-identical individually), composed in the gate's
    * first-failure order. Constants must match [[qCurationGate]]'s
    * rule. */
  private def curationGateOracle: String = {
    val langs = TextOps.langProfiles.map(_._1)
    val scoreCols = TextOps.langProfiles
      .map { case (l, grams) => s"${langScoreSql(grams)} AS s_$l" }.mkString(",\n       ")
    val argmax = langs.map { l =>
      val others = langs.filterNot(_ == l)
        .map(m => s"(s_$l, '$l') >= (s_$m, '$m')").mkString(" AND ")
      s"WHEN $others THEN '$l'"
    }.mkString("CASE ", " ", " END")
    val bestScore = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val sw = stopwordsSqlList
    val quality =
      s"""least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
         |      + (1.0 - least((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |                     / greatest(length(text), 1) * 4.0, 1.0)) * 0.3
         |      + least(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                  x -> list_contains($sw, x)))::DOUBLE
         |              / greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                  x -> x <> '')), 1) * 5.0, 1.0) * 0.3""".stripMargin
    s"""WITH s AS (
       |  SELECT doc_id, text, $scoreCols
       |  FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS t FROM documents)),
       |v AS (
       |  SELECT doc_id, text,
       |         CASE WHEN $bestScore > 0 THEN $argmax ELSE 'und' END AS plang,
       |         len(list_filter(regexp_split_to_array(text, '\\s+'),
       |             x -> x <> '')) AS ntok,
       |         $quality AS q
       |  FROM s)
       |SELECT doc_id,
       |       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 'empty'
       |            WHEN ntok < 20 THEN 'tokens'
       |            WHEN q < 0.5 THEN 'quality'
       |            WHEN plang NOT IN ('en', 'zh') THEN 'lang'
       |            ELSE 'kept' END AS verdict
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** DuckDB sequential-fold dot product (mirrors Similarity.dot's
    * left-fold order so doubles match bit-for-bit). */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1]*x[2]), (acc, y) -> acc + y)"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_dealer_perf" ->
      """SELECT c.c_nationkey AS nation_key,
        |       CAST(strftime(o.o_orderdate, '%Y%m%d') AS BIGINT) AS date_key,
        |       COUNT(*) AS num_orders,
        |       CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS num_filled,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_star_contract" ->
      """SELECT o.o_orderkey AS contract_id,
        |       CAST(o.o_orderkey AS VARCHAR) AS contract_ref,
        |       c.c_custkey AS customer_key,
        |       c.c_name AS customer_name,
        |       n.n_name AS nation_name,
        |       r.r_name AS region_name,
        |       CAST(strftime(o.o_orderdate, '%Y%m%d') AS BIGINT) AS date_key,
        |       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS contract_amount,
        |       'INR' AS currency_code,
        |       CAST(NULL AS DOUBLE) AS interest_rate
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY contract_id""".stripMargin,
    "q_stg_project" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS item_id,
        |       CAST(l_orderkey AS VARCHAR) AS loan_ref,
        |       CAST(l_linenumber AS BIGINT) AS line_no,
        |       CAST(l_shipdate AS DATE) AS ship_date,
        |       CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS gross_amount,
        |       'RETAIL' AS customer_type,
        |       CAST(NULL AS DOUBLE) AS interest_rate
        |FROM lineitem ORDER BY item_id, line_no""".stripMargin,
    "q_safe_date_parse" ->
      """SELECT o_orderkey AS order_id,
        |       strftime(o_orderdate, '%d-%m-%y') AS date_text,
        |       CAST(try_strptime(strftime(o_orderdate, '%d-%m-%y'), '%d-%m-%y') AS DATE) AS parsed_date,
        |       CAST(try_strptime(o_orderpriority, '%d-%m-%y') AS DATE) AS bad_parse
        |FROM orders ORDER BY order_id""".stripMargin,
    "q_dedup_first_event" ->
      """SELECT user_id, event_id, CAST(ts AS DATE) AS first_date, event_type,
        |       CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |      FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_dim_date" ->
      """SELECT CAST(strftime(gs, '%Y%m%d') AS BIGINT) AS date_key,
        |       CAST(gs AS DATE) AS calendar_date,
        |       CAST(year(gs) AS INTEGER) AS year,
        |       CAST(quarter(gs) AS INTEGER) AS quarter,
        |       CAST(month(gs) AS INTEGER) AS month,
        |       CAST(weekofyear(gs) AS INTEGER) AS week_of_year,
        |       CAST(strftime(gs, '%U') AS INTEGER) AS week_of_year_sunday,
        |       CAST(dayofweek(gs) + 1 AS INTEGER) AS day_of_week,
        |       dayofweek(gs) IN (0, 6) AS is_weekend
        |FROM generate_series(DATE '2015-01-01', DATE '2030-12-31', INTERVAL 1 DAY) t(gs)
        |ORDER BY date_key""".stripMargin,
    "q_surrogate_dim" ->
      """SELECT CAST(row_number() OVER (ORDER BY p_brand) AS BIGINT) AS brand_key,
        |       p_brand, p_brand AS brand_name, 'CATALOG' AS source_system
        |FROM (SELECT DISTINCT p_brand FROM part WHERE p_brand IS NOT NULL)
        |ORDER BY brand_key""".stripMargin,
    "q_status_dim" ->
      """SELECT CAST(row_number() OVER (ORDER BY status_code) AS BIGINT) AS status_key,
        |       status_code,
        |       CASE WHEN status_code IN ('ACTIVE','CLOSED') THEN 'PERFORMING'
        |            ELSE 'NON_PERFORMING' END AS performance_class
        |FROM (SELECT 'ACTIVE' AS status_code UNION ALL SELECT 'CLOSED'
        |      UNION ALL SELECT 'DEFAULTED' UNION ALL SELECT 'WRITTEN_OFF')
        |ORDER BY status_key""".stripMargin,
    "q_case_banding" ->
      """SELECT c.c_custkey AS customer_id,
        |       CASE WHEN c.c_acctbal IS NULL THEN 'unknown'
        |            WHEN c.c_acctbal < 0 THEN 'negative'
        |            WHEN c.c_acctbal < 1000 THEN 'low'
        |            WHEN c.c_acctbal < 5000 THEN 'mid'
        |            ELSE 'high' END AS balance_band,
        |       CAST(2026 - year(f.first_order_date) AS INTEGER) AS tenure_years,
        |       CASE WHEN f.first_order_date IS NULL THEN 'unknown'
        |            WHEN 2026 - year(f.first_order_date) < 10 THEN 'recent'
        |            WHEN 2026 - year(f.first_order_date) < 20 THEN 'established'
        |            ELSE 'legacy' END AS tenure_band
        |FROM customer c
        |LEFT JOIN (SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_order_date
        |           FROM orders GROUP BY 1) f ON c.c_custkey = f.o_custkey
        |ORDER BY customer_id""".stripMargin,
    "q_null_filter" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE user_id IS NOT NULL AND props IS NOT NULL
        |  AND event_type IN ('click','view','purchase')
        |ORDER BY event_id""".stripMargin,
    "q_filtered_fact" ->
      """WITH dd AS (SELECT CAST(gs AS DATE) AS calendar_date,
        |                   CAST(strftime(gs, '%Y%m%d') AS BIGINT) AS date_key,
        |                   CAST(year(gs) AS INTEGER) AS year,
        |                   dayofweek(gs) IN (0, 6) AS is_weekend
        |            FROM generate_series(DATE '1990-01-01', DATE '2010-12-31', INTERVAL 1 DAY) t(gs))
        |SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
        |       dd.date_key, dd.year, dd.is_weekend,
        |       CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS amount
        |FROM lineitem l LEFT JOIN dd ON CAST(l.l_shipdate AS DATE) = dd.calendar_date
        |WHERE l.l_returnflag = 'R'
        |ORDER BY order_id, line_no""".stripMargin,
    "q_incremental_agg" ->
      // the FULL single-pass aggregate: the incremental split must be
      // invisible (algebraic decimal state), so no split appears here
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |       count(*) < 5 AS at_risk
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_table_checksum" ->
      // the SAME canonicalization, mirrored: string casts, chr(0) null
      // sentinel, chr(1) separators, md5, leading 15 hex digits as an
      // integer, exact sum — engine-independent by construction
      """WITH c AS (SELECT l_returnflag,
        |    concat_ws(chr(1),
        |      coalesce(CAST(l_orderkey AS VARCHAR), chr(0)),
        |      coalesce(CAST(l_linenumber AS VARCHAR), chr(0)),
        |      coalesce(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS VARCHAR), chr(0)),
        |      coalesce(CAST(CAST(l_shipdate AS DATE) AS VARCHAR), chr(0)),
        |      coalesce(CAST(l_linestatus AS VARCHAR), chr(0))) AS s
        |  FROM lineitem)
        |SELECT l_returnflag, count(*) AS n_rows,
        |       CAST(sum(CAST(('0x' || substr(md5(s),1,15)) AS UBIGINT)) AS VARCHAR) AS checksum
        |FROM c GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_table_diff" -> {
      val payload = Seq("o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      val diffs = payload.map(c =>
        s"(l.$c IS DISTINCT FROM r.$c) AS d_$c").mkString(",\n        ")
      val changedCols = payload.map(c =>
        s"CAST(sum(CASE WHEN NOT lnull AND NOT rnull AND d_$c THEN 1 ELSE 0 END) AS BIGINT) AS changed_$c")
        .mkString(",\n       ")
      val anyD = payload.map(c => s"d_$c").mkString(" OR ")
      s"""WITH mut AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus,
         |         CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice * 2
         |              ELSE o_totalprice END AS o_totalprice,
         |         o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 97 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
         |         o_totalprice, o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 103 = 0),
         |j AS (SELECT l.o_orderkey IS NULL AS lnull, r.o_orderkey IS NULL AS rnull,
         |        $diffs
         |      FROM orders l FULL OUTER JOIN mut r ON l.o_orderkey = r.o_orderkey)
         |SELECT CAST(sum(CASE WHEN lnull THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
         |       CAST(sum(CASE WHEN rnull THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |       CAST(sum(CASE WHEN NOT lnull AND NOT rnull AND ($anyD) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |       CAST(sum(CASE WHEN NOT lnull AND NOT rnull AND NOT ($anyD) THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
         |       $changedCols
         |FROM j""".stripMargin
    },
    "q_lm_scores" ->
      // same formula, ln quantized to DECIMAL(18,6) before the sum on
      // both sides; V and k*V are computed from the data in-engine
      """WITH toks AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                x -> x <> '') AS t
        |  FROM documents),
        |pairs AS (SELECT doc_id, t[i] AS a, t[i+1] AS b
        |          FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)),
        |v AS (SELECT count(DISTINCT w) AS vc
        |      FROM (SELECT unnest(t) AS w FROM toks)),
        |cab AS (SELECT a, b, count(*) AS cab FROM pairs GROUP BY 1, 2),
        |ca AS (SELECT a, count(*) AS ca FROM pairs GROUP BY 1),
        |sc AS (SELECT p.doc_id,
        |         CAST(ln((cab + 0.5) / (ca + 0.5 * vc)) AS DECIMAL(18,6)) AS lp
        |       FROM pairs p JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN v),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp
        |        FROM sc GROUP BY 1)
        |SELECT d.doc_id, a.n_bigrams,
        |       CAST(a.slp AS DOUBLE) / a.n_bigrams AS mean_logprob
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_span_cut" ->
      // the q_dup_spans span derivation verbatim, then the cut: flag
      // every position inside any of its doc's spans, reassemble the
      // kept tokens single-space-separated in position order; the final
      // left join from documents mirrors the operator's row-preserving
      // contract (null-text docs survive with NULL text_clean + zero
      // counts)
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS gram
        |        FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) > 1),
        |hits AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup d USING (gram)),
        |flag AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
        |         THEN 0 ELSE 1 END AS ns
        |  FROM hits),
        |isl AS (SELECT doc_id, pos,
        |    sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM flag),
        |spans AS (SELECT doc_id, min(pos) AS s0, max(pos) + 4 AS s1
        |          FROM isl GROUP BY doc_id, island),
        |tokpos AS (SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |           FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
        |cutf AS (SELECT tp.doc_id, tp.pos, tp.tok,
        |           max(CASE WHEN s.s0 IS NOT NULL
        |                     AND tp.pos BETWEEN s.s0 AND s.s1
        |                    THEN 1 ELSE 0 END) AS cut
        |         FROM tokpos tp LEFT JOIN spans s ON tp.doc_id = s.doc_id
        |         GROUP BY 1, 2, 3),
        |agg AS (SELECT doc_id,
        |       coalesce(string_agg(CASE WHEN cut = 0 AND tok <> '' THEN tok END, ' '
        |                           ORDER BY pos), '') AS text_clean,
        |       CAST(sum(CASE WHEN cut = 0 AND tok <> '' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_tokens_kept,
        |       CAST(sum(CASE WHEN cut = 1 AND tok <> '' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_tokens_cut
        |FROM cutf GROUP BY 1)
        |SELECT d.doc_id, a.text_clean,
        |       coalesce(a.n_tokens_kept, 0) AS n_tokens_kept,
        |       coalesce(a.n_tokens_cut, 0) AS n_tokens_cut
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_dup_spans" ->
      // gram STRINGS where Spark groups window hashes (no-collision
      // precedent); ' '-join is injective over whitespace-free tokens.
      // NO empty-token filter: TextHash.tokenize keeps the '' tokens a
      // leading/trailing non-space whitespace produces (split(trim,
      // '\s+', -1)), so the oracle must too — the fingerprint/minhash
      // oracle precedent
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |pos AS (SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+4], ' ') AS gram
        |        FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING count(*) > 1),
        |hits AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup d USING (gram)),
        |flag AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5
        |         THEN 0 ELSE 1 END AS ns
        |  FROM hits),
        |isl AS (SELECT doc_id, pos,
        |    sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM flag)
        |SELECT doc_id, CAST(min(pos) AS INTEGER) AS span_start,
        |       CAST(max(pos) + 4 AS INTEGER) AS span_end,
        |       count(*) AS n_windows
        |FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin,
    "q_outliers" ->
      // the same type-1 quantile maneuver as q_length_quantiles, run
      // twice: once for the median, once over |x − med| for the MAD
      """WITH counts AS (SELECT event_type, value AS v, count(*) AS c
        |                FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, v,
        |          sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |          sum(c) OVER (PARTITION BY event_type) AS n FROM counts),
        |med AS (SELECT event_type,
        |          min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS med
        |        FROM cum GROUP BY 1),
        |dev AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS a
        |        FROM events e JOIN med m USING (event_type)),
        |dcounts AS (SELECT event_type, a, count(*) AS c FROM dev GROUP BY 1, 2),
        |dcum AS (SELECT event_type, a,
        |           sum(c) OVER (PARTITION BY event_type ORDER BY a) AS cum,
        |           sum(c) OVER (PARTITION BY event_type) AS n FROM dcounts),
        |mad AS (SELECT event_type,
        |          min(CASE WHEN cum >= ceil(0.5 * n) THEN a END) AS mad
        |        FROM dcum GROUP BY 1)
        |SELECT d.event_type, count(*) AS n, max(d.med) AS med,
        |       max(m.mad) AS mad,
        |       CAST(sum(CASE WHEN d.a > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_retention" ->
      """WITH ev AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        |            FROM events),
        |firsts AS (SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1)
        |SELECT f.cohort_day,
        |       CAST(datediff('day', f.cohort_day, e.d) AS INTEGER) AS day_offset,
        |       COUNT(DISTINCT e.user_id) AS n_users
        |FROM ev e JOIN firsts f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_events_daily" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date, event_type,
        |       COUNT(*) AS num_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the estimate itself is engine-specific; the gate checks the exact
    // count and that Spark's estimate honored the 10% contract (oracle
    // emits literal TRUE — see qApproxDistinct)
    "q_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |       TRUE AS within_10pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sessionize_batch" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS eus,
        |         lag(epoch_us(ts))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (SELECT *, SUM(CASE WHEN prev IS NULL OR eus - prev > 1800 * 1000000 THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS UNBOUNDED PRECEDING) AS session_id FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       COUNT(*) AS n_events,
        |       CAST(MIN(ts) AS DATE) AS session_date,
        |       CAST(floor(epoch(MAX(ts))) AS BIGINT)
        |         - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_seconds
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_asof_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id,
        |       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_es,
        |       c.event_id AS click_id,
        |       CAST(CAST(c.value AS DECIMAL(18,2)) AS DOUBLE) AS click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY purchase_id""".stripMargin,
    "q_window_analytics" ->
      """SELECT user_id, event_id, CAST(ts AS DATE) AS event_date,
        |       CAST(floor(epoch(ts)) AS BIGINT)
        |         - lag(CAST(floor(epoch(ts)) AS BIGINT), 1)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS secs_since_prev,
        |       CAST(rank() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS event_rank,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |            OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling3_value
        |FROM events ORDER BY user_id, event_rank""".stripMargin,
    "q_set_ops" ->
      """WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |     buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, 'click_and_buy' AS segment FROM (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers)
        |UNION ALL
        |SELECT user_id, 'click_no_buy' AS segment FROM (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
        |ORDER BY segment, user_id""".stripMargin,
    "q_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       COUNT(*) AS num_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |       COUNT(*) AS num_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_funnel" ->
      """WITH c AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'click' GROUP BY 1),
        |v AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |      JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
        |      WHERE e.event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |      JOIN v ON e.user_id = v.user_id AND e.ts > v.t2
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT '1_click' AS stage, count(*) AS n_users FROM c
        |UNION ALL SELECT '2_view', count(*) FROM v
        |UNION ALL SELECT '3_purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin,
    "q_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS segment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS segment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_pivot" ->
      """SELECT CAST(ts AS DATE) AS event_date,
        |       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        |       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS num_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin,
    // the wide pivot matrix melted back to long form: every (date, type)
    // cell emits a row, absent cells as the filled 0 — mirrored by the
    // date × type cross join the unpivot-of-filled-pivot implies
    "q_unpivot" ->
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS event_date FROM events),
        |t AS (SELECT unnest(['click', 'view', 'purchase', 'signup', 'error']) AS event_type),
        |c AS (SELECT CAST(ts AS DATE) AS event_date, event_type,
        |             count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT d.event_date, t.event_type,
        |       CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |FROM d CROSS JOIN t
        |LEFT JOIN c ON c.event_date = d.event_date AND c.event_type = t.event_type
        |ORDER BY d.event_date, t.event_type""".stripMargin,
    "q_profile" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM customer)
        |SELECT 'c_custkey' AS "column", n_rows,
        |  (SELECT CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer) AS n_nulls,
        |  (SELECT count(DISTINCT c_custkey) FROM customer) AS n_distinct FROM n
        |UNION ALL SELECT 'c_name', n_rows,
        |  (SELECT CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer),
        |  (SELECT count(DISTINCT c_name) FROM customer) FROM n
        |UNION ALL SELECT 'c_nationkey', n_rows,
        |  (SELECT CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer),
        |  (SELECT count(DISTINCT c_nationkey) FROM customer) FROM n
        |UNION ALL SELECT 'c_acctbal', n_rows,
        |  (SELECT CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer),
        |  (SELECT count(DISTINCT c_acctbal) FROM customer) FROM n
        |UNION ALL SELECT 'c_mktsegment', n_rows,
        |  (SELECT CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer),
        |  (SELECT count(DISTINCT c_mktsegment) FROM customer) FROM n
        |ORDER BY "column"""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |sh0 AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
        |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
        |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
        |sh AS (SELECT id, s FROM sh0 JOIN rare USING (s)),
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
        |          FROM sh x JOIN sh y USING (s) WHERE x.id < y.id GROUP BY 1, 2)
        |SELECT id_a, id_b, i::DOUBLE / (a.sz + b.sz - i) AS jaccard
        |FROM inter JOIN sizes a ON inter.id_a = a.id JOIN sizes b ON inter.id_b = b.id
        |WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,
    // valid oracle because the Spark side exact-verifies every LSH
    // candidate and the banding's miss probability is ≤ 2.5e-9 in this
    // corpus's pair regime (see Dedup.minhashVerifiedDups) — the
    // approximate candidate path provably returns the exact pair set on
    // any corpus whose near-threshold pairs aren't razor-thin (this one
    // has a 0.03→0.75 jaccard gap below 0.5, measured at every sf and
    // spec-gated in OpsSpec "minhash oracle validity").
    // TRIAGE NOTE for a future hash-gate failure here: first suspect a
    // REGENERATED corpus with pair mass inside (0.03, 0.75) — i.e. a
    // banding/prefilter miss on a near-threshold pair, fixed by raising
    // numBands (and re-checking the gap spec) — NOT an operator bug.
    "q_dedup_minhash" ->
      """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |sh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
        |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
        |          FROM sh x JOIN sh y USING (s) WHERE x.id < y.id GROUP BY 1, 2)
        |SELECT id_a, id_b, i::DOUBLE / (a.sz + b.sz - i) AS jaccard
        |FROM inter JOIN sizes a ON inter.id_a = a.id JOIN sizes b ON inter.id_b = b.id
        |WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // the q_dedup_minhash exact all-pairs oracle filtered to pairs
    // touching the batch (doc_id % 5 = 0): the incremental probe must
    // emit exactly the full recompute's NEW pairs, the banded probe
    // pair-for-pair the same, and the persisted-store lifecycle
    // (split init + append + persisted-parameter probe) the same again
    "q_minhash_incr" -> minhashIncrOracleSql,
    "q_minhash_banded" -> minhashIncrOracleSql,
    "q_minhash_remove" -> minhashRemoveOracleSql,
    "q_minhash_store" -> minhashIncrOracleSql,
    "q_ingest_loop" -> ingestLoopOracleSql,
    // q_accepted_asof: the as-of corpus is a plain filter in SQL; the
    // Spark side reads it through the file-skipping surface
    // (prunedReadAccepted over fold-written stats), so hash equality
    // proves pruned ≡ filtered cross-engine, tombstones included
    "q_accepted_asof" ->
      """SELECT doc_id, CAST(doc_id % 3 AS INT) AS batch FROM documents
        |WHERE doc_id % 3 <= 1 AND doc_id % 97 <> 3
        |ORDER BY doc_id""".stripMargin,
    // q_weighted_sample: the Efraimidis–Spirakis selection recomputed
    // from the ids alone; DECIMAL(14,12) quantization of the pow keys
    // is the only non-IEEE-exact step's guard
    "q_weighted_sample" ->
      """WITH k AS (SELECT doc_id,
        |             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                   AS BIGINT) + 1) / 1152921504606846976.0 AS u,
        |             CAST(n_chars AS DOUBLE) AS w
        |           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |s AS (SELECT doc_id, CAST(pow(u, 1.0 / w) AS DECIMAL(14,12)) AS sample_key
        |      FROM k ORDER BY sample_key DESC, doc_id LIMIT 200)
        |SELECT doc_id, CAST(sample_key AS VARCHAR) AS sample_key
        |FROM s ORDER BY doc_id""".stripMargin,
    // q_train_shards: the manifest the Spark side re-reads from the
    // written shards, recomputed from the ids alone — the md5-prefix
    // shuffle key is engine-portable (the q_table_checksum arithmetic)
    "q_train_shards" ->
      """WITH k AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                       AS BIGINT) AS key
        |           FROM documents)
        |SELECT CAST(key % 16 AS INT) AS shard, count(*) AS n_rows,
        |       CAST(sum(CAST(key AS DECIMAL(20,0))) AS VARCHAR) AS key_checksum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    // q_shards_asof: the whole pinned-export composition re-derived
    // from the raw table — as-of filter + retroactive takedown feed the
    // shard arithmetic (the q_train_shards mirror), and the tombstone
    // pin is recomputed from the removal predicate itself
    "q_shards_asof" ->
      """WITH k AS (SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                       AS BIGINT) AS key
        |           FROM documents
        |           WHERE doc_id % 3 <= 1 AND doc_id % 97 <> 3),
        |t AS (SELECT count(*) AS n_tombs,
        |             CAST(sum(CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |                                AS BIGINT) AS DECIMAL(20,0))) AS VARCHAR)
        |               AS tombs_checksum
        |      FROM documents WHERE doc_id % 97 = 3)
        |SELECT CAST(key % 8 AS INT) AS shard, count(*) AS n_rows,
        |       CAST(sum(CAST(key AS DECIMAL(20,0))) AS VARCHAR) AS key_checksum,
        |       CAST(1 AS BIGINT) AS as_of_batch, t.n_tombs, t.tombs_checksum
        |FROM k, t GROUP BY 1, 4, 5, 6 ORDER BY 1""".stripMargin,
    // q_dedup_simhash is a CONTRACT GATE (the q_ann_lsh house pattern),
    // not a SQL mirror: the xxhash64 sketch values cannot be reproduced
    // in DuckDB (round-4 analysis — do not retry that conversion). The
    // Spark side compares the operator's pair set against its own exact
    // all-pairs hamming scan and emits the verdict bits; the oracle
    // checks n_docs exactly and the bits as literal TRUE.
    "q_dedup_simhash" ->
      """SELECT count(*) AS n_docs, TRUE AS found_pairs, TRUE AS pair_set_exact
        |FROM documents""".stripMargin,
    "q_text_stats" -> {
      val sw = stopwordsSqlList
      s"""SELECT doc_id,
         |  CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |       x -> x <> '')) AS INTEGER) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpeish,
         |  (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |        / greatest(length(text), 1) AS punct_ratio,
         |  (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
         |        / greatest(length(text), 1) AS digit_ratio,
         |  len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |            x -> list_contains($sw, x)))::DOUBLE
         |        / greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |            x -> x <> '')), 1) AS stopword_ratio,
         |  least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
         |      + (1.0 - least((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |                     / greatest(length(text), 1) * 4.0, 1.0)) * 0.3
         |      + least(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                  x -> list_contains($sw, x)))::DOUBLE
         |              / greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                  x -> x <> '')), 1) * 5.0, 1.0) * 0.3
         |      AS quality
         |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_lang_id" -> langIdOracle,
    "q_curation_gate" -> curationGateOracle,
    "q_edit_near_dups" ->
      // same two-stage shape: distinct (block, value) with support,
      // block-equality join, length band, DuckDB's own levenshtein
      """WITH v AS (SELECT p_brand, p_name AS value, count(*) AS n
        |           FROM part WHERE p_name IS NOT NULL GROUP BY 1, 2)
        |SELECT a.p_brand, a.value AS value_a, b.value AS value_b,
        |       CAST(levenshtein(a.value, b.value) AS INTEGER) AS dist,
        |       a.n AS n_a, b.n AS n_b
        |FROM v a JOIN v b ON a.p_brand = b.p_brand AND a.value < b.value
        |WHERE abs(length(a.value) - length(b.value)) <= 4
        |  AND levenshtein(a.value, b.value) <= 4
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_entity_resolution" -> entityResolutionOracleSql,
    // q_linkage_incr: the incremental store must answer EXACTLY what
    // the one-shot batch resolution answers over the full table — the
    // oracle is therefore the identical recursive-CTE closure; the
    // split/append lifecycle lives only on the Spark side
    "q_linkage_incr" -> entityResolutionOracleSql,
    "q_triad_linkage" -> triadLinkageOracleSql,
    "q_corpus_rank" -> corpusRankOracleSql,
    // q_linkage_remove: the same closure computed over SURVIVING values
    // only (names ending in "e" withdrawn); every row still relabels —
    // withdrawn-name rows fall back to their own name, which is the
    // store's as-if-never-ingested fallback in resolveRows
    "q_linkage_remove" ->
      """WITH RECURSIVE
        |v AS (SELECT p_brand, p_name AS value FROM part
        |      WHERE p_name IS NOT NULL AND p_name NOT LIKE '%e'
        |      GROUP BY 1, 2),
        |pairs AS (SELECT a.p_brand, a.value AS va, b.value AS vb
        |          FROM v a JOIN v b
        |            ON a.p_brand = b.p_brand AND a.value < b.value
        |          WHERE abs(length(a.value) - length(b.value)) <= 4
        |            AND levenshtein(a.value, b.value) <= 4),
        |edges AS (SELECT p_brand || chr(1) || va AS src,
        |                 p_brand || chr(1) || vb AS dst FROM pairs
        |          UNION
        |          SELECT p_brand || chr(1) || vb, p_brand || chr(1) || va
        |          FROM pairs),
        |walk AS (SELECT src AS id, dst AS reach FROM edges
        |         UNION
        |         SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
        |comp AS (SELECT id, least(id, min(reach)) AS label FROM walk GROUP BY id)
        |SELECT p.p_partkey, p.p_brand, p.p_name,
        |       coalesce(string_split(c.label, chr(1))[-1], p.p_name) AS canonical_p_name
        |FROM part p LEFT JOIN comp c
        |  ON p.p_brand || chr(1) || p.p_name = c.id
        |ORDER BY p.p_partkey""".stripMargin,
    "q_sorted_neighbors" ->
      // the naive form of the same contract: rank the distinct values,
      // self-join on rank distance 1..8 — the Spark side must emit
      // exactly this set through its bucketed equi-join
      """WITH v AS (SELECT p_name AS value, count(*) AS n
        |           FROM part WHERE p_name IS NOT NULL GROUP BY 1),
        |r AS (SELECT value, n, row_number() OVER (ORDER BY value) AS rk
        |      FROM v)
        |SELECT a.value AS value_a, b.value AS value_b,
        |       CAST(levenshtein(a.value, b.value) AS INTEGER) AS dist,
        |       a.n AS n_a, b.n AS n_b
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 8
        |WHERE abs(length(a.value) - length(b.value)) <= 4
        |  AND levenshtein(a.value, b.value) <= 4
        |ORDER BY 1, 2""".stripMargin,
    "q_ngram_freq" ->
      """WITH toks AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |bg AS (SELECT lang, unnest(CASE WHEN len(t) < 2 THEN []::VARCHAR[]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 1),
        |              i -> array_to_string(t[i:i+1], ' '))) END) AS bigram FROM toks)
        |SELECT lang, bigram, COUNT(*) AS n_docs
        |FROM bg GROUP BY lang, bigram HAVING COUNT(*) >= 20
        |ORDER BY lang, bigram""".stripMargin,
    "q_length_quantiles" ->
      """WITH counts AS (SELECT lang, n_chars AS v, count(*) AS c
        |                FROM documents GROUP BY 1, 2),
        |cum AS (SELECT lang, v,
        |          sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |          sum(c) OVER (PARTITION BY lang) AS n FROM counts)
        |SELECT lang,
        |  min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS p50,
        |  min(CASE WHEN cum >= ceil(0.9 * n) THEN v END) AS p90,
        |  min(CASE WHEN cum >= ceil(0.99 * n) THEN v END) AS p99
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,
    "q_line_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    'nav home products contact' || chr(10) || text || chr(10) ||
        |    'copyright footer all rights reserved' ||
        |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'subscribe to the newsletter'
        |         ELSE '' END AS text
        |  FROM documents),
        |sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS line_no,
        |             unnest(ls) AS line FROM sp),
        |f AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM l GROUP BY line),
        |tot AS (SELECT count(*) AS n_docs FROM d),
        |kept AS (SELECT l.* FROM l JOIN f USING (line) CROSS JOIN tot
        |         WHERE line = '' OR line_df <= n_docs * 0.5),
        |r AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean_text,
        |        count(*) AS n_lines_kept FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(clean_text, '') AS clean_text,
        |       coalesce(n_lines_kept, 0) AS n_lines_kept
        |FROM d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the sketch estimate is engine-specific; the gate checks the exact
    // discrete quantiles and that the sketch honored the 10% contract
    "q_approx_quantiles" ->
      """WITH counts AS (SELECT lang, length(text) AS v, count(*) AS c
        |                FROM documents GROUP BY 1, 2),
        |cum AS (SELECT lang, v,
        |          sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
        |          sum(c) OVER (PARTITION BY lang) AS n FROM counts)
        |SELECT lang,
        |  CAST(min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS INTEGER) AS p50,
        |  CAST(min(CASE WHEN cum >= ceil(0.9 * n) THEN v END) AS INTEGER) AS p90,
        |  TRUE AS within_10pct
        |FROM cum GROUP BY lang ORDER BY lang""".stripMargin,
    "q_repetition" ->
      """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |bg AS (SELECT id, unnest(CASE WHEN len(t) < 2 THEN []::VARCHAR[]
        |         ELSE list_transform(generate_series(1, len(t) - 1),
        |              i -> array_to_string(t[i:i+1], ' ')) END) AS g FROM toks),
        |bgc AS (SELECT id, g, count(*) AS cnt FROM bg GROUP BY id, g),
        |top AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS total_top, max(cnt) AS max_top
        |        FROM bgc GROUP BY id),
        |tg AS (SELECT id, unnest(CASE WHEN len(t) < 3 THEN []::VARCHAR[]
        |         ELSE list_transform(generate_series(1, len(t) - 2),
        |              i -> array_to_string(t[i:i+2], ' ')) END) AS g FROM toks),
        |tgc AS (SELECT id, g, count(*) AS cnt FROM tg GROUP BY id, g),
        |dup AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS total_dup,
        |               count(*) AS distinct_dup FROM tgc GROUP BY id)
        |SELECT t.id AS doc_id,
        |  coalesce(total_top, 0) AS n_top_grams,
        |  coalesce(max_top::DOUBLE / total_top, 0.0) AS top_ngram_frac,
        |  coalesce(total_dup, 0) AS n_dup_grams,
        |  coalesce((total_dup - distinct_dup)::DOUBLE / total_dup, 0.0) AS dup_ngram_frac
        |FROM toks t LEFT JOIN top USING (id) LEFT JOIN dup USING (id)
        |ORDER BY doc_id""".stripMargin,
    "q_contamination" ->
      """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |sh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
        |              i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
        |bench AS (SELECT DISTINCT s FROM sh WHERE id % 50 = 0),
        |doc AS (SELECT id, s FROM sh WHERE id % 50 <> 0),
        |totals AS (SELECT id, count(*) AS n_shingles FROM doc GROUP BY id),
        |hits AS (SELECT id, count(*) AS n_contaminated FROM doc
        |         WHERE s IN (SELECT s FROM bench) GROUP BY id)
        |SELECT t.id AS doc_id,
        |  coalesce(n_shingles, 0) AS n_shingles,
        |  coalesce(n_contaminated, 0) AS n_contaminated,
        |  coalesce(n_contaminated::DOUBLE / n_shingles, 0.0) AS contamination_frac
        |FROM toks t LEFT JOIN totals USING (id) LEFT JOIN hits USING (id)
        |WHERE t.id % 50 <> 0
        |ORDER BY doc_id""".stripMargin,
    // contract-row oracle: exact hit mass recomputed in SQL over the same
    // id%50 bench/probe split; the two Bloom contract bits are literal
    // TRUE (no-false-negatives, FP mass under bound) — hash-match means
    // the sketch screen held both properties against the exact operator
    "q_bloom_contamination" ->
      """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |sh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
        |              i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
        |bench AS (SELECT DISTINCT s FROM sh WHERE id % 50 = 0),
        |doc AS (SELECT id, s FROM sh WHERE id % 50 <> 0),
        |hits AS (SELECT count(*) AS h FROM doc
        |         WHERE s IN (SELECT s FROM bench))
        |SELECT (SELECT count(*) FROM documents WHERE doc_id % 50 <> 0) AS n_docs,
        |       CAST(h AS BIGINT) AS n_exact_hits,
        |       TRUE AS no_false_negatives, TRUE AS fp_rate_ok
        |FROM hits""".stripMargin,
    "q_salted_join" ->
      """SELECT c.c_custkey AS custkey, o.o_orderkey,
        |       CAST(o.o_totalprice AS DOUBLE) AS totalprice, c.c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_dedup_groups" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |         FROM documents),
        |sh0 AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
        |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
        |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
        |sh AS (SELECT id, s FROM sh0 JOIN rare USING (s)),
        |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
        |          FROM sh x JOIN sh y USING (s) WHERE x.id < y.id GROUP BY 1, 2),
        |pairs AS (SELECT id_a, id_b
        |          FROM inter JOIN sizes a ON inter.id_a = a.id
        |                     JOIN sizes b ON inter.id_b = b.id
        |          WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk AS (SELECT src AS id, dst AS reach FROM edges
        |         UNION
        |         SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
        |comp AS (SELECT id, least(id, min(reach)) AS group_id FROM walk GROUP BY id)
        |SELECT d.doc_id, coalesce(c.group_id, d.doc_id) AS group_id
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
        |ORDER BY d.doc_id""".stripMargin,
    "q_scd2" ->
      """WITH snap AS (SELECT c_custkey, c_mktsegment,
        |                     CAST(c_acctbal AS DOUBLE) AS acctbal FROM customer),
        |changed AS (SELECT * FROM snap WHERE c_custkey % 3 = 0 OR c_custkey % 5 = 0)
        |SELECT c_custkey, c_mktsegment, acctbal,
        |       DATE '2026-01-01' AS valid_from, DATE '2026-06-01' AS valid_to,
        |       false AS is_current
        |FROM changed
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, acctbal,
        |       DATE '2026-01-01', DATE '9999-12-31', true
        |FROM snap WHERE c_custkey % 3 <> 0 AND c_custkey % 5 <> 0
        |UNION ALL
        |SELECT c_custkey,
        |       CASE WHEN c_custkey % 3 = 0 THEN 'MOVED' ELSE c_mktsegment END,
        |       CASE WHEN c_custkey % 5 = 0 THEN acctbal + 100.0 ELSE acctbal END,
        |       DATE '2026-06-01', DATE '9999-12-31', true
        |FROM changed
        |ORDER BY c_custkey, valid_from""".stripMargin,
    "q_data_mix" ->
      """WITH w AS (
        |  SELECT doc_id, lang, source,
        |    CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2
        |              WHEN 'fr' THEN 0 WHEN 'es' THEN 1 ELSE 0 END AS full_e,
        |    CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 0
        |              WHEN 'fr' THEN 500 WHEN 'es' THEN 0 ELSE 0 END AS frac_pm,
        |    ((doc_id % 1000003) * 3266489917 % 4294967296) * 1000 >> 32 AS b
        |  FROM documents),
        |n AS (SELECT doc_id, lang, source,
        |        full_e + CASE WHEN b < frac_pm THEN 1 ELSE 0 END AS n_e FROM w)
        |SELECT doc_id, lang, source, CAST(e.epoch AS BIGINT) AS epoch
        |FROM n, unnest(range(1, n_e + 1)) AS e(epoch)
        |ORDER BY doc_id, epoch""".stripMargin,
    "q_split_assign" ->
      """WITH b AS (SELECT doc_id, lang,
        |    ((doc_id % 1000003) * 668265263 % 4294967296) * 1000 >> 32 AS bk
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN bk < 900 THEN 'train'
        |       WHEN bk < 950 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_domain_cap" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |         x -> x <> '')) AS n_tokens
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rnk
        |      FROM t)
        |SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(rnk AS INTEGER) AS domain_rank
        |FROM r WHERE rnk <= 25 ORDER BY source, rnk""".stripMargin,
    // per-document series via the SCALAR generate_series list + unnest
    // (the table function needs constant bounds in this DuckDB; the scalar
    // form takes columns) — no arbitrary token cap, any document length;
    // starts are multiples of the 30-token step, so chunk_idx = start/step
    "q_chunk_spans" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |         x -> x <> '')) AS INTEGER) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, n, unnest(generate_series(0, n - 1, 30)) AS s
        |  FROM d WHERE n > 0)
        |SELECT doc_id,
        |       CAST(s / 30 AS INTEGER) AS chunk_idx,
        |       CAST(s AS INTEGER) AS tok_start,
        |       CAST(least(s + 40, n) AS INTEGER) AS tok_end
        |FROM s
        |WHERE s = 0 OR s + 10 < n
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_seq_pack" ->
      """WITH t AS (SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(text, '\s+'),
        |         x -> x <> '')) AS n_tokens
        |  FROM documents),
        |s AS (SELECT *, SUM(n_tokens) OVER
        |        (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |        - n_tokens AS strt FROM t)
        |SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(strt // 2048 AS BIGINT) AS shard,
        |       CAST(strt % 2048 AS BIGINT) AS shard_pos
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_pii_redact" -> {
      val Seq((email, emailR), (ssn, ssnR), (phone, phoneR)) = TextOps.piiPatterns
      s"""WITH p AS (SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@example.com or 555-123-4567 ssn 123-45-6789' AS text FROM documents),
         |r AS (SELECT doc_id, text,
         |        regexp_replace(text, '$email', '$emailR', 'g') AS t1,
         |        regexp_replace(regexp_replace(text, '$email', '$emailR', 'g'),
         |          '$ssn', '$ssnR', 'g') AS t2
         |      FROM p)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email'))
         |     + len(regexp_extract_all(t1, '$ssn'))
         |     + len(regexp_extract_all(t2, '$phone')) AS INTEGER) AS n_pii,
         |  regexp_replace(t2, '$phone', '$phoneR', 'g') AS redacted
         |FROM r ORDER BY doc_id""".stripMargin
    },
    "q_bm25" -> bm25OracleSql,
    "q_bpe_pairs" ->
      """WITH toks AS (SELECT unnest(list_filter(
        |         regexp_split_to_array(lower(trim(text)), '\s+'),
        |         x -> x <> '')) AS w FROM documents),
        |wf AS (SELECT w, count(*) AS f FROM toks GROUP BY w),
        |pairs AS (SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, f
        |          FROM wf, unnest(generate_series(1, length(w) - 1)) t(i)
        |          WHERE length(w) > 1)
        |SELECT a, b, CAST(sum(f) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY a, b ORDER BY a, b""".stripMargin,
    "q_cross_dedup" ->
      """WITH toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |sh0 AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
        |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
        |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
        |rare AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 50),
        |sh AS (SELECT id, s FROM sh0 JOIN rare USING (s)),
        |l AS (SELECT id, s FROM sh WHERE id % 50 <> 0),
        |r AS (SELECT id, s FROM sh WHERE id % 50 = 0),
        |lsz AS (SELECT id, count(*) AS sz FROM l GROUP BY id),
        |rsz AS (SELECT id, count(*) AS sz FROM r GROUP BY id),
        |inter AS (SELECT l.id AS left_id, r.id AS right_id, count(*) AS i
        |          FROM l JOIN r USING (s) GROUP BY 1, 2)
        |SELECT left_id, right_id, i::DOUBLE / (a.sz + b.sz - i) AS jaccard
        |FROM inter JOIN lsz a ON left_id = a.id JOIN rsz b ON right_id = b.id
        |WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.2
        |ORDER BY left_id, right_id""".stripMargin,
    "q_stratified_sample" ->
      """WITH c AS (SELECT lang, count(*) AS ns FROM documents GROUP BY lang),
        |n AS (SELECT CAST(sum(ns) AS BIGINT) AS nn FROM c),
        |r AS (SELECT doc_id, lang, row_number() OVER
        |        (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |      FROM documents)
        |SELECT doc_id, lang, CAST(rnk AS INTEGER) AS sample_rank
        |FROM r JOIN c USING (lang) CROSS JOIN n
        |WHERE rnk = 1 OR rnk * nn <= 120 * ns
        |ORDER BY doc_id""".stripMargin,
    "q_rarity" ->
      """WITH toks AS (SELECT doc_id AS id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                x -> x <> '')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS corpus_total FROM freq),
        |scored AS (SELECT id, corpus_total::DOUBLE / freq::DOUBLE AS rarity
        |           FROM toks JOIN freq USING (tok) CROSS JOIN tot),
        |agg AS (SELECT id, count(*) AS n_tokens,
        |        CAST(sum(CAST(rarity AS DECIMAL(28,10))) AS DOUBLE)
        |          / count(*)::DOUBLE AS avg_rarity
        |        FROM scored GROUP BY id)
        |SELECT d.doc_id, coalesce(n_tokens, 0) AS n_tokens,
        |       coalesce(avg_rarity, 0.0) AS avg_rarity
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.id
        |ORDER BY doc_id""".stripMargin,
    "q_training_corpus" -> {
      val sw = stopwordsSqlList
      s"""WITH cand AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE doc_id % 50 <> 0
         |    AND least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
         |      + (1.0 - least((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |                     / greatest(length(text), 1) * 4.0, 1.0)) * 0.3
         |      + least(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                  x -> list_contains($sw, x)))::DOUBLE
         |              / greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')), 1) * 5.0, 1.0) * 0.3
         |        >= 0.3
         |    AND (len(list_filter(regexp_split_to_array(text, '\\s+'),
         |         x -> x <> ''))) >= 10),
         |toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS t FROM cand),
         |bg AS (SELECT id, unnest(CASE WHEN len(t) < 2 THEN []::VARCHAR[]
         |         ELSE list_transform(generate_series(1, len(t) - 1),
         |              i -> array_to_string(t[i:i+1], ' ')) END) AS g FROM toks),
         |bgc AS (SELECT id, g, count(*) AS cnt FROM bg GROUP BY id, g),
         |top AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS total_top, max(cnt) AS max_top
         |        FROM bgc GROUP BY id),
         |tg AS (SELECT id, unnest(CASE WHEN len(t) < 3 THEN []::VARCHAR[]
         |         ELSE list_transform(generate_series(1, len(t) - 2),
         |              i -> array_to_string(t[i:i+2], ' ')) END) AS g FROM toks),
         |tgc AS (SELECT id, g, count(*) AS cnt FROM tg GROUP BY id, g),
         |dup AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS total_dup,
         |               count(*) AS distinct_dup FROM tgc GROUP BY id),
         |rep_ok AS (SELECT t.id FROM toks t LEFT JOIN top USING (id) LEFT JOIN dup USING (id)
         |           WHERE coalesce(max_top::DOUBLE / total_top, 0.0) <= 0.08
         |             AND coalesce((total_dup - distinct_dup)::DOUBLE / total_dup, 0.0) <= 0.05),
         |csh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
         |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
         |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
         |bsh AS (SELECT DISTINCT unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
         |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
         |               i -> array_to_string(t[i:i+4], ' '))) END) AS s
         |        FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS t
         |              FROM documents WHERE doc_id % 50 = 0)),
         |totals AS (SELECT id, count(*) AS n_sh FROM csh GROUP BY id),
         |hits AS (SELECT id, count(*) AS n_hit FROM csh
         |         WHERE s IN (SELECT s FROM bsh) GROUP BY id),
         |contam_ok AS (SELECT t.id FROM toks t LEFT JOIN totals USING (id)
         |              LEFT JOIN hits USING (id)
         |              WHERE coalesce(n_hit::DOUBLE / n_sh, 0.0) <= 0.2),
         |filtered AS (SELECT c.* FROM cand c
         |             WHERE c.doc_id IN (SELECT id FROM rep_ok)
         |               AND c.doc_id IN (SELECT id FROM contam_ok)),
         |deduped AS (SELECT doc_id, lang, text FROM (
         |              SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |              FROM filtered) WHERE rn = 1),
         |mixed AS (SELECT doc_id, lang, text,
         |            CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1
         |                      WHEN 'fr' THEN 0 WHEN 'es' THEN 1 ELSE 0 END
         |            + CASE WHEN (((doc_id % 1000003) * 3266489917 % 4294967296) * 1000 >> 32) <
         |                        (CASE lang WHEN 'fr' THEN 500 ELSE 0 END)
         |                   THEN 1 ELSE 0 END AS n_e
         |          FROM deduped)
         |SELECT doc_id, lang, CAST(e.epoch AS BIGINT) AS epoch,
         |       CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |            x -> x <> '')) AS INTEGER) AS n_tokens
         |FROM mixed, unnest(range(1, n_e + 1)) AS e(epoch)
         |ORDER BY doc_id, epoch""".stripMargin
    },
    "q_corpus_filter" -> {
      val sw = stopwordsSqlList
      s"""WITH f AS (
         |  SELECT doc_id, lang, source,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |         x -> x <> '')) AS INTEGER) AS n_tokens,
         |    least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
         |      + (1.0 - least((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |                     / greatest(length(text), 1) * 4.0, 1.0)) * 0.3
         |      + least(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                  x -> list_contains($sw, x)))::DOUBLE
         |              / greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')), 1) * 5.0, 1.0) * 0.3
         |      AS quality
         |  FROM documents)
         |SELECT doc_id, lang, source, n_tokens, quality
         |FROM f WHERE quality >= 0.5 AND n_tokens >= 20
         |ORDER BY doc_id""".stripMargin
    },
    // the full pipeline mirrored: quality floor → keep-first-by-text →
    // exact-Jaccard near-dedup (valid for the same reason as
    // q_dedup_minhash: the Spark side exact-verifies LSH candidates,
    // banding miss ≤ 2.5e-9 in this corpus's pair regime)
    "q_corpus_clean" -> {
      val sw = stopwordsSqlList
      s"""WITH f AS (
         |  SELECT doc_id, lang, source, n_chars, text,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
         |         x -> x <> '')) AS INTEGER) AS n_tokens,
         |    least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
         |      + (1.0 - least((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |                     / greatest(length(text), 1) * 4.0, 1.0)) * 0.3
         |      + least(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
         |                  x -> list_contains($sw, x)))::DOUBLE
         |              / greatest(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')), 1) * 5.0, 1.0) * 0.3
         |      AS quality
         |  FROM documents),
         |q AS (SELECT doc_id, lang, source, n_chars, text FROM f
         |      WHERE quality >= 0.3 AND n_tokens >= 10),
         |ex AS (SELECT doc_id, lang, source, n_chars, text FROM
         |        (SELECT q.*, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM q)
         |       WHERE rn = 1),
         |toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS t FROM ex),
         |sh AS (SELECT id, unnest(CASE WHEN len(t) < 5 THEN []::VARCHAR[]
         |          ELSE list_distinct(list_transform(generate_series(1, len(t) - 4),
         |               i -> array_to_string(t[i:i+4], ' '))) END) AS s FROM toks),
         |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
         |inter AS (SELECT x.id AS id_a, y.id AS id_b, count(*) AS i
         |          FROM sh x JOIN sh y USING (s) WHERE x.id < y.id GROUP BY 1, 2),
         |drops AS (SELECT DISTINCT id_b
         |          FROM inter JOIN sizes a ON inter.id_a = a.id
         |                     JOIN sizes b ON inter.id_b = b.id
         |          WHERE i::DOUBLE / (a.sz + b.sz - i) >= 0.9)
         |SELECT doc_id, lang, source, n_chars FROM ex
         |WHERE doc_id NOT IN (SELECT id_b FROM drops)
         |ORDER BY doc_id""".stripMargin
    },
    "q_lang_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |       CAST(SUM(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                x -> x <> ''))) AS BIGINT) AS total_tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       COUNT(DISTINCT source) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_cosine_topk" -> {
      val dotQC = sqlDot("q.v", "c.v")
      val dotQQ = sqlDot("q.v", "q.v")
      val dotCC = sqlDot("c.v", "c.v")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, v FROM e WHERE vec_id < 100),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
         |         $dotQC / (sqrt($dotQQ) * sqrt($dotCC)) AS score
         |  FROM e c CROSS JOIN q WHERE c.vec_id <> q.vec_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                     ORDER BY score DESC, corpus_id) AS rank FROM scored)
         |SELECT query_id, corpus_id, CAST(rank AS INTEGER) AS rank, score
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },
    // both ANN contracts share the exact brute-force mirror: DuckDB
    // recomputes the exact top-k mass; recall_ok is the contract bit the
    // Spark side proves (approx-vs-exact overlap >= floor) and the
    // oracle emits as literal TRUE
    "q_ann_lsh" -> annOracleSql,
    "q_ivf_topk" -> annOracleSql,
    "q_ivfadc_topk" -> annOracleSql,
    "q_ivf_remove" -> ivfRemoveOracleSql,
    "q_ivf_store" -> annOracleSql,
    "q_adc_topk" -> annOracleSql,
    "q_pq_topk" -> annOracleSql,
    "q_fingerprint" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |              FROM documents),
        |n AS (SELECT doc_id,
        |        CASE WHEN len(t) < 5 THEN 0
        |             ELSE len(list_distinct(list_transform(generate_series(1, len(t) - 4),
        |                  i -> array_to_string(t[i:i+4], ' ')))) END AS nd
        |      FROM toks)
        |SELECT doc_id, CAST(least(8, nd) AS INTEGER) AS fp_size,
        |       TRUE AS is_sorted, TRUE AS is_distinct
        |FROM n ORDER BY doc_id""".stripMargin,
    "q_embedding_stats" -> {
      val dotVV = sqlDot("v", "v")
      s"""WITH e AS (SELECT label, sqrt($dotVV) AS nrm
         |           FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings))
         |SELECT label, COUNT(*) AS n_vectors,
         |       CAST(SUM(CAST(nrm AS DECIMAL(12,6))) AS DOUBLE) AS sum_norm,
         |       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
         |FROM e GROUP BY label ORDER BY label""".stripMargin
    },
    "q_dim_stats" ->
      """WITH x AS (
        |  SELECT CAST(i - 1 AS INTEGER) AS dim,
        |         CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,6)) AS xq
        |  FROM embeddings CROSS JOIN generate_series(1, 64) t(i)),
        |s AS (SELECT dim, count(*) AS n,
        |             CAST(SUM(xq) AS DOUBLE) AS s,
        |             CAST(SUM(xq * xq) AS DOUBLE) AS s2
        |      FROM x GROUP BY dim)
        |SELECT dim, n, s / n AS mean,
        |       greatest(s2 / n - (s / n) * (s / n), 0.0) AS variance
        |FROM s ORDER BY dim""".stripMargin,
    "q_cosine_near_dups" -> {
      // exact all-pairs scan: valid because the planted pairs' LSH miss
      // probability is ~1e-11 (see qCosineNearDups) — the approximate
      // path provably returns the exact answer on this corpus
      val dotAB = sqlDot("a.v", "b.v")
      val dotAA = sqlDot("a.v", "a.v")
      val dotBB = sqlDot("b.v", "b.v")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id + 1000000 AS vec_id,
         |             list_transform(list_zip(v, v[2:64] || v[1:1]),
         |                            x -> x[1] + 0.05 * x[2]) AS v
         |      FROM e),
         |u AS (SELECT * FROM e UNION ALL SELECT * FROM p),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         $dotAB / (sqrt($dotAA) * sqrt($dotBB)) AS score
         |  FROM u a CROSS JOIN u b WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b, score FROM pairs
         |WHERE score >= 0.9 ORDER BY id_a, id_b""".stripMargin
    },
    "q_semantic_dedup" -> {
      // the same exact all-pairs reference as q_cosine_near_dups,
      // aggregated: the recall bit is the contract, emitted as TRUE
      val dotAB = sqlDot("a.v", "b.v")
      val dotAA = sqlDot("a.v", "a.v")
      val dotBB = sqlDot("b.v", "b.v")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |p AS (SELECT vec_id + 1000000 AS vec_id,
         |             list_transform(list_zip(v, v[2:64] || v[1:1]),
         |                            x -> x[1] + 0.05 * x[2]) AS v
         |      FROM e),
         |u AS (SELECT * FROM e UNION ALL SELECT * FROM p),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |         $dotAB / (sqrt($dotAA) * sqrt($dotBB)) AS score
         |  FROM u a CROSS JOIN u b WHERE a.vec_id < b.vec_id)
         |SELECT count(*) AS n_pairs,
         |       CAST(SUM(CAST(score AS DECIMAL(12,6))) AS DOUBLE) AS sum_score,
         |       TRUE AS recall_ok
         |FROM pairs WHERE score >= 0.9""".stripMargin
    },
    "q_semantic_incr" -> semanticIncrOracleSql,
    // the store lifecycle answers the SAME contract over the same
    // fixture — init/append/pruned-probe must be invisible to the bits
    "q_semantic_remove" -> semanticRemoveOracleSql,
    "q_semantic_store" -> semanticIncrOracleSql,
    "q_bpe_encode" ->
      // the exact anchors (doc count, whitespace token total) plus the
      // three invariant bits the Spark side must prove — the learned
      // merge list has no SQL mirror, so the BPE totals gate through
      // losslessness/bounds/compression instead (simhash precedent)
      """WITH toks AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                x -> x <> '') AS t
        |  FROM documents)
        |SELECT count(*) AS n_docs,
        |       CAST(sum(len(t)) AS BIGINT) AS total_ws_tokens,
        |       TRUE AS lossless_ok, TRUE AS bounds_ok, TRUE AS compresses_ok
        |FROM toks""".stripMargin,
    "q_zorder" -> {
      // identical arithmetic, generated from the same constants: exact
      // min/max double scaling then bit interleave (bit i of column k →
      // position i*2 + k; user_id is column 0, the fine dimension)
      def bk(x: String, mn: String, mx: String) =
        s"CASE WHEN $mx = $mn THEN 0 ELSE CAST(floor((CAST($x AS DOUBLE) - $mn) / ($mx - $mn) * 65535) AS BIGINT) END"
      val inter = (0 until 16).flatMap { i =>
        Seq(s"(((bk_user_id >> $i) & 1) << ${i * 2})",
          s"(((bk_value >> $i) & 1) << ${i * 2 + 1})")
      }.mkString(" + ")
      s"""WITH s AS (SELECT min(CAST(user_id AS DOUBLE)) AS mnu,
         |                  max(CAST(user_id AS DOUBLE)) AS mxu,
         |                  min(value) AS mnv, max(value) AS mxv FROM events),
         |b AS (SELECT event_id,
         |        ${bk("user_id", "mnu", "mxu")} AS bk_user_id,
         |        ${bk("value", "mnv", "mxv")} AS bk_value
         |      FROM events CROSS JOIN s)
         |SELECT event_id, bk_user_id, bk_value,
         |       $inter AS zvalue
         |FROM b ORDER BY event_id""".stripMargin
    },
    "q_data_skipping" ->
      // layout-invariant aggregate: the Spark side answers it through a
      // stats-pruned file listing over a scratch z-ordered copy; the
      // oracle answers it over the original table — equality is the
      // pruning-soundness (completeness) check
      """SELECT count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       count(DISTINCT user_id) AS n_users,
        |       TRUE AS pruned_files
        |FROM events
        |WHERE user_id BETWEEN 3 AND 6 AND value BETWEEN 20 AND 80""".stripMargin,
    "q_bloom_skipping" ->
      // the point-lookup twin of q_data_skipping: IN-list aggregate
      // over the original table; equality checks that the Bloom
      // pruning lost no holder file (false negatives are impossible)
      """SELECT count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       TRUE AS pruned_files
        |FROM events
        |WHERE event_id IN (17, 423, 777)""".stripMargin,
    "q_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
        |              FROM documents),
        |t2 AS (SELECT lower(tk) AS token FROM toks WHERE length(tk) > 0),
        |tot AS (SELECT count(*) AS total FROM t2)
        |SELECT token, count(*) AS n
        |FROM t2 CROSS JOIN tot
        |GROUP BY token
        |HAVING count(*) * 1000 >= max(total)
        |ORDER BY token""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id AS asset_id, 'image/fake' AS media_type,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       upper(hex(encode(substr(text, 1, 8)))) AS prefix_hex,
        |       CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_frames
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q_image_meta" ->
      """SELECT doc_id AS asset_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
        |       CAST(16 + doc_id % 31 AS INTEGER) AS width,
        |       CAST(16 + (doc_id * 7) % 31 AS INTEGER) AS height
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q_pixel_stats" ->
      // the fixture formula recomputed arithmetically: per doc an
      // (8 + id%9) × (8 + 3id%9) grayscale raster with
      // g(x,y) = (id+x+y) mod 256; mean as exact integer sum over
      // exact count, divided in double — the same IEEE op Spark runs
      """WITH d AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INTEGER) AS w,
        |                  CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.w, d.h, (d.doc_id + x.i + y.i) % 256 AS g
        |       FROM d, range(16) x(i), range(16) y(i)
        |       WHERE x.i < d.w AND y.i < d.h)
        |SELECT doc_id AS asset_id,
        |       CAST(any_value(w) AS INTEGER) AS width,
        |       CAST(any_value(h) AS INTEGER) AS height,
        |       CAST(1 AS INTEGER) AS n_channels,
        |       CAST(sum(g) AS DOUBLE) / count(*) AS px_mean,
        |       CAST(min(g) AS INTEGER) AS px_min,
        |       CAST(max(g) AS INTEGER) AS px_max
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_image_resize" ->
      // the resize kernel mirrored op-for-op: source coords
      // ((t+0.5)·src/8 − 0.5), edge-clamped corners, g(x,y) =
      // (id+x+y) mod 256 gathered ARITHMETICALLY (the fixture formula —
      // no decode needed), lerp-lerp, floor(v+0.5)
      """WITH d AS (SELECT doc_id, CAST(8 + doc_id % 9 AS INTEGER) AS w,
        |                  CAST(8 + (doc_id * 3) % 9 AS INTEGER) AS h
        |           FROM documents),
        |s AS (SELECT d.doc_id, d.w, d.h,
        |             (tx.i + 0.5) * d.w / 8 - 0.5 AS sx,
        |             (ty.i + 0.5) * d.h / 8 - 0.5 AS sy
        |      FROM d, range(8) tx(i), range(8) ty(i)),
        |c AS (SELECT doc_id, w, h, sx, sy,
        |             least(w - 1, greatest(0, CAST(floor(sx) AS INTEGER))) AS x0,
        |             least(h - 1, greatest(0, CAST(floor(sy) AS INTEGER))) AS y0
        |      FROM s),
        |f AS (SELECT doc_id, x0, y0,
        |             least(w - 1, x0 + 1) AS x1, least(h - 1, y0 + 1) AS y1,
        |             least(1.0, greatest(0.0, sx - x0)) AS fx,
        |             least(1.0, greatest(0.0, sy - y0)) AS fy
        |      FROM c),
        |v AS (SELECT doc_id, fx, fy,
        |             CAST((doc_id + x0 + y0) % 256 AS DOUBLE) AS v00,
        |             CAST((doc_id + x1 + y0) % 256 AS DOUBLE) AS v10,
        |             CAST((doc_id + x0 + y1) % 256 AS DOUBLE) AS v01,
        |             CAST((doc_id + x1 + y1) % 256 AS DOUBLE) AS v11
        |      FROM f),
        |p AS (SELECT doc_id,
        |             CAST(floor((v00 + (v10 - v00) * fx) +
        |                        ((v01 + (v11 - v01) * fx) - (v00 + (v10 - v00) * fx)) * fy
        |                        + 0.5) AS INTEGER) AS px
        |      FROM v)
        |SELECT doc_id AS asset_id,
        |       CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |       CAST(1 AS INTEGER) AS n_channels,
        |       CAST(sum(px) AS BIGINT) AS px_sum,
        |       CAST(min(px) AS INTEGER) AS px_min,
        |       CAST(max(px) AS INTEGER) AS px_max
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_pagerank" -> {
      // one iteration's SQL, instantiated three times: contributions
      // r/deg quantized to DECIMAL(28,14) (exact order-free sum),
      // damping blend in doubles — op-for-op the Spark round
      def iter(k: Int, prev: String): String =
        s"""c$k AS (SELECT e.dst AS node,
           |           CAST($prev.rank / deg.deg AS DECIMAL(28,14)) AS q
           |        FROM e JOIN $prev ON e.src = $prev.node
           |               JOIN deg ON e.src = deg.src),
           |s$k AS (SELECT node, sum(q) AS mass FROM c$k GROUP BY 1),
           |r$k AS (SELECT n.node,
           |           (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / p.nd
           |           + CAST(0.85 AS DOUBLE) *
           |             coalesce(CAST(s$k.mass AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
           |        FROM nodes n CROSS JOIN params p
           |        LEFT JOIN s$k ON n.node = s$k.node)""".stripMargin
      s"""WITH e AS (
         |  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000 AS dst
         |  FROM lineitem
         |  UNION
         |  SELECT DISTINCT l_suppkey + 1000000000 AS src, l_partkey AS dst
         |  FROM lineitem),
         |nodes AS (SELECT DISTINCT src AS node FROM e
         |          UNION SELECT DISTINCT dst FROM e),
         |params AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, CAST(1 AS DOUBLE) / p.nd AS rank
         |       FROM nodes CROSS JOIN params p),
         |${iter(1, "r0")},
         |${iter(2, "r1")},
         |${iter(3, "r2")}
         |SELECT node AS node_id, rank FROM r3 ORDER BY node_id""".stripMargin
    },
    "q_video_frames" ->
      // the fixture formula per sampled frame: g(x,y,f) =
      // (id + x + y + 7f) mod 256 over (8 + id%5) × (8 + 3id%5),
      // frames f < 2 + id%4 with f % 2 = 0
      """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 4 AS INTEGER) AS nf,
        |                  CAST(8 + doc_id % 5 AS INTEGER) AS w,
        |                  CAST(8 + (doc_id * 3) % 5 AS INTEGER) AS h
        |           FROM documents),
        |px AS (SELECT d.doc_id, d.nf, d.w, d.h, f.i AS f,
        |              (d.doc_id + x.i + y.i + 7 * f.i) % 256 AS g
        |       FROM d, range(6) f(i), range(16) x(i), range(16) y(i)
        |       WHERE f.i < d.nf AND f.i % 2 = 0 AND x.i < d.w AND y.i < d.h)
        |SELECT doc_id AS asset_id, CAST(f AS INTEGER) AS frame,
        |       CAST(any_value(nf) AS INTEGER) AS n_frames,
        |       CAST(any_value(w) AS INTEGER) AS width,
        |       CAST(any_value(h) AS INTEGER) AS height,
        |       CAST(sum(g) AS BIGINT) AS px_sum,
        |       CAST(min(g) AS INTEGER) AS px_min,
        |       CAST(max(g) AS INTEGER) AS px_max
        |FROM px GROUP BY doc_id, f ORDER BY doc_id, f""".stripMargin,
    "q_audio_resample" ->
      // the 1-D kernel mirrored op-for-op over the WAV fixture formula
      // s(f,c) = (7id + 9973f + 12345c) mod 65536 − 32768: output
      // frames n·16000/src (integer floor), positions f·src/16000,
      // clamped 2-tap lerp, floor(v+0.5)
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS ch,
        |                  CAST(8000 * (1 + doc_id % 5) AS INTEGER) AS rate,
        |                  CAST(16 + doc_id % 49 AS INTEGER) AS n
        |           FROM documents),
        |g AS (SELECT d.*, CAST(greatest(1, (n * 16000) // rate) AS INTEGER) AS m
        |      FROM d),
        |s AS (SELECT g.doc_id, g.ch, g.n, g.m, f.i AS f, c.i AS c,
        |             CAST(f.i AS DOUBLE) * g.rate / 16000 AS sf
        |      FROM g, range(128) f(i), range(2) c(i)
        |      WHERE f.i < g.m AND c.i < g.ch),
        |v AS (SELECT doc_id, ch, m, f, c,
        |             least(n - 1, CAST(floor(sf) AS INTEGER)) AS f0,
        |             least(n - 1, least(n - 1, CAST(floor(sf) AS INTEGER)) + 1) AS f1,
        |             least(1.0, greatest(0.0,
        |               sf - least(n - 1, CAST(floor(sf) AS INTEGER)))) AS fx
        |      FROM s),
        |p AS (SELECT doc_id, ch, m, c,
        |             CAST(floor(
        |               CAST((7*doc_id + 9973*f0 + 12345*c) % 65536 - 32768 AS DOUBLE)
        |               + (CAST((7*doc_id + 9973*f1 + 12345*c) % 65536 - 32768 AS DOUBLE)
        |                  - CAST((7*doc_id + 9973*f0 + 12345*c) % 65536 - 32768 AS DOUBLE)) * fx
        |               + 0.5) AS INTEGER) AS px
        |      FROM v)
        |SELECT doc_id AS asset_id, CAST(c AS INTEGER) AS channel,
        |       CAST(any_value(m) AS INTEGER) AS n_frames,
        |       CAST(sum(px) AS BIGINT) AS px_sum,
        |       CAST(min(px) AS INTEGER) AS px_min,
        |       CAST(max(px) AS INTEGER) AS px_max
        |FROM p GROUP BY doc_id, c ORDER BY doc_id, c""".stripMargin,
    "q_quantize_emb" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |d AS (SELECT t.i AS i, min(e.v[t.i+1]) AS mn, max(e.v[t.i+1]) AS mx
        |      FROM e, range(64) t(i) GROUP BY 1),
        |c AS (SELECT e.vec_id,
        |             CASE WHEN d.mx = d.mn THEN 0
        |                  ELSE CAST(round((e.v[t.i+1] - d.mn) / (d.mx - d.mn) * 255) AS INTEGER) - 128
        |             END AS code
        |      FROM e, range(64) t(i), d WHERE d.i = t.i)
        |SELECT vec_id, CAST(count(*) AS INTEGER) AS n_dims,
        |       CAST(sum(code) AS BIGINT) AS code_sum,
        |       min(code) AS code_min, max(code) AS code_max
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_audio_meta" ->
      """SELECT doc_id AS asset_id,
        |       CAST(1 + doc_id % 2 AS INTEGER) AS channels,
        |       CAST(8000 * (1 + doc_id % 5) AS INTEGER) AS sample_rate,
        |       CAST(16 AS INTEGER) AS bits_per_sample,
        |       CAST(((doc_id % 100 + 1) * 64) // (2 * (1 + doc_id % 2)) AS BIGINT) AS n_frames
        |FROM documents ORDER BY asset_id""".stripMargin,
    "q_audio_stats" ->
      // the WAV fixture formula recomputed arithmetically per (doc,
      // channel): exact integer sums (|v| ≤ 32768, ≤ 64 frames — sum
      // and sum-of-squares exact in BIGINT), one double division, one
      // IEEE sqrt — the same ops Spark runs, bit-equal
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 2 AS INTEGER) AS ch,
        |                  CAST(8000 * (1 + doc_id % 5) AS INTEGER) AS rate,
        |                  CAST(16 + doc_id % 49 AS INTEGER) AS nf
        |           FROM documents),
        |s AS (SELECT d.doc_id, d.rate, d.nf, c.i AS c,
        |             (7 * d.doc_id + 9973 * f.i + 12345 * c.i) % 65536 - 32768 AS v
        |      FROM d, range(65) f(i), range(2) c(i)
        |      WHERE f.i < d.nf AND c.i < d.ch)
        |SELECT doc_id AS asset_id, CAST(c AS INTEGER) AS channel,
        |       any_value(rate) AS sample_rate,
        |       any_value(nf) AS n_frames,
        |       CAST(sum(v) AS DOUBLE) / count(*) AS ch_mean,
        |       sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)) AS ch_rms,
        |       CAST(max(abs(v)) AS INTEGER) AS ch_peak
        |FROM s GROUP BY doc_id, c ORDER BY doc_id, c""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        |FROM events ORDER BY event_id""".stripMargin,
    // window grid derived from the DATA (30-min epoch-aligned buckets, same
    // alignment as Spark's window(); first window is the one whose 2-hour
    // span still reaches min(ts)) — a hardcoded grid broke whenever the
    // driver regenerated events with a different time range
    "q_hopping_window" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL 30 MINUTE, min(ts)) - INTERVAL 90 MINUTE AS lo,
        |         time_bucket(INTERVAL 30 MINUTE, max(ts)) AS hi
        |  FROM events),
        |w AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 30 MINUTE)) AS window_start
        |  FROM b)
        |SELECT w.window_start,
        |       count(*) AS n_events,
        |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w JOIN events e
        |  ON e.ts >= w.window_start AND e.ts < w.window_start + INTERVAL 2 HOUR
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_range_join" ->
      """WITH r AS (
        |  SELECT i AS range_id,
        |         TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (i * 200) MINUTE AS start_ts,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + INTERVAL (i * 200 + (i % 7 + 1) * 40) MINUTE AS end_ts
        |  FROM generate_series(0, 199) t(i))
        |SELECT r.range_id,
        |       count(e.event_id) AS n_events,
        |       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM r LEFT JOIN events e ON e.ts >= r.start_ts AND e.ts <= r.end_ts
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey, o_custkey,
        |                     CAST(o_totalprice AS DOUBLE) AS totalprice, o_orderstatus
        |              FROM orders),
        |changes AS (
        |  SELECT o_orderkey, o_custkey, totalprice, o_orderstatus, 'D' AS op, 1 AS seq
        |  FROM base WHERE o_orderkey % 10 = 0
        |  UNION ALL SELECT o_orderkey, o_custkey, totalprice * 2, o_orderstatus, 'U', 1
        |  FROM base WHERE o_orderkey % 10 = 1
        |  UNION ALL SELECT o_orderkey, o_custkey, totalprice * 3, o_orderstatus, 'U', 2
        |  FROM base WHERE o_orderkey % 10 = 1
        |  UNION ALL SELECT o_orderkey, o_custkey, totalprice * 2, o_orderstatus, 'U', 1
        |  FROM base WHERE o_orderkey % 10 = 3
        |  UNION ALL SELECT o_orderkey, o_custkey, totalprice, o_orderstatus, 'D', 2
        |  FROM base WHERE o_orderkey % 10 = 3
        |  UNION ALL SELECT -o_orderkey, o_custkey, totalprice, 'N', 'I', 1
        |  FROM base WHERE o_orderkey % 10 = 4),
        |latest AS (SELECT * FROM
        |  (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |                                ORDER BY seq DESC, op DESC) AS rn FROM changes)
        |  WHERE rn = 1)
        |SELECT o_orderkey, o_custkey, totalprice, o_orderstatus FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = b.o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, totalprice, o_orderstatus FROM latest WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    "q_quality_report" ->
      """WITH r AS (
        |  SELECT 'orders' AS model, 'not_null(o_orderkey)' AS check_name,
        |         (SELECT count(*) FROM orders WHERE o_orderkey IS NULL) AS violations
        |  UNION ALL
        |  SELECT 'orders', 'unique(o_orderkey)',
        |         (SELECT count(*) FROM (SELECT o_orderkey FROM orders
        |          WHERE o_orderkey IS NOT NULL GROUP BY 1 HAVING count(*) > 1))
        |  UNION ALL
        |  SELECT 'orders', 'accepted_values(o_orderstatus)',
        |         (SELECT count(*) FROM orders WHERE o_orderstatus IS NOT NULL
        |          AND o_orderstatus NOT IN ('F', 'O', 'P'))
        |  UNION ALL
        |  SELECT 'orders', 'accepted_values(o_orderpriority)',
        |         (SELECT count(*) FROM orders WHERE o_orderpriority IS NOT NULL
        |          AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
        |  UNION ALL
        |  SELECT 'orders', 'relationship(o_custkey -> c_custkey)',
        |         (SELECT count(*) FROM orders o WHERE o_custkey IS NOT NULL
        |          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL
        |  SELECT 'lineitem', 'not_null(l_orderkey)',
        |         (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
        |  UNION ALL
        |  SELECT 'lineitem', 'relationship(l_orderkey -> o_orderkey)',
        |         (SELECT count(*) FROM lineitem l WHERE l_orderkey IS NOT NULL
        |          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'customer', 'not_null(c_custkey)',
        |         (SELECT count(*) FROM customer WHERE c_custkey IS NULL)
        |  UNION ALL
        |  SELECT 'customer', 'unique(c_custkey)',
        |         (SELECT count(*) FROM (SELECT c_custkey FROM customer
        |          WHERE c_custkey IS NOT NULL GROUP BY 1 HAVING count(*) > 1)))
        |SELECT model, check_name, violations, violations = 0 AS passed
        |FROM r ORDER BY model, check_name""".stripMargin,
    "q_bank_pipeline" ->
      """WITH raw AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS uid,
        |         strftime(o_orderdate, '%d-%m-%y') AS disbursal_txt,
        |         o_totalprice AS disbursed_amount,
        |         o_totalprice * 1.25 AS asset_cost,
        |         'B' || CAST(o_custkey % 7 AS VARCHAR) AS branch_id,
        |         o_orderpriority AS manufacturer_id,
        |         o_totalprice / 60.0 AS primary_instal_amt,
        |         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS loan_default
        |  FROM orders),
        |stg AS (
        |  SELECT uid AS loan_id, uid AS customer_id,
        |         CAST(try_strptime(disbursal_txt, '%d-%m-%y') AS DATE) AS application_date,
        |         CAST(disbursed_amount AS DECIMAL(38,9)) AS loan_amount,
        |         CAST(asset_cost AS DECIMAL(38,9)) AS asset_cost,
        |         CAST(80.0 AS DECIMAL(38,9)) AS ltv_ratio,
        |         CAST(primary_instal_amt AS DECIMAL(38,9)) AS primary_instal_amt,
        |         CAST(0.0 AS DECIMAL(38,9)) AS sec_instal_amt,
        |         branch_id AS dealer_id, manufacturer_id AS product_id,
        |         CAST(loan_default AS BIGINT) AS loan_default
        |  FROM raw),
        |dim_customer AS (
        |  SELECT CAST(row_number() OVER (ORDER BY customer_id) AS BIGINT) AS customer_key,
        |         customer_id
        |  FROM (SELECT DISTINCT customer_id FROM stg)),
        |dim_product AS (
        |  SELECT CAST(row_number() OVER (ORDER BY product_id NULLS FIRST) AS BIGINT) AS product_key,
        |         product_id
        |  FROM (SELECT DISTINCT product_id FROM stg)),
        |dim_dealer AS (
        |  SELECT CAST(row_number() OVER (ORDER BY dealer_id) AS BIGINT) AS dealer_key,
        |         dealer_id
        |  FROM (SELECT DISTINCT dealer_id FROM stg WHERE dealer_id IS NOT NULL)),
        |dim_date AS (
        |  SELECT CAST(gs AS DATE) AS calendar_date,
        |         CAST(strftime(gs, '%Y%m%d') AS BIGINT) AS date_key
        |  FROM generate_series(DATE '1990-01-01', DATE '2010-12-31', INTERVAL 1 DAY) t(gs))
        |SELECT s.loan_id, dc.customer_key, dp.product_key, dd.dealer_key,
        |       ddt.date_key AS origination_date_key,
        |       CAST(s.loan_amount AS DOUBLE) AS amount_financed,
        |       CAST(s.asset_cost AS DOUBLE) AS asset_cost,
        |       CAST(s.ltv_ratio AS DOUBLE) AS ltv_ratio,
        |       CAST(s.primary_instal_amt AS DOUBLE) AS primary_instal_amt,
        |       CAST(s.sec_instal_amt AS DOUBLE) AS sec_instal_amt,
        |       s.loan_default,
        |       CAST(NULL AS BIGINT) AS term_months,
        |       'INR' AS currency_code,
        |       'IN' AS country_code
        |FROM stg s
        |LEFT JOIN dim_customer dc ON s.customer_id = dc.customer_id
        |LEFT JOIN dim_product dp ON s.product_id = dp.product_id
        |LEFT JOIN dim_dealer dd ON s.dealer_id = dd.dealer_id
        |LEFT JOIN dim_date ddt ON s.application_date = ddt.calendar_date
        |ORDER BY s.loan_id""".stripMargin,
    "q_adapter_staging" ->
      """SELECT DATE '2026-01-01' + CAST(-(o_orderkey % 1000) AS INTEGER) AS application_date,
        |       CAST(CAST(o_totalprice * 1.2 AS DECIMAL(38,9)) AS DOUBLE) AS asset_cost,
        |       CAST(o_orderkey AS VARCHAR) AS customer_id,
        |       DATE '2026-01-01' + CAST((-(o_custkey % 15000) - 8000) AS INTEGER) AS date_of_birth,
        |       o_orderpriority AS employment_type,
        |       'M' AS gender,
        |       CAST(CAST(o_totalprice AS DECIMAL(38,9)) AS DOUBLE) AS loan_amount,
        |       CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS loan_default,
        |       CAST(o_orderkey AS VARCHAR) AS loan_id,
        |       CAST(o_custkey % 3 + 1 AS VARCHAR) AS state_id
        |FROM orders ORDER BY loan_id""".stripMargin,
    "q_salted_agg" ->
      """SELECT l_returnflag,
        |       COUNT(*) AS num_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_sql_staging" ->
      """SELECT CAST(try_strptime(strftime(o_orderdate, '%d-%m-%y'), '%d-%m-%y') AS DATE) AS application_date,
        |       CAST(CAST(o_totalprice * 1.25 AS DECIMAL(38,9)) AS DOUBLE) AS asset_cost,
        |       'B' || CAST(o_custkey % 10 AS VARCHAR) AS branch_id,
        |       CAST(650 AS BIGINT) AS credit_score,
        |       CAST(o_orderkey AS VARCHAR) AS customer_id,
        |       CAST(try_strptime(strftime(CAST(o_orderdate AS DATE) - 10000, '%d-%m-%y'), '%d-%m-%y') AS DATE) AS date_of_birth,
        |       'Salaried' AS employment_type,
        |       CAST(CAST(o_totalprice AS DECIMAL(38,9)) AS DOUBLE) AS loan_amount,
        |       CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS BIGINT) AS loan_default,
        |       CAST(o_orderkey AS VARCHAR) AS loan_id,
        |       CAST(CAST(80.0 AS DECIMAL(38,9)) AS DOUBLE) AS ltv_ratio,
        |       'P' || CAST(o_custkey % 100 AS VARCHAR) AS pincode_id,
        |       o_orderpriority AS product_id,
        |       'ST1' AS state_id
        |FROM orders ORDER BY loan_id""".stripMargin,
  )
}
