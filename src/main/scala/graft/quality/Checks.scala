package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-quality checks — the dbt schema-test layer as DataFrame
  * assertions. Ref: `/root/reference/dbt/models/staging/staging.yml:12-28`,
  * `marts_core.yml:3-16` (not_null / unique on key columns), executed like
  * `dbt test` (`dags/bank_etl_dag.py:66-72`): a failing check returns the
  * violating-row count rather than throwing, so a runner can aggregate.
  *
  * Scale notes: notNull is a single filtered count (pushdown-friendly);
  * unique is one hash aggregate — both single-shuffle or less. accepted
  * values is a broadcast-free isin filter; relationships is a left-anti
  * join (broadcast when the parent key set fits). Each check also exposes
  * a one-row COUNT FRAME so a whole suite can run as one declarative
  * union ([[Checks.reportDf]]) instead of N driver-side `.count()`
  * actions.
  */
sealed trait QualityCheck {
  def name: String

  /** One-row frame holding the violating-row count (column `violations`,
    * always non-null — empty inputs count as 0). */
  def violationsFrame(df: DataFrame): DataFrame

  /** Per-ROW violation predicate, for checks that are a plain
    * conditional count over the model (no shuffle of their own):
    * [[Checks.reportDf]] fuses every such check on one model into ONE
    * aggregate pass — at 100 TB, a suite of three row-level checks must
    * cost one scan, not three. None ⇒ the check needs its own plan
    * (unique's aggregate, relationship's anti-join). */
  private[quality] def rowViolation(df: DataFrame): Option[org.apache.spark.sql.Column] = None

  /** Number of violating rows (0 = pass). */
  def violations(df: DataFrame): Long =
    violationsFrame(df).collect()(0).getLong(0)
}

final case class NotNull(column: String) extends QualityCheck {
  val name = s"not_null($column)"
  def violationsFrame(df: DataFrame): DataFrame =
    df.agg(coalesce(sum(when(col(column).isNull, 1L).otherwise(0L)), lit(0L))
      .as("violations"))
  override private[quality] def rowViolation(df: DataFrame) =
    Some(col(column).isNull)
}

/** dbt semantics: violations = number of KEY VALUES appearing more than
  * once (not the number of extra rows). */
final case class Unique(column: String) extends QualityCheck {
  val name = s"unique($column)"
  def violationsFrame(df: DataFrame): DataFrame =
    df.where(col(column).isNotNull)
      .groupBy(col(column)).agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
      .agg(count(lit(1)).as("violations"))
}

final case class AcceptedValues(column: String, values: Seq[String]) extends QualityCheck {
  val name = s"accepted_values($column)"
  def violationsFrame(df: DataFrame): DataFrame =
    df.agg(coalesce(sum(when(col(column).isNotNull && !col(column).isin(values: _*),
      1L).otherwise(0L)), lit(0L)).as("violations"))
  override private[quality] def rowViolation(df: DataFrame) =
    Some(col(column).isNotNull && !col(column).isin(values: _*))
}

/** Referential integrity: every non-null FK value exists in the parent
  * (dbt `relationships` test). Left-anti join — no row explosion. The
  * parent key is renamed to a reserved name before the join: the most
  * common dbt shape has the FK and the parent key SHARING a name
  * (`customer_id -> customer_id`), and a bare same-name equality would
  * be an ambiguous reference, crashing the check instead of counting. */
final case class RelationshipTo(column: String, parent: () => DataFrame,
                                parentColumn: String) extends QualityCheck {
  val name = s"relationship($column -> $parentColumn)"
  def violationsFrame(df: DataFrame): DataFrame = {
    val pk = "__graft_parent_key"
    df.where(col(column).isNotNull)
      .join(parent().select(col(parentColumn).as(pk)), col(column) === col(pk), "left_anti")
      .agg(count(lit(1)).as("violations"))
  }
}

final case class CheckResult(model: String, check: String, violations: Long) {
  def passed: Boolean = violations == 0
}

object Checks {
  /** The whole suite as ONE DataFrame — (model, check_name, violations,
    * passed), one row per check — so `dbt test` output is itself a
    * queryable, oracle-checkable result set. Counts stay distributed
    * (no driver-side `.count()` loop). Row-level checks (NotNull,
    * AcceptedValues) on one model FUSE into a single aggregate pass —
    * one conditional-sum column per check, one scan of the model,
    * exploded back to report rows — because at the design scale a
    * three-check suite must read the table once, not three times;
    * checks that need their own plan (unique's aggregate,
    * relationship's anti-join) keep their own union branch. */
  def reportDf(suite: Seq[(String, DataFrame, Seq[QualityCheck])]): DataFrame = {
    require(suite.exists(_._3.nonEmpty),
      "reportDf needs at least one check (the union has no empty form)")
    val rows = suite.flatMap { case (model, df, checks) =>
      val withPred = checks.map(c => c -> c.rowViolation(df))
      val fusable = withPred.collect { case (c, Some(p)) => c -> p }
      val own = withPred.collect { case (c, None) => c }
      val fused =
        if (fusable.isEmpty) Nil
        else {
          val aggs = fusable.zipWithIndex.map { case ((_, p), i) =>
            coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L)).as(s"_v$i") }
          val reportRows = fusable.zipWithIndex.map { case ((c, _), i) =>
            struct(lit(c.name).as("check_name"), col(s"_v$i").as("violations")) }
          Seq(df.agg(aggs.head, aggs.tail: _*)
            .select(explode(array(reportRows: _*)).as("_r"))
            .select(lit(model).as("model"), col("_r.check_name"),
              col("_r.violations"),
              (col("_r.violations") === 0L).as("passed")))
        }
      fused ++ own.map(check => check.violationsFrame(df)
        .select(lit(model).as("model"), lit(check.name).as("check_name"),
          col("violations"), (col("violations") === 0L).as("passed")))
    }
    rows.reduce(_.unionByName(_))
  }

  /** k-anonymity audit (Sweeney 2002): every quasi-identifier
    * combination held by fewer than `k` rows re-identifies those rows —
    * the governance gate run before a table with demographic-ish
    * columns leaves a trust boundary (and before training data carrying
    * user attributes ships). Output: one row per quasi-identifier
    * combination with its cohort size and an `at_risk` flag — the full
    * audit table, so remediation (generalize a column, suppress the
    * cohort) can target exactly the risky combinations.
    *
    * One hash aggregate on the quasi-identifier columns — the same
    * single-shuffle class as `unique`; NULL attribute values form their
    * own cohorts (a NULL is still a linkable value). */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Long): DataFrame = {
    require(quasiIds.nonEmpty, "kAnonymity needs at least one quasi-identifier")
    require(k >= 1, s"k must be >= 1: $k")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < k)
  }
}
