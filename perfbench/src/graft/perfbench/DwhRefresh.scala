package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.BankDwh

/** `dwh_refresh`: the warehouse operator's day. Repeated full refresh
  * + tests of the 13-model bank warehouse (`BankDwh.run`) over orders
  * shaped into raw loans and lineitem shaped into raw payments,
  * each refresh followed by a seeded pass over a fixed analyst mix of
  * star and mart queries from `SparkEntry.queries`.
  *
  * Inputs: a seeded hash split keeps nine orders in ten (and their
  * lineitems) and nine events in ten of the `Scale` testdata; the
  * derived tables are written once per set-up round and every layer
  * reads only them. */
final class DwhRefresh(spark: SparkSession, data: String, work: String,
                       seed: Long) extends Workload {
  import DwhRefresh._

  private var inputs = ""

  def setup(round: Int): Unit = {
    val dir = s"$work/inputs-$round"
    val src = s"$data/$Scale"
    // lineitems follow their order through the same seeded hash of the
    // order key, so the split needs no join
    spark.read.parquet(s"$src/orders.parquet")
      .where(Inputs.keep(col("o_orderkey"), seed, 10))
      .write.parquet(s"$dir/orders.parquet")
    spark.read.parquet(s"$src/lineitem.parquet")
      .where(Inputs.keep(col("l_orderkey"), seed, 10))
      .write.parquet(s"$dir/lineitem.parquet")
    spark.read.parquet(s"$src/events.parquet")
      .where(Inputs.keep(col("event_id"), seed, 10))
      .write.parquet(s"$dir/events.parquet")
    Seq("customer", "nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").write.parquet(s"$dir/$t.parquet")
    }
    inputs = dir
  }

  private var built = 0
  private var checksRun = 0
  private val digests = new Digests

  def run(ops: Ops, deadlineNs: Long): Unit = {
    val loans = rawLoans(spark.read.parquet(s"$inputs/orders.parquet"))
    val payments = rawPayments(spark.read.parquet(s"$inputs/lineitem.parquet"))
    val rng = new scala.util.Random(seed)
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadlineNs) {
      val wh = s"$work/warehouse-$pass"
      ops.cycle { c =>
        c.add(ops.op("refresh")(BankDwh.run(spark, loans, payments, wh)) { r =>
          built = r.built.size
          checksRun = r.checks.size
          if (!r.passed)
            Some("failed checks: " + r.checks.filterNot(_.passed)
              .map(k => s"${k.model}.${k.check}").mkString(", "))
          else digests.sameAsFirst("f_loan_contract", Digest.of(r("f_loan_contract")))
        })
        rng.shuffle(MartMix).foreach { q =>
          c.add(ops.op("mart")(ops.layer(q)(Digest.of(SparkEntry.queries(q)(spark, inputs))))(
            d => digests.sameAsFirst(q, d)))
        }
      }
      Fs.delete(wh)
      pass += 1
    }
  }

  def metrics(ops: Ops): Seq[Metric] = {
    val marts = ops.of("mart")
    Seq(
      Metric.median("refresh_s", ops.of("refresh")),
      Metric.median("mart_query_p50_s", marts),
      Metric.pct("mart_query_p90_s", marts, 90))
  }

  def layers(t: Trace): Seq[(String, Double)] = {
    val isCheck = (d: String) => d.contains("graft.quality.")
    Seq(
      "pipeline.dwh.write_s" -> t.execSecs("refresh")(d => !isCheck(d)),
      "pipeline.dwh.check_s" -> t.execSecs("refresh")(isCheck),
      "pipeline.dwh.models_built" -> built.toDouble,
      "pipeline.dwh.checks_run" -> checksRun.toDouble)
  }

  def outputDigests: Map[String, String] = digests.toMap
}

object DwhRefresh {
  /** Testdata scale the inputs derive from. */
  val Scale = "sf0.01"

  /** The analyst mix: star and mart queries over the refreshed day. */
  val MartMix: Seq[String] = Seq("q_star_contract", "q_dealer_perf",
    "q_rollup", "q_cube", "q_window_analytics", "q_scd2", "q_cdc_apply",
    "q_quality_report")

  /** Orders shaped into the Kaggle vehicle-loans raw schema (the
    * `q_bank_pipeline` shaping). */
  def rawLoans(orders: DataFrame): DataFrame = orders.select(
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

  /** Lineitems shaped into the raw payments schema: one payment per
    * line, on its ship date. */
  def rawPayments(lineitem: DataFrame): DataFrame = lineitem.select(
    col("l_orderkey").cast("string").as("loan_id"),
    col("l_shipdate").cast("date").as("payment_date"),
    col("l_extendedprice").as("amount"),
    (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("principal_amt"),
    (col("l_extendedprice") * col("l_tax")).as("interest_amt"),
    lit(1.0).as("fee_amt"),
    when(col("l_returnflag") === "R", 5.0).otherwise(0.0).as("late_fee_amt"),
    col("l_linenumber").as("channel_id"))
}
