package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** One-shot CLI smoke for the full bank DWH assembly. */
object DwhSmoke {
  def main(args: Array[String]): Unit = {
    val spark = EngineConf.session(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val schema =
      """UniqueID string, disbursed_amount double, asset_cost double, ltv double,
        |branch_id string, supplier_id string, manufacturer_id string,
        |Current_pincode_ID string, Date_of_Birth string, Employment_Type string,
        |DisbursalDate string, State_ID string, MobileNo_Avl_Flag int,
        |Aadhar_flag int, PAN_flag int, PERFORM_CNS_SCORE int,
        |PERFORM_CNS_SCORE_DESCRIPTION string, PRI_NO_OF_ACCTS int,
        |PRI_ACTIVE_ACCTS int, PRI_OVERDUE_ACCTS int, PRI_CURRENT_BALANCE double,
        |PRI_SANCTIONED_AMOUNT double, PRI_DISBURSED_AMOUNT double,
        |VoterID_flag int, Driving_flag int, Passport_flag int,
        |SEC_NO_OF_ACCTS int, SEC_ACTIVE_ACCTS int, SEC_OVERDUE_ACCTS int,
        |SEC_CURRENT_BALANCE double, SEC_SANCTIONED_AMOUNT double,
        |SEC_DISBURSED_AMOUNT double, PRIMARY_INSTAL_AMT double,
        |SEC_INSTAL_AMT double, AVERAGE_ACCT_AGE string, CREDIT_HISTORY_LENGTH string,
        |NEW_ACCTS_IN_LAST_SIX_MONTHS int, DELINQUENT_ACCTS_IN_LAST_SIX_MONTHS int,
        |NO_OF_INQUIRIES int, loan_default int""".stripMargin.replace("\n", " ")
    val loans = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row("L1", 50000.0, 70000.0, 71.4, "B1", "S1", "M1", "P1", "01-01-84", "Salaried", "15-10-18", "ST1", 1, 1, 0, 650, "A", 3, 2, 0, 1e4, 6e4, 5.5e4, 1, 0, 1, 1, 0, 0, 2e3, 8e3, 7.5e3, 1450.5, 0.0, "1yrs 10mon", "5yrs 2mon", 1, 0, 2, 0),
      Row("L2", 30000.0, 45000.0, 66.7, "B1", "S2", "M1", "P2", "15-06-92", "Self", "20-10-18", "ST1", 1, 0, 1, 700, "B", 1, 1, 1, 5e3, 3e4, 2.8e4, 0, 0, 0, 0, 0, 0, 0.0, 0.0, 0.0, 900.0, 0.0, "0yrs 6mon", "2yrs 0mon", 0, 1, 1, 1))),
      StructType.fromDDL(schema))
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val payments = Seq(("L1", "2018-12-18", 2002.77, 1988.83, 13.94, 1.0, 0.0, 2))
      .toDF("loan_id", "payment_date", "amount", "principal_amt", "interest_amt",
        "fee_amt", "late_fee_amt", "channel_id")
      .withColumn("payment_date", to_date(col("payment_date")))
    Scratch.during("dwh-smoke") { tmp =>
      val result = graft.pipeline.BankDwh.run(spark, loans, payments, tmp)
      println(s"built=${result.built.size} models: ${result.built.mkString(",")}")
      result.checks.foreach(c => println(s"check ${c.model}.${c.check}: ${if (c.passed) "PASS" else s"FAIL(${c.violations})"}"))
      println(s"ALL CHECKS ${if (result.passed) "PASS" else "FAIL"}")
      result("f_loan_contract").show(truncate = false)
    }
    spark.stop()
  }
}
