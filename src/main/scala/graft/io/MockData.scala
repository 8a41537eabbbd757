package graft.io

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.Schemas

/** Synthetic single-entity fixtures mirroring the reference's demo mode
  * (`get_mock_funnel_data`, `report_engine.py:326-367`) — the reference's
  * only reproducible execution and the seed of the golden test (SURVEY §5).
  *
  * Shapes match the real `fetch_*` OUTPUTS: the stage frame is raw (fed
  * through `aggregate_stages`); otp/discovery are already single-row totals;
  * fi_status is already grouped counts. Stage values are strings on purpose —
  * the real source is text CSV, so the mock exercises the cast path too.
  */
object MockData {

  private val mockStageValues: Map[String, String] = Map(
    "AA_client_Initialization" -> "800",
    "OTP_Based_Sign_in_Sign_up" -> "450",
    "View_Consent_Details" -> "1050",
    "Discovery" -> "600",
    "Linking" -> "1600",
    "Rejected_Consent_Requests" -> "1950",
    "Approved_Consent_Requests" -> "1250",
    "FIP_Rejected_Consent_Artefacts" -> "150",
    "FIP_Accepted_Consent_Artefacts" -> "1100",
    "Data_Fetch_Success" -> "820",
    "Data_Fetch_Not_Attempted" -> "50",
  )

  /** One raw stage row (`report_engine.py:332-345`), S1 schema. */
  def stages(spark: SparkSession): DataFrame = {
    val row = Row.fromSeq(
      Seq("example-fiu", "15-02-2026") ++
        Schemas.stageColumns.map(mockStageValues))
    spark.createDataFrame(
      java.util.List.of(row), Schemas.stages)
  }

  /** Pre-aggregated OTP totals (`report_engine.py:347-351`). */
  def otpTotals(spark: SparkSession): DataFrame = {
    val schema = StructType(Schemas.otpColumns.map(c =>
      StructField("Total_" + c, DoubleType)))
    spark.createDataFrame(
      java.util.List.of(Row(0.0, 450.0, 1200.0)), schema)
  }

  /** Pre-aggregated discovery totals (`report_engine.py:353-359`). */
  def discoveryTotals(spark: SparkSession): DataFrame = {
    val schema = StructType(Schemas.discoveryColumns.map(c =>
      StructField(c, DoubleType)))
    spark.createDataFrame(
      java.util.List.of(Row(350.0, 600.0, 400.0, 150.0, 200.0)), schema)
  }

  /** Grouped FI status counts (`report_engine.py:361-365`). */
  def fiStatusCounts(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("fetch_status", StringType),
      StructField("Count", LongType)))
    spark.createDataFrame(
      java.util.List.of(
        Row("Success", 820L), Row("Failed", 230L), Row("Not Attempted", 50L)),
      schema)
  }

  // ---- Raw-shaped fixtures (S2-S4 schemas) for the buildFromRaw path and
  // demo mode. Aggregating these with FunnelAggregates reproduces the
  // pre-aggregated frames above, so build(mock aggs) == buildFromRaw(mock
  // raws) tests the raw path against the reference's mock outputs.

  /** One raw OTP summary row whose grand sums equal [[otpTotals]]. */
  def rawOtp(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row("example-fiu", "0", "450", "1200")),
      Schemas.otpSummary)

  /** One raw discovery row whose NULLIF-cast sums equal [[discoveryTotals]]. */
  def rawDiscovery(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      java.util.List.of(Row("example-fiu", "350", "600", "400", "150", "200")),
      Schemas.discoverySummary)

  /** Per-user fact rows whose groupBy-count equals [[fiStatusCounts]]
    * (820 Success / 230 Failed / 50 Not Attempted), plus junk rows the
    * status filter must drop.
    */
  def rawUserFunnel(spark: SparkSession): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    def add(status: String, n: Int): Unit =
      (1 to n).foreach(i => rows.add(Row(s"example-fiu", status)))
    add("Success", 820); add("Failed", 230); add("Not Attempted", 50)
    rows.add(Row("example-fiu", null))
    rows.add(Row("example-fiu", ""))
    rows.add(Row("example-fiu", "Bogus"))
    spark.createDataFrame(rows, Schemas.userFunnel)
  }
}
