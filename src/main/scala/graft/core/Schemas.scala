package graft.core

import org.apache.spark.sql.types._

/** Explicit schemas for the four funnel source families (FIXTURES.md §1).
  *
  * All data columns are read as STRING on purpose: the reference reads
  * headered CSVs through Drill, which types everything as text, and casts at
  * query time (`CAST(x AS DOUBLE)`, `NULLIF(x,'')`; report_engine.py:123-153).
  * Keeping the read schema string-typed and casting in the aggregates
  * reproduces those semantics exactly (including empty-string handling) and
  * avoids CSV type inference, which would cost an extra pass at scale.
  *
  * Column-name case is preserved per source: S1 uses `Entity_ID`, S2-S4 use
  * `entity_id` (report_engine.py:99 vs :126).
  */
object Schemas {

  /** The 11 stage-count columns summed for the funnel
    * (report_engine.py:205-218, STAGE_COLUMNS).
    */
  val stageColumns: Seq[String] = Seq(
    "AA_client_Initialization",
    "OTP_Based_Sign_in_Sign_up",
    "View_Consent_Details",
    "Discovery",
    "Linking",
    "Rejected_Consent_Requests",
    "Approved_Consent_Requests",
    "FIP_Rejected_Consent_Artefacts",
    "FIP_Accepted_Consent_Artefacts",
    "Data_Fetch_Success",
    "Data_Fetch_Not_Attempted",
  )

  /** S1 — `{base}/{date}/uf-stages-user-funnel-{date}.csv`, one row per
    * entity per day.
    */
  val stages: StructType = StructType(
    Seq(StructField("Entity_ID", StringType), StructField("Date", StringType))
      ++ stageColumns.map(StructField(_, StringType))
  )

  val otpColumns: Seq[String] =
    Seq("Correct_OTP_Entered", "Incorrect_OTP_Entered", "OTP_Not_Entered")

  /** S2 — `{base}/{date}/otp-summary-user-funnel-{date}.csv`. */
  val otpSummary: StructType = StructType(
    StructField("entity_id", StringType) +: otpColumns.map(StructField(_, StringType))
  )

  val discoveryColumns: Seq[String] = Seq(
    "Account_Discovered", "Account_not_Found", "FIP_Not_Selected",
    "Failure", "NO_STATUS",
  )

  /** S3 — `{base}/{date}/discovery-summary-user-funnel-{date}.csv`; values
    * may be empty strings (NULLIF before cast).
    */
  val discoverySummary: StructType = StructType(
    StructField("entity_id", StringType) +: discoveryColumns.map(StructField(_, StringType))
  )

  /** S4 — `{base}/{date}/user-funnel-{date}.csv`, one row per user/session
    * (the fact table).
    */
  val userFunnel: StructType = StructType(Seq(
    StructField("entity_id", StringType),
    StructField("fetch_status", StringType),
  ))

  /** The `fetch_status` values the funnel keeps (report_engine.py:181). */
  val fetchStatuses: Seq[String] = Seq("Not Attempted", "Failed", "Success")
}
