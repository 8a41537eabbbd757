package graft.queries

import graft.engine.FunnelTable

/** Shared DuckDB-SQL generator for the 18-row funnel table.
  *
  * Callers supply a `WITH ...` prefix whose last CTE is a SINGLE-ROW
  * relation `w` carrying the wide funnel metrics (total_users, d1, d2,
  * view_drop, auth_drop, d3, d4, rej, appr, fip_rej, fip_ok, fetch_ok,
  * not_attempted, fi_req_ok, otp_wrong, otp_miss, no_rec, fip_fail,
  * some_fail, found_not_linked — the output of
  * [[FunnelTable.wideFromJoined]] before the survivor projection). This
  * generator appends the survivor-arithmetic CTE `w2`
  * (`report_engine.py:271-286`) and the 18 row SELECTs generated from
  * [[FunnelTable.rowSpecs]] — one definition of the table shared by
  * every funnel oracle, so the Spark plan and its DuckDB twins cannot
  * drift.
  */
object FunnelOracleGen {

  private def esc(s: String): String = s.replace("'", "''")

  /** Mirrors FunnelTable.pct exactly: half-even rounding (DuckDB
    * round_even = Spark bround = Python round) and the
    * non-positive-base -> 0.0 guard; plain round() is
    * half-away-from-zero and would drift on representable halves.
    */
  private def pct(e: String): String =
    s"""CASE WHEN total_users > 0
       | THEN round_even(CAST(($e) AS DOUBLE) / total_users * 100, 1)
       | ELSE 0.0 END""".stripMargin.replace("\n", "")

  private def cell(e: Option[String], cnt: String, pc: String): String = e match {
    case Some(ex) => s"CAST(($ex) AS BIGINT) AS $cnt, ${pct(ex)} AS $pc"
    case None     => s"CAST(NULL AS BIGINT) AS $cnt, CAST(NULL AS DOUBLE) AS $pc"
  }

  /** The [[FunnelTable.wideFromJoined]] projection, casts included, for
    * the body of a caller's `w`: it reads the [[graft.core.Schemas]]
    * names — stage columns as BIGINT, `Total_<otp>` and discovery
    * columns as DOUBLE (truncated toward zero, null -> 0), and
    * `fi_success_cnt`/`fi_failed_cnt`.
    */
  val wide: String = {
    def dl(c: String): String = s"coalesce(CAST(trunc($c) AS BIGINT), 0)"
    s"""(AA_client_Initialization + OTP_Based_Sign_in_Sign_up +
       |   View_Consent_Details + Discovery + Linking +
       |   Rejected_Consent_Requests + Approved_Consent_Requests) AS total_users,
       |  AA_client_Initialization AS d1,
       |  OTP_Based_Sign_in_Sign_up AS d2,
       |  View_Consent_Details AS view_drop,
       |  (OTP_Based_Sign_in_Sign_up + View_Consent_Details) AS auth_drop,
       |  (${dl("Account_Discovered")} + ${dl("Account_not_Found")} +
       |   ${dl("FIP_Not_Selected")} + ${dl("Failure")} + ${dl("NO_STATUS")}) AS d3,
       |  Linking AS d4,
       |  Rejected_Consent_Requests AS rej,
       |  Approved_Consent_Requests AS appr,
       |  FIP_Rejected_Consent_Artefacts AS fip_rej,
       |  FIP_Accepted_Consent_Artefacts AS fip_ok,
       |  Data_Fetch_Success AS fetch_ok,
       |  Data_Fetch_Not_Attempted AS not_attempted,
       |  (fi_success_cnt + fi_failed_cnt) AS fi_req_ok,
       |  ${dl("Total_Incorrect_OTP_Entered")} AS otp_wrong,
       |  ${dl("Total_OTP_Not_Entered")} AS otp_miss,
       |  ${dl("Account_not_Found")} AS no_rec,
       |  ${dl("NO_STATUS")} AS fip_fail,
       |  ${dl("Failure")} AS some_fail,
       |  (${dl("Account_Discovered")} + ${dl("FIP_Not_Selected")}) AS found_not_linked""".stripMargin
  }

  /** `<withPrefix>, w2 AS (...) <18 row SELECTs> ORDER BY row_idx`. */
  def tableSql(withPrefix: String): String = {
    val rowSelects = FunnelTable.rowSpecs.map { sp =>
      s"""SELECT ${sp.idx} AS row_idx, '${esc(sp.stage)}' AS stage,
         |  '${esc(sp.action)}' AS positive_action,
         |  ${cell(sp.succ, "success_count", "success_pct")},
         |  '${esc(sp.cause)}' AS drop_cause,
         |  ${cell(sp.drop, "drop_count", "drop_pct")},
         |  ${sp.sub.toString.toUpperCase} AS is_subcause
         |FROM w2""".stripMargin
    }.mkString("\nUNION ALL\n")

    s"""$withPrefix,
       |w2 AS (SELECT *,
       |  total_users AS n_consent,
       |  total_users - d1 AS n_after_init,
       |  total_users - d1 - auth_drop AS n_after_auth,
       |  total_users - d1 - auth_drop - d3 AS n_after_disc,
       |  total_users - d1 - auth_drop - d3 - d4 AS n_after_link,
       |  fi_req_ok - fetch_ok AS fi_fetch_drop,
       |  d2 - (otp_wrong + otp_miss) + view_drop AS otp_ok_drop
       |FROM w)
       |$rowSelects
       |ORDER BY row_idx""".stripMargin
  }
}
