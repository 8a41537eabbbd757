package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Schemas

/** The funnel report table — the reference's core product
  * (`build_report_table`, `report_engine.py:233-319`).
  *
  * Built as a single Catalyst plan over ONE single-row frame of source
  * totals ([[wideFromJoined]]): raw sources reach it through the one
  * aggregate [[FunnelAggregates.totals]], pre-aggregated frames through
  * [[wide]]'s cross join of single-row sides. Derived metrics are
  * computed as columns, and the 18 data rows are produced by exploding an
  * array of structs — the idiomatic Spark form of the reference's
  * driver-side list-of-lists. Either route yields the same row, so the
  * whole computation stays oracle-verifiable as pure SQL.
  *
  * Quirks preserved verbatim (SURVEY §2.9; all verified against the golden
  * xlsx decoded in FIXTURES.md §3):
  *  1. `total_users` uses the `Discovery` STAGE column while the Account
  *     Discovery row's dropoff uses the discovery-summary sum `d3`
  *     (`report_engine.py:239-247` vs `:255-261`). Intentional-as-implemented.
  *  2. Negative counts are legal output (`otp_ok_drop` = -150 in demo,
  *     `report_engine.py:286`). No clamping.
  *  4. The Consent Initiated row hardcodes dropoff 0 (`report_engine.py:300`).
  *  5. The "User did not take any action" row has no count at all —
  *     canonically null, rendered as blank, never 0 (`report_engine.py:314`).
  *  6. Quantities repeat (appr as summary metric and stage row; rej as both
  *     main dropoff and subcause, `report_engine.py:312-313`).
  */
object FunnelTable {

  /** `_pct` (`report_engine.py:228-230`): percentage of the initial-user
    * base, 1 decimal, BANKER'S rounding — Python's `round()` is
    * half-to-even, which is Spark `bround`, NOT `round` (HALF_UP).
    * Operation order matters for bit parity: `(value / total) * 100`.
    * Zero-guard: non-positive base -> 0.
    */
  private def pct(value: Column, total: Column): Column =
    when(total > 0, bround(value.cast("double") / total.cast("double") * 100, 1))
      .otherwise(lit(0.0))

  /** One wide single-row DataFrame with every derived funnel metric as a
    * column. Inputs are the outputs of [[FunnelAggregates]]: `stageTotals`
    * (1 row x 11 long), `otpTotals` (1 row x 3 double `Total_*`),
    * `discoveryTotals` (1 row x 5 double), `fiStatusCounts`
    * (`fetch_status`, `Count`).
    */
  def wide(
      stageTotals: DataFrame,
      otpTotals: DataFrame,
      discoveryTotals: DataFrame,
      fiStatusCounts: DataFrame): DataFrame = {

    // fi_status pivot: Success / Failed counts as columns
    // (`report_engine.py:277-281` boolean-mask selection + sum).
    val fiAgg = fiStatusCounts.agg(
      coalesce(sum(when(col("fetch_status") === "Success", col("Count"))), lit(0L))
        .cast("long").as("fi_success_cnt"),
      coalesce(sum(when(col("fetch_status") === "Failed", col("Count"))), lit(0L))
        .cast("long").as("fi_failed_cnt"))

    wideFromJoined(stageTotals
      .crossJoin(otpTotals)
      .crossJoin(discoveryTotals)
      .crossJoin(fiAgg))
  }

  /** Derived-metric projection over ONE single-row frame that already
    * carries all source columns (11 stage + 3 `Total_*` otp + 5
    * discovery + `fi_success_cnt`/`fi_failed_cnt`). Those 21 are replaced
    * by the derived metrics; any other column (e.g.
    * [[FunnelAggregates.StageRows]]) passes through unchanged. Callers
    * that compute every aggregate in one pass ([[FunnelAggregates.totals]],
    * the funnel-over-events query) use this directly and skip the
    * four-frame cross join.
    */
  def wideFromJoined(joined: DataFrame): DataFrame = {

    // stage column as long (`int(stage_totals[...])`, report_engine.py:240+)
    def st(c: String): Column = col(c).cast("long")
    // discovery column: `int(float(v)) if pd.notna(v) else 0`
    // (report_engine.py:258-260) — truncate, null -> 0.
    def disc(c: String): Column = coalesce(col(c).cast("double").cast("long"), lit(0L))
    // otp total: `int(...)` with empty-frame -> 0 (report_engine.py:284-285)
    def otp(c: String): Column = coalesce(col(c).cast("double").cast("long"), lit(0L))

    val passThrough = joined.columns.toSeq.filterNot(sourceColumns).map(col)

    joined.select(Seq(
      // total_users: 7 stage columns incl. the Discovery STAGE column
      // (quirk 1) — report_engine.py:239-247
      (st("AA_client_Initialization") + st("OTP_Based_Sign_in_Sign_up") +
        st("View_Consent_Details") + st("Discovery") + st("Linking") +
        st("Rejected_Consent_Requests") + st("Approved_Consent_Requests"))
        .as("total_users"),
      st("AA_client_Initialization").as("d1"),
      st("OTP_Based_Sign_in_Sign_up").as("d2"),
      st("View_Consent_Details").as("view_drop"),
      (st("OTP_Based_Sign_in_Sign_up") + st("View_Consent_Details")).as("auth_drop"),
      // d3: discovery-summary sum, NOT the Discovery stage column (quirk 1) —
      // report_engine.py:255-261
      (disc("Account_Discovered") + disc("Account_not_Found") +
        disc("FIP_Not_Selected") + disc("Failure") + disc("NO_STATUS")).as("d3"),
      st("Linking").as("d4"),
      st("Rejected_Consent_Requests").as("rej"),
      st("Approved_Consent_Requests").as("appr"),
      st("FIP_Rejected_Consent_Artefacts").as("fip_rej"),
      st("FIP_Accepted_Consent_Artefacts").as("fip_ok"),
      st("Data_Fetch_Success").as("fetch_ok"),
      st("Data_Fetch_Not_Attempted").as("not_attempted"),
      (col("fi_success_cnt") + col("fi_failed_cnt")).as("fi_req_ok"),
      otp("Total_Incorrect_OTP_Entered").as("otp_wrong"),
      otp("Total_OTP_Not_Entered").as("otp_miss"),
      disc("Account_not_Found").as("no_rec"),
      disc("NO_STATUS").as("fip_fail"),
      disc("Failure").as("some_fail"),
      (disc("Account_Discovered") + disc("FIP_Not_Selected")).as("found_not_linked")
    ) ++ passThrough: _*).select(
      col("*"),
      // survivors by successive subtraction (report_engine.py:271-275)
      col("total_users").as("n_consent"),
      (col("total_users") - col("d1")).as("n_after_init"),
      (col("total_users") - col("d1") - col("auth_drop")).as("n_after_auth"),
      (col("total_users") - col("d1") - col("auth_drop") - col("d3")).as("n_after_disc"),
      (col("total_users") - col("d1") - col("auth_drop") - col("d3") - col("d4")).as("n_after_link"),
      (col("fi_req_ok") - col("fetch_ok")).as("fi_fetch_drop"),
      // otp_ok_drop may be NEGATIVE (quirk 2) — report_engine.py:286
      (col("d2") - (col("otp_wrong") + col("otp_miss")) + col("view_drop")).as("otp_ok_drop")
    )
  }

  private val sourceColumns: Set[String] = (Schemas.stageColumns ++
    Schemas.otpColumns.map("Total_" + _) ++ Schemas.discoveryColumns ++
    Seq("fi_success_cnt", "fi_failed_cnt")).toSet

  private val nullLong = lit(null).cast("long")
  private val nullDouble = lit(null).cast("double")

  /** One data row of the report, declaratively: `succ`/`drop` are SQL
    * expressions over the [[wide]] row's columns (None = blank cell). A
    * single spec table drives both the Spark plan ([[rows]]) and the
    * DuckDB-oracle SQL generator (graft.queries.FunnelOverEvents), so the
    * two can't drift.
    */
  final case class RowSpec(
      idx: Int, stage: String, action: String,
      succ: Option[String], cause: String, drop: Option[String],
      sub: Boolean)

  /** The 18 canonical data rows (the reference's rows 7-24,
    * `report_engine.py:300-317`), in fixed order.
    */
  val rowSpecs: Seq[RowSpec] = Seq(
    // hardcoded dropoff 0 (quirk 4, report_engine.py:300)
    RowSpec(0, "Consent Initiated", "AA successfully received a consent handle",
      Some("n_consent"), "AA did not receive a consent handle", Some("0"), sub = false),
    RowSpec(1, "FIU initiated AA Client", "AA client was successfully initiated",
      Some("n_after_init"), "AA client was not successfully initiated", Some("d1"), sub = false),
    RowSpec(2, "Registration/Login", "User was authenticated",
      Some("n_after_auth"), "User was not authenticated", Some("auth_drop"), sub = false),
    RowSpec(3, "", "", None, "↳Incorrect OTP entered", Some("otp_wrong"), sub = true),
    RowSpec(4, "", "", None, "↳OTP not received back", Some("otp_miss"), sub = true),
    RowSpec(5, "", "", None, "↳Correct OTP entered but user dropped off",
      Some("otp_ok_drop"), sub = true),
    RowSpec(6, "Account Discovery", "User was able to find accounts",
      Some("n_after_disc"), "User was not able to find accounts", Some("d3"), sub = false),
    RowSpec(7, "", "", None, "↳FIP returned 'No Records Found'", Some("no_rec"), sub = true),
    RowSpec(8, "", "", None, "↳FIP failed to send records", Some("fip_fail"), sub = true),
    RowSpec(9, "", "",
      None, "↳Some FIP returned 'No Records Found' and some failed to send records",
      Some("some_fail"), sub = true),
    RowSpec(10, "", "",
      None, "↳FIP returned accounts, but user did not link any accounts",
      Some("found_not_linked"), sub = true),
    RowSpec(11, "Account Linking", "User was able to link accounts",
      Some("n_after_link"), "User was not able to link accounts", Some("d4"), sub = false),
    RowSpec(12, "Consent Request Review", "User approved the consent request",
      Some("appr"), "User did not approve the consent request", Some("rej"), sub = false),
    RowSpec(13, "", "", None, "↳User rejected the consent", Some("rej"), sub = true),
    // blank-count subcause row (quirk 5, report_engine.py:314)
    RowSpec(14, "", "", None, "↳User did not take any action", None, sub = true),
    RowSpec(15, "Consent Artefact Delivery", "FIP accepted the consent artefact",
      Some("fip_ok"), "FIP rejected the consent artefact", Some("fip_rej"), sub = false),
    RowSpec(16, "FI Request", "FIU successfully requested the data",
      Some("fi_req_ok"), "FIU did not request the data", Some("not_attempted"), sub = false),
    RowSpec(17, "FI Fetch", "FIU successfully received the data",
      Some("fetch_ok"), "FIU did not received the data", Some("fi_fetch_drop"), sub = false)
  )

  /** The 18 data rows as an explode over the wide row. Header/summary
    * presentation rows are the render step's concern ([[FunnelRender]]),
    * not data.
    */
  def rows(wideRow: DataFrame): DataFrame = {
    val t = col("total_users")

    def cell(e: Option[String]): (Column, Column) = e match {
      case Some(ex) => (expr(ex).cast("long"), pct(expr(ex), t))
      case None     => (nullLong, nullDouble)
    }

    val specs = rowSpecs.map { sp =>
      val (succCnt, succPct) = cell(sp.succ)
      val (dropCnt, dropPct) = cell(sp.drop)
      struct(
        lit(sp.idx).as("row_idx"), lit(sp.stage).as("stage"),
        lit(sp.action).as("positive_action"),
        succCnt.as("success_count"), succPct.as("success_pct"),
        lit(sp.cause).as("drop_cause"),
        dropCnt.as("drop_count"), dropPct.as("drop_pct"),
        lit(sp.sub).as("is_subcause"))
    }

    wideRow
      .select(explode(array(specs: _*)).as("r"))
      .select(col("r.*"))
  }

  /** The two summary metrics above the grid (`report_engine.py:295-296`):
    * % of initial users who approved the consent / shared their data.
    */
  def summary(wideRow: DataFrame): DataFrame =
    wideRow.select(
      col("total_users"),
      pct(col("appr"), col("total_users")).as("approved_pct"),
      pct(col("fetch_ok"), col("total_users")).as("shared_pct"))

  /** Full pipeline, mirroring the reference's `build_report_table` signature
    * (`report_engine.py:233`): ONLY the stage frame arrives raw (per-day rows,
    * reduced here via `aggregate_stages`); otp / discovery / fi-status arrive
    * ALREADY AGGREGATED by their fetchers (`Total_*` single-row frames and
    * grouped status counts). Re-aggregating those would silently corrupt the
    * fi counts (`groupBy.count` over grouped rows -> Count=1 per status), so
    * pre-aggregated inputs belong here and raw source frames belong in
    * [[buildFromRaw]].
    */
  def build(
      stages: DataFrame,
      otpTotals: DataFrame,
      discoveryTotals: DataFrame,
      fiStatusCounts: DataFrame): DataFrame =
    rows(wide(
      FunnelAggregates.stageTotals(stages),
      otpTotals,
      discoveryTotals,
      fiStatusCounts))

  /** Full pipeline from the four RAW source frames (S1-S4 shapes, see
    * [[graft.core.Schemas]]) through the one aggregate
    * [[FunnelAggregates.totals]] — the path a real scan feeds
    * ([[graft.io.FunnelSources]]).
    */
  def buildFromRaw(
      rawStages: DataFrame,
      rawOtp: DataFrame,
      rawDiscovery: DataFrame,
      rawUserFunnel: DataFrame): DataFrame =
    rows(wideFromJoined(FunnelAggregates.totals(
      rawStages, rawOtp, rawDiscovery, rawUserFunnel)))
}
