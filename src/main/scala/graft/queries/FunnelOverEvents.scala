package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Schemas
import graft.engine.FunnelTable
import graft.io.Tables
import graft.streaming.StreamRunner
import graft.streaming.StreamRunner.Complete

/** The full funnel pipeline (SURVEY §2.9, `report_engine.py:233-319`)
  * exercised over the harness's `events` table, so the driver's DuckDB
  * oracle can verify it end-to-end.
  *
  * The four S1-S4 source shapes are synthesized deterministically from
  * events: stage counts bucket `event_id % 11` into the 11 stage columns
  * (cast to string — the raw CSV shape, so the string→double→long
  * truncation path runs too), OTP buckets `% 3`, discovery `% 5`, and the
  * per-user fact table maps event_type → fetch_status. Everything then
  * flows through [[FunnelTable.buildFromRaw]] — the same plan a real
  * funnel report runs.
  *
  * The oracle SQL is GENERATED from [[FunnelTable.rowSpecs]] so the Spark
  * plan and the DuckDB twin share one definition of the 18 rows.
  */
object FunnelOverEvents {

  private val statusMap: Seq[(String, String)] = Seq(
    "purchase" -> "Success", "error" -> "Failed", "view" -> "Not Attempted")

  /** The 21 conditional aggregates (11 stage + 3 otp + 5 discovery + 2
    * fi) — ONE shared definition feeds the batch path, the streaming
    * path, and (via [[oracle]]'s generated SQL) the DuckDB twin.
    */
  private def funnelAggs: Seq[org.apache.spark.sql.Column] = {
    def cnt(mod: Int, i: Int) =
      count(when(pmod(col("event_id"), lit(mod)) === i, lit(1)))

    Schemas.stageColumns.zipWithIndex.map { case (c, i) =>
      cnt(11, i).cast("string").cast("double").cast("long").as(c)
    } ++
      Schemas.otpColumns.zipWithIndex.map { case (c, i) =>
        cnt(3, i).cast("string").cast("double").as("Total_" + c)
      } ++
      Schemas.discoveryColumns.zipWithIndex.map { case (c, i) =>
        cnt(5, i).cast("string").cast("double").as(c)
      } ++
      statusMap.collect {
        case (et, "Success") =>
          count(when(col("event_type") === et, lit(1)))
            .cast("long").as("fi_success_cnt")
        case (et, "Failed") =>
          count(when(col("event_type") === et, lit(1)))
            .cast("long").as("fi_failed_cnt")
      }
  }

  /** The 21 [[funnelAggs]] as ONE global aggregate over `events`, batch
    * or stream alike.
    */
  private[graft] def funnelAgg(events: DataFrame): DataFrame = {
    val aggs = funnelAggs
    events.agg(aggs.head, aggs.tail: _*)
  }

  /** ONE scan of events computes all 21 aggregates (11 stage + 3 otp +
    * 5 discovery + 2 fi counts) as conditional counts in a single
    * HashAggregate, then projects the wide funnel metrics — versus the
    * naive four-frame build, which scans the fact table four times. At
    * 100 TB that is 4 passes vs 1. Cast chains replicate the per-source
    * aggregate paths exactly (stage counts travel string→double→long,
    * the raw-CSV truncation route), so results are bit-identical to
    * [[FunnelTable.buildFromRaw]] — LlmSpec-equivalent paths are covered
    * by FunnelTableSpec; the DuckDB oracle pins this one.
    */
  def query(s: SparkSession, dir: String): DataFrame =
    FunnelTable.rows(FunnelTable.wideFromJoined(
      funnelAgg(Tables.events(s, dir)))).orderBy("row_idx")

  /** [[query]] with the aggregation run as a STREAM: readStream over the
    * events parquet, the same 21 conditional aggregates as a global
    * complete-mode aggregate (state = one row of counters — the shape
    * that stays tiny at 100 TB/day) drained by [[StreamRunner]], then the
    * identical wide→rows projection over the settled 1-row result. Same
    * oracle as the batch path: stream/batch parity for the funnel table
    * itself is a hash-checked gate, not a spec claim. The aggregates
    * never touch `ts`, so the raw stream needs no projection.
    */
  def streamQuery(s: SparkSession, dir: String): DataFrame =
    FunnelTable.rows(FunnelTable.wideFromJoined(StreamRunner.run(s,
      funnelAgg(Tables.stream(s, s"$dir/events.parquet")), Complete,
      "funnel"))).orderBy("row_idx")

  /** DuckDB twin of [[query]]: source-specific CTEs that emit the
    * [[Schemas]] column names down to the wide single-row `w` (the shared
    * [[FunnelOracleGen.wide]] projection), then the shared table
    * generator ([[FunnelOracleGen.tableSql]]) for survivors + the 18 rows.
    * OTP and discovery counts are DOUBLE, as the Spark side casts them.
    */
  val oracle: String = {
    def counts(mod: Int, cols: Seq[String], typ: String): String =
      cols.zipWithIndex.map { case (c, i) =>
        s"CAST(count(*) FILTER (WHERE event_id % $mod = $i) AS $typ) AS $c"
      }.mkString(",\n  ")

    FunnelOracleGen.tableSql(
      s"""WITH stg AS (SELECT ${counts(11, Schemas.stageColumns, "BIGINT")}
         |  FROM events),
         |otp AS (SELECT ${counts(3, Schemas.otpColumns.map("Total_" + _), "DOUBLE")}
         |  FROM events),
         |dsc AS (SELECT ${counts(5, Schemas.discoveryColumns, "DOUBLE")}
         |  FROM events),
         |fi AS (SELECT
         |  count(*) FILTER (WHERE event_type = 'purchase') AS fi_success_cnt,
         |  count(*) FILTER (WHERE event_type = 'error') AS fi_failed_cnt
         |  FROM events),
         |w AS (SELECT ${FunnelOracleGen.wide} FROM stg, otp, dsc, fi)""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("funnel_table", query, oracle),
    // the funnel aggregation run as a real Structured Streaming query
    // (readStream → global complete-mode agg → parquet sink), hash-
    // checked against the SAME oracle as the batch funnel_table:
    // stream/batch parity IS the claim
    QueryDef("stream_funnel_table", streamQuery, oracle))
}
