package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Schemas

/** The four aggregate families of the funnel pipeline, as Catalyst plans.
  *
  * Each mirrors one `fetch_*` / `aggregate_stages` computation of the
  * reference (`report_engine.py:89-225`) but is expressed as a single
  * declarative aggregation over however many days of data the scan produced —
  * Spark's `HashAggregateExec` does the partial (per-partition) + final
  * (post-shuffle) combine that the reference hand-rolled with per-day queries
  * and a pandas `concat(...).sum()` (`report_engine.py:119-131`). At 100 TB
  * this is the difference between N sequential scans and one distributed one.
  *
  * All inputs are string-typed frames (see [[graft.core.Schemas]]); casts
  * happen inside the aggregate expressions so they run in whole-stage codegen
  * and so empty-string / null semantics match the reference exactly
  * (sessions run non-ANSI, see [[graft.GraftSession]]: bad cells -> null,
  * skipped by SUM — the analogue of the reference's degrade-to-empty).
  */
object FunnelAggregates {

  /** Per-value `CAST(CAST(x AS DOUBLE) AS BIGINT)` — reproduces the
    * reference's `astype(float).astype(int)` truncation-toward-zero BEFORE
    * summation (`report_engine.py:225`). Cast order matters on fractional
    * inputs: trunc-then-sum != sum-then-trunc. 64-bit target: pandas
    * `astype(int)` is int64, and at 100 TB per-column sums exceed 2^31.
    */
  private def truncLong(c: Column): Column = c.cast("double").cast("long")

  /** Stage totals: one row, the 11 stage columns summed across all input rows
    * (days), each value truncated to long first (`aggregate_stages`,
    * `report_engine.py:222-225`). Missing data sums to null -> coalesce 0,
    * matching the reference's "empty frame -> entity skipped / zero" posture.
    */
  def stageTotals(stages: DataFrame): DataFrame = aggOf(stages, stageSums)

  private def stageSums: Seq[Column] = Schemas.stageColumns.map(c =>
    coalesce(sum(truncLong(col(c))), lit(0L)).as(c))

  private def aggOf(df: DataFrame, aggs: Seq[Column]): DataFrame =
    df.agg(aggs.head, aggs.tail: _*)

  /** OTP totals: grand sums of the three OTP columns cast to double
    * (`fetch_otp_totals`, `report_engine.py:115-141`). Output column names
    * `Total_<col>` match the reference's SQL aliases.
    */
  def otpTotals(otp: DataFrame): DataFrame = aggOf(otp, otpSums)

  private def otpSums: Seq[Column] = Schemas.otpColumns.map(c =>
    sum(col(c).cast("double")).as("Total_" + c))

  /** Discovery totals: grand sums with `NULLIF(x,'')` before the cast —
    * empty strings are skipped by SUM, exactly as in the reference's Drill
    * SQL (`fetch_discovery_totals`, `report_engine.py:145-171`).
    */
  def discoveryTotals(discovery: DataFrame): DataFrame =
    aggOf(discovery, discoverySums)

  private def discoverySums: Seq[Column] = Schemas.discoveryColumns.map(c =>
    sum(nullif(col(c), lit("")).cast("double")).as(c))

  /** FI status counts over the per-user fact table: keep only the three known
    * statuses, drop null/empty, group + count (`fetch_fi_status_counts`,
    * `report_engine.py:175-199`). One shuffle on `fetch_status` (3 groups);
    * map-side partial aggregation makes this scale linearly with input.
    * The `isNotNull && =!= ""` terms are subsumed by `isin` but kept for
    * line-for-line parity with the reference's WHERE clause.
    */
  def fiStatusCounts(userFunnel: DataFrame): DataFrame =
    userFunnel
      .filter(
        col("fetch_status").isin(Schemas.fetchStatuses: _*) &&
          col("fetch_status").isNotNull && col("fetch_status") =!= "")
      .groupBy("fetch_status")
      .agg(count("fetch_status").as("Count"))

  /** Column of [[totals]] counting the stage rows the scan kept. */
  val StageRows = "stage_rows"

  /** Every source total of one report in ONE aggregate: the 11 stage sums,
    * the 3 `Total_*` OTP sums, the 5 discovery sums, `fi_success_cnt` /
    * `fi_failed_cnt` and [[StageRows]], over a `union` of the four raw
    * families. Each branch projects to the shared string columns, with
    * typed nulls for the columns its family lacks, so each sum sees
    * exactly the rows of its own family. One scan stage and one final
    * aggregate, instead of four aggregates joined afterwards.
    *
    * The values equal [[stageTotals]], [[otpTotals]], [[discoveryTotals]]
    * and the [[FunnelTable.wide]] pivot of [[fiStatusCounts]], double sums
    * bit for bit: `union` keeps each branch's scan and its split into
    * partitions, so every partial sum is the one the per-family aggregate
    * computes; the other branches' partitions contribute null buffers,
    * which a sum merge skips, and the final merge reads the non-null
    * partials in the same relative (map-index) order. A filtered
    * `groupBy` count pivoted to two columns is the conditional count
    * `count(when(fetch_status === s))`: rows of other statuses, nulls and
    * empties never match, and no matching row counts 0.
    */
  def totals(stages: DataFrame, otp: DataFrame, discovery: DataFrame,
      userFunnel: DataFrame): DataFrame = {
    val shared = Schemas.stageColumns ++ Schemas.otpColumns ++
      Schemas.discoveryColumns :+ "fetch_status"
    def branch(df: DataFrame, own: Seq[String], stageRow: Column) =
      df.select(shared.map(c =>
        (if (own.contains(c)) col(c) else lit(null)).cast("string").as(c)) :+
        stageRow.as(StageRows): _*)
    val noRow = lit(null).cast("int")
    val fiCounts = Seq("Success" -> "fi_success_cnt", "Failed" -> "fi_failed_cnt")
      .map { case (status, name) =>
        count(when(col("fetch_status") === status, lit(1))).as(name)
      }
    aggOf(
      branch(stages, Schemas.stageColumns, lit(1))
        .union(branch(otp, Schemas.otpColumns, noRow))
        .union(branch(discovery, Schemas.discoveryColumns, noRow))
        .union(branch(userFunnel, Seq("fetch_status"), noRow)),
      stageSums ++ otpSums ++ discoverySums ++ fiCounts :+
        count(col(StageRows)).as(StageRows))
  }

  /** Filter a source frame to one entity. The reference splices the entity id
    * into SQL text (`report_engine.py:99`, an injection hazard); here it is a
    * bound column predicate, pushed down to the scan by Catalyst.
    */
  def forEntity(df: DataFrame, entityCol: String, entityId: String): DataFrame =
    df.filter(col(entityCol) === lit(entityId))
}
