package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Presentation render: the reference's positional 25-row × 7-column grid
  * (`report_engine.py:293-318`) built OVER the canonical data model
  * ([[FunnelTable.rows]] + [[FunnelTable.summary]]) — presentation is a
  * view of the data, never the data itself (SURVEY §1.1).
  *
  * Grid shape — 24 rows, 0-indexed (the reference's list-of-lists,
  * `report_engine.py:294-318`; its xlsx writer prepends one more blank
  * row, which here is RunReports' concern, making the FILE 25 rows):
  *   0     summary header
  *   1-2   summary metric rows (approved %, shared %)
  *   3     blank spacer
  *   4     "Successful Users" / "Dropped off Users" banner
  *   5     column headers
  *   6-23  the 18 data rows ([[FunnelTable.rowSpecs]] order:
  *         grid row 6 = data row 0)
  *
  * All cells are strings; numbers are formatted like Python's `str()`
  * (ints bare, floats with a trailing .0 when integral — Spark's
  * double→string cast matches), empty cells are "" (quirk 5: the blank
  * subcause row renders "", never 0).
  */
object FunnelRender {

  /** One ordered 24-row grid; `ord` is the presentation row index. */
  def grid(rows: DataFrame, summary: DataFrame): DataFrame =
    unsortedGrid(rows, summary).orderBy("ord")

  /** The 24 rows of [[grid]] in no defined order. `ord` is unique per
    * row, so sorting them by `ord` anywhere, on the driver too, gives
    * [[grid]]'s order.
    */
  def unsortedGrid(rows: DataFrame, summary: DataFrame): DataFrame = {
    def s(c: org.apache.spark.sql.Column) = coalesce(c.cast("string"), lit(""))

    val head = summary.select(
      explode(array(
        struct(lit(0).as("ord"), lit("Summary").as("c0"),
          lit("% of initial users").as("c1"), lit("").as("c2"),
          lit("Note").as("c3"), lit("").as("c4"), lit("").as("c5"),
          lit("").as("c6")),
        struct(lit(1).as("ord"),
          lit("Percentage of initial users who approved the consent").as("c0"),
          s(col("approved_pct")).as("c1"), lit("").as("c2"),
          lit("Please note that this funnel describes the journey of a user and not a consent request.").as("c3"),
          lit("").as("c4"), lit("").as("c5"), lit("").as("c6")),
        struct(lit(2).as("ord"),
          lit("Percentage of initial users who shared their data").as("c0"),
          s(col("shared_pct")).as("c1"), lit("").as("c2"), lit("").as("c3"),
          lit("").as("c4"), lit("").as("c5"), lit("").as("c6")),
        struct(lit(3).as("ord"), lit("").as("c0"), lit("").as("c1"),
          lit("").as("c2"), lit("").as("c3"), lit("").as("c4"),
          lit("").as("c5"), lit("").as("c6")),
        struct(lit(4).as("ord"), lit("").as("c0"), lit("").as("c1"),
          lit("Successful Users").as("c2"), lit("").as("c3"),
          lit("").as("c4"), lit("Dropped off Users").as("c5"),
          lit("").as("c6")),
        struct(lit(5).as("ord"), lit("Stage").as("c0"),
          lit("Positive Action").as("c1"), lit("Count").as("c2"),
          lit("% of initial users").as("c3"), lit("Dropoff Cause").as("c4"),
          lit("Count").as("c5"), lit("% of initial users").as("c6"))
      )).as("r")).select(col("r.*"))

    val data = rows.select(
      (col("row_idx") + 6).as("ord"),
      col("stage").as("c0"),
      col("positive_action").as("c1"),
      s(col("success_count")).as("c2"),
      s(col("success_pct")).as("c3"),
      col("drop_cause").as("c4"),
      s(col("drop_count")).as("c5"),
      s(col("drop_pct")).as("c6"))

    head.unionByName(data)
  }
}
