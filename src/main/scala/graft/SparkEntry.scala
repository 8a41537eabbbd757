package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries.{Analytics, CsvFunnelReport, Curation, FunnelOverEvents, Inference, Insights, LlmQueries, QueryDef, Relational, Scoring, Signals}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator family registers here: a Spark query over
  * the harness's parquet tables plus a value-identical DuckDB oracle —
  * EVERY query carries one. Paths DuckDB cannot replay directly (seeded
  * MLlib projections) register through a recall gate ([[graft.llm
  * .Similarity]]): they emit the exact, oracle-expressible result only
  * when the approximate path recovers enough of it, so recall drift
  * trips the driver's row compare.
  */
object SparkEntry {
  /** Flagship: the full funnel pipeline over sf0.001 events (18-row report
    * table); driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("funnel_table")(spark, "/root/testdata/sf0.001")

  /** Every registered query, each name once (see [[QueryDef.registry]]).
    * Each build first applies the graft defaults ([[GraftSession.tune]])
    * to the session it is given, so no builder or table reader does.
    */
  lazy val registry: Seq[QueryDef] = QueryDef.registry(
    Relational.defs, LlmQueries.defs, Analytics.defs, Scoring.defs,
    Signals.defs, Insights.defs, Inference.defs, Curation.defs,
    FunnelOverEvents.defs, CsvFunnelReport.defs)
    .map(d => d.copy(build = (s, dir) => d.build(GraftSession.tune(s), dir)))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.build).toMap

  /** Runs `body`. Kept because the perfbench harness wraps each query
    * in it; no query has a conf of its own.
    */
  def withOverlay[A](spark: SparkSession, name: String)(body: => A): A = body

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map(d => d.name -> d.oracle).toMap
}
