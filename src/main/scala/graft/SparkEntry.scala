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

  /** Per-query session-conf overlays, applied by the runner around the
    * query's BUILD AND EXECUTION and restored after. Only performance
    * confs belong here (AQE sizing, shuffle width): an overlay must never
    * change what a query computes, and the oracle gate re-runs every
    * overlaid query like any other. An overlay stays only while its
    * measured benefit reproduces.
    */
  def confOverlays: Map[String, Map[String, String]] = {
    // AQE's parallelismFirst coalescing floors post-shuffle partitions
    // at minPartitionSize (default 1m) — so at small replay SFs a
    // few-MB exchange coalesces to bytes/1MB ≈ 2-5 partitions, and any
    // operator that MULTIPLIES rows after that exchange (pair
    // expansion, per-doc token/chunk explode) runs its heavy stage 2-5
    // wide regardless of session width. A 64k floor restores
    // parallelism exactly where the fan-out is (measured A/B: adamic_adar
    // 0.38×, curation_pipeline 0.52×, containment 0.72×); at
    // production scale partitions sit far above 1 MB and the knob is
    // inert. NOT blanket-applied: the same floor regressed the
    // iterative/scan-heavy band up to 3× (greedy_cover, winnow — more
    // tiny tasks per round, nothing to win), so it stays a per-query
    // overlay.
    val smallPartFloor = Map(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k")
    Map(
      "adamic_adar" -> smallPartFloor,
      "curation_pipeline" -> smallPartFloor,
      "containment_neardup" -> smallPartFloor,
      "prefix_jaccard" -> smallPartFloor)
  }

  /** Run `body` under `name`'s conf overlay (if any), restoring every
    * touched key afterwards — including on throw, so a failed query
    * never leaks its overlay into the next one's timed slot.
    */
  def withOverlay[A](spark: SparkSession, name: String)(body: => A): A =
    GraftSession.withConf(spark,
      confOverlays.getOrElse(name, Map.empty).toSeq: _*)(body)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map(d => d.name -> d.oracle).toMap
}
