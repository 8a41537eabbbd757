package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.core.Schemas
import graft.engine.FunnelTable
import graft.io.{Scratch, Tables}

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
  def query(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val aggs = funnelAggs
    val one = ev.agg(aggs.head, aggs.tail: _*)
    FunnelTable.rows(FunnelTable.wideFromJoined(one)).orderBy("row_idx")
  }

  /** [[query]] with the aggregation run as a STREAM: readStream over the
    * events parquet, the same 21 conditional aggregates as a global
    * complete-mode aggregate (state = one row of counters — the shape
    * that stays tiny at 100 TB/day), AvailableNow trigger into a FILE
    * sink, then the identical wide→rows projection over the settled
    * 1-row result read back from parquet. Same oracle as the batch
    * path: stream/batch parity for the funnel table itself is a
    * hash-checked gate, not a spec claim.
    *
    * Sink choice: Spark's native parquet sink is append-only, which a
    * complete-mode global aggregate cannot use, so the canonical file
    * path is foreachBatch + idempotent per-batch OVERWRITE — executors
    * write the parquet, the driver holds nothing, and the last batch's
    * overwrite is the settled result. Unlike the memory sink this
    * verification path itself survives any scale (the written table is
    * one row regardless of input size, and a restart simply rewrites
    * it).
    */
  def streamQuery(s: SparkSession, dir: String): DataFrame = {
    val sink = Scratch.fresh("stream_funnel")
    runStreamFunnel(s, dir, sink)
    FunnelTable.rows(FunnelTable.wideFromJoined(s.read.parquet(sink)))
      .orderBy("row_idx")
  }

  /** One streaming run of the funnel aggregate into `sink` (foreachBatch
    * + idempotent overwrite). The knobs exist so FunnelStreamSpec can
    * prove the RESTART-RECOVERY claim the overwrite pattern makes:
    * `maxFilesPerTrigger` splits the fixture into several micro-batches,
    * `ckpt` pins a durable checkpoint across runs, and `failAtBatch`
    * injects a crash BEFORE that batch's write — the first run dies
    * mid-stream, the rerun resumes from the committed offsets and the
    * settled overwrite must still equal the batch aggregate. Production
    * callers ([[streamQuery]]) leave every knob at None: fresh
    * checkpoint, one AvailableNow drain.
    */
  private[graft] def runStreamFunnel(s: SparkSession, dir: String,
      sink: String, ckpt: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      failAtBatch: Option[Long] = None): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    // the raw stream: the aggregates never touch ts, so no projection
    val raw = Tables.stream(s, s"$dir/events.parquet", maxFilesPerTrigger)
    val aggs = funnelAggs
    val writer = raw.agg(aggs.head, aggs.tail: _*)
      .writeStream
      .outputMode("complete").trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (failAtBatch.contains(batchId))
          throw new RuntimeException(s"injected failure at batch $batchId")
        batch.write.mode("overwrite").parquet(sink)
      }
    // stateful (global complete-mode agg) → verified under the RocksDB
    // provider like every other engine stream query; state width derives
    // from the source's bytes (GraftSession.streamStateWidth, r17)
    GraftSession.withStreamStateWidth(s, raw) {
      GraftSession.withRocksDbState(s) {
        val q = ckpt.map(c => writer.option("checkpointLocation", c))
          .getOrElse(writer).start()
        q.awaitTermination()
        graft.ops.PlanShape.streamShapes.record("funnel", q)
      }
    }
  }

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
    // (readStream → global complete-mode agg → memory sink), hash-
    // checked against the SAME oracle as the batch funnel_table:
    // stream/batch parity IS the claim
    QueryDef("stream_funnel_table", streamQuery, oracle))
}
