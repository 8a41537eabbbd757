package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{DateSpec, Schemas}
import graft.engine.FunnelTable
import graft.io.{FunnelCsvFixture, FunnelSources, Scratch}

/** The CSV source layer exercised END TO END against a DuckDB oracle:
  * path-templated day scans, the month-glob + `dd-MM-yyyy` range
  * post-filter, entity pushdown, string-typed schemas, and the full
  * funnel arithmetic — over an on-disk fixture in the reference's
  * directory layout (`docs/DATA_SOURCES.md:12-17`), read back by DuckDB
  * `read_csv` on the very same files.
  */
object CsvFunnelReport {

  val entity = "fiu-a"
  val dateSpecText = "31_01_2026 -> 01_02_2026"

  /** The fixture: the two default days plus a 30_01 decoy day outside
    * the query range, written by its own `write` call so its values
    * equal the 31_01 day's (day-index 0 both times). Only a correct
    * range post-filter or partition pruning drops the decoy: keeping
    * it would overcount every stage sum and fail the oracle. It lives
    * in [[Scratch.shared]] because DuckDB's `read_csv` oracle reads
    * these files after the JVM exits.
    */
  val fixtureDir: String = Scratch.shared("funnel-csv-fixture")
  private val decoyDay = java.time.LocalDate.of(2026, 1, 30)

  private def fixture(): String = Scratch.once(fixtureDir) { tmp =>
    FunnelCsvFixture.write(tmp, FunnelCsvFixture.defaultDays)
    FunnelCsvFixture.write(tmp, Seq(decoyDay))
  }

  /** The registered query: generate-once fixture, Range spec over a
    * month boundary (two month globs, the January one post-filtered
    * past the decoy), entity filter, four source scans into
    * [[FunnelTable.buildFromRaw]].
    */
  def query(s: SparkSession, ignoredSfDir: String): DataFrame = {
    val base = fixture()
    val spec = DateSpec.parse(dateSpecText)
    val e = Some(entity)
    FunnelTable.buildFromRaw(
      FunnelSources.stages(s, base, spec, e),
      FunnelSources.otp(s, base, spec, e),
      FunnelSources.discovery(s, base, spec, e),
      FunnelSources.userFunnel(s, base, spec, e))
      .orderBy("row_idx")
  }

  /** The fixture's three stage days ingested once per JVM into a
    * `date=YYYY-MM-DD/` parquet table, decoy included.
    */
  private def partitionedStages(s: SparkSession, base: String): String =
    Scratch.once(Scratch.dir(base, "partitioned_stages")) { tmp =>
      FunnelSources.ingestPartitioned(
        FunnelSources.stages(s, base,
          DateSpec.parse("30_01_2026 -> 01_02_2026")),
        tmp)
    }

  /** The partitioned-layout twin of [[query]]: the stages source reads
    * the `date=` parquet table through [[FunnelSources
    * .stagesPartitioned]] — partition selection is a PLANNED predicate
    * (PruneFileSourcePartitions drops the decoy day before listing its
    * files; plan shape asserted in FunnelSourcesSpec) — while the other
    * three families stay on the CSV path. Same oracle as [[query]]: the
    * decoy values equal the default 31_01 day's by construction
    * (day-index 0 both times), so ONLY correct pruning reproduces the
    * CSV result.
    */
  def partitionedQuery(s: SparkSession, ignoredSfDir: String): DataFrame = {
    val base = fixture()
    val dir = partitionedStages(s, base)
    val spec = DateSpec.parse(dateSpecText)
    val e = Some(entity)
    FunnelTable.buildFromRaw(
      FunnelSources.stagesPartitioned(s, dir, spec, e),
      FunnelSources.otp(s, base, spec, e),
      FunnelSources.discovery(s, base, spec, e),
      FunnelSources.userFunnel(s, base, spec, e))
      .orderBy("row_idx")
  }

  /** File-lineage audit over the fixture's per-user fact files: each
    * input file's row count and entity fan-out, keyed by the file's own
    * NAME via the `_metadata.file_name` hidden column — the "which
    * physical file contributed what" provenance question every
    * multi-file ingest layer answers before trusting a backfill. The
    * oracle reads the SAME files through DuckDB `read_csv(filename =
    * true)`, so the hidden-column plumbing sits under the hard value
    * gate.
    */
  def lineageQuery(s: SparkSession, ignoredSfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = fixture()
    val days = DateSpec.parse(dateSpecText).days
    val paths = days.map { d =>
      val tok = DateSpec.formatDay(d)
      s"$base/$tok/${FunnelSources.userFunnelPrefix}-$tok.csv"
    }
    s.read.schema(Schemas.userFunnel).option("header", "true")
      .csv(paths: _*)
      .select(col("_metadata.file_name").as("file"),
        col("entity_id"), col("fetch_status"))
      .groupBy("file")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("entity_id").as("n_entities"),
        count(when(col("fetch_status") === "Success", 1))
          .as("n_success"))
      .orderBy("file")
  }

  val lineageOracle: String = {
    val days = DateSpec.parse(dateSpecText).days
    val files = days.map { d =>
      val tok = DateSpec.formatDay(d)
      s"'$fixtureDir/$tok/${FunnelSources.userFunnelPrefix}-$tok.csv'"
    }.mkString("[", ", ", "]")
    s"""SELECT regexp_extract(filename, '[^/]+$$') AS file,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  count(DISTINCT entity_id) AS n_entities,
       |  CAST(count(CASE WHEN fetch_status = 'Success' THEN 1 END)
       |    AS BIGINT) AS n_success
       |FROM read_csv($files, header = true, all_varchar = true,
       |  filename = true)
       |GROUP BY 1 ORDER BY file""".stripMargin
  }

  /** DuckDB twin over the same CSV files. Semantics mirrored per source:
    *  - stages: per-value trunc-to-long BEFORE sum (FunnelAggregates
    *    .stageTotals; `report_engine.py:225`), empty scan -> 0;
    *  - otp: plain double sums (`Total_*`), truncated later in `w`;
    *  - discovery: NULLIF('') before the cast;
    *  - fi: status-filtered conditional counts;
    *  - `w`: the shared [[FunnelOracleGen.wide]] projection.
    * The shared [[FunnelOracleGen.tableSql]] emits survivors + rows.
    */
  val oracle: String = {
    // derived from the SAME DateSpec the Spark side scans — the fixture's
    // defaultDays happening to coincide is not load-bearing, so editing
    // either constant can't silently desync the pair
    val days = DateSpec.parse(dateSpecText).days
    def files(prefix: String): String =
      days.map { d =>
        val tok = DateSpec.formatDay(d)
        s"'$fixtureDir/$tok/$prefix-$tok.csv'"
      }.mkString("[", ", ", "]")
    def readCsv(prefix: String): String =
      s"read_csv(${files(prefix)}, header = true, all_varchar = true)"

    // per-value truncation before sum; empty relation -> 0 (coalesce);
    // outer CAST because DuckDB sums BIGINT as HUGEINT
    val stgAggs = Schemas.stageColumns.map(c =>
      s"CAST(coalesce(sum(CAST(trunc(CAST($c AS DOUBLE)) AS BIGINT)), 0) AS BIGINT) AS $c")
      .mkString(",\n    ")
    val otpAggs = Schemas.otpColumns.map(c =>
      s"sum(CAST($c AS DOUBLE)) AS Total_$c").mkString(",\n    ")
    val dscAggs = Schemas.discoveryColumns.map(c =>
      s"sum(CAST(nullif($c, '') AS DOUBLE)) AS $c").mkString(",\n    ")

    FunnelOracleGen.tableSql(
      s"""WITH stg AS (
         |  SELECT $stgAggs
         |  FROM ${readCsv(FunnelSources.stagesPrefix)}
         |  WHERE Entity_ID = '$entity'
         |    AND CAST(strptime("Date", '%d-%m-%Y') AS DATE)
         |        BETWEEN DATE '${days.head}' AND DATE '${days.last}'),
         |otp AS (
         |  SELECT $otpAggs
         |  FROM ${readCsv(FunnelSources.otpPrefix)}
         |  WHERE entity_id = '$entity'),
         |dsc AS (
         |  SELECT $dscAggs
         |  FROM ${readCsv(FunnelSources.discoveryPrefix)}
         |  WHERE entity_id = '$entity'),
         |fi AS (
         |  SELECT
         |    CAST(count(*) FILTER (WHERE fetch_status = 'Success') AS BIGINT)
         |      AS fi_success_cnt,
         |    CAST(count(*) FILTER (WHERE fetch_status = 'Failed') AS BIGINT)
         |      AS fi_failed_cnt
         |  FROM ${readCsv(FunnelSources.userFunnelPrefix)}
         |  WHERE entity_id = '$entity'),
         |w AS (SELECT ${FunnelOracleGen.wide} FROM stg, otp, dsc, fi)""".stripMargin)
  }

  val defs: Seq[QueryDef] = Seq(
    // CSV source layer end-to-end (path templating, month glob, range
    // post-filter, entity pushdown) over a generated on-disk fixture
    // in the reference's directory layout, oracle-checked by DuckDB
    // read_csv over the same files.
    QueryDef("csv_funnel_report", query, oracle),
    // same report over the at-scale layout: stages ingested once as a
    // date=-partitioned parquet table (with a decoy out-of-range day)
    // and pruned by a planned partition predicate, not path strings;
    // it must reproduce the CSV-path result exactly, so one oracle
    // serves both
    QueryDef("csv_funnel_partitioned", partitionedQuery, oracle),
    // per-file provenance via the _metadata hidden column, against
    // DuckDB read_csv(filename = true) over the same files
    QueryDef("file_lineage", lineageQuery, lineageOracle))
}
