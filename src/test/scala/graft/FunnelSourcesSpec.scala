package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DateSpec
import graft.engine.{FunnelAggregates, FunnelTable}
import graft.io.{FunnelCsvFixture, FunnelSources}

/** CSV source layer: path templating, month globbing, range post-filter,
  * entity pushdown, and the missing-day degrade-to-empty posture
  * (`report_engine.py:60-112` semantics).
  */
class FunnelSourcesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val base: String = {
    val dir = Files.createTempDirectory("funnel-csv").toString
    FunnelCsvFixture.write(dir, Seq(
      LocalDate.of(2026, 1, 30), LocalDate.of(2026, 1, 31),
      LocalDate.of(2026, 2, 1)))
    dir
  }

  test("day scan reads exactly one day's file with explicit schema") {
    val df = FunnelSources.stages(spark, base, DateSpec.parse("30_01_2026"))
    assert(df.count() === 2) // two entities
    assert(df.schema.fieldNames.take(2).toSeq === Seq("Entity_ID", "Date"))
    val v = df.filter(col("Entity_ID") === "fiu-a")
      .select("AA_client_Initialization").collect().head.getString(0)
    assert(v === FunnelCsvFixture.stageValue(0, 0, 0).toString)
  }

  test("month glob scan unions all days of the month") {
    val df = FunnelSources.stages(spark, base, DateSpec.parse("*01_2026"))
    assert(df.count() === 4) // 2 days in Jan x 2 entities
  }

  test("range scan spans month globs then post-filters on the dd-MM-yyyy Date column") {
    val spec = DateSpec.parse("31_01_2026 -> 01_02_2026")
    val df = FunnelSources.stages(spark, base, spec)
    // month globs alone would read all 3 days (6 rows); the Date filter
    // must cut 30_01 (the reference's overcount guard, report_engine.py:104-107)
    assert(df.count() === 4)
    assert(df.select(min(to_date(col("Date"), "dd-MM-yyyy"))).collect()
      .head.getDate(0).toString === "2026-01-31")
  }

  test("partitioned-parquet layout: planner prunes date partitions and results match the CSV path") {
    val out = Files.createTempDirectory("funnel-part").toString + "/stages"
    // ingest the whole 3-day CSV corpus once into date=... partitions
    FunnelSources.ingestPartitioned(
      FunnelSources.stages(spark, base, DateSpec.parse("30_01_2026 -> 01_02_2026")),
      out)

    val spec = DateSpec.parse("31_01_2026 -> 01_02_2026")
    val df = FunnelSources.stagesPartitioned(spark, out, spec, Some("fiu-a"))
    // PartitionFilters on the scan = pruning happens at planning time,
    // before any data file of the out-of-range day is listed
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(plan.contains("date#") && plan.contains(">= 2026-01-31"),
      s"range predicate not applied to the partition column\n${plan.take(800)}")
    // same rows as the CSV-layout path for the same spec + entity
    // (the partitioned table's `date` is the parsed Date column)
    val csv = FunnelSources.stages(spark, base, spec, Some("fiu-a"))
      .select(col("Entity_ID"), to_date(col("Date"), "dd-MM-yyyy").as("d"),
        col("AA_client_Initialization"))
      .collect().map(_.toSeq).toSet
    val part = df.select(col("Entity_ID"), col("date").as("d"),
      col("AA_client_Initialization"))
      .collect().map(_.toSeq).toSet
    assert(part === csv)
  }

  test("summary sources read exact day-path lists (no whole-month overcount)") {
    val spec = DateSpec.parse("31_01_2026 -> 01_02_2026")
    assert(FunnelSources.otp(spark, base, spec).count() === 4)
    val fi = FunnelSources.userFunnel(spark, base, spec, Some("fiu-a"))
    // day idx 1: 9+2+2(junk)+... (8+0+1,2+0,1+1)=9,2,2 +2 junk = 15? hand-count:
    // d=1: (9,2,2)+2 junk = 15; d=2: (10,2,3)+2 junk = 17
    assert(fi.count() === 32)
  }

  test("missing day degrades to an empty frame, not an error") {
    val df = FunnelSources.stages(spark, base, DateSpec.parse("25_12_2025"))
    assert(df.isEmpty)
    assert(df.schema === graft.core.Schemas.stages)
  }

  test("entity filter is a bound predicate returning only that entity") {
    val df = FunnelSources.otp(spark, base, DateSpec.parse("30_01_2026"), Some("fiu-b"))
    val rows = df.collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0) === "fiu-b")
  }

  test("end-to-end: CSV scans through buildFromRaw yield the 18-row table with hand-checked totals") {
    val spec = DateSpec.parse("30_01_2026")
    val e = Some("fiu-a")
    val table = FunnelTable.buildFromRaw(
      FunnelSources.stages(spark, base, spec, e),
      FunnelSources.otp(spark, base, spec, e),
      FunnelSources.discovery(spark, base, spec, e),
      FunnelSources.userFunnel(spark, base, spec, e))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(table.size === 18)
    // total_users = sum of stage cols 0..6 for (e=0,d=0): 100+200+...+700 = 2800
    assert(table(0).getAs[Long]("success_count") === 2800L)
    // FI Request success = Success+Failed counts = 8+2 = 10
    assert(table(16).getAs[Long]("success_count") === 10L)
    // Account Discovery drop d3 = discovery sum with empty cell -> null -> skipped:
    // 30+60+(empty)+9+3 = 102
    assert(table(6).getAs[Long]("drop_count") === 102L)
  }

  test("registered csv_funnel_partitioned: decoy day pruned at plan time, result equals the CSV-path report") {
    val part = graft.queries.CsvFunnelReport.partitionedQuery(spark, "")
    // plan-level proof: the scan carries the range as PartitionFilters,
    // so the 30_01 decoy directory is dropped before file listing
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert(plan.contains(">= 2026-01-31"),
      s"range lower bound not planned on the partition column\n${plan.take(800)}")
    // value-level proof: the decoy shares 31_01's values, so an unpruned
    // scan would double that day's contribution and break equality
    val csv = graft.queries.CsvFunnelReport.query(spark, "")
    assert(part.collect().map(_.toSeq).toSeq ===
      csv.collect().map(_.toSeq).toSeq)
  }

  test("registered csv fixture: the stage month glob reads the decoy day, the Range post-filter drops it") {
    import graft.queries.CsvFunnelReport
    CsvFunnelReport.query(spark, "") // builds the shared fixture
    val base = CsvFunnelReport.fixtureDir
    def dates(spec: String): Seq[String] =
      FunnelSources.stages(spark, base, DateSpec.parse(spec), Some("fiu-a"))
        .select("Date").collect().map(_.getString(0)).toSeq.sorted
    assert(dates("*01_2026") === Seq("30-01-2026", "31-01-2026"))
    assert(dates(CsvFunnelReport.dateSpecText) ===
      Seq("01-02-2026", "31-01-2026"))
  }

  test("union-of-days equals one multi-day scan (partial/final agg equivalence)") {
    val spec = DateSpec.parse("30_01_2026 -> 31_01_2026")
    val once = FunnelAggregates.otpTotals(
      FunnelSources.otp(spark, base, spec)).collect().head
    val perDay = spec.days.map(d =>
      FunnelSources.otp(spark, base, DateSpec.Day(d)))
    val unioned = FunnelAggregates.otpTotals(
      perDay.reduce(_ unionByName _)).collect().head
    assert(once === unioned)
  }
}
