package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Schemas
import graft.engine.{FunnelAggregates, FunnelTable}
import graft.io.MockData

/** Golden-value tests: the reference's demo fixture (`report_engine.py:326-367`)
  * through the full funnel pipeline must reproduce the committed golden xlsx
  * (`output/demo_funnel_report-15_02_2026.xlsx`, decoded in FIXTURES.md §3),
  * one named test per SURVEY §2.9 quirk.
  */
class FunnelTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import java.{lang => jl}

  private lazy val table: Map[Int, Row] = {
    val df = FunnelTable.build(
      MockData.stages(spark),
      MockData.otpTotals(spark),
      MockData.discoveryTotals(spark),
      MockData.fiStatusCounts(spark))
    df.collect().map(r => r.getInt(0) -> r).toMap
  }

  private lazy val summaryRow: Row = {
    val w = FunnelTable.wide(
      FunnelAggregates.stageTotals(MockData.stages(spark)),
      MockData.otpTotals(spark),
      MockData.discoveryTotals(spark),
      MockData.fiStatusCounts(spark))
    FunnelTable.summary(w).collect().head
  }

  private def succ(i: Int): (jl.Long, jl.Double) =
    (table(i).getAs[jl.Long]("success_count"), table(i).getAs[jl.Double]("success_pct"))
  private def drop(i: Int): (jl.Long, jl.Double) =
    (table(i).getAs[jl.Long]("drop_count"), table(i).getAs[jl.Double]("drop_pct"))

  test("table has exactly 18 data rows in fixed order") {
    assert(table.size === 18)
    assert(table.keySet === (0 until 18).toSet)
  }

  test("golden base: total_users = 7700 (quirk 1: uses the Discovery STAGE column)") {
    assert(summaryRow.getAs[Long]("total_users") === 7700L)
    assert(succ(0) === (jl.Long.valueOf(7700L), jl.Double.valueOf(100.0)))
  }

  test("summary metrics: approved 16.2, shared 10.6") {
    assert(summaryRow.getAs[Double]("approved_pct") === 16.2)
    assert(summaryRow.getAs[Double]("shared_pct") === 10.6)
  }

  test("banker's rounding: 6900/7700*100 -> 89.6 (bround, not HALF_UP round)") {
    assert(succ(1) === (jl.Long.valueOf(6900L), jl.Double.valueOf(89.6)))
    assert(drop(1) === (jl.Long.valueOf(800L), jl.Double.valueOf(10.4)))
  }

  test("quirk 4: Consent Initiated dropoff hardcoded to 0") {
    assert(drop(0) === (jl.Long.valueOf(0L), jl.Double.valueOf(0.0)))
  }

  test("Registration/Login survivors 5400/70.1, drop 1500/19.5") {
    assert(succ(2) === (jl.Long.valueOf(5400L), jl.Double.valueOf(70.1)))
    assert(drop(2) === (jl.Long.valueOf(1500L), jl.Double.valueOf(19.5)))
  }

  test("otp subcauses: 450/5.8, 1200/15.6") {
    assert(drop(3) === (jl.Long.valueOf(450L), jl.Double.valueOf(5.8)))
    assert(drop(4) === (jl.Long.valueOf(1200L), jl.Double.valueOf(15.6)))
  }

  test("quirk 2: otp_ok_drop is NEGATIVE (-150 / -1.9), no clamping") {
    assert(drop(5) === (jl.Long.valueOf(-150L), jl.Double.valueOf(-1.9)))
  }

  test("quirk 1: Account Discovery drop uses discovery-summary sum d3=1700, not stage col 600") {
    assert(succ(6) === (jl.Long.valueOf(3700L), jl.Double.valueOf(48.1)))
    assert(drop(6) === (jl.Long.valueOf(1700L), jl.Double.valueOf(22.1)))
  }

  test("discovery subcauses: 600/7.8, 200/2.6, 150/1.9, 750/9.7") {
    assert(drop(7) === (jl.Long.valueOf(600L), jl.Double.valueOf(7.8)))
    assert(drop(8) === (jl.Long.valueOf(200L), jl.Double.valueOf(2.6)))
    assert(drop(9) === (jl.Long.valueOf(150L), jl.Double.valueOf(1.9)))
    assert(drop(10) === (jl.Long.valueOf(750L), jl.Double.valueOf(9.7)))
  }

  test("Account Linking 2100/27.3, drop 1600/20.8") {
    assert(succ(11) === (jl.Long.valueOf(2100L), jl.Double.valueOf(27.3)))
    assert(drop(11) === (jl.Long.valueOf(1600L), jl.Double.valueOf(20.8)))
  }

  test("quirk 6: appr/rej repeat — review row 1250/16.2 & 1950/25.3, rejected subcause 1950/25.3") {
    assert(succ(12) === (jl.Long.valueOf(1250L), jl.Double.valueOf(16.2)))
    assert(drop(12) === (jl.Long.valueOf(1950L), jl.Double.valueOf(25.3)))
    assert(drop(13) === (jl.Long.valueOf(1950L), jl.Double.valueOf(25.3)))
  }

  test("quirk 5: 'User did not take any action' row is blank (null), not 0") {
    assert(table(14).getAs[jl.Long]("drop_count") === null)
    assert(table(14).getAs[jl.Double]("drop_pct") === null)
  }

  test("artefact delivery 1100/14.3 drop 150/1.9; FI request 1050/13.6 drop 50/0.6; FI fetch 820/10.6 drop 230/3.0") {
    assert(succ(15) === (jl.Long.valueOf(1100L), jl.Double.valueOf(14.3)))
    assert(drop(15) === (jl.Long.valueOf(150L), jl.Double.valueOf(1.9)))
    assert(succ(16) === (jl.Long.valueOf(1050L), jl.Double.valueOf(13.6)))
    assert(drop(16) === (jl.Long.valueOf(50L), jl.Double.valueOf(0.6)))
    assert(succ(17) === (jl.Long.valueOf(820L), jl.Double.valueOf(10.6)))
    assert(drop(17) === (jl.Long.valueOf(230L), jl.Double.valueOf(3.0)))
  }

  test("buildFromRaw over raw S2-S4 fixtures equals build over pre-aggregated ones") {
    val fromRaw = FunnelTable.buildFromRaw(
      MockData.stages(spark),
      MockData.rawOtp(spark),
      MockData.rawDiscovery(spark),
      MockData.rawUserFunnel(spark))
    val raw = fromRaw.collect().map(r => r.getInt(0) -> r).toMap
    assert(raw.size === 18)
    (0 until 18).foreach { i => assert(raw(i) === table(i), s"row $i") }
  }

  private def frame(schema: StructType, rows: Seq[Seq[String]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(Row.fromSeq): _*), schema)

  private def mockRaw: Seq[DataFrame] = Seq(MockData.stages(spark),
    MockData.rawOtp(spark), MockData.rawDiscovery(spark),
    MockData.rawUserFunnel(spark))

  test("one aggregate equals the four per-family aggregates: MockData raw " +
      "frames, whole and with each family missing in turn") {
    val schemas = Seq(Schemas.stages, Schemas.otpSummary,
      Schemas.discoverySummary, Schemas.userFunnel)
    (None +: schemas.indices.map(Some(_))).foreach { missing =>
      val raw = mockRaw
      val Seq(st, otp, disc, facts) = raw.indices.map(i =>
        if (missing.contains(i)) frame(schemas(i), Nil) else raw(i))
      FunnelTableSpec.assertTotalsMatch(st, otp, disc, facts,
        missing.fold("mock")(i => s"missing ${schemas(i).fieldNames(1)}"))
    }
  }

  test("one aggregate equals the four per-family aggregates: malformed " +
      "cells and fractional sums over several partitions") {
    // non-ANSI casts turn "12x", "abc" and "1e" into null, which SUM skips;
    // 12 fractional rows make a several-partition local scan, so the
    // double sums are order-sensitive and must still agree bit for bit
    val stages = frame(Schemas.stages, Seq(
      Seq("example-fiu", "15-02-2026") ++ Schemas.stageColumns.indices.map(
        c => if (c == 3) "12x" else s"${c + 1}.9"),
      Seq("example-fiu", "16-02-2026") ++ Schemas.stageColumns.indices.map(
        c => s"-${c + 2}.5")))
    val otp = frame(Schemas.otpSummary, (1 to 12).map(i =>
      Seq("example-fiu", s"0.$i", if (i == 5) "abc" else s"${i}e15",
        s"${1.0 / (i + 2)}")))
    val disc = frame(Schemas.discoverySummary, (1 to 12).map(i =>
      Seq("example-fiu", "", s"$i.01", if (i % 4 == 0) "1e" else s"0.$i$i",
        s"-$i.3", s"${1.0 / (3 * i)}")))
    val facts = frame(Schemas.userFunnel, Seq("Success", "Failed", "Success",
      null, "", "Bogus", "Not Attempted", "success").map(st =>
      Seq("example-fiu", st)))
    assert(otp.rdd.getNumPartitions > 1)
    FunnelTableSpec.assertTotalsMatch(stages, otp, disc, facts, "malformed")
  }

  test("subcause success cells are null and flagged is_subcause") {
    Seq(3, 4, 5, 7, 8, 9, 10, 13, 14).foreach { i =>
      assert(table(i).getAs[jl.Long]("success_count") === null)
      assert(table(i).getAs[jl.Double]("success_pct") === null)
      assert(table(i).getAs[Boolean]("is_subcause"))
    }
  }
}

object FunnelTableSpec {

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  /** [[FunnelAggregates.totals]] over the four raw frames equals the four
    * per-family aggregates, column by column with doubles compared bit for
    * bit; its stage-row count equals the stage frame's; and its wide row,
    * less that count, equals [[FunnelTable.wide]] over the four
    * aggregates, schema included.
    */
  def assertTotalsMatch(stages: DataFrame, otp: DataFrame,
      discovery: DataFrame, facts: DataFrame, clue: String): Unit = {
    val one = FunnelAggregates.totals(stages, otp, discovery, facts)
    val got = one.collect().head
    val four = FunnelAggregates.stageTotals(stages)
      .crossJoin(FunnelAggregates.otpTotals(otp))
      .crossJoin(FunnelAggregates.discoveryTotals(discovery))
    val want = four.collect().head
    four.schema.foreach { f =>
      assert(bits(got.getAs[Any](f.name)) === bits(want.getAs[Any](f.name)),
        s"$clue: ${f.name} ${got.getAs[Any](f.name)} vs ${want.getAs[Any](f.name)}")
      assert(one.schema(f.name) === f, s"$clue: ${f.name} type")
    }
    val fi = FunnelAggregates.fiStatusCounts(facts).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.getAs[Long]("fi_success_cnt") === fi.getOrElse("Success", 0L), clue)
    assert(got.getAs[Long]("fi_failed_cnt") === fi.getOrElse("Failed", 0L), clue)
    assert(got.getAs[Long](FunnelAggregates.StageRows) === stages.count(), clue)

    // the stage-row count passes through the wide projection
    val wideOne = FunnelTable.wideFromJoined(one).drop(FunnelAggregates.StageRows)
    val wideFour = FunnelTable.wide(FunnelAggregates.stageTotals(stages),
      FunnelAggregates.otpTotals(otp), FunnelAggregates.discoveryTotals(discovery),
      FunnelAggregates.fiStatusCounts(facts))
    assert(wideOne.schema === wideFour.schema, clue)
    assert(wideOne.collect().toSeq === wideFour.collect().toSeq, clue)
  }
}
