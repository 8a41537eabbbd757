package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.ZipFile

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.app.RunReports
import graft.core.DateSpec
import graft.engine.{FunnelAggregates, FunnelRender, FunnelTable}
import graft.io.{FunnelCsvFixture => Fx, FunnelSources, MockData, Sinks}

/** The report path of [[RunReports]]: one pass over the source files per
  * report, output identical to the lazy `FunnelRender.grid` plan over the
  * same sources, and its argument parsing.
  */
class RunReportsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private lazy val base: String = {
    val dir = Tmp.dir("reports-in").toString
    Fx.write(dir, Fx.defaultDays)
    dir
  }

  private def recipients(entities: Seq[String]): String = {
    val f = Tmp.file("recipients", ".json")
    Files.writeString(f, entities.map(e => s""""$e": ["$e@x"]""")
      .mkString("""{"to": {""", ", ", "}}"))
    f.toString
  }

  private def run(date: String, entities: Seq[String]): String = {
    val out = Tmp.dir("reports-out").toString
    assert(RunReports.run(spark, RunReports.Args(base = Some(base),
      date = Some(date), recipients = Some(recipients(entities)),
      out = out)) === 0)
    out
  }

  /** Text of the single part-file of a csv output directory. */
  private def partText(dir: String): String = {
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size === 1, s"expected one part-file in $dir")
    Files.readString(parts.head)
  }

  private def sheetXml(xlsx: String): String = {
    val zf = new ZipFile(xlsx)
    try new String(zf.getInputStream(
      zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
    finally zf.close()
  }

  /** The grid as the xlsx sink takes it: one blank row, then the grid. */
  private def xlsxOf(grid: DataFrame): String = {
    val path = Tmp.file("lazy", ".xlsx").toString
    Sinks.xlsxFunnel(Row.fromSeq(Seq.fill(7)("")) +:
      grid.drop("ord").collect().toSeq, path)
    path
  }

  private def isCsvScan(qe: QueryExecution): Boolean =
    qe.optimizedPlan.exists {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.fileFormat.isInstanceOf[CSVFileFormat]
        case _ => false
      }
      case _ => false
    }

  test("one report reads its day's four CSV files once, in one query") {
    val day = Fx.defaultDays.head
    val dayDir = Paths.get(base, DateSpec.formatDay(day))
    val dayBytes = Files.list(dayDir).iterator().asScala
      .map(p => Files.size(p)).sum
    val csvQueries, queries = new AtomicInteger(0)
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        queries.incrementAndGet()
        if (isCsvScan(qe)) csvQueries.incrementAndGet()
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        queries.incrementAndGet()
    }
    val listener = new Suite.TaskListener
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
    try {
      val before = listener.settled()
      run(DateSpec.formatDay(day), Seq("fiu-a"))
      val d = listener.settled() - before
      // a report ends four queries; their end events arrive asynchronously
      val deadline = System.nanoTime() + 5000000000L
      while (queries.get < 4 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(math.abs(d.bytesRead - dayBytes) <= dayBytes / 100,
        s"read ${d.bytesRead} bytes for a $dayBytes-byte day")
      assert(csvQueries.get === 1, s"${csvQueries.get} of ${queries.get} queries read CSV")
      // one source aggregate (2 jobs), the grid collect, parquet and csv
      assert(d.jobs <= 5, s"${d.jobs} jobs")
    } finally {
      spark.listenerManager.unregister(qel)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Job group of every job started while `body` runs. */
  private def jobGroups(body: => Unit): Seq[String] = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    val listener = new Suite.TaskListener
    spark.sparkContext.addSparkListener(jobs)
    spark.sparkContext.addSparkListener(listener)
    try { body; listener.settled() }
    finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.sparkContext.removeSparkListener(jobs)
    }
    groups.asScala.toSeq
  }

  test("every job of a report carries the caller's job group, sinks included") {
    // two reports under two groups: a sink thread reused across reports
    // would carry the first group into the second
    Seq("report-1", "report-2").foreach { group =>
      spark.sparkContext.setJobGroup(group, "one report")
      val groups =
        try jobGroups(run(DateSpec.formatDay(Fx.defaultDays.head), Seq("fiu-a")))
        finally spark.sparkContext.clearJobGroup()
      assert(groups.nonEmpty)
      assert(groups.forall(_ == group), groups.mkString(","))
    }
  }

  test("the one-aggregate totals equal the four per-family aggregates " +
      "for both entities, day and range specs") {
    Seq("31_01_2026", "31_01_2026 -> 01_02_2026").foreach { date =>
      val spec = DateSpec.parse(date)
      Fx.entities.foreach { e =>
        val en = Some(e)
        FunnelTableSpec.assertTotalsMatch(
          FunnelSources.stages(spark, base, spec, en),
          FunnelSources.otp(spark, base, spec, en),
          FunnelSources.discovery(spark, base, spec, en),
          FunnelSources.userFunnel(spark, base, spec, en), s"$e @ $date")
      }
    }
  }

  test("a failing sink fails its entity only, after both sinks have ended") {
    val out = Tmp.dir("reports-sinkfail")
    val date = DateSpec.formatDay(Fx.defaultDays.head)
    // a directory where fiu-a's xlsx goes: the grid branch fails while
    // the parquet write runs alongside it
    Files.createDirectories(out.resolve(s"funnel_report-fiu-a-$date.xlsx"))
    assert(RunReports.run(spark, RunReports.Args(base = Some(base),
      date = Some(date), recipients = Some(recipients(Fx.entities)),
      out = out.toString)) === 1)
    assert(Files.exists(out.resolve(s"funnel_report-fiu-a-$date.parquet/_SUCCESS")),
      "run returned before the failed entity's parquet write ended")
    Seq("parquet/_SUCCESS", "grid.csv/_SUCCESS", "xlsx").foreach { f =>
      assert(Files.exists(out.resolve(s"funnel_report-fiu-b-$date.$f")), f)
    }
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == "report-sink" && t.isAlive))
  }

  test("alongside waits for both sides and throws the first failure") {
    val ended = new AtomicInteger(0)
    def slow(fail: Boolean): Unit = {
      Thread.sleep(200); ended.incrementAndGet()
      if (fail) throw new IllegalStateException("side")
    }
    assert(RunReports.alongside(slow(fail = false))(7) === 7)
    assert(ended.get === 1)
    val side = intercept[IllegalStateException](
      RunReports.alongside(slow(fail = true))(7))
    assert(side.getMessage === "side" && ended.get === 2)
    val both = intercept[IllegalArgumentException](
      RunReports.alongside(slow(fail = true))(throw new IllegalArgumentException("body")))
    assert(both.getMessage === "body" && ended.get === 3)
    assert(both.getSuppressed.map(_.getMessage).toSeq === Seq("side"))
  }

  test("parquet, grid csv and xlsx equal the lazy grid plan, day and range specs") {
    Seq("31_01_2026", "31_01_2026 -> 01_02_2026").foreach { date =>
      val out = run(date, Fx.entities)
      val spec = DateSpec.parse(date)
      val tag = date.replace(" ", "").replace("->", "-")
      Fx.entities.foreach { e =>
        val clue = s"$e @ $date"
        val stem = s"$out/funnel_report-$e-$tag"
        val w = FunnelTable.wide(
          FunnelAggregates.stageTotals(FunnelSources.stages(spark, base, spec, Some(e))),
          FunnelAggregates.otpTotals(FunnelSources.otp(spark, base, spec, Some(e))),
          FunnelAggregates.discoveryTotals(
            FunnelSources.discovery(spark, base, spec, Some(e))),
          FunnelAggregates.fiStatusCounts(
            FunnelSources.userFunnel(spark, base, spec, Some(e))))
        val rows = FunnelTable.rows(w)
        val grid = FunnelRender.grid(rows, FunnelTable.summary(w))

        assert(spark.read.parquet(s"$stem.parquet").collect().toSeq ===
          rows.collect().toSeq, clue)
        val lazyCsv = Tmp.dir("lazy-grid").resolve("g").toString
        Sinks.csv(grid, lazyCsv)
        assert(partText(s"$stem.grid.csv") === partText(lazyCsv), clue)
        assert(sheetXml(s"$stem.xlsx") === sheetXml(xlsxOf(grid)), clue)
      }
    }
  }

  test("--demo writes the xlsx of the MockData grid") {
    val out = Tmp.dir("demo-out").toString
    assert(RunReports.run(spark, RunReports.Args(demo = true,
      date = Some("15_02_2026"), out = out)) === 0)
    val w = FunnelTable.wide(
      FunnelAggregates.stageTotals(MockData.stages(spark)),
      MockData.otpTotals(spark), MockData.discoveryTotals(spark),
      MockData.fiStatusCounts(spark))
    val grid = FunnelRender.grid(FunnelTable.rows(w), FunnelTable.summary(w))
    assert(sheetXml(s"$out/demo_funnel_report-15_02_2026.xlsx") ===
      sheetXml(xlsxOf(grid)))
  }

  test("a day with no directory fails every entity before any file is written") {
    val out = Tmp.dir("reports-none").toString
    assert(RunReports.run(spark, RunReports.Args(base = Some(base),
      date = Some("05_03_2026"), recipients = Some(recipients(Fx.entities)),
      out = out)) === Fx.entities.size)
    assert(Files.list(Paths.get(out)).count() === 0)
  }

  test("a value flag given last is reported as missing its value") {
    Seq("--base", "--date", "--recipients", "--out").foreach { flag =>
      val e = intercept[IllegalArgumentException](
        RunReports.parseArgs(List("--demo", flag)))
      assert(e.getMessage === s"missing value for $flag")
    }
    assert(RunReports.parseArgs(List("--base", "b", "--out", "o")) ===
      RunReports.Args(base = Some("b"), out = "o"))
    val e = intercept[IllegalArgumentException](RunReports.parseArgs(List("--bogus")))
    assert(e.getMessage === "unknown arg: --bogus")
  }
}
