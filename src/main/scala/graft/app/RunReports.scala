package graft.app

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.GraftSession
import graft.core.DateSpec
import graft.engine.{FunnelAggregates, FunnelRender, FunnelTable}
import graft.io.{FunnelSources, MockData, Recipients, Sinks}

/** Orchestration CLI — the reference's `run_reports.py` lifecycle
  * (`run_reports.py:172-248`): resolve config, default the date to
  * YESTERDAY (`run_reports.py:183`), loop entities with per-entity Try
  * isolation (one bad entity never kills the run), extract → transform →
  * load, emit parquet + csv + xlsx per entity, email-or-skip.
  *
  * Usage:
  *   RunReports --demo [--out DIR]
  *   RunReports --base DIR [--date SPEC] [--recipients FILE] [--out DIR]
  */
object RunReports {

  final case class Args(
      demo: Boolean = false,
      base: Option[String] = None,
      date: Option[String] = None,
      recipients: Option[String] = None,
      out: String = "target/reports")

  private val valueFlags = Set("--base", "--date", "--recipients", "--out")

  def parseArgs(argv: List[String], acc: Args = Args()): Args = argv match {
    case Nil => acc
    case "--demo" :: rest => parseArgs(rest, acc.copy(demo = true))
    case "--base" :: v :: rest => parseArgs(rest, acc.copy(base = Some(v)))
    case "--date" :: v :: rest => parseArgs(rest, acc.copy(date = Some(v)))
    case "--recipients" :: v :: rest => parseArgs(rest, acc.copy(recipients = Some(v)))
    case "--out" :: v :: rest => parseArgs(rest, acc.copy(out = v))
    case flag :: Nil if valueFlags(flag) =>
      throw new IllegalArgumentException(s"missing value for $flag")
    case other :: _ => throw new IllegalArgumentException(s"unknown arg: $other")
  }

  /** Yesterday, the reference's default reporting date (t-1 daily batch).
    * Resolved in UTC to agree with the session's pinned
    * `spark.sql.session.timeZone=UTC` and the UTC-partitioned source
    * layout — the JVM default zone near midnight would pick a different
    * day than the data partitions.
    */
  def defaultDate(today: LocalDate = LocalDate.now(java.time.ZoneOffset.UTC)): String =
    DateSpec.formatDay(today.minusDays(1))

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toList)
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failures = run(spark, args)
    spark.stop()
    if (failures > 0) sys.exit(1)
  }

  /** Returns the number of failed entities. */
  def run(spark: SparkSession, args: Args): Int = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(args.out))
    val dateSpec = args.date.getOrElse(defaultDate())
    val recipients = args.recipients.map(Recipients.load)

    val entities: Seq[String] =
      if (args.demo) Seq("example-fiu")
      else recipients.map(_.to.keys.toSeq.sorted).getOrElse(Seq.empty)
    if (entities.isEmpty) {
      println("[run] no entities to report (provide --recipients or --demo)")
      return 0
    }

    val results = entities.map { entity =>
      entity -> Try(reportForEntity(spark, args, dateSpec, entity, recipients))
    }
    results.foreach {
      case (e, Success(path)) => println(s"[run] $e -> $path")
      case (e, Failure(ex)) =>
        println(s"[run] $e FAILED: ${ex.getClass.getSimpleName}: ${ex.getMessage}")
    }
    results.count(_._2.isFailure)
  }

  private def reportForEntity(spark: SparkSession, args: Args,
      dateSpec: String, entity: String,
      recipients: Option[Recipients]): String = {
    val totals: DataFrame =
      if (args.demo)
        // demo mode: raw rows whose totals are the reference's mock fetch
        // outputs (report_engine.py:326-367)
        FunnelAggregates.totals(MockData.stages(spark), MockData.rawOtp(spark),
          MockData.rawDiscovery(spark), MockData.rawUserFunnel(spark))
      else {
        val base = args.base.getOrElse(
          throw new IllegalArgumentException("--base required without --demo"))
        val spec = DateSpec.parse(dateSpec)
        val e = Some(entity)
        FunnelAggregates.totals(
          FunnelSources.stages(spark, base, spec, e),
          FunnelSources.otp(spark, base, spec, e),
          FunnelSources.discovery(spark, base, spec, e),
          FunnelSources.userFunnel(spark, base, spec, e))
      }

    // The one action over the sources: every total is a scalar, so the
    // report is a function of this single row. Everything below runs over
    // a one-row local relation and never re-reads the CSV files.
    val wide = FunnelTable.wideFromJoined(totals)
    val wideRow = wide.collect().head
    // empty stage fetch -> skip entity, the reference's posture
    // (run_reports.py:219-221); the built table would be 18 zero rows,
    // which must never ship as a report
    if (wideRow.getAs[Long](FunnelAggregates.StageRows) == 0L)
      throw new IllegalStateException(s"no data for $entity @ $dateSpec")
    val one = spark.createDataFrame(java.util.List.of(wideRow), wide.schema)
    val table = FunnelTable.rows(one)

    val tag = dateSpec.replace(" ", "").replace("->", "-").replace("*", "m")
    val prefix = if (args.demo) "demo_funnel_report" else s"funnel_report-$entity"
    val stem = s"${args.out}/$prefix-$tag"

    alongside(Sinks.parquet(table, s"$stem.parquet")) {
      val grid = FunnelRender.unsortedGrid(table, FunnelTable.summary(one))
      // presentation-sized collect, put in `ord` order here (the order of
      // FunnelRender.grid): the csv is written from these rows as they
      // are, and the xlsx built from them
      val gridRows = grid.collect().sortBy(_.getInt(0)).toSeq
      Sinks.csv(spark.createDataFrame(gridRows.asJava, grid.schema),
        s"$stem.grid.csv")
      // The reference's excel writer prepends one blank row above the grid
      // (run_reports.py:66-67), making the golden file 25 rows.
      val blank = Row.fromSeq(Seq.fill(7)(""))
      Sinks.xlsxFunnel(blank +: gridRows.map(r => Row.fromSeq(r.toSeq.tail)),
        s"$stem.xlsx")
    }

    recipients.foreach { r =>
      Sinks.emailOrSkip(
        r.to.getOrElse(entity, Seq.empty), r.ccFor(entity),
        s"Funnel report $entity $dateSpec", s"$stem.xlsx")
    }
    s"$stem.{parquet,grid.csv,xlsx}"
  }

  /** Runs `side` on a new thread while `body` runs on this one, and
    * returns `body`'s result once both have ended; a failure of either
    * is thrown (`body`'s first, with `side`'s suppressed). The thread is
    * created here so it inherits this thread's Spark local properties
    * (job group, scheduler pool, any caller's tags): its jobs stay
    * attributed to the caller's work, which a pooled thread would not
    * guarantee.
    */
  private[graft] def alongside[A](side: => Unit)(body: => A): A = {
    var sideFailure: Option[Throwable] = None // read after join
    val t = new Thread(() =>
      try side catch { case e: Throwable => sideFailure = Some(e) },
      "report-sink")
    t.start()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    t.join()
    (result, sideFailure) match {
      case (Right(a), None) => a
      case (Right(_), Some(e)) => throw e
      case (Left(e), other) => other.foreach(e.addSuppressed); throw e
    }
  }
}
