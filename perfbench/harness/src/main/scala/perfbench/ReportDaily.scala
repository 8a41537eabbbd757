package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Row, SparkSession}

import graft.app.RunReports
import graft.core.{DateSpec, Schemas}
import graft.engine.{FunnelAggregates, FunnelRender, FunnelTable}
import graft.io.{FunnelSources, Sinks}
import graft.queries.FunnelOracleGen

/** The paper's t-1 daily batch: one op is `RunReports.run` for one entity
  * on one Day spec, writing parquet, grid csv and xlsx. Every op parses
  * the whole day files whatever the entity, so ops cost about the same and
  * the timed window may end between any two of them.
  */
final class ReportDaily(spark: SparkSession, a: Harness.Args)
    extends Harness.Workload {
  import ReportDaily._

  private val base = a.work.resolve("report_in")
  private val outDir = a.work.resolve("report_out")
  private val recipientsDir = a.work.resolve("recipients")
  private var layout: Layout = _

  def minPasses: Int = 0

  private def reportArgs(entity: String, out: Path) = RunReports.Args(
    base = Some(base.toString), date = Some(dayToken),
    recipients = Some(recipientsDir.resolve(s"$entity.json").toString),
    out = out.toString)

  private def report(entity: String, out: Path): Unit = {
    val failed = RunReports.run(spark, reportArgs(entity, out))
    if (failed > 0) throw new IllegalStateException(s"report failed for $entity")
  }

  def prepare(): Unit = {
    layout = writeLayout(base, a.seed)
    Files.createDirectories(recipientsDir)
    layout.entities.foreach { e =>
      Files.writeString(recipientsDir.resolve(s"$e.json"),
        s"""{"to": {"$e": ["reports@example.com"]}}""")
    }
    val oracles = new java.util.LinkedHashMap[String, String]()
    layout.entities.foreach(e => oracles.put(e, twinSql(base, e)))
    Files.createDirectories(outDir)
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(outDir.resolve("oracle_sql.json").toFile, oracles)
    // warm-up: the report path's plans are the same for every entity, but
    // the first few reports still run measurably slower as the JIT warms
    layout.entities.take(3).foreach(report(_, a.work.resolve("warmup_out")))
  }

  lazy val ops: Seq[Harness.Op] = layout.entities.map { e =>
    Harness.Op(e, () => { report(e, outDir); None })
  }

  /** The four source calls and the xlsx writer, timed directly. */
  override def traceExtras(op: Harness.Op): Map[String, Double] = {
    val spec = DateSpec.parse(dayToken)
    val e = Some(op.name)
    val t0 = System.nanoTime()
    val stages = FunnelSources.stages(spark, base.toString, spec, e)
    val otp = FunnelSources.otp(spark, base.toString, spec, e)
    val discovery = FunnelSources.discovery(spark, base.toString, spec, e)
    val facts = FunnelSources.userFunnel(spark, base.toString, spec, e)
    val sourcesMs = (System.nanoTime() - t0) / 1e6
    val wide = FunnelTable.wide(FunnelAggregates.stageTotals(stages),
      FunnelAggregates.otpTotals(otp), FunnelAggregates.discoveryTotals(discovery),
      FunnelAggregates.fiStatusCounts(facts))
    val grid = FunnelRender.grid(FunnelTable.rows(wide), FunnelTable.summary(wide))
    val rows = Row.fromSeq(Seq.fill(7)("")) +: grid.drop("ord").collect().toSeq
    val x0 = System.nanoTime()
    Sinks.xlsxFunnel(rows, a.work.resolve("trace.xlsx").toString)
    val xlsxMs = (System.nanoTime() - x0) / 1e6
    Map("io.sources_ms" -> sourcesMs, "io.xlsx_ms" -> xlsxMs,
      "io.spec_bytes" -> layout.files.values.map(_._1).sum.toDouble)
  }

  def info: Map[String, Any] = Map(
    "check_out" -> outDir.toString, "report_in" -> base.toString,
    "day" -> dayToken, "pass_ops" -> layout.entities.size,
    "entity_fact_rows" -> layout.factRows,
    "files" -> layout.files.map { case (f, (bytes, rows)) =>
      f -> Map("bytes" -> bytes, "rows" -> rows) })
}

object ReportDaily {
  val day: LocalDate = LocalDate.of(2026, 2, 15)
  val dayToken: String = DateSpec.formatDay(day)
  val entityCount = 40
  val factRowsTotal = 200000

  /** file name -> (bytes, data rows); entity -> user-fact rows. */
  final case class Layout(entities: Seq[String],
      files: Map[String, (Long, Long)], factRows: Map[String, Int])

  /** Writes one day in the reference's layout,
    * `<base>/dd_MM_yyyy/<prefix>-dd_MM_yyyy.csv`, for the four source
    * families. The seed sets every value and which entity gets which
    * share of the user-fact rows; the shares follow 1/rank, so a few
    * entities hold most rows.
    */
  def writeLayout(base: Path, seed: Long): Layout = {
    val rnd = new java.util.SplittableRandom(seed)
    val entities = (1 to entityCount).map(i => f"fiu-$i%02d")
    val ranks = new scala.util.Random(seed).shuffle((1 to entityCount).toList)
    val weights = ranks.map(r => 1.0 / r)
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray

    val dir = base.resolve(dayToken)
    Files.createDirectories(dir)
    val files = Map.newBuilder[String, (Long, Long)]
    def write(prefix: String, header: Seq[String], rows: Iterator[String]): Unit = {
      val name = s"$prefix-$dayToken.csv"
      val sb = new java.lang.StringBuilder(header.mkString(",")).append('\n')
      var n = 0L
      rows.foreach { r => sb.append(r).append('\n'); n += 1 }
      val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(name), bytes)
      files += name -> (bytes.length.toLong, n)
    }
    // whole numbers mostly; some carry a fraction the funnel truncates
    def count(scale: Int): String = {
      val v = rnd.nextInt(scale + 1)
      if (rnd.nextInt(10) == 0) s"$v.${rnd.nextInt(10)}" else v.toString
    }
    val rowDate = day.format(DateTimeFormatter.ofPattern("dd-MM-yyyy"))
    val scale = entities.indices.map(i => 50 + (weights(i) * 20000).toInt)

    write(FunnelSources.stagesPrefix, Schemas.stages.fieldNames.toSeq,
      entities.indices.iterator.map { i =>
        (Seq(entities(i), rowDate) ++
          Schemas.stageColumns.map(_ => count(scale(i)))).mkString(",")
      })
    write(FunnelSources.otpPrefix, "entity_id" +: Schemas.otpColumns,
      entities.indices.iterator.map { i =>
        (entities(i) +: Schemas.otpColumns.map(_ => count(scale(i)))).mkString(",")
      })
    // an empty cell now and then: NULLIF('') before the cast
    write(FunnelSources.discoveryPrefix, "entity_id" +: Schemas.discoveryColumns,
      entities.indices.iterator.map { i =>
        (entities(i) +: Schemas.discoveryColumns.map { _ =>
          if (rnd.nextInt(8) == 0) "" else count(scale(i))
        }).mkString(",")
      })
    // statuses outside the three kept ones are dropped by the funnel
    val statuses = Array("Success", "Success", "Success", "Failed",
      "Not Attempted", "", "Bogus")
    val factRows = Array.fill(entityCount)(0)
    write(FunnelSources.userFunnelPrefix, Seq("entity_id", "fetch_status"),
      Iterator.fill(factRowsTotal) {
        val u = rnd.nextDouble()
        val j = cum.indexWhere(_ > u)
        val i = if (j < 0) entityCount - 1 else j
        factRows(i) += 1
        s"${entities(i)},${statuses(rnd.nextInt(statuses.length))}"
      })
    Layout(entities, files.result(), entities.zip(factRows).toMap)
  }

  /** DuckDB twin of one entity's report over the same CSV files, built
    * the way `CsvFunnelReport.oracle` builds its own: the same per-source
    * semantics in CTEs, handed to `FunnelOracleGen.tableSql`. The CTEs are
    * MATERIALIZED because each of the table's 18 row selects reads `w`;
    * inlined, DuckDB re-reads the CSV files for every one of them (1.2 s
    * against 0.09 s per entity, same result).
    */
  def twinSql(base: Path, entity: String): String = {
    def readCsv(prefix: String): String =
      s"read_csv(['$base/$dayToken/$prefix-$dayToken.csv'], header = true, all_varchar = true)"
    val stgAggs = Schemas.stageColumns.map(c =>
      s"CAST(coalesce(sum(CAST(trunc(CAST($c AS DOUBLE)) AS BIGINT)), 0) AS BIGINT) AS $c")
      .mkString(",\n    ")
    val otpAggs = Schemas.otpColumns.map(c =>
      s"sum(CAST($c AS DOUBLE)) AS Total_$c").mkString(",\n    ")
    val dscAggs = Schemas.discoveryColumns.map(c =>
      s"sum(CAST(nullif($c, '') AS DOUBLE)) AS $c").mkString(",\n    ")
    def dl(c: String): String = s"coalesce(CAST(trunc($c) AS BIGINT), 0)"
    val wide =
      s"""(AA_client_Initialization + OTP_Based_Sign_in_Sign_up +
         |   View_Consent_Details + Discovery + Linking +
         |   Rejected_Consent_Requests + Approved_Consent_Requests) AS total_users,
         |  AA_client_Initialization AS d1,
         |  OTP_Based_Sign_in_Sign_up AS d2,
         |  View_Consent_Details AS view_drop,
         |  (OTP_Based_Sign_in_Sign_up + View_Consent_Details) AS auth_drop,
         |  (${dl("Account_Discovered")} + ${dl("Account_not_Found")} +
         |   ${dl("FIP_Not_Selected")} + ${dl("Failure")} + ${dl("NO_STATUS")}) AS d3,
         |  Linking AS d4,
         |  Rejected_Consent_Requests AS rej,
         |  Approved_Consent_Requests AS appr,
         |  FIP_Rejected_Consent_Artefacts AS fip_rej,
         |  FIP_Accepted_Consent_Artefacts AS fip_ok,
         |  Data_Fetch_Success AS fetch_ok,
         |  Data_Fetch_Not_Attempted AS not_attempted,
         |  (fi_success_cnt + fi_failed_cnt) AS fi_req_ok,
         |  ${dl("Total_Incorrect_OTP_Entered")} AS otp_wrong,
         |  ${dl("Total_OTP_Not_Entered")} AS otp_miss,
         |  ${dl("Account_not_Found")} AS no_rec,
         |  ${dl("NO_STATUS")} AS fip_fail,
         |  ${dl("Failure")} AS some_fail,
         |  (${dl("Account_Discovered")} + ${dl("FIP_Not_Selected")}) AS found_not_linked""".stripMargin
    FunnelOracleGen.tableSql(
      s"""WITH stg AS MATERIALIZED (
         |  SELECT $stgAggs
         |  FROM ${readCsv(FunnelSources.stagesPrefix)}
         |  WHERE Entity_ID = '$entity'
         |    AND CAST(strptime("Date", '%d-%m-%Y') AS DATE) = DATE '$day'),
         |otp AS MATERIALIZED (
         |  SELECT $otpAggs
         |  FROM ${readCsv(FunnelSources.otpPrefix)}
         |  WHERE entity_id = '$entity'),
         |dsc AS MATERIALIZED (
         |  SELECT $dscAggs
         |  FROM ${readCsv(FunnelSources.discoveryPrefix)}
         |  WHERE entity_id = '$entity'),
         |fi AS MATERIALIZED (
         |  SELECT
         |    CAST(count(*) FILTER (WHERE fetch_status = 'Success') AS BIGINT)
         |      AS fi_success_cnt,
         |    CAST(count(*) FILTER (WHERE fetch_status = 'Failed') AS BIGINT)
         |      AS fi_failed_cnt
         |  FROM ${readCsv(FunnelSources.userFunnelPrefix)}
         |  WHERE entity_id = '$entity'),
         |w AS MATERIALIZED (SELECT $wide FROM stg, otp, dsc, fi)""".stripMargin)
  }
}
