package graft.io

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import graft.core.{DateSpec, Schemas}

/** Deterministic CSV fixtures in the reference's on-disk layout
  * (`docs/DATA_SOURCES.md:12-17`): one `dd_MM_yyyy` directory per day,
  * four headered CSVs inside. Plain-Java writes (driver-side, tiny) so
  * file NAMES match the layout exactly — a Spark csv() writer emits
  * part-files, which the source layer must never depend on.
  *
  * Values are small deterministic functions of (entity, day, column) so
  * tests can hand-compute expected aggregates.
  */
object FunnelCsvFixture {

  val entities: Seq[String] = Seq("fiu-a", "fiu-b")
  private val rowDateFmt = DateTimeFormatter.ofPattern("dd-MM-yyyy")

  /** Stage value for (entity index, day index, column index). */
  def stageValue(e: Int, d: Int, c: Int): Int = 100 * (c + 1) + 10 * e + d

  def otpValues(e: Int, d: Int): Seq[Int] =
    Seq(5 + e + d, 40 + 10 * e + d, 20 + 5 * e + d)

  /** Discovery values; column 2 (FIP_Not_Selected) is EMPTY for entity 0
    * to exercise the NULLIF('')-before-cast path.
    */
  def discoveryValues(e: Int, d: Int): Seq[String] = {
    val v = Seq(30 + e + d, 60 + e + d, 15 + e + d, 9 + e + d, 3 + e + d)
      .map(_.toString)
    if (e == 0) v.updated(2, "") else v
  }

  /** (Success, Failed, Not Attempted) row counts in the S4 fact file. */
  def fiCounts(e: Int, d: Int): (Int, Int, Int) = (8 + e + d, 2 + e, 1 + d)

  def write(baseDir: String, days: Seq[LocalDate]): Unit = {
    days.zipWithIndex.foreach { case (day, d) =>
      val tok = DateSpec.formatDay(day)
      val dir = Paths.get(baseDir, tok)
      Files.createDirectories(dir)

      def csv(name: String, header: Seq[String], rows: Seq[Seq[String]]): Unit =
        Files.writeString(dir.resolve(s"$name-$tok.csv"),
          (header +: rows).map(_.mkString(",")).mkString("", "\n", "\n"))

      csv(FunnelSources.stagesPrefix,
        Schemas.stages.fieldNames.toSeq,
        entities.zipWithIndex.map { case (ent, e) =>
          Seq(ent, day.format(rowDateFmt)) ++
            Schemas.stageColumns.indices.map(c => stageValue(e, d, c).toString)
        })

      csv(FunnelSources.otpPrefix,
        "entity_id" +: Schemas.otpColumns,
        entities.zipWithIndex.map { case (ent, e) =>
          ent +: otpValues(e, d).map(_.toString)
        })

      csv(FunnelSources.discoveryPrefix,
        "entity_id" +: Schemas.discoveryColumns,
        entities.zipWithIndex.map { case (ent, e) =>
          ent +: discoveryValues(e, d)
        })

      val fiRows = entities.zipWithIndex.flatMap { case (ent, e) =>
        val (s, f, n) = fiCounts(e, d)
        Seq.fill(s)(Seq(ent, "Success")) ++
          Seq.fill(f)(Seq(ent, "Failed")) ++
          Seq.fill(n)(Seq(ent, "Not Attempted")) ++
          Seq(Seq(ent, ""), Seq(ent, "Bogus")) // junk the status filter drops
      }
      csv(FunnelSources.userFunnelPrefix, Seq("entity_id", "fetch_status"), fiRows)
    }
  }

  /** The two days, spanning a month boundary, of the registered
    * `csv_funnel_report` query's fixture.
    */
  val defaultDays: Seq[LocalDate] =
    Seq(LocalDate.of(2026, 1, 31), LocalDate.of(2026, 2, 1))
}
