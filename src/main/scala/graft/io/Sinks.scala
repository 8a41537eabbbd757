package graft.io

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.{DataFrame, Row}

/** Sinks for the funnel report (SURVEY §2.1).
  *
  * The CANONICAL sinks are parquet/csv of the typed table —
  * driver-verifiable. Both are SINGLE-FILE, REPORT-SIZED sinks
  * (`coalesce(1)` so each report is one artifact, like the reference's
  * one xlsx per entity): a large query result should use
  * `df.write.parquet` directly, not these. The xlsx sink
  * ([[xlsxFunnel]]) is a driver-side render of the 25-row presentation
  * grid (the reference's `write_funnel_excel`, `run_reports.py:64-125`):
  * collect() is correct there BY DESIGN — a fixed-size report, not
  * data. Written as minimal SpreadsheetML with pure JDK zip.
  */
object Sinks {

  /** Canonical: single-file parquet of the (report-sized) typed table. */
  def parquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Canonical: single-file headered CSV of any small result. */
  def csv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", true).csv(path)

  private def xml(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }

  private val numeric = """-?\d+(\.\d+)?""".r

  private def writeZip(path: String, entries: Seq[(String, String)]): Unit = {
    val zos = new ZipOutputStream(
      new BufferedOutputStream(new FileOutputStream(path)))
    try entries.foreach { case (name, content) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }

  /** Styled funnel workbook — the reference's `write_funnel_excel`
    * presentation (`run_reports.py:64-125`) re-authored as minimal
    * SpreadsheetML: gray header band, green success
    * cells, brown dropoff causes (dark for stage rows, light for the
    * `↳` sub-causes), thin borders, left/vcenter alignment, the 7
    * merge ranges and the 6 column widths of the golden artifact.
    * Styling is resolved with the reference's exact cell loop —
    * including its quirks (the `c == 4` branch resets the header row's
    * Dropoff Cause cell to plain border; merged stage cells override
    * the gray of column 0 with gray+wrap).
    *
    * Expects the 25-row presentation grid (1 blank row + 24 rendered
    * rows, 7 columns) that [[graft.app.RunReports]] collects — row
    * index here ≡ the reference's `out.iloc` row.
    */
  def xlsxFunnel(gridRows: Seq[Row], path: String,
      sheetName: String = "Funnel Dashboard"): Unit = {
    require(gridRows.length == 25 && gridRows.forall(_.length == 7),
      s"funnel grid must be 25x7, got ${gridRows.length} rows")

    def v(r: Int, c: Int): String =
      Option(gridRows(r).get(c)).map(_.toString).getOrElse("")

    // style indexes into cellXfs below:
    // 1 gray, 2 gray+wrap, 3 border, 4 border+wrap, 5 green,
    // 6 dark (#F5C8A7), 7 light (#FAE4D3)
    val successRows = Set(7, 8, 9, 13, 18, 19, 22, 23, 24) // == drop_main
    val dropSub = Set(10, 11, 12, 14, 15, 16, 17, 20, 21)
    def style(r: Int, c: Int): Int = {
      var f = 3
      if (r == 6 || c == 0) f = 1
      if ((c == 1 || c == 2 || c == 3) && successRows(r)) f = 5
      if (c == 4)
        f = if (successRows(r)) 6 else if (dropSub(r)) 7 else 3
      if ((c == 5 || c == 6) && successRows(r)) f = 6
      f
    }

    val cells =
      scala.collection.mutable.LinkedHashMap[(Int, Int), (String, Int)]()
    // the reference writes the summary corner first, the 19-row table
    // loop second, merges last — order here only matters for overrides
    cells((1, 0)) = (v(1, 0), 1)
    cells((1, 1)) = (v(1, 1), 1)
    for (r <- 2 to 3; c <- 0 to 1) cells((r, c)) = (v(r, c), 3)
    for (r <- 6 to 24; c <- 0 to 6) cells((r, c)) = (v(r, c), style(r, c))
    // horizontal merges: anchor carries the value, continuations carry
    // the style (xlsxwriter's write_blank)
    def hMerge(r: Int, c0: Int, c1: Int, s: Int): Unit = {
      cells((r, c0)) = (v(r, c0), s)
      for (c <- c0 + 1 to c1) cells((r, c)) = ("", s)
    }
    hMerge(1, 3, 4, 2); hMerge(2, 3, 4, 4)
    hMerge(5, 2, 3, 1); hMerge(5, 5, 6, 1)
    // vertical stage merges override column 0's gray with gray+wrap
    def vMerge(r0: Int, r1: Int): Unit = {
      cells((r0, 0)) = (v(r0, 0), 2)
      for (r <- r0 + 1 to r1) cells((r, 0)) = ("", 2)
    }
    vMerge(9, 12); vMerge(13, 17); vMerge(19, 21)

    def colRef(i: Int): String = { var n = i; var s = ""
      while (n >= 0) { s = ('A' + n % 26).toChar.toString + s; n = n / 26 - 1 }
      s
    }
    def cellXml(r: Int, c: Int, value: String, s: Int): String = {
      val ref = s"${colRef(c)}${r + 1}"
      if (value.isEmpty) s"""<c r="$ref" s="$s"/>"""
      else if (numeric.matches(value)) s"""<c r="$ref" s="$s"><v>$value</v></c>"""
      else s"""<c r="$ref" s="$s" t="inlineStr"><is><t xml:space="preserve">${xml(value)}</t></is></c>"""
    }
    val sheetRows = cells.keys.map(_._1).toSeq.distinct.sorted.map { r =>
      val rowCells = (0 to 6).flatMap(c =>
        cells.get((r, c)).map { case (value, s) => cellXml(r, c, value, s) })
      s"""<row r="${r + 1}">${rowCells.mkString}</row>"""
    }.mkString

    // widths are the reference's set_column values + xlsxwriter's
    // +0.7109375 padding-to-pixel correction
    val cols =
      """<cols><col min="1" max="2" width="45.7109375" customWidth="1"/>""" +
        """<col min="3" max="3" width="14.7109375" customWidth="1"/>""" +
        """<col min="4" max="4" width="15.7109375" customWidth="1"/>""" +
        """<col min="5" max="5" width="55.7109375" customWidth="1"/>""" +
        """<col min="6" max="6" width="14.7109375" customWidth="1"/>""" +
        """<col min="7" max="7" width="16.7109375" customWidth="1"/></cols>"""
    val merges = Seq("D2:E2", "D3:E3", "C6:D6", "F6:G6",
      "A10:A13", "A14:A18", "A20:A22")
      .map(ref => s"""<mergeCell ref="$ref"/>""")
      .mkString(s"""<mergeCells count="7">""", "", "</mergeCells>")

    // fills 2-5 = gray/green/dark/light; border 1 = thin box
    val styles = {
      def fill(rgb: String) =
        s"""<fill><patternFill patternType="solid"><fgColor rgb="$rgb"/><bgColor indexed="64"/></patternFill></fill>"""
      def xf(fillId: Int, wrap: Boolean) =
        s"""<xf numFmtId="0" fontId="0" fillId="$fillId" borderId="1" xfId="0" applyFill="1" applyBorder="1" applyAlignment="1"><alignment horizontal="left" vertical="center"${if (wrap) """ wrapText="1"""" else ""}/></xf>"""
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
        """<fills count="6"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill>""" +
        Seq("FFD9D9D9", "FFAAECC6", "FFF5C8A7", "FFFAE4D3").map(fill).mkString +
        "</fills>" +
        """<borders count="2"><border><left/><right/><top/><bottom/><diagonal/></border>""" +
        """<border><left style="thin"><color auto="1"/></left><right style="thin"><color auto="1"/></right><top style="thin"><color auto="1"/></top><bottom style="thin"><color auto="1"/></bottom><diagonal/></border></borders>""" +
        """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
        """<cellXfs count="8"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
        xf(2, wrap = false) + xf(2, wrap = true) +
        xf(0, wrap = false) + xf(0, wrap = true) +
        xf(3, wrap = false) + xf(4, wrap = false) + xf(5, wrap = false) +
        "</cellXfs>" +
        """<cellStyles count="1"><cellStyle name="Normal" xfId="0" builtinId="0"/></cellStyles>""" +
        "</styleSheet>"
    }

    writeZip(path, Seq(
      "[Content_Types].xml" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
          |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
          |<Default Extension="xml" ContentType="application/xml"/>
          |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
          |<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
          |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
          |</Types>""".stripMargin,
      "_rels/.rels" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
          |</Relationships>""".stripMargin,
      "xl/workbook.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
           |<sheets><sheet name="${xml(sheetName)}" sheetId="1" r:id="rId1"/></sheets>
           |</workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
          |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>
          |</Relationships>""".stripMargin,
      "xl/styles.xml" -> styles,
      "xl/worksheets/sheet1.xml" ->
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
           |$cols<sheetData>$sheetRows</sheetData>$merges
           |</worksheet>""".stripMargin))
  }

  /** Email delivery — mirrors the reference's contract
    * (`run_reports.py:132-166`): skip cleanly (false) when SMTP is not
    * configured or its config is invalid ([[smtpConfig]]), otherwise
    * STARTTLS-send a MIME multipart with the report attached via
    * [[Smtp]] and return whether the send completed. Never throws — a
    * failed send logs and returns false, exactly like the reference.
    */
  def emailOrSkip(to: Seq[String], cc: Seq[String], subject: String,
      attachment: String): Boolean =
    smtpConfig(sys.env) match {
      case Right(cfg) =>
        val body = s"<b>Funnel report</b><br>Attached: $subject"
        val sent = Smtp.send(cfg, to, cc, subject, body, Seq(attachment))
        println(s"[email] ${if (sent) "sent" else "send FAILED"}: " +
          s"to=${to.mkString(",")} subject=$subject")
        sent
      case Left(reason) =>
        println(s"[email] skipped ($reason): " +
          s"to=${to.mkString(",")} subject=$subject")
        false
    }

  /** SMTP config from an environment map: SMTP_HOST, SMTP_USER and
    * SMTP_PASS (all three required to attempt a send), optional
    * SMTP_PORT (default 587), SMTP_FROM (default user), SMTP_TLS=false
    * to disable STARTTLS (e.g. a local relay). Left gives the reason no
    * send is attempted: missing settings or a non-numeric port.
    */
  def smtpConfig(env: Map[String, String]): Either[String, Smtp.Config] =
    (env.get("SMTP_HOST"), env.get("SMTP_USER"), env.get("SMTP_PASS")) match {
      case (Some(host), Some(user), Some(pass)) =>
        env.get("SMTP_PORT").fold(Option(587))(_.trim.toIntOption)
          .toRight(s"bad SMTP_PORT '${env("SMTP_PORT")}'")
          .map(port => Smtp.Config(host, port, user, pass,
            from = env.getOrElse("SMTP_FROM", user),
            startTls = !env.get("SMTP_TLS").contains("false")))
      case _ => Left("no SMTP config")
    }
}
