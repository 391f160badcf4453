package graft.sinks

import java.io.{BufferedOutputStream, File, OutputStream}
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.util.Using
import org.apache.spark.sql.{DataFrame, Row}

/** Minimal dependency-free XLSX writer (SURVEY.md §2.9 K1-K3, K6).
  *
  * xlsx = a ZIP of static OOXML parts; this emits exactly the parts a
  * reader needs: [Content_Types].xml, _rels/.rels, xl/workbook.xml,
  * xl/_rels/workbook.xml.rels, xl/styles.xml and one worksheet per
  * sheet. Strings are inline (`t="inlineStr"`), numbers native, and
  * one extra cell style (numFmt `0.0%`) reproduces the reference's
  * percent styling of the last three columns
  * (`createStyle(numFmt="0.0%")` + `gridExpand=TRUE` over rows
  * 1..n+1, /root/reference/01_source_me.R:23,29-49).
  *
  * This is a DRIVER-side sink by design: the reference's workbook
  * artifacts are report-sized, so `collect()` is the correct execution
  * boundary — a distributed DataSourceV2 writer would serialize
  * through one ZIP stream anyway. Each sheet is pulled with ONE
  * `collect()` (one job for a computed plan, none for a local
  * relation), and Excel's sheet limits (`MaxRows` rows, header
  * included, and `MaxCols` columns) are checked before any byte of
  * the sheet is written, so a sheet held in driver memory is never
  * larger than Excel could open. The workbook is written to a temp
  * file in the target directory and moved into place atomically: a
  * failed or rejected sheet leaves neither a partial workbook at the
  * final path nor a temp file. Data-plane outputs go to Parquet/CSV
  * sinks instead.
  */
object Xlsx {

  /** Fixed DOS-era-valid timestamp for zip entries so artifact bytes
    * are reproducible run-to-run (2020-01-01T00:00 UTC).
    */
  val FixedZipTime: Long = 1577836800000L

  /** Excel's worksheet limits: rows (header included) and columns. */
  val MaxRows: Long = 1048576L
  val MaxCols: Int = 16384

  /** One worksheet: when `pctLast3`, the last three columns (all rows
    * incl. header, mirroring the reference's rows+1 quirk) get the
    * percent style. `asTable` adds an Excel table part over the data
    * range (openxlsx `asTable=TRUE`, 01_source_me.R:300-302).
    */
  final case class Sheet(name: String, df: DataFrame, pctLast3: Boolean = false,
                         asTable: Boolean = false)

  def write(sheets: Seq[Sheet], file: File): Unit = {
    require(sheets.nonEmpty, "xlsx needs at least one sheet")
    val sanitized = sheets.map(s => sanitizeName(s.name))
    require(sanitized.distinct.size == sanitized.size,
      s"duplicate sheet names (post-sanitization): ${sanitized.diff(sanitized.distinct).distinct.mkString(", ")}")
    atomically(file)(out => Using.resource(new ZipOutputStream(out))(writeParts(sheets, _)))
  }

  /** Writes `file` through `body` into a temp file next to it, then
    * moves that into place atomically. The stream is closed and the
    * temp file is gone on every path, so a failure leaves the final
    * path as it was.
    */
  private[sinks] def atomically(file: File)(body: OutputStream => Unit): Unit = {
    val target = file.getAbsoluteFile.toPath
    val dir = Files.createDirectories(target.getParent)
    val tmp = dir.resolve(s".${target.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      Using.resource(new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW)))(body)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  private def writeParts(sheets: Seq[Sheet], zip: ZipOutputStream): Unit = {
    // worksheets arrive in small parts (several per cell): buffer them
    // so the UTF-8 encoder runs over large chunks, not once per part
    val zipWriter = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(zip, "UTF-8"), 1 << 16)
    def streamPart(name: String)(body: java.io.Writer => Unit): Unit = {
      val e = new ZipEntry(name)
      e.setTime(FixedZipTime) // reproducible bytes: same input → same file
      zip.putNextEntry(e)
      body(zipWriter)
      zipWriter.flush()
      zip.closeEntry()
    }
    def part(name: String, content: String): Unit =
      streamPart(name)(_.write(content))
    val n = sheets.size
    part("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
          .mkString +
        sheets.zipWithIndex.collect { case (s, i) if s.asTable =>
          s"""<Override PartName="/xl/tables/table${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.table+xml"/>"""
        }.mkString +
        "</Types>")
    part("_rels/.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        "</Relationships>")
    part("xl/workbook.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case (s, i) =>
          s"""<sheet name="${escape(sanitizeName(s.name))}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString +
        "</sheets></workbook>")
    part("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
          .mkString +
        s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
        "</Relationships>")
    part("xl/styles.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<numFmts count="1"><numFmt numFmtId="164" formatCode="0.0%"/></numFmts>""" +
        """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
        """<fills count="2"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill></fills>""" +
        """<borders count="1"><border/></borders>""" +
        """<cellStyleXfs count="1"><xf/></cellStyleXfs>""" +
        """<cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/>""" +
        """<xf numFmtId="164" fontId="0" fillId="0" borderId="0" applyNumberFormat="1"/></cellXfs>""" +
        "</styleSheet>")
    sheets.zipWithIndex.foreach { case (sheet, i) =>
      val nCols = sheet.df.columns.length
      require(nCols <= MaxCols,
        s"sheet '${sheet.name}' has $nCols columns; Excel allows at most $MaxCols")
      val rows = sheet.df.collect()
      require(rows.length + 1L <= MaxRows,
        s"sheet '${sheet.name}' has ${rows.length + 1L} rows (header included); " +
          s"Excel allows at most $MaxRows")
      streamPart(s"xl/worksheets/sheet${i + 1}.xml") { w =>
        writeSheetXml(sheet, rows, w)
        if (sheet.asTable)
          w.write("""<tableParts count="1"><tablePart r:id="rId1"/></tableParts>""")
        w.write("</worksheet>")
      }
      if (sheet.asTable) {
        val ref = s"A1:${colLetter(nCols - 1)}${rows.length + 1}"
        part(s"xl/worksheets/_rels/sheet${i + 1}.xml.rels",
          """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
            """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
            s"""<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/table" Target="../tables/table${i + 1}.xml"/>""" +
            "</Relationships>")
        part(s"xl/tables/table${i + 1}.xml",
          """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
            s"""<table xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" id="${i + 1}" name="Table${i + 1}" displayName="Table${i + 1}" ref="$ref" totalsRowShown="0">""" +
            s"""<autoFilter ref="$ref"/><tableColumns count="$nCols">""" +
            sheet.df.columns.zipWithIndex.map { case (c, ci) =>
              s"""<tableColumn id="${ci + 1}" name="${escape(c)}"/>"""
            }.mkString +
            """</tableColumns><tableStyleInfo name="TableStyleMedium2" showFirstColumn="0" showLastColumn="0" showRowStripes="1" showColumnStripes="0"/></table>""")
      }
    }
  }

  /** The worksheet XML of one collected sheet; each cell goes straight
    * to the zip stream in parts, so neither a sheet-sized nor a
    * per-cell String is built. Column letters and styles are built
    * once per sheet.
    */
  private def writeSheetXml(sheet: Sheet, rows: Array[Row], w: java.io.Writer): Unit = {
    val header = sheet.df.columns
    val nCols = header.length
    val pctFrom = if (sheet.pctLast3) math.max(nCols - 3, 0) else nCols
    // per column: `<c r="AB` before the row number, and for each cell
    // type everything from the end of the reference to the value
    val refOpen = Array.tabulate(nCols)(c => "<c r=\"" + colLetter(c))
    def middle(tpe: String, open: String): Array[String] = Array.tabulate(nCols) { c =>
      val style = if (c >= pctFrom) " s=\"1\"" else ""
      "\" t=\"" + tpe + "\"" + style + ">" + open
    }
    val numMid = middle("n", "<v>")
    val boolMid = middle("b", "<v>")
    val strMid = middle("inlineStr", "<is><t>")
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    // xmlns:r must be bound on the root: asTable sheets reference the
    // table part via r:id, and an unbound prefix is rejected by
    // namespace-aware readers (Excel, openpyxl)
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheetData>""")
    def cell(r: String, c: Int, v: Any): Unit = if (v != null) {
      w.write(refOpen(c)); w.write(r)
      v match {
        case d: Double if d.isNaN || d.isInfinite =>
          w.write(strMid(c)); w.write(d.toString); w.write("</t></is></c>")
        case _: Double | _: Float | _: Int | _: Long | _: Short | _: java.math.BigDecimal =>
          w.write(numMid(c)); w.write(v.toString); w.write("</v></c>")
        case b: Boolean =>
          w.write(boolMid(c)); w.write(if (b) "1</v></c>" else "0</v></c>")
        case other =>
          w.write(strMid(c)); w.write(escape(other.toString)); w.write("</t></is></c>")
      }
    }
    def row(r: String)(cells: Int => Any): Unit = {
      w.write("<row r=\""); w.write(r); w.write("\">")
      var c = 0
      while (c < nCols) { cell(r, c, cells(c)); c += 1 }
      w.write("</row>")
    }
    row("1")(header(_))
    var ri = 0
    while (ri < rows.length) {
      val values = rows(ri)
      row(Integer.toString(ri + 2))(c => if (values.isNullAt(c)) null else values.get(c))
      ri += 1
    }
    w.write("</sheetData>") // caller appends tableParts + </worksheet>
  }

  /** Excel sheet-name rules: ≤31 chars, no []:*?/\ */
  def sanitizeName(s: String): String =
    s.replaceAll("[\\[\\]:*?/\\\\]", " ").take(31)

  def colLetter(c: Int): String = {
    var i = c; var s = ""
    while (i >= 0) { s = s"${('A' + i % 26).toChar}$s"; i = i / 26 - 1 }
    s
  }

  /** XML-escapes `&`, `<`, `>` and `"` in one pass; returns `s`
    * itself when none occurs.
    */
  def escape(s: String): String = {
    var i = 0
    while (i < s.length && !needsEscape(s.charAt(i))) i += 1
    if (i == s.length) s
    else {
      val sb = new java.lang.StringBuilder(s.length + 16).append(s, 0, i)
      while (i < s.length) {
        s.charAt(i) match {
          case '&' => sb.append("&amp;")
          case '<' => sb.append("&lt;")
          case '>' => sb.append("&gt;")
          case '"' => sb.append("&quot;")
          case ch => sb.append(ch)
        }
        i += 1
      }
      sb.toString
    }
  }

  private def needsEscape(ch: Char): Boolean =
    ch == '&' || ch == '<' || ch == '>' || ch == '"'
}
