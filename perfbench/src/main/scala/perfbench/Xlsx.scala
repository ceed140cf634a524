package perfbench

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Minimal OOXML workbook writer: one sheet, a header row of inline strings,
  * numbers as numeric cells and everything else as inline strings. Enough
  * for a spreadsheet input that a reader must parse like any other xlsx. */
object Xlsx {
  private def esc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c if c < ' ' && c != '\t' && c != '\n' => ""
    case c => c.toString
  }

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + ('A' + i % 26).toChar

  private def cell(ref: String, v: Any): String = v match {
    case null => ""
    case n: java.lang.Number => s"""<c r="$ref"><v>$n</v></c>"""
    case other => s"""<c r="$ref" t="inlineStr"><is><t>${esc(other.toString)}</t></is></c>"""
  }

  def write(path: String, sheet: String, header: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    val zip = new ZipOutputStream(new FileOutputStream(path))
    def put(name: String, body: String): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      zip.write(body.getBytes(UTF_8))
      zip.closeEntry()
    }
    try {
      put("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
          "</Types>")
      put("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      put("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
          """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          s"""<sheets><sheet name="${esc(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>""")
      put("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
          "</Relationships>")
      val sb = new StringBuilder
      sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
      sb ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
      (header +: rows).zipWithIndex.foreach { case (r, i) =>
        sb ++= s"""<row r="${i + 1}">"""
        r.zipWithIndex.foreach { case (v, j) => sb ++= cell(s"${colName(j)}${i + 1}", v) }
        sb ++= "</row>"
      }
      sb ++= "</sheetData></worksheet>"
      put("xl/worksheets/sheet1.xml", sb.toString)
    } finally zip.close()
  }
}
