package graft

/** Hand-built OOXML workbooks shared by the specs. [[write]] zips raw sheet
  * XML, so a spec controls every cell encoding (shared, inline and
  * rich-text strings, sparse rows); [[sheetXml]] renders a header and plain
  * rows; [[loanWorkbook]] stages a workbook shaped like the reference's
  * `loan.xlsx` (FIXTURES.md §A) for specs that need a loan-like input but
  * not that exact file. */
object XlsxFixtures {

  /** A workbook at `path` holding `sheets` (name, `<worksheet>` XML) in
    * order, with an optional `xl/sharedStrings.xml` body, a raw
    * `workbookPr` element and further `(entry, content)` parts such as
    * `xl/styles.xml`. */
  def write(path: String, sheets: Seq[(String, String)],
      sharedStrings: Option[String] = None, workbookPr: String = "",
      parts: Seq[(String, String)] = Nil): Unit = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    try {
      val ids = sheets.indices.map(i => s"rId${i + 1}")
      put("xl/workbook.xml",
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |""".stripMargin + workbookPr + "<sheets>" +
          sheets.zip(ids).zipWithIndex.map { case (((name, _), id), i) =>
            s"""<sheet name="${esc(name)}" sheetId="${i + 1}" r:id="$id"/>"""
          }.mkString("\n") + "</sheets></workbook>")
      put("xl/_rels/workbook.xml.rels",
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          ids.zipWithIndex.map { case (id, i) =>
            s"""<Relationship Id="$id" Type="t" Target="worksheets/sheet${i + 1}.xml"/>"""
          }.mkString("\n") + "</Relationships>")
      sharedStrings.foreach(put("xl/sharedStrings.xml", _))
      parts.foreach { case (name, content) => put(name, content) }
      sheets.zipWithIndex.foreach { case ((_, xml), i) =>
        put(s"xl/worksheets/sheet${i + 1}.xml", xml)
      }
    } finally zos.close()
  }

  private def esc(s: String): String = s.flatMap {
    case '&' => "&amp;"
    case '<' => "&lt;"
    case '>' => "&gt;"
    case '"' => "&quot;"
    case c => c.toString
  }

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + ('A' + i % 26).toChar

  /** One sheet: a header row of inline strings, then `rows`. Numbers become
    * numeric cells, booleans bool cells, `null` an absent cell, anything
    * else an inline string. */
  def sheetXml(header: Seq[String], rows: Seq[Seq[Any]]): String = {
    def cell(ref: String, v: Any): String = v match {
      case null => ""
      case b: Boolean => s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
      case n: java.lang.Number => s"""<c r="$ref"><v>$n</v></c>"""
      case s => s"""<c r="$ref" t="inlineStr"><is><t>${esc(s.toString)}</t></is></c>"""
    }
    (header +: rows).zipWithIndex.map { case (r, i) =>
      s"""<row r="${i + 1}">""" + r.zipWithIndex.map { case (v, j) =>
        cell(s"${colName(j)}${i + 1}", v)
      }.mkString + "</row>"
    }.mkString("<worksheet><sheetData>\n", "\n", "\n</sheetData></worksheet>")
  }

  /** The 16 columns of the reference's `loan.xlsx` Data sheet. */
  val loanColumns: Seq[String] = Seq("loan_application_id", "applicant_name",
    "loan_amount_requested", "loan_type", "applicant_income", "credit_score",
    "loan_status", "repayment_schedule", "interest_rate", "loan_term", "collateral",
    "application_date", "approved_amount", "repayment_start_date", "is_employed",
    "monthly_payment")

  /** A one-sheet (`Data`) workbook of 1000 seeded loan applications with
    * the reference fixture's columns and types: a unique string key first,
    * and nulls in `collateral`, `approved_amount` and
    * `repayment_start_date`. Its dates fall in 2025, as the real workbook
    * holds applications in H1 2025 that the loan-demo date questions ask
    * for. Returns `path`. */
  def loanWorkbook(path: String): String = {
    val rows = 1000
    val r = new scala.util.Random(17L)
    val first = Seq("Kathleen", "James", "Maria", "Wei", "Aisha", "Lars", "Priya", "Tom")
    val last = Seq("Vasquez", "Smith", "Okafor", "Chen", "Novak", "Silva", "Khan", "Berg")
    def pick[T](xs: Seq[T]) = xs(r.nextInt(xs.size))
    val data = (0 until rows).map { i =>
      val amount = 1000.5 + r.nextInt(99000)
      val approved = r.nextInt(4) != 0
      val month = 1 + r.nextInt(12)
      Seq(f"LA-$i%05d-${r.nextInt(1 << 16)}%04x", s"${pick(first)} ${pick(last)}", amount,
        pick(Seq("Auto", "Personal", "Mortgage", "Business")), 20000.25 + r.nextInt(180000),
        300 + r.nextInt(551), pick(Seq("In Review", "Pending", "Approved", "Rejected")),
        pick(Seq("Monthly", "Quarterly", "Annually")), (r.nextInt(2000) + 100) / 100.0,
        pick(Seq(12, 36, 60, 120)),
        if (r.nextInt(3) == 0) null else pick(Seq("Car", "House", "Savings")),
        f"2025-$month%02d-${1 + r.nextInt(28)}%02d",
        if (approved) amount * 0.9 else null,
        if (approved) f"2025-${math.min(12, month + 1)}%02d-01" else null,
        r.nextBoolean(), math.round(amount / 36.0 * 100) / 100.0)
    }
    write(path, Seq("Data" -> sheetXml(loanColumns, data)))
    path
  }
}
