package graft

import org.apache.spark.sql.types._
import graft.sources.ExcelSource

/** Excel source (S1) against the reference's own fixture
  * (`/root/reference/loan.xlsx`, FIXTURES.md §A): 1 sheet `Data`,
  * 1,000 rows × 16 columns, inline/shared-string xlsx. The three tests
  * on that file cancel where it is absent; the synthetic-workbook tests
  * run everywhere. */
class ExcelSpec extends SparkTestBase {

  lazy val sheetSeq: Seq[(String, org.apache.spark.sql.DataFrame)] =
    ExcelSource.readXlsx(spark, referenceLoanXlsx)
  lazy val sheets: Map[String, org.apache.spark.sql.DataFrame] = sheetSeq.toMap

  test("reads the Data sheet with 1000 rows x 16 cleaned columns") {
    assumeReferenceLoanXlsx()
    assert(sheetSeq.map(_._1) == Seq("Data"))
    val df = sheets("Data")
    assert(df.count() == 1000)
    assert(df.columns.length == 16)
    assert(df.columns.contains("loan_application_id"))
    assert(df.columns.contains("applicant_name"))
    assert(df.columns.contains("application_date"))
  }

  test("type inference matches the pandas-written parquet types") {
    assumeReferenceLoanXlsx()
    val sch = sheets("Data").schema
    assert(sch("credit_score").dataType == LongType)
    assert(sch("loan_term").dataType == LongType)
    assert(sch("loan_amount_requested").dataType == DoubleType)
    assert(sch("interest_rate").dataType == DoubleType)
    assert(sch("loan_application_id").dataType == StringType)
    assert(sch("application_date").dataType == StringType) // ISO date-as-string
  }

  test("nullable columns carry nulls; key column is unique") {
    assumeReferenceLoanXlsx()
    val df = sheets("Data")
    assert(df.filter(df("collateral").isNull).count() > 0)
    assert(df.select("loan_application_id").distinct().count() == 1000)
  }

  test("synthetic workbook: multi-sheet, shared strings, sparse cells, empty sheet") {
    val path = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "xlsx_spec").resolve("t.xlsx").toString
    writeXlsx(path)
    val shSeq = ExcelSource.readXlsx(spark, path)
    assert(shSeq.map(_._1) == Seq("S1", "S2")) // Empty sheet skipped, order kept
    val sh = shSeq.toMap
    val s1 = sh("S1").orderBy("id").collect()
    assert(sh("S1").columns.toSeq == Seq("id", "name", "val"))
    assert(s1.length == 2)
    assert(s1(0).getLong(0) == 1L && s1(0).getString(1) == "alpha" && s1(0).getDouble(2) == 1.5)
    // sparse row: B missing -> null name
    assert(s1(1).getLong(0) == 2L && s1(1).isNullAt(1) && s1(1).getDouble(2) == 2.5)
    assert(sh("S2").collect().map(_.getString(0)).toSeq == Seq("x"))
    // blank header -> pandas-style unnamed_N; rich-text runs concatenate
    assert(sh("S1").columns.length == 3)
    val s3 = sh("S2")
    assert(s3.columns.toSeq == Seq("col"))
  }

  test("6-sheet workbook keeps workbook order (first sheet stays first)") {
    // Scala immutable Maps scramble insertion order past 4 entries — the
    // Seq contract pins "first non-empty sheet" to actual workbook order
    val names = Seq("Zeta", "Alpha", "Mid", "Beta", "Last", "First6")
    val path = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "xlsx_order").resolve("o.xlsx").toString
    XlsxFixtures.write(path, names.map(n => n ->
      s"""<worksheet><sheetData>
         |<row r="1"><c r="A1" t="inlineStr"><is><t>v</t></is></c></row>
         |<row r="2"><c r="A2" t="inlineStr"><is><t>$n</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin))
    val sh = ExcelSource.readXlsx(spark, path)
    assert(sh.map(_._1) == names)
    // first-sheet identity through the readAny "first non-empty sheet" path
    assert(sh.head._2.head.getString(0) == "Zeta")
    assert(graft.ops.IngestOps.readAny(spark, path).head.getString(0) == "Zeta")
  }

  test("date-styled numeric cells become ISO strings; plain numerics stay numeric") {
    val path = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "xlsx_dates").resolve("d.xlsx").toString
    // style 0: General; style 1: builtin date (numFmtId 14 = m/d/yyyy);
    // style 2: custom date code; style 3: custom NON-date code (currency)
    XlsxFixtures.write(path, Seq("D" ->
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>d_builtin</t></is></c>
        |  <c r="B1" t="inlineStr"><is><t>d_custom</t></is></c>
        |  <c r="C1" t="inlineStr"><is><t>ts</t></is></c>
        |  <c r="D1" t="inlineStr"><is><t>amount</t></is></c>
        |  <c r="E1" t="inlineStr"><is><t>plain</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>45000</v></c>
        |  <c r="B2" s="2"><v>45000</v></c>
        |  <c r="C2" s="1"><v>45000.5</v></c>
        |  <c r="D2" s="3"><v>45000</v></c>
        |  <c r="E2"><v>45000</v></c></row>
        |</sheetData></worksheet>""".stripMargin),
      parts = Seq("xl/styles.xml" ->
        """<styleSheet>
          |<numFmts count="2">
          |  <numFmt numFmtId="164" formatCode="yyyy\-mm\-dd"/>
          |  <numFmt numFmtId="165" formatCode="&quot;$&quot;#,##0.00"/>
          |</numFmts>
          |<cellXfs count="4">
          |  <xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/><xf numFmtId="165"/>
          |</cellXfs></styleSheet>""".stripMargin))
    val df = ExcelSource.readXlsx(spark, path).head._2
    val row = df.head
    assert(row.getString(0) == "2023-03-15")            // builtin date style
    assert(row.getString(1) == "2023-03-15")            // custom date code
    assert(row.getString(2) == "2023-03-15 12:00:00")   // time fraction
    assert(row.getLong(3) == 45000L)                    // currency is NOT a date
    assert(row.getLong(4) == 45000L)                    // unstyled stays numeric
    import org.apache.spark.sql.types._
    assert(df.schema("d_builtin").dataType == StringType)
    assert(df.schema("amount").dataType == LongType)
  }

  test("workbookPr date1904 switches xlsx date serials to the 1904 epoch") {
    val path = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "xlsx_1904").resolve("m.xlsx").toString
    XlsxFixtures.write(path, Seq("D" ->
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>when</t></is></c></row>
        |<row r="2"><c r="A2" s="1"><v>45000</v></c></row>
        |</sheetData></worksheet>""".stripMargin),
      workbookPr = """<workbookPr date1904="1"/>""",
      parts = Seq("xl/styles.xml" ->
        """<styleSheet><cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14"/>
          |</cellXfs></styleSheet>""".stripMargin))
    val df = ExcelSource.readXlsx(spark, path).head._2
    // 1904 epoch: 1904-01-01 + 45000 days, NOT the 1900-system 2023-03-15
    val want = java.time.LocalDate.of(1904, 1, 1).plusDays(45000).toString
    assert(df.head.getString(0) == want)
  }

  test("a file that is neither zip nor OLE2 fails actionably, not as ZipException") {
    // real OLE2 .xls now parses (XlsSpec); the remaining failure mode is
    // junk content under a workbook extension
    val path = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "xls_junk").resolve("junk.xlsx").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "<html>not a workbook</html>".getBytes ++ Array.fill(512)(0.toByte))
    val e = intercept[RuntimeException] { graft.ops.IngestOps.readAny(spark, path) }
    assert(e.getMessage.contains("neither an xlsx"))
  }

  test("blank headers and rich-text inline runs") {
    val path = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "xlsx_edge").resolve("e.xlsx").toString
    XlsxFixtures.write(path, Seq("E" ->
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>($)</t></is></c>
        |  <c r="B1" t="inlineStr"><is><r><t>Hello </t></r><r><t>World</t></r></is></c></row>
        |<row r="2"><c r="A2"><v>7</v></c>
        |  <c r="B2" t="inlineStr"><is><r><t>a</t></r><r><t>b</t></r></is></c></row>
        |</sheetData></worksheet>""".stripMargin))
    val df = ExcelSource.readXlsx(spark, path).toMap.apply("E")
    // "($)" cleans to empty -> unnamed_0; rich-text header runs concatenate
    assert(df.columns.toSeq == Seq("unnamed_0", "hello_world"))
    val row = df.head
    assert(row.getLong(0) == 7L && row.getString(1) == "ab")
  }

  /** Hand-built minimal xlsx: S1 (shared strings + a sparse row), S2 (inline
    * string), Empty (header only). */
  private def writeXlsx(path: String): Unit =
    XlsxFixtures.write(path, Seq(
      "S1" -> """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>3</v></c><c r="C2"><v>1.5</v></c></row>
        |<row r="3"><c r="A3"><v>2</v></c><c r="C3"><v>2.5</v></c></row>
        |</sheetData></worksheet>""".stripMargin,
      "S2" -> """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>col</t></is></c></row>
        |<row r="2"><c r="A2" t="inlineStr"><is><t>x</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin,
      "Empty" -> """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>only_header</t></is></c></row>
        |</sheetData></worksheet>""".stripMargin),
      sharedStrings = Some("""<sst><si><t>id</t></si><si><t>name</t></si><si><t>val</t></si>
        |<si><t>alpha</t></si></sst>""".stripMargin))
}
