package graft.sources

import graft.queries.Fixtures
import org.scalatest.funsuite.AnyFunSuite

/** Excel (xlsx) parsing against a generated workbook — shapes mirror the
  * reference fixtures per FIXTURES.md §3 (sample_xlsx: sheets with '1A/1B'
  * cells; Roo cast rules from `file/excel.rb:31-50`). */
object ExcelFixtures {

  /** A workbook's sheets as the per-file walk reads them from its bytes in
    * memory, in the order their rows come: (sheet name, rows). `len` is
    * the length a listing would report. */
  def sheets(bytes: Array[Byte], password: Option[String] = None, name: String = "f.xlsx",
             len: Long = -1L): Seq[(String, Seq[Seq[String]])] = {
    val rows = Excel.fileRows(name, if (len < 0) bytes.length.toLong else len,
      () => new java.io.ByteArrayInputStream(bytes), password).toSeq
    rows.map(_._2).distinct.map(s => s -> rows.filter(_._2 == s).sortBy(_._3).map(_._4))
  }

  /** Hand-written package parts as zip entries. */
  def utf8(parts: (String, String)*): Seq[(String, Array[Byte])] =
    parts.map { case (name, text) => name -> text.getBytes("UTF-8") }

  val testXlsx: Array[Byte] = Fixtures.zip(utf8(
    "xl/workbook.xml" ->
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets>
        |<sheet name="Sheet1" sheetId="1" r:id="rId1"/>
        |<sheet name="Second Sheet" sheetId="2" r:id="rId2"/>
        |</sheets></workbook>""".stripMargin,
    "xl/_rels/workbook.xml.rels" ->
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="x" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="x" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin,
    "xl/sharedStrings.xml" ->
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<si><t>1A</t></si><si><t>1B</t></si>
        |<si><r><t>ri</t></r><r><t>ch</t></r></si>
        |</sst>""".stripMargin,
    "xl/styles.xml" ->
      """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<numFmts count="1"><numFmt numFmtId="164" formatCode="dd/mm/yyyy"/></numFmts>
        |<cellXfs count="3">
        |<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/>
        |</cellXfs></styleSheet>""".stripMargin,
    "xl/worksheets/sheet1.xml" ->
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1">
        |  <c r="A1" t="s"><v>0</v></c>
        |  <c r="B1" t="s"><v>1</v></c>
        |  <c r="C1" t="s"><v>2</v></c>
        |</row>
        |<row r="2">
        |  <c r="A2"><v>12</v></c>
        |  <c r="B2"><v>12.5</v></c>
        |  <c r="D2" t="b"><v>1</v></c>
        |</row>
        |<row r="3">
        |  <c r="A3" s="1"><v>43101</v></c>
        |  <c r="B3" s="2"><v>43101.5</v></c>
        |  <c r="C3" t="inlineStr"><is><t> inline </t></is></c>
        |</row>
        |</sheetData></worksheet>""".stripMargin,
    "xl/worksheets/sheet2.xml" ->
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="B1" t="str"><v>only</v></c></row>
        |</sheetData></worksheet>""".stripMargin))
}

class ExcelSpec extends AnyFunSuite {

  import ExcelFixtures.testXlsx

  test("xlsx: sheets, shared strings, cast rules, padding") {
    val sheets = ExcelFixtures.sheets(testXlsx).toMap
    assert(sheets.keySet == Set("Sheet1", "Second Sheet"))

    val s1 = sheets("Sheet1")
    assert(s1.length == 3)
    // header: shared strings, incl. rich-text run concat
    assert(s1(0) == Seq("1A", "1B", "rich", null))
    // whole float → int string; non-whole keeps decimal; missing cell padded
    assert(s1(1) == Seq("12", "12.5", null, "true"))
    // builtin date style → :db date; custom date style with fraction → datetime
    assert(s1(2) == Seq("2018-01-01", "2018-01-01 12:00:00", "inline", null))

    // sheet 2: single populated column B → span is just that column
    assert(sheets("Second Sheet") == Seq(Seq("only")))
  }

  test("xls extension with zip content parses as xlsx (reference retry)") {
    assert(ExcelFixtures.sheets(testXlsx, name = "file.xls").nonEmpty)
  }

  test("genuine OLE xls raises unsupported; junk raises unable-to-read") {
    val ole = Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte) ++ Array.fill(16)(0.toByte)
    val e1 = intercept[RuntimeException](ExcelFixtures.sheets(ole, name = "f.xls"))
    assert(e1.getMessage.contains("Unable to read the file"))
    val e2 = intercept[RuntimeException](
      ExcelFixtures.sheets("not excel at all".getBytes, name = "f.xlsx"))
    assert(e2.getMessage.contains("Unable to read the file"))
  }
}
