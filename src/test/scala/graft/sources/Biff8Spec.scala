package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** BIFF8 .xls parsing, validated against the reference's own fixture corpus
  * (read-only at /root/reference). Skipped when the corpus is absent. */
class Biff8Spec extends AnyFunSuite {

  private val res = "/root/reference/test/resources"
  private def fixture(name: String): Option[Array[Byte]] = {
    val p = Paths.get(res, name)
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  test("sample_xls.xls parses with expected cells (reference excel_test)") {
    assume(fixture("sample_xls.xls").isDefined)
    val sheets = Biff8.parse(fixture("sample_xls.xls").get)
    assert(sheets.map(_.name) == Seq("Sheet1"))
    assert(sheets.head.rows == Seq(Seq("1A", "1B"), Seq("2A", "2B")))
  }

  test("multi-sheet xls incl. empty trailing sheet") {
    assume(fixture("sheet_streaming.xls").isDefined)
    val sheets = Biff8.parse(fixture("sheet_streaming.xls").get)
    assert(sheets.map(_.name) == Seq("Sheet1", "Sheet 2", "Sheet 3"))
    assert(sheets(0).rows == Seq(Seq("1A1", "1B1"), Seq("1A2", "1B2")))
    assert(sheets(2).rows.isEmpty)
  }

  test("xlsx content with .xls extension routes to the xlsx parser") {
    assume(fixture("xlsx_file_xls_extension.xls").isDefined)
    val sheets = ExcelFixtures.sheets(fixture("xlsx_file_xls_extension.xls").get, name = "f.xls")
    assert(sheets.head._2 == Seq(Seq("1A", "1B"), Seq("2A", "2B")))
  }

  test("plain text with .xls extension is rejected") {
    assume(fixture("txt_file_xls_extension.xls").isDefined)
    val e = intercept[RuntimeException](
      ExcelFixtures.sheets(fixture("txt_file_xls_extension.xls").get, name = "f.xls"))
    assert(e.getMessage.contains("Unable to read the file"))
  }
}
