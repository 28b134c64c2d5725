package graft.sources

import graft.queries.Fixtures
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** BIFF8 .xls parsing, validated against the reference's own fixture corpus
  * (read-only at /root/reference; those tests cancel when it is absent) and
  * against workbooks of the same shapes from [[Fixtures.xls]]. */
class Biff8Spec extends AnyFunSuite {

  private val res = "/root/reference/test/resources"
  private def fixture(name: String): Option[Array[Byte]] = {
    val p = Paths.get(res, name)
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  private val sampleRows = Seq(Seq("1A", "1B"), Seq("2A", "2B"))

  test("sample_xls.xls parses with expected cells (reference excel_test)") {
    assume(fixture("sample_xls.xls").isDefined)
    val sheets = Biff8.parse(fixture("sample_xls.xls").get, "sample_xls.xls")
    assert(sheets.map(_.name) == Seq("Sheet1"))
    assert(sheets.head.rows == sampleRows)
  }

  test("multi-sheet xls incl. empty trailing sheet") {
    assume(fixture("sheet_streaming.xls").isDefined)
    val sheets = Biff8.parse(fixture("sheet_streaming.xls").get, "sheet_streaming.xls")
    assert(sheets.map(_.name) == Seq("Sheet1", "Sheet 2", "Sheet 3"))
    assert(sheets(0).rows == Seq(Seq("1A1", "1B1"), Seq("1A2", "1B2")))
    assert(sheets(2).rows.isEmpty)
  }

  test("xlsx content with .xls extension routes to the xlsx parser") {
    assume(fixture("xlsx_file_xls_extension.xls").isDefined)
    val sheets = ExcelFixtures.sheets(fixture("xlsx_file_xls_extension.xls").get, name = "f.xls")
    assert(sheets.head._2 == sampleRows)
  }

  test("plain text with .xls extension is rejected") {
    assume(fixture("txt_file_xls_extension.xls").isDefined)
    val e = intercept[RuntimeException](
      ExcelFixtures.sheets(fixture("txt_file_xls_extension.xls").get, name = "f.xls"))
    assert(e.getMessage.contains("Unable to read the file"))
  }

  // ---- the same shapes, written by Fixtures

  test("synthetic multi-sheet xls incl. empty trailing sheet") {
    val sheets = Biff8.parse(Fixtures.xls(Seq(
      "Sheet1" -> Seq(Seq("1A1", "1B1"), Seq("1A2", "1B2")),
      "Sheet 2" -> Seq(Seq("2A1")),
      "Sheet 3" -> Nil)), "multi.xls")
    assert(sheets.map(_.name) == Seq("Sheet1", "Sheet 2", "Sheet 3"))
    assert(sheets(0).rows == Seq(Seq("1A1", "1B1"), Seq("1A2", "1B2")))
    assert(sheets(1).rows == Seq(Seq("2A1")))
    assert(sheets(2).rows.isEmpty)
  }

  test("synthetic xlsx content with .xls extension routes to the xlsx parser") {
    val sheets = ExcelFixtures.sheets(Fixtures.xlsx(Seq("Sheet1" -> sampleRows)), name = "f.xls")
    assert(sheets == Seq("Sheet1" -> sampleRows))
  }

  test("synthetic plain text with .xls extension is rejected") {
    val e = intercept[RuntimeException](
      ExcelFixtures.sheets("1A,1B\n2A,2B\n".getBytes("UTF-8"), name = "f.xls"))
    assert(e.getMessage.contains("Unable to read the file"))
  }

  test("LABEL cells (inline strings, 8-bit and UTF-16) parse beside the SST route") {
    def label(row: Int, col: Int, v: String, wide: Boolean): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(9 + v.length * (if (wide) 2 else 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putShort(row.toShort).putShort(col.toShort).putShort(0).putShort(v.length.toShort)
        .put((if (wide) 1 else 0).toByte).put(v.getBytes(if (wide) "UTF-16LE" else "ISO-8859-1"))
      Fixtures.biffRecord(0x204, b.array())
    }
    val stream = Fixtures.workbookStream(Array.emptyByteArray,
      Seq("Inline" -> (label(0, 0, "inline  ", wide = false) ++ label(1, 1, "wide €", wide = true))))
    val sheets = Biff8.parse(Fixtures.cfb(Seq("Workbook" -> stream)), "inline.xls")
    assert(sheets.map(_.name) == Seq("Inline"))
    assert(sheets.head.rows == Seq(Seq("inline", null), Seq(null, "wide €")))
  }

  test("a workbook past one SST record and one FAT sector reads back whole") {
    // ~3,000 distinct strings: the SST splits into CONTINUE records and the
    // stream needs more than the 128 sectors one FAT sector chains
    val rows = Seq("key", "name ünï") +: (1 to 1500).map(k => Seq(k.toString, s"Supplier#$k €"))
    val xls = Fixtures.xls(Seq("Big" -> rows, "Tail" -> Seq(Seq("last"))))
    assert(xls.length > 128 * 512)
    val sheets = Biff8.parse(xls, "big.xls")
    assert(sheets.map(_.name) == Seq("Big", "Tail"))
    assert(sheets(0).rows == rows)
    assert(sheets(1).rows == Seq(Seq("last")))
  }

  // ---- a damaged shared-string table fails naming the file

  private def le(n: Int)(f: java.nio.ByteBuffer => Any): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    f(b)
    b.array()
  }

  /** An SST record declaring `declared` strings and holding `strings`. */
  private def sst(declared: Int, strings: Seq[String]): Array[Byte] =
    Fixtures.biffRecord(0xFC, le(8)(_.putInt(declared).putInt(declared)) ++
      strings.flatMap(s => le(3)(_.putShort(s.length.toShort).put(0.toByte)) ++
        s.getBytes("ISO-8859-1")))

  private def labelSst(row: Int, col: Int, idx: Int): Array[Byte] =
    Fixtures.biffRecord(0xFD, le(10)(_.putShort(row.toShort).putShort(col.toShort)
      .putShort(0.toShort).putInt(idx)))

  private def workbook(globals: Array[Byte], cells: Array[Byte]): Array[Byte] =
    Fixtures.cfb(Seq("Workbook" -> Fixtures.workbookStream(globals, Seq("S" -> cells))))

  test("an SST short by one string fails naming the file, not a null cell") {
    val xls = workbook(sst(2, Seq("one")), labelSst(0, 0, 0) ++ labelSst(0, 1, 1))
    val e = intercept[RuntimeException](ExcelFixtures.sheets(xls, name = "short.xls"))
    assert(e.getMessage.contains("shared string table") && e.getMessage.contains("'short.xls'"),
      e.getMessage)
  }

  test("a LABELSST index past the SST fails naming the file") {
    val xls = workbook(sst(1, Seq("one")), labelSst(0, 0, 0) ++ labelSst(1, 0, 5))
    val e = intercept[RuntimeException](ExcelFixtures.sheets(xls, name = "past.xls"))
    assert(e.getMessage.contains("shared string table") && e.getMessage.contains("'past.xls'"),
      e.getMessage)
    // the same workbook without the stray cell reads
    assert(ExcelFixtures.sheets(workbook(sst(1, Seq(" one\u0000")), labelSst(0, 0, 0)),
      name = "ok.xls") == Seq("S" -> Seq(Seq("one"))))
  }
}
