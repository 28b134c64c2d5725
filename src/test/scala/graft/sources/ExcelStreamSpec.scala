package graft.sources

import graft.SparkSpec

/** The streamed xlsx path (oversized-workbook routing) must return exactly
  * what the in-memory path returns — same sheets, linenos, casts, padding
  * (including all-null gap rows) — and refuse random-access-only formats
  * with a clear bound error rather than OOMing. */
class ExcelStreamSpec extends SparkSpec {

  private def writeTemp(bytes: Array[Byte], suffix: String): String = {
    val f = java.io.File.createTempFile("excel-stream", suffix)
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      // include `file`: both routes must report the identical qualified path
      (r.getString(r.fieldIndex("file")),
        r.getString(r.fieldIndex("tablename")), r.getLong(r.fieldIndex("lineno")),
        Option(r.getSeq[String](r.fieldIndex("cells"))).map(_.toSeq).orNull)
    }.toSet

  test("streamed tables == in-memory tables on the shared fixture") {
    val p = writeTemp(ExcelFixtures.testXlsx, ".xlsx")
    val inMem = collectRows(Excel.tables(spark, Seq(p)))
    val streamed = collectRows(Excel.streamedTables(spark, Seq(p)))
    assert(streamed == inMem)
    assert(inMem.nonEmpty)
  }

  test("streamed path pads row gaps with all-null rows like the in-memory path") {
    val xlsx = ExcelFixtures.buildXlsx(Map(
      "xl/workbook.xml" ->
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="x" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<sheetData>
          |<row r="2"><c r="B2" t="str"><v>top</v></c></row>
          |<row r="5"><c r="C5" t="str"><v>bottom</v></c></row>
          |</sheetData></worksheet>""".stripMargin))
    val p = writeTemp(xlsx, ".xlsx")
    val inMem = collectRows(Excel.tables(spark, Seq(p)))
    val streamed = collectRows(Excel.streamedTables(spark, Seq(p)))
    assert(streamed == inMem)
    // span B..C over rows 2..5: two populated rows, two all-null gap rows
    assert(inMem.map { case (_, t, l, c) => (t, l, c) } == Set(
      ("S", 0L, Seq("top", null)), ("S", 1L, Seq(null, null)),
      ("S", 2L, Seq(null, null)), ("S", 3L, Seq(null, "bottom"))))
  }

  test("sheets sharing a part target (broken rels) stream like the in-memory path") {
    // no rels part: both sheets fall back to worksheets/sheet1.xml — the
    // in-memory path emits BOTH named sheets with that part's rows
    val xlsx = ExcelFixtures.buildXlsx(Map(
      "xl/workbook.xml" ->
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="A" sheetId="1" r:id="rId9"/>
          |<sheet name="B" sheetId="2" r:id="rId8"/></sheets></workbook>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<sheetData><row r="1"><c r="A1" t="str"><v>x</v></c></row></sheetData>
          |</worksheet>""".stripMargin))
    val p = writeTemp(xlsx, ".xlsx")
    val inMem = collectRows(Excel.tables(spark, Seq(p)))
    val streamed = collectRows(Excel.streamedTables(spark, Seq(p)))
    assert(streamed == inMem)
    assert(inMem.map(_._2) == Set("A", "B"), "both sheet names must surface")
  }

  // ---- the oversized-CFB in-memory fallback (r5): CFB containers (BIFF8
  // .xls, encrypted OOXML envelopes) cannot stream, so past the size bound
  // they parse in-memory ON THE TASK up to the 2 GiB format ceiling. The
  // fixtures are built in-test ([[SyntheticOffice]]) so this coverage runs
  // on every machine, not just ones with the reference checkout.

  private def encryptedXlsx: Array[Byte] =
    SyntheticOffice.agileEncrypt(ExcelFixtures.testXlsx, "carrot")

  test("oversized genuine BIFF8 .xls parses via the fallback identically to the in-memory path") {
    val p = writeTemp(
      SyntheticOffice.biff8Xls("Sheet1", Seq(Seq("1A", "1B"), Seq("2A", "2B"))), ".xls")
    val inMem = collectRows(Excel.tables(spark, Seq(p)))
    val fallback = collectRows(Excel.streamedTables(spark, Seq(p)))
    assert(fallback == inMem)
    assert(inMem.map { case (_, t, l, c) => (t, l, c) } == Set(
      ("Sheet1", 0L, Seq("1A", "1B")), ("Sheet1", 1L, Seq("2A", "2B"))))
  }

  test("oversized encrypted OOXML + file_password parses via the fallback") {
    val p = writeTemp(encryptedXlsx, ".xlsx")
    val inMem = collectRows(Excel.tables(spark, Seq(p), password = Some("carrot")))
    val fallback = collectRows(
      Excel.streamedTables(spark, Seq(p), password = Some("carrot")))
    assert(fallback == inMem)
    assert(inMem.nonEmpty)
  }

  test("oversized encrypted OOXML without a password raises the documented error") {
    val p = writeTemp(encryptedXlsx, ".xlsx")
    val e = intercept[org.apache.spark.SparkException] {
      Excel.streamedTables(spark, Seq(p)).collect()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("password protected"))
  }

  test("oversized file that is neither zip nor OLE raises the streaming bound error") {
    val p = writeTemp("definitely not a workbook".getBytes("UTF-8"), ".xlsx")
    val e = intercept[org.apache.spark.SparkException] {
      Excel.streamedTables(spark, Seq(p)).collect()
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg.contains("Unable to stream oversized workbook"))
    assert(msg.contains("neither a zip archive nor an OLE container"))
  }

  test("CFB workbook past the 2 GiB format ceiling raises the bound error, stat or no stat") {
    val cfbMagic = Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte,
      0xA1.toByte, 0xB1.toByte, 0x1A, 0xE1.toByte) ++ Array.fill(512)(0.toByte)
    val p = writeTemp(cfbMagic, ".xls")
    // driver-statted length says >2 GiB: the guard must fire BEFORE any read
    val e = intercept[RuntimeException] {
      Excel.streamedFileRows(spark.sessionState.newHadoopConf(), p, p, len = 3L * 1024 * 1024 * 1024, password = None)
    }
    assert(e.getMessage.contains("tops out at"))
    assert(e.getMessage.contains("2 GiB"))
    // a failed stat (len = -1) must NOT disarm the guard: the small fixture
    // still parses through the bounds-checked read (and fails only inside
    // Biff8 on the truncated body, proving the read path was taken)
    val e2 = intercept[RuntimeException] {
      Excel.streamedFileRows(spark.sessionState.newHadoopConf(), p, p, len = -1L, password = None).toList
    }
    assert(!e2.getMessage.contains("tops out at"))
  }
}
