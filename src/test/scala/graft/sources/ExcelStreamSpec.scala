package graft.sources

import graft.SparkSpec
import graft.queries.Fixtures

/** `Excel.tables` streams every workbook from its file through one
  * per-file walk, and must read as the same walk over the workbook's bytes
  * in memory (the route a decrypted workbook takes) and as the literal
  * rows written here: sheets, linenos, casts, padding, all-null gap rows,
  * binaryFile's `file` spelling. OLE containers are read whole on the
  * task at any listed length below the 2 GiB format ceiling. */
class ExcelStreamSpec extends SparkSpec {

  private def writeTemp(bytes: Array[Byte], suffix: String): String = {
    val f = java.io.File.createTempFile("excel-stream", suffix)
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map { r =>
      (r.getString(r.fieldIndex("file")),
        r.getString(r.fieldIndex("tablename")), r.getLong(r.fieldIndex("lineno")),
        Option(r.getSeq[String](r.fieldIndex("cells"))).map(_.toSeq).orNull)
    }.toSet

  /** What binaryFile reports as the file's `path`. */
  private def binaryFilePath(p: String): String =
    spark.read.format("binaryFile").load(p).select("path").head().getString(0)

  /** The same walk over the workbook's bytes held in memory, as if the
    * listing had reported `len` bytes. */
  private def inMemory(bytes: Array[Byte], password: Option[String] = None,
                       len: Long = -1L) =
    ExcelFixtures.sheets(bytes, password, len = len).flatMap { case (sheet, rows) =>
      rows.zipWithIndex.map { case (cells, i) => (sheet, i.toLong, cells) }
    }.toSet

  private def withoutFile(rows: Set[(String, String, Long, Seq[String])]) =
    rows.map { case (_, t, l, c) => (t, l, c) }

  /** Above the 256 MiB bound that once routed a workbook away from the
    * whole-file parse, and below the 2 GiB format ceiling. */
  private val Oversized = 300L * 1024 * 1024

  private def failure(df: => org.apache.spark.sql.DataFrame): String = {
    val e = intercept[org.apache.spark.SparkException](df.collect())
    Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
  }

  private def sheetXml(rows: String): String =
    s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
       |<sheetData>$rows</sheetData></worksheet>""".stripMargin

  /** A one-sheet workbook ("S" → `part`) whose zip may lack `part`. */
  private def oneSheet(part: String, parts: (String, String)*): Array[Byte] =
    Fixtures.zip(ExcelFixtures.utf8(
      "xl/workbook.xml" ->
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        s"""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rId1" Type="x" Target="$part"/>
           |</Relationships>""".stripMargin) ++ ExcelFixtures.utf8(parts: _*))

  private val fixtureRows = Set(
    ("Sheet1", 0L, Seq("1A", "1B", "rich", null)),
    ("Sheet1", 1L, Seq("12", "12.5", null, "true")),
    ("Sheet1", 2L, Seq("2018-01-01", "2018-01-01 12:00:00", "inline", null)),
    ("Second Sheet", 0L, Seq("only")))

  test("streamed tables == in-memory tables on the shared fixture") {
    val p = writeTemp(ExcelFixtures.testXlsx, ".xlsx")
    val rows = collectRows(Excel.tables(spark, Seq(p)))
    assert(rows.map(_._1) == Set(binaryFilePath(p)))
    assert(withoutFile(rows) == fixtureRows)
    assert(inMemory(ExcelFixtures.testXlsx) == fixtureRows)
  }

  test("streamed path pads row gaps with all-null rows like the in-memory path") {
    val xlsx = oneSheet("worksheets/sheet1.xml", "xl/worksheets/sheet1.xml" -> sheetXml(
      """<row r="2"><c r="B2" t="str"><v>top</v></c></row>
        |<row r="5"><c r="C5" t="str"><v>bottom</v></c></row>""".stripMargin))
    // span B..C over rows 2..5: two populated rows, two all-null gap rows
    val expected = Set(
      ("S", 0L, Seq("top", null)), ("S", 1L, Seq(null, null)),
      ("S", 2L, Seq(null, null)), ("S", 3L, Seq(null, "bottom")))
    assert(withoutFile(collectRows(Excel.tables(spark, Seq(writeTemp(xlsx, ".xlsx"))))) == expected)
    assert(inMemory(xlsx) == expected)
  }

  test("sheets sharing a part target (broken rels) stream like the in-memory path") {
    // no rels part: both sheets fall back to worksheets/sheet1.xml
    val xlsx = Fixtures.zip(ExcelFixtures.utf8(
      "xl/workbook.xml" ->
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="A" sheetId="1" r:id="rId9"/>
          |<sheet name="B" sheetId="2" r:id="rId8"/></sheets></workbook>""".stripMargin,
      "xl/worksheets/sheet1.xml" -> sheetXml("""<row r="1"><c r="A1" t="str"><v>x</v></c></row>""")))
    val expected = Set(("A", 0L, Seq("x")), ("B", 0L, Seq("x")))
    assert(withoutFile(collectRows(Excel.tables(spark, Seq(writeTemp(xlsx, ".xlsx"))))) == expected)
    assert(inMemory(xlsx) == expected)
  }

  test("a sheet whose part is missing from the zip fails, naming the file and the part") {
    val p = writeTemp(oneSheet("worksheets/gone.xml",
      "xl/worksheets/sheet1.xml" -> sheetXml("""<row r="1"><c r="A1" t="str"><v>x</v></c></row>""")),
      ".xlsx")
    val msg = failure(Excel.tables(spark, Seq(p)))
    assert(msg.contains("Missing sheet part xl/worksheets/gone.xml"), msg)
    assert(msg.contains(binaryFilePath(p)), msg)
  }

  test("a workbook whose rows go back fails") {
    val p = writeTemp(oneSheet("worksheets/sheet1.xml", "xl/worksheets/sheet1.xml" -> sheetXml(
      """<row r="3"><c r="A3" t="str"><v>late</v></c></row>
        |<row r="1"><c r="A1" t="str"><v>early</v></c></row>""".stripMargin)), ".xlsx")
    assert(failure(Excel.tables(spark, Seq(p))).contains("Worksheet rows out of order"))
  }

  test("workbooks open with the session's Hadoop conf on the executor") {
    val p = writeTemp(ExcelFixtures.testXlsx, ".xlsx")
    graft.runtime.GraftSession.withConf(spark,
        "fs.sessfs.impl" -> classOf[SessionOnlyFs].getName,
        "fs.sessfs.impl.disable.cache" -> "true") {
      val rows = collectRows(Excel.tables(spark, Seq(s"sessfs://$p")))
      assert(rows.map(_._1) == Set(s"sessfs:$p"))
      assert(withoutFile(rows) == fixtureRows)
    }
  }

  // ---- OLE containers (BIFF8 .xls, encrypted OOXML envelopes) need random
  // access, so they are read whole on the task (once the fallback of the
  // oversized route), up to the 2 GiB format ceiling. The fixtures are
  // built in-test ([[Fixtures]], [[SyntheticOffice]]) so this coverage runs on every
  // machine, not just ones with the reference checkout.

  private def encryptedXlsx: Array[Byte] =
    SyntheticOffice.agileEncrypt(ExcelFixtures.testXlsx, "carrot")

  test("oversized genuine BIFF8 .xls parses via the fallback identically to the in-memory path") {
    val xls = Fixtures.xls(Seq("Sheet1" -> Seq(Seq("1A", "1B"), Seq("2A", "2B"))))
    val p = writeTemp(xls, ".xls")
    val expected = Set(("Sheet1", 0L, Seq("1A", "1B")), ("Sheet1", 1L, Seq("2A", "2B")))
    val rows = collectRows(Excel.tables(spark, Seq(p)))
    assert(rows.map(_._1) == Set(binaryFilePath(p)))
    assert(withoutFile(rows) == expected)
    assert(inMemory(xls, len = Oversized) == expected)
    assert(Biff8.parse(xls, p).flatMap(s => s.rows.zipWithIndex.map { case (c, i) =>
      (s.name, i.toLong, c) }).toSet == expected)
  }

  test("oversized encrypted OOXML + file_password parses via the fallback") {
    val p = writeTemp(encryptedXlsx, ".xlsx")
    assert(withoutFile(collectRows(Excel.tables(spark, Seq(p), password = Some("carrot")))) ==
      fixtureRows)
    assert(inMemory(encryptedXlsx, Some("carrot"), Oversized) == fixtureRows)
  }

  test("oversized encrypted OOXML without a password raises the documented error") {
    val p = writeTemp(encryptedXlsx, ".xlsx")
    assert(failure(Excel.tables(spark, Seq(p))).contains("password protected"))
    val e = intercept[RuntimeException](inMemory(encryptedXlsx, len = Oversized))
    assert(e.getMessage.contains("password protected"))
  }

  test("a file that is neither zip nor OLE raises unable-to-read") {
    val p = writeTemp("definitely not a workbook".getBytes("UTF-8"), ".xlsx")
    assert(failure(Excel.tables(spark, Seq(p))).contains("Unable to read the file"))
  }

  test("CFB workbook past the 2 GiB format ceiling fails before the whole-file read") {
    val cfbMagic = Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte,
      0xA1.toByte, 0xB1.toByte, 0x1A, 0xE1.toByte) ++ Array.fill(512)(0.toByte)
    var opens = 0
    val open = () => { opens += 1; new java.io.ByteArrayInputStream(cfbMagic) }
    // the listed length says >2 GiB: only the 8-byte magic sniff may run
    val e = intercept[RuntimeException] {
      Excel.fileRows("big.xls", 3L * 1024 * 1024 * 1024, open, password = None)
    }
    assert(e.getMessage.contains("tops out at"))
    assert(e.getMessage.contains("2 GiB"))
    assert(opens == 1)
  }
}
