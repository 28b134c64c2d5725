package graft.sources

import graft.SparkSpec
import graft.compile.MappingCompiler
import graft.model.MappingLoader
import graft.queries.Fixtures
import graft.tabulate.NonTabular
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** End-to-end goldens over the reference's own permanent test files —
  * expectations ported from the reference's test suite, data read from the
  * real fixture corpus (never copied into this repo). */
class ReferenceFixturesSpec extends SparkSpec {

  private val res = "/root/reference/test/resources"
  private def exists(name: String) = Files.exists(Paths.get(res, name))
  private def bytes(name: String) = Files.readAllBytes(Paths.get(res, name))

  test("flat_file.txt through flat_file.yml (non_tabular/table_test.rb:82-102)") {
    assume(exists("flat_file.txt") && exists("flat_file.yml"))
    val mapping = MappingLoader.loadTable(
      new String(bytes("flat_file.yml"), "UTF-8"))
    import spark.implicits._
    val lines = new String(bytes("flat_file.txt"), "UTF-8")
      .split("\n", -1).toSeq.zipWithIndex
      .map { case (l, i) => ("flat_file.txt", i.toLong, l.stripLineEnd) }
      .toDF("file", "lineno", "line")
    val cells = NonTabular.tabulate(lines, mapping)
    val recs = MappingCompiler(mapping).records(cells)
    val ones = recs.orderBy("index")
      .select(element_at(col("rawtext"), "one"))
      .collect().map(_.getString(0)).toSeq

    assert(ones.length == 4, s"expected 4 records, got ${ones.length}")
    assert(ones.head.startsWith("1"))
    assert(ones.last.startsWith("4"))
    assert(ones.exists(_.contains("This is captured")))
    assert(!ones.exists(_.contains("This is never captured")))
    assert(!ones.exists(_.contains("== Page")))
  }

  test("acro_form.pdf fields (acro_form_test.rb:12-36)") {
    assume(exists("acro_form.pdf"))
    val fields = Pdf.acroFormFields(bytes("acro_form.pdf"))
    val expected = Map(
      "Group3" -> "", "Textbox1_required" -> "", "Textbox2_required" -> "",
      "List Box_required" -> "3", "Dropdown_required" -> "3",
      "Textbox1_optional" -> "", "Textbox2_optional" -> "",
      "List Box_optional" -> "3", "Dropdown_optional" -> "3",
      "Date_required" -> "", "Date__optional" -> "",
      "Textbox3_numerical_required" -> "", "Textbox3_numerical_optional" -> "")
    assert(fields == expected,
      s"missing=${expected.keySet -- fields.keySet} extra=${fields.keySet -- expected.keySet} " +
      s"diff=${expected.collect { case (k, v) if fields.get(k).exists(_ != v) => k -> (v, fields(k)) }}")
  }

  test("fake_dids.avro: 11 rows incl. synthetic header (avro_test.rb:13-20)") {
    assume(exists("fake_dids.avro"))
    val rows = Avro.rowsFromBytes(bytes("fake_dids.avro"))
    assert(rows.length == 11, s"got ${rows.length}")
    // first row is the synthetic header of field names
    assert(rows.head.nonEmpty && rows.tail.forall(_.length == rows.head.length))
  }

  test("sample_xlsx.xlsx / sample_xlsm.xlsm: Sheet1, first row 1A 1B (excel_test.rb:22-40)") {
    // without the reference checkout, workbooks of the same shape stand in
    // (the .xlsm one with a macro part), so the assertions always run
    val parts = ExcelFixtures.utf8(
      "xl/workbook.xml" ->
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="x" Target="worksheets/sheet1.xml"/>
          |</Relationships>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
          |<row r="1"><c r="A1" t="str"><v>1A</v></c><c r="B1" t="str"><v>1B</v></c></row>
          |<row r="2"><c r="A2" t="str"><v>2A</v></c><c r="B2" t="str"><v>2B</v></c></row>
          |</sheetData></worksheet>""".stripMargin)
    val standIns = Map("sample_xlsx.xlsx" -> Fixtures.zip(parts),
      "sample_xlsm.xlsm" -> Fixtures.zip(parts ++ ExcelFixtures.utf8("xl/vbaProject.bin" -> "macros")))
    for (f <- Seq("sample_xlsx.xlsx", "sample_xlsm.xlsm")) {
      val sheets = ExcelFixtures.sheets(if (exists(f)) bytes(f) else standIns(f), name = f)
      assert(sheets.map(_._1) == Seq("Sheet1"), f)
      assert(sheets.head._2.head == Seq("1A", "1B"), f)
    }
  }

  test("blank_tab_test.xlsx: data sheets first, blank third sheet empty (excel_test.rb:42-53)") {
    assume(exists("blank_tab_test.xlsx"))
    // a sheet with no populated cell gives no rows, so only two sheets surface
    val sheets = ExcelFixtures.sheets(bytes("blank_tab_test.xlsx"))
    assert(sheets.length == 2, s"got ${sheets.map(_._1)}")
    assert(sheets(0)._2.take(2) == Seq(
      Seq("column_a", "column_b", "column_c", "column_d"),
      Seq("11111", "ABC123", "8888888888", "2")))
    assert(sheets(1)._2.take(2) == Seq(
      Seq("column_a", "column_b", "column_c", "column_d"),
      Seq("11111", "ABC123", "8888888888", "3")))
  }

  test("sample_vcf.vcf: 7 rows after ## meta-line skip (vcf_test.rb:13-20)") {
    assume(exists("sample_vcf.vcf"))
    val df = Tabular.vcf(spark, Seq(s"$res/sample_vcf.vcf"))
    assert(df.count() == 7)
    // every row splits into the same number of tab fields
    val widths = df.select(size(col("cells"))).distinct().collect().map(_.getInt(0))
    assert(widths.length == 1, s"ragged rows: ${widths.toSeq}")
  }
}
