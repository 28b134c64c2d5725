package graft.sources

import graft.SparkSpec
import graft.queries.Fixtures
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericDatumWriter, GenericRecordBuilder}
import org.apache.spark.sql.functions._

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.Deflater

/** Avro, VCF, PDF and docx sources over self-generated fixtures (shapes per
  * FIXTURES.md; binary fixtures are built in-test, never copied). */
class BinarySourcesSpec extends SparkSpec {

  // ------------------------------------------------------------------ avro

  private def avroBytes: (Array[Byte], Schema) = {
    val dateType = org.apache.avro.LogicalTypes.date()
      .addToSchema(Schema.create(Schema.Type.INT))
    val schema = SchemaBuilder.record("Row").fields()
      .requiredString("name")
      .requiredInt("age")
      .name("joined").`type`(dateType).noDefault()
      .endRecord()
    val out = new ByteArrayOutputStream()
    val w = new DataFileWriter(new GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, out)
    w.append(new GenericRecordBuilder(schema)
      .set("name", "Ada").set("age", 36).set("joined", 18262).build()) // 2020-01-01
    w.append(new GenericRecordBuilder(schema)
      .set("name", "Bob").set("age", 41).set("joined", 0).build())
    w.close()
    (out.toByteArray, schema)
  }

  test("avro: synthetic header row + stringified values (S9)") {
    val (bytes, _) = avroBytes
    val rows = Avro.rowsFromBytes(bytes)
    assert(rows(0) == Seq("name", "age", "joined"))
    assert(rows(1) == Seq("Ada", "36", "18262"))
    assert(rows(2) == Seq("Bob", "41", "0"))
  }

  test("avro: .avsc scaffold gives logical dates daysafter 1970-01-01 (S10)") {
    val (bytes, schema) = avroBytes
    val mapping = Avro.tableFromSchema(schema.toString, "Person")
    assert(mapping.headerLines == 1)
    val joined = mapping.columns.find(_.column.contains("joined")).get
    assert(joined.mappings.head.daysafter.contains("1970-01-01"))

    // end-to-end: avro rows → mapping pipeline → date field
    val dir = Files.createTempDirectory("avro")
    Files.write(dir.resolve("people.avro"), bytes)
    val rows = Avro.rows(spark, Seq(dir.resolve("people.avro").toString))
    val recs = graft.compile.MappingCompiler(mapping).records(
      graft.compile.MappingCompiler.dataRows(rows, mapping))
    val joinedVals = recs.orderBy("index")
      .select(element_at(col("fields"), "joined")).collect().map(_.getString(0))
    assert(joinedVals.toSeq == Seq("2020-01-01", "1970-01-01"))
  }

  // ------------------------------------------------------------------- vcf

  test("vcf: meta lines dropped, #CHROM header unprefixed, tab split (S11)") {
    val dir = Files.createTempDirectory("vcf")
    val p = dir.resolve("sample.vcf")
    Files.write(p,
      ("##fileformat=VCFv4.2\n##source=test\n" +
       "#CHROM\tPOS\tID\tREF\tALT\n" +
       "1\t123\trs1\tA\tG\n").getBytes("UTF-8"))
    val rows = Tabular.vcf(spark, Seq(p.toString))
      .orderBy("lineno").select("cells").collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("CHROM", "POS", "ID", "REF", "ALT"))
    assert(rows(1) == Seq("1", "123", "rs1", "A", "G"))
  }

  // ------------------------------------------------------------------- pdf

  private def minimalPdf(flate: Boolean): Array[Byte] = {
    val content = "BT (Hello PDF line one) Tj T* (line two) Tj ET"
    val data =
      if (flate) {
        val d = new Deflater()
        d.setInput(content.getBytes("ISO-8859-1")); d.finish()
        val buf = new Array[Byte](1024)
        val n = d.deflate(buf)
        buf.take(n)
      } else content.getBytes("ISO-8859-1")
    val dict = if (flate) "<< /Filter /FlateDecode >>" else "<< /Length " + data.length + " >>"
    val head = s"%PDF-1.4\n1 0 obj\n$dict\nstream\n".getBytes("ISO-8859-1")
    head ++ data ++ "\nendstream\nendobj\n%%EOF".getBytes("ISO-8859-1")
  }

  test("pdf: text lines from Tj operators, plain and FlateDecode (S12)") {
    for (flate <- Seq(false, true)) {
      val lines = Pdf.extractTextLines(minimalPdf(flate))
      assert(lines == Seq("Hello PDF line one", "line two"), s"flate=$flate")
    }
  }

  /** A PDF of the reference's test resources; the test cancels when the
    * reference checkout is absent, like ReferenceFixturesSpec. */
  private def referencePdf(name: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get("/root/reference/test/resources", name)
    assume(Files.exists(p), s"reference fixture $name is absent")
    p
  }

  test("pdf: reference hello_world.pdf matches pdf-reader's output exactly") {
    // a Word-generated PDF: object streams, Tm positioning, positional
    // layout with a skipped row — the reference's own golden
    // (`test/file/pdf_test.rb:12-21`)
    val bytes = Files.readAllBytes(referencePdf("hello_world.pdf"))
    val lines = Pdf.extractTextLines(bytes)
    assert(lines == Seq(
      "Hello                                      World", "",
      "Goodbye                                    Universe"))
  }

  test("pdf: reference flat_file.pdf — full text, reading order, q/Q + cm transforms") {
    val bytes = Files.readAllBytes(referencePdf("flat_file.pdf"))
    val lines = Pdf.extractTextLines(bytes)
    val text = lines.mkString("\n")
    assert(text.contains("Lorem ipsum dolor sit amet"))
    // reading order: page markers appear ascending
    val order = "== Page (\\d) of 5 ==".r.findAllMatchIn(text).map(_.group(1).toInt).toSeq
    assert(order == Seq(1, 2, 3, 4, 5), s"page markers out of order: $order")
  }

  test("pdf: synthetic multi-page file — page-tree reading order, q/cm/Q transforms") {
    // Kids list page 1 (object 5) before page 2 (object 3), against object
    // order. On page 1 a `cm` inside q/Q moves "shifted down" 100 units
    // down; Q restores the CTM, so "after restore" lands between the two.
    def page(contents: Int) =
      s"<< /Type /Page /Parent 2 0 R /Contents $contents 0 R >>"
    def stream(body: String) = s"<< /Length ${body.length} >> stream\n$body\nendstream"
    val page1 = "BT 72 700 Td (== Page 1 of 2 ==) Tj ET " +
      "q 1 0 0 1 0 -100 cm BT 72 700 Td (shifted down) Tj ET Q " +
      "BT 72 650 Td (after restore) Tj ET"
    val page2 = "BT 72 700 Td (== Page 2 of 2 ==) Tj ET"
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [5 0 R 3 0 R] /Count 2 >>",
      page(4), stream(page2), page(6), stream(page1))
    val pdf = objs.zipWithIndex
      .map { case (o, i) => s"${i + 1} 0 obj $o endobj\n" }
      .mkString("%PDF-1.4\n", "", "%%EOF").getBytes("ISO-8859-1")
    assert(Pdf.extractTextLines(pdf).filter(_.nonEmpty) == Seq(
      "== Page 1 of 2 ==", "after restore", "shifted down", "== Page 2 of 2 =="))
  }

  test("pdf: CID font text via ToUnicode CMap and hex strings") {
    // two-byte codes 0x0001..0x0003 → "Hi!" through a bfchar/bfrange CMap
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0001> <0048>
        |<0002> <0069>
        |endbfchar
        |1 beginbfrange
        |<0003> <0003> <0021>
        |endbfrange
        |endcmap
        |""".stripMargin
    val pdf = ("%PDF-1.4\n" +
      "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Resources << /Font << /F9 4 0 R >> >> /Contents 6 0 R >> endobj\n" +
      "4 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H /ToUnicode 5 0 R >> endobj\n" +
      s"5 0 obj << /Length ${cmap.length} >> stream\n$cmap\nendstream endobj\n" +
      "6 0 obj << >> stream\nBT /F9 12 Tf <000100020003> Tj ET\nendstream endobj\n" +
      "%%EOF").getBytes("ISO-8859-1")
    assert(Pdf.extractTextLines(pdf) == Seq("Hi!"))
  }

  test("pdf: acroform fields scraped as a single hash row (S15)") {
    val pdf = Fixtures.acroFormPdf(Seq("surname" -> "SMITH", "forename" -> "JO"))
    assert(Pdf.acroFormFields(pdf) == Map("surname" -> "SMITH", "forename" -> "JO"))
    val noFields = "%PDF-1.4\n%%EOF".getBytes("ISO-8859-1")
    val e = intercept[RuntimeException](Pdf.acroFormFields(noFields))
    assert(e.getMessage.contains("no appropriate AcroFields"))
  }

  // ------------------------------------------------------------------ docx

  test("docx: paragraphs joined with newlines (S14)") {
    // two runs in the first paragraph join without a separator
    val docx = Fixtures.zip(ExcelFixtures.utf8("word/document.xml" ->
      """<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |<w:body><w:p><w:r><w:t>Hello world,</w:t><w:t> first para</w:t></w:r></w:p>
        |<w:p><w:r><w:t>second para</w:t></w:r></w:p></w:body></w:document>""".stripMargin))
    val text = BinaryDecode.extractWordText(docx)
    assert(text == "Hello world, first para\nsecond para")
  }
}
