package graft.run

import graft.SparkSpec
import graft.compile.MappingCompiler
import graft.model.MappingLoader
import graft.queries.Fixtures
import graft.sources.{Excel, LineSource, SyntheticOffice, Tabular}
import graft.sources.ExcelFixtures.utf8
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

import java.io.{File, FileOutputStream}

/** End-to-end orchestration, mirroring
  * `test/universal_importer_helper_test.rb`: container expansion, mapping
  * match, per-format read, canonical-table union. */
class ImporterSpec extends SparkSpec {

  private def tmpDir(): File = {
    val d = File.createTempFile("graft_imp", "")
    d.delete(); d.mkdirs(); d
  }

  private def write(dir: File, name: String, content: Array[Byte]): String = {
    val f = new File(dir, name)
    val os = new FileOutputStream(f)
    try os.write(content) finally os.close()
    f.getAbsolutePath
  }

  test("zip of two CSVs -> one canonical table (reference :205-223)") {
    val dir = tmpDir()
    val zipPath = write(dir, "two_files.zip", Fixtures.zip(utf8(
      "inner/first.csv" -> "surname,forename\nSMITH,JOHN\n",
      "second.csv" -> "surname,forename\nDOE,JANE\n")))

    val mappings = MappingLoader.loadTables(
      """|- canonical_name: people
         |  filename_pattern: !ruby/regexp /\.csv\z/i
         |  header_lines: 1
         |  klass: Person
         |  columns:
         |  - column: surname
         |    mappings:
         |    - field: surname
         |  - column: forename
         |    mappings:
         |    - field: forename
         |""".stripMargin)

    val tables = Importer.mappedTables(spark, zipPath, mappings,
      Registry.ContainerOptions(unzipPath = dir.getAbsolutePath))
    assert(tables.keySet == Set("people"))
    val rows = tables("people")
      .select(element_at(col("fields"), "surname")).collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("DOE", "SMITH"))
  }

  test("xlsx sheets route by tablename_pattern") {
    val dir = tmpDir()
    // two sheets, only Data mapped
    val xlsxPath = write(dir, "book.xlsx", Fixtures.xlsx(Seq(
      "Data" -> Seq(Seq("code"), Seq("42")), "Notes" -> Seq(Seq("ignore me")))))

    val mappings = MappingLoader.loadTables(
      """|- canonical_name: codes
         |  filename_pattern: !ruby/regexp /\.xlsx\z/i
         |  tablename_pattern: !ruby/regexp /\ADat/
         |  header_lines: 1
         |  klass: Code
         |  columns:
         |  - column: code
         |    mappings:
         |    - field: code
         |""".stripMargin)

    val tables = Importer.mappedTables(spark, xlsxPath, mappings)
    val rows = tables("codes")
      .select(element_at(col("fields"), "code")).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("42"))
  }

  test("jsonl object rows map by column name") {
    val dir = tmpDir()
    val path = write(dir, "data.jsonl",
      "{\"text\": \"Hello\"}\n{\"text\": \"World\"}\n".getBytes("UTF-8"))
    val mappings = MappingLoader.loadTables(
      """|- canonical_name: texts
         |  filename_pattern: !ruby/regexp /\.jsonl\z/i
         |  klass: Doc
         |  columns:
         |  - column: text
         |    mappings:
         |    - field: text
         |""".stripMargin)
    val tables = Importer.mappedTables(spark, path, mappings)
    val rows = tables("texts")
      .select(element_at(col("fields"), "text")).collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("Hello", "World"))
  }

  test("bespoke not-sign delimiter through the Importer (reference :49-73)") {
    val dir = tmpDir()
    val path = write(dir, "not_sign_delimited.txt",
      "one\u00actwo\u00acthree\nsome\u00acdata\u00achere\nmore\u00acdata\u00achere\n"
        .getBytes("UTF-8"))
    val mappings = MappingLoader.loadTables(
      """|- filename_pattern: !ruby/regexp /\.txt\z/i
         |  format: delimited
         |  delimiter: "\u00ac"
         |  header_lines: 1
         |  klass: SomeTestClass
         |  columns:
         |  - column: one
         |  - column: two
         |  - column: three
         |""".stripMargin)
    val rows = Importer.mappedTables(spark, path, mappings)("")
      .orderBy("index")
      .select(element_at(col("rawtext"), "one"), element_at(col("rawtext"), "two"),
        element_at(col("rawtext"), "three"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(("some", "data", "here"), ("more", "data", "here")))
  }

  test("last_data_column 'D' slices delimited + jsonl before header check") {
    val dir = tmpDir()
    val az = ('A' to 'Z').map(_.toString)
    val pipe = write(dir, "normal_pipe.csv",
      (az.mkString("|") + "\n" + Seq.fill(26)("1").mkString("|") + "\n" +
        Seq.fill(26)("2").mkString("|") + "\n").getBytes("UTF-8"))
    val mappings = MappingLoader.loadTables(
      """|- filename_pattern: !ruby/regexp /pipe/i
         |  format: delimited
         |  delimiter: '|'
         |  header_lines: 1
         |  last_data_column: D
         |  klass: SomeTestClass
         |  columns:
         |  - column: a
         |  - column: b
         |  - column: c
         |  - column: d
         |""".stripMargin)
    val rows = Importer.mappedTables(spark, pipe, mappings)("")
      .orderBy("index")
      .select(map_values(col("rawtext"))).collect().map(_.getSeq[String](0).sorted)
    assert(rows.toSeq == Seq(Seq("1", "1", "1", "1"), Seq("2", "2", "2", "2")))

    val jsonl = write(dir, "array.jsonl",
      ("[" + az.map("\"" + _ + "\"").mkString(",") + "]\n" +
        "[" + Seq.fill(26)("1").mkString(",") + "]\n" +
        "[" + Seq.fill(26)("2").mkString(",") + "]\n").getBytes("UTF-8"))
    val jm = MappingLoader.loadTables(
      """|- filename_pattern: !ruby/regexp /array/i
         |  header_lines: 1
         |  last_data_column: D
         |  klass: SomeTestClass
         |  columns:
         |  - column: a
         |  - column: b
         |  - column: c
         |  - column: d
         |""".stripMargin)
    val jrows = Importer.mappedTables(spark, jsonl, jm)("")
      .orderBy("index")
      .select(map_values(col("rawtext"))).collect().map(_.getSeq[String](0).sorted)
    assert(jrows.toSeq == Seq(Seq("1", "1", "1", "1"), Seq("2", "2", "2", "2")))
  }


  test("fixed-width text mapping: unpacked, header validated, footer trimmed") {
    val dir = tmpDir()
    val path = write(dir, "people.txt",
      ("idname      flag\n" +
        "01Alice     Y   \n" +
        "02Bob       N   \n" +
        // `A` drops trailing NULs as well as spaces (Ruby `unpack('A')`)
        "03Carol\u0000 \u0000  Z   \n" +
        "END OF FILE\n").getBytes("UTF-8"))
    val mappings = MappingLoader.loadTables(
      """|- canonical_name: people
         |  filename_pattern: !ruby/regexp /\.txt\z/i
         |  header_lines: 1
         |  footer_lines: 1
         |  klass: Person
         |  columns:
         |  - column: id
         |    unpack_pattern: a2
         |    mappings:
         |    - field: id
         |  - column: name
         |    unpack_pattern: A10
         |    mappings:
         |    - field: name
         |  - column: flag
         |    unpack_pattern: a4
         |    mappings:
         |    - field: flag
         |""".stripMargin)
    def fields(df: org.apache.spark.sql.DataFrame) = df.orderBy("index")
      .select("fields", "rawtext").collect()
      .map(r => (r.getMap[String, String](0).toMap, r.getMap[String, String](1).toMap)).toSeq
    val got = fields(Importer.mappedTables(spark, path, mappings)("people"))

    val m = mappings.head
    val cells = Tabular.fixedWidth(
      LineSource.lines(spark, Seq(path)), m.columns.flatMap(_.unpackPattern))
    val header = cells.filter(col("lineno") < 1).collect().map(_.getSeq[String](2)).toSeq
    val validated = MappingCompiler.consumeHeader(m, header)
    val expected = fields(
      MappingCompiler(validated).records(MappingCompiler.dataRows(cells, validated)))
    assert(expected.map(_._1.view.filterKeys(Set("id", "name", "flag")).toMap) == Seq(
      Map("id" -> "01", "name" -> "Alice", "flag" -> "Y"),
      Map("id" -> "02", "name" -> "Bob", "flag" -> "N"),
      Map("id" -> "03", "name" -> "Carol", "flag" -> "Z")))
    // `a` keeps the padding, `A` trims it
    assert(expected.map(e => (e._2("name"), e._2("flag"))) ==
      Seq(("Alice", "Y   "), ("Bob", "N   "), ("Carol", "Z   ")))
    assert(got == expected)
  }

  test("file_password docx through non-tabular mapping (reference :75-103)") {
    val docxPath = "/root/reference/test/resources/password_protected_hello_world.docx"
    assume(new File(docxPath).exists())
    val mappings = MappingLoader.loadTables(
      """|- file_password: salad
         |  format: docx
         |  filename_pattern: !ruby/regexp /\.docx\z/i
         |  start_line_pattern: !ruby/regexp /must not match anything a2f76abe/
         |  start_in_a_record: true
         |  end_in_a_record: true
         |  klass: SomeTestKlass
         |  columns:
         |  - column: one
         |    non_tabular_cell:
         |      lines: -1
         |      capture: !ruby/regexp /^(.*)$/i
         |""".stripMargin)
    val rows = Importer.mappedTables(spark, docxPath, mappings)("")
      .select(element_at(col("rawtext"), "one")).collect().map(_.getString(0))
    assert(rows.toSeq == Seq("Three in fact"))
  }

  test("header validation plans one capped read per file: no Exchange, no limit") {
    // single-file frames, each in one partition, whose reads fail past the
    // header block: the collect succeeds only if each branch stops there
    def file(name: String, headerLines: Int) = {
      val rows = spark.sparkContext.parallelize(Seq(name), 1).flatMap { f =>
        Iterator.from(0).map { i =>
          if (i == headerLines) sys.error(s"$f read past its header block")
          org.apache.spark.sql.Row(f, i.toLong, Seq(s"$f-$i"))
        }
      }
      spark.createDataFrame(rows, org.apache.spark.sql.types.StructType.fromDDL(
        "file STRING, lineno BIGINT, cells ARRAY<STRING>"))
    }
    val plan = Importer.headerPlan(Seq(
      Importer.headerBlock(file("a", 2), 2), Importer.headerBlock(file("b", 1), 1)))
    val executed = plan.queryExecution.executedPlan.toString
    assert(!executed.contains("Exchange") && !executed.contains("Limit"),
      s"the header plan shuffles or limits:\n$executed")
    assert(executed.contains("(lineno#") && "MapPartitions".r.findAllIn(executed).size == 2,
      s"each branch must be filtered and capped:\n$executed")
    val got = plan.collect().map(r => (r.getLong(1), r.getSeq[String](2).head)).toSeq
    assert(got.sorted == Seq((0L, "a-0"), (0L, "b-0"), (1L, "a-1")))
  }

  test("a bad header among three csv files fails naming that file; a bad sheet names its sheet") {
    val dir = tmpDir()
    val zipPath = write(dir, "three.zip", Fixtures.zip(utf8(
      "first_ok.csv" -> "surname,forename\nSMITH,JOHN\n",
      "second_bad.csv" -> "lastname,forename\nDOE,JANE\n",
      "third_ok.csv" -> "surname,forename\nROE,RICHARD\n")))
    def mappings(ext: String) = MappingLoader.loadTables(
      s"""|- canonical_name: people
          |  filename_pattern: !ruby/regexp /\\.$ext\\z/i
          |  header_lines: 1
          |  klass: Person
          |  columns:
          |  - column: surname
          |  - column: forename
          |""".stripMargin)
    val ex = intercept[RuntimeException](Importer.extract(spark, zipPath, mappings("csv"),
      Registry.ContainerOptions(unzipPath = dir.getAbsolutePath)))
    assert(ex.getMessage.startsWith(
      "Header is not valid! missing: [\"surname\"] unexpected: [\"lastname\"] in '"), ex.getMessage)
    assert(ex.getMessage.contains("second_bad.csv'") && !ex.getMessage.contains("_ok.csv"),
      ex.getMessage)

    val xlsx = write(dir, "book.xlsx", Fixtures.xlsx(Seq(
      "Good" -> Seq(Seq("surname", "forename"), Seq("SMITH", "JOHN")),
      "Bad" -> Seq(Seq("forename", "surname"), Seq("JANE", "DOE")))))
    val sheetEx = intercept[RuntimeException](Importer.extract(spark, xlsx, mappings("xlsx")))
    assert(sheetEx.getMessage == s"Header is not valid! (out of order) in '$xlsx' sheet 'Bad'")
  }

  test("a drop of csv, xlsx, jsonl and text files runs one Spark job to plan") {
    val dir = tmpDir()
    val zipPath = write(dir, "drop.zip", Fixtures.zip(Seq(
      "a.csv" -> "name\nCSV-A\nTOTAL 1\n".getBytes("UTF-8"),
      "b.csv" -> "name\nCSV-B\nTOTAL 1\n".getBytes("UTF-8"),
      "book.xlsx" -> Fixtures.xlsx(Seq("People" -> Seq(Seq("name"), Seq("XL")),
        "Notes" -> Seq(Seq("not a header"), Seq("ignored")))),
      "c.jsonl" -> "[\"name\"]\n[\"JSONL\"]\n".getBytes("UTF-8"),
      "report.txt" -> "NAME: TEXT-1\nNAME: TEXT-2\n".getBytes("UTF-8"),
      "batch.xml" -> ("<root><Header><BatchId>B7</BatchId></Header>" +
        "<record><name>XML</name></record></root>").getBytes("UTF-8"))))
    def tabular(ext: String, extra: String = "") =
      s"""|- canonical_name: people
          |  filename_pattern: !ruby/regexp /\\.$ext\\z/i
          |$extra  header_lines: 1
          |  klass: Person
          |  columns:
          |  - column: name
          |    mappings:
          |    - field: name
          |""".stripMargin
    val mappings = MappingLoader.loadTables(tabular("csv", "  footer_lines: 1\n") +
      tabular("jsonl") +
      tabular("xlsx", "  tablename_pattern: !ruby/regexp /\\APeople\\z/\n") +
      """|- canonical_name: people
         |  filename_pattern: !ruby/regexp /\.txt\z/i
         |  start_line_pattern: !ruby/regexp /\ANAME: /
         |  capture_start_line: true
         |  end_in_a_record: true
         |  klass: Person
         |  columns:
         |  - column: name
         |    non_tabular_cell:
         |      lines: 0
         |      capture: !ruby/regexp /\ANAME: (.*)\z/
         |    mappings:
         |    - field: name
         |- canonical_name: people
         |  filename_pattern: !ruby/regexp /\.xml\z/i
         |  format: xml_table
         |  xml_record_xpath: record
         |  xml_file_metadata:
         |    batch_id: //Header/BatchId
         |  columns:
         |  - column: name
         |    klass: Person
         |    xml_cell:
         |      relative_path: ''
         |    mappings:
         |    - field: name
         |""".stripMargin)
    val (tables, jobs) = jobsDuring(Importer.extract(spark, zipPath, mappings,
      Registry.ContainerOptions(unzipPath = dir.getAbsolutePath)))
    assert(jobs == 1, s"planning the drop ran $jobs jobs")
    assert(tables.size == 6)
    tables.foreach { t =>
      val plan = t.records.queryExecution.optimizedPlan
      assert(plan.collectFirst { case j: Join => j; case a: Aggregate => a }.isEmpty,
        s"a records plan joins or aggregates:\n$plan")
    }
    val names = tables.map(_.records.select(element_at(col("fields"), "name").as("name")))
      .reduce(_ union _)
    val (_, writeJobs) = jobsDuring(
      graft.runtime.Output.sizedWrite(names, new File(dir, "out").getAbsolutePath))
    // the sized write's repartition and the write itself: no footer job
    assert(writeJobs == 2, s"the write ran $writeJobs jobs")
    assert(spark.read.parquet(new File(dir, "out").getAbsolutePath).collect()
      .map(_.getString(0)).sorted.toSeq ==
      Seq("CSV-A", "CSV-B", "JSONL", "TEXT-1", "TEXT-2", "XL", "XML"))
    val xml = tables.find(_.mapping.format.contains("xml_table")).get.records
    assert(xml.select("meta_batch_id").collect().map(_.getString(0)).toSeq == Seq("B7"))
  }

  test("csv and jsonl imports read by streaming: no binaryFile scan, no Exchange") {
    val dir = tmpDir()
    val csv = write(dir, "people.csv", "name\nSMITH\nDOE\n".getBytes("UTF-8"))
    val jsonl = write(dir, "people.jsonl",
      "{\"name\": \"SMITH\"}\n{\"name\": \"DOE\"}\n".getBytes("UTF-8"))
    def mappings(ext: String, headerLines: Int) = MappingLoader.loadTables(
      s"""|- canonical_name: people
          |  filename_pattern: !ruby/regexp /\\.$ext\\z/i
          |  header_lines: $headerLines
          |  klass: Person
          |  columns:
          |  - column: name
          |    mappings:
          |    - field: name
          |""".stripMargin)
    Seq(csv -> mappings("csv", 1), jsonl -> mappings("jsonl", 0)).foreach { case (path, ms) =>
      val people = Importer.mappedTables(spark, path, ms)("people")
      val plan = people.queryExecution.executedPlan.toString
      assert(plan.contains("MapPartitions") && !plan.contains("binaryFile"),
        s"$path must be read by the streaming reader:\n$plan")
      assert(!plan.contains("Exchange"), s"$path plans a shuffle:\n$plan")
      assert(people.select(element_at(col("fields"), "name")).collect()
        .map(_.getString(0)).sorted.toSeq == Seq("DOE", "SMITH"))
    }
  }

  test("xlsx and XML imports read by streaming: no binaryFile scan, no Exchange") {
    val dir = tmpDir()
    val xlsx = write(dir, "people.xlsx",
      Fixtures.xlsx(Seq("People" -> Seq(Seq("name"), Seq("SMITH"), Seq("DOE")))))
    val xml = write(dir, "people.xml",
      "<root><record><name>SMITH</name></record><record><name>DOE</name></record></root>"
        .getBytes("UTF-8"))
    val xlsxMappings = MappingLoader.loadTables(
      """|- canonical_name: people
         |  filename_pattern: !ruby/regexp /\.xlsx\z/i
         |  header_lines: 1
         |  klass: Person
         |  columns:
         |  - column: name
         |    mappings:
         |    - field: name
         |""".stripMargin)
    val xmlMappings = MappingLoader.loadTables(
      """|- canonical_name: people
         |  filename_pattern: !ruby/regexp /\.xml\z/i
         |  format: xml_table
         |  xml_record_xpath: record
         |  columns:
         |  - column: name
         |    klass: Person
         |    xml_cell:
         |      relative_path: ''
         |    mappings:
         |    - field: name
         |""".stripMargin)
    // the reader's own plan, and the imports that read through it
    Seq(Excel.tables(spark, Seq(xlsx)),
        Importer.mappedTables(spark, xlsx, xlsxMappings)("people"),
        Importer.mappedTables(spark, xml, xmlMappings)("people")).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("binaryFile"), s"plan scans binaryFile:\n$plan")
      assert(!plan.contains("Exchange"), s"plan shuffles:\n$plan")
    }
    assert(Excel.tables(spark, Seq(xlsx)).queryExecution.executedPlan.toString
      .contains("MapPartitions"))
    Seq(Importer.mappedTables(spark, xlsx, xlsxMappings)("people"),
        Importer.mappedTables(spark, xml, xmlMappings)("people")).foreach { people =>
      assert(people.select(element_at(col("fields"), "name")).collect()
        .map(_.getString(0)).sorted.toSeq == Seq("DOE", "SMITH"))
    }
  }

  test("a password-protected docx imports with file_password, and names the fix without it") {
    val docx = write(tmpDir(), "secret.docx", SyntheticOffice.agileEncrypt(
      Fixtures.docx(Seq("Hello world, first para", "second para")), "salad"))
    def lines(password: String) = {
      val tables = Importer.extract(spark, docx, MappingLoader.loadTables(
        s"""|- $password
            |  format: docx
            |  filename_pattern: !ruby/regexp /\\.docx\\z/i
            |  klass: SomeTestKlass
            |  columns:
            |  - column: one
            |    mappings:
            |    - field: one
            |""".stripMargin))
      tables.map(_.records).reduce(_ unionByName _).orderBy("index")
        .select(element_at(col("fields"), "one")).collect().map(_.getString(0)).toSeq
    }
    assert(lines("file_password: salad") == Seq("Hello world, first para", "second para"))
    val ex = intercept[Exception](lines("file_password: null"))
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(messages.exists(m => m != null &&
      m.contains("Document is password protected (set file_password)")), messages.mkString("\n"))
  }

  /** One canonical `lines` table with one `one` field per line (no header). */
  private def plainLines(ext: String) = MappingLoader.loadTables(
    s"""|- canonical_name: lines
        |  filename_pattern: !ruby/regexp /\\.$ext\\z/i
        |  klass: SomeTestKlass
        |  columns:
        |  - column: one
        |    mappings:
        |    - field: one
        |""".stripMargin)

  private def fieldsInOrder(df: org.apache.spark.sql.DataFrame, names: String*) =
    df.orderBy("index").select(names.map(n => element_at(col("fields"), n)): _*)
      .collect().map(r => names.indices.map(r.getString)).toSeq

  test("pdf, docx and avro imports read through the per-file runner: no binaryFile scan") {
    val dir = tmpDir()
    val pdf = write(dir, "report.pdf", Fixtures.textPdf(Seq(Seq("Hello PDF", "line two"))))
    val docx = write(dir, "letter.docx", Fixtures.docx(Seq("Dear all,", "", "bye")))
    val schema = org.apache.avro.SchemaBuilder.record("Row").fields()
      .requiredString("name").requiredInt("age").endRecord()
    val avroOut = new java.io.ByteArrayOutputStream()
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord](schema))
    w.create(schema, avroOut)
    Seq("Ada" -> 36, "Bob" -> 41).foreach { case (n, a) =>
      w.append(new org.apache.avro.generic.GenericRecordBuilder(schema)
        .set("name", n).set("age", a).build())
    }
    w.close()
    val avro = write(dir, "people.avro", avroOut.toByteArray)
    val avroMappings = MappingLoader.loadTables(
      """|- canonical_name: people
         |  filename_pattern: !ruby/regexp /\.avro\z/i
         |  header_lines: 1
         |  klass: Person
         |  columns:
         |  - column: name
         |    mappings:
         |    - field: name
         |  - column: age
         |    mappings:
         |    - field: age
         |""".stripMargin)
    val pdfLines = Importer.mappedTables(spark, pdf, plainLines("pdf"))("lines")
    val docxLines = Importer.mappedTables(spark, docx, plainLines("docx"))("lines")
    val people = Importer.mappedTables(spark, avro, avroMappings)("people")
    Seq(pdfLines, docxLines, people).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("MapPartitions") && !plan.contains("binaryFile"),
        s"plan scans binaryFile:\n$plan")
    }
    val avroPlan = people.queryExecution.executedPlan.toString
    assert(!avroPlan.contains("Exchange"), s"avro import shuffles:\n$avroPlan")
    assert(fieldsInOrder(pdfLines, "one") == Seq(Seq("Hello PDF"), Seq("line two")))
    // a blank line maps to a null field, as any blank cell does
    assert(fieldsInOrder(docxLines, "one") == Seq(Seq("Dear all,"), Seq[String](null), Seq("bye")))
    assert(fieldsInOrder(people, "name", "age") == Seq(Seq("Ada", "36"), Seq("Bob", "41")))
  }

  test("a Word 97 .doc imports through its piece table, short paragraphs included") {
    // "OK" is shorter than the 4-character runs the fallback scraper keeps,
    // so these lines come only from the piece-table walk
    val doc = write(tmpDir(), "memo.doc", SyntheticOffice.wordDoc(Seq("Hello doc", "OK", "Third line")))
    val tables = Importer.extract(spark, doc, plainLines("doc"))
    assert(tables.size == 1)
    assert(fieldsInOrder(tables.head.records, "one") ==
      Seq(Seq("Hello doc"), Seq("OK"), Seq("Third line")))
  }

  test("parquet and orc files route through the mapping pipeline (extension)") {
    val dir = tmpDir()
    import spark.implicits._
    val src = Seq(("SMITH", 42L), ("DOE", 7L)).toDF("surname", "n")
    for (fmt <- Seq("parquet", "orc")) {
      val path = new File(dir, s"people_dir_$fmt").getAbsolutePath
      src.coalesce(1).write.format(fmt).save(path)
      val dataFile = new File(path).listFiles()
        .find(f => f.getName.endsWith(s".$fmt")).get.getAbsolutePath
      // header_lines: 1 (the reference-mapping norm) must be satisfied by
      // the synthetic header row — columnar data has no header of its own
      val mappings = MappingLoader.loadTables(
        s"""|- canonical_name: people
            |  filename_pattern: !ruby/regexp /\\.$fmt\\z/i
            |  header_lines: 1
            |  klass: Person
            |  columns:
            |  - column: surname
            |    mappings:
            |    - field: surname
            |  - column: n
            |    mappings:
            |    - field: n
            |""".stripMargin)
      val rows = Importer.mappedTables(spark, dataFile, mappings)("people")
        .select(element_at(col("fields"), "surname"), element_at(col("fields"), "n"))
        .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
      assert(rows.toSeq == Seq(("DOE", "7"), ("SMITH", "42")), s"fmt=$fmt")
    }
  }

  test("parquet import linenos are contiguous per-file ordinals across a multi-partition scan") {
    val dir = tmpDir()
    import spark.implicits._
    val n = 200
    // one file, many row groups (tiny block size), written in id order
    val path = new File(dir, "ordinals_dir").getAbsolutePath
    (0 until n).map(i => (s"P$i", i.toLong)).toDF("surname", "n")
      .coalesce(1).write.option("parquet.block.size", 1024).parquet(path)
    val dataFile = new File(path).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // force the single file to split into several scan partitions
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      assert(spark.read.parquet(dataFile).rdd.getNumPartitions > 1,
        "fixture must scan as multiple partitions or the test is vacuous")
      val mappings = MappingLoader.loadTables(
        """|- canonical_name: people
           |  filename_pattern: !ruby/regexp /\.parquet\z/i
           |  header_lines: 1
           |  klass: Person
           |  columns:
           |  - column: surname
           |    mappings:
           |    - field: surname
           |  - column: n
           |    mappings:
           |    - field: n
           |""".stripMargin)
      val rows = Importer.mappedTables(spark, dataFile, mappings)("people")
        .select(col("index"), element_at(col("fields"), "n").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // contiguous: data rows are exactly 1..n (0 is the synthetic header)
      assert(rows.map(_._1).sorted.toSeq == (1L to n.toLong).toSeq)
      // and ordered: the ordinal follows the file's row order
      assert(rows.forall { case (idx, v) => idx == v + 1 },
        "index must be the input row number, not a gapped id")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("password-protected 7z expands with the right password, fails with the wrong one") {
    // the reference's own AES-256 fixture (test/file/seven_zip_test.rb:29-56,
    // password 'FortuneCookie', two CSVs) — commons-compress cannot WRITE
    // encrypted 7z, so the read path is pinned against this archive
    val fixture = "/root/reference/test/resources/normal.7z"
    assume(new File(fixture).exists())
    val dir = tmpDir()
    val ok = Registry.files(fixture, Registry.ContainerOptions(
      unzipPath = dir.getAbsolutePath, password = Some("FortuneCookie")))
    assert(ok.map(f => new File(f).getName).sorted ==
      Seq("normal_pipe.csv", "normal_thorn.csv"))
    intercept[Exception] {
      Registry.files(fixture, Registry.ContainerOptions(
        unzipPath = dir.getAbsolutePath, password = Some("WrongPassword")))
    }
  }

  test("7z container expands via commons-compress") {
    val dir = tmpDir()
    val szPath = write(dir, "arch.7z", Fixtures.sevenZ(utf8("inner.csv" -> "a\n1\n")))
    val files = Registry.files(szPath,
      Registry.ContainerOptions(unzipPath = dir.getAbsolutePath))
    assert(files.length == 1 && files.head.endsWith("inner.csv"))
  }

  test("a zip or 7z with two entries of one basename fails, naming the container and the basename") {
    val dir = tmpDir()
    val entries = utf8("a/x.csv" -> "name\nFIRST\n", "b/x.csv" -> "name\nSECOND\n")
    for ((name, bytes) <- Seq("dup.zip" -> Fixtures.zip(entries),
                              "dup.7z" -> Fixtures.sevenZ(entries))) {
      val path = write(dir, name, bytes)
      val e = intercept[RuntimeException](
        Registry.files(path, Registry.ContainerOptions(unzipPath = dir.getAbsolutePath)))
      assert(e.getMessage.contains(s"'$path'") && e.getMessage.contains("'x.csv'"), e.getMessage)
    }
  }
}
