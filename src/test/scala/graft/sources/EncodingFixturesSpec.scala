package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The reference's encoding-pathology corpus, driven through the real
  * sources (`test/file/text_test.rb`, `test/file/json_lines_test.rb`,
  * `helpers/file/xml.rb` UTF-16-mislabel workaround). Skipped without the
  * corpus. */
class EncodingFixturesSpec extends SparkSpec {

  private val res = "/root/reference/test/resources"
  private def exists(n: String) = Files.exists(Paths.get(res, n))

  private def textLines(name: String): Seq[String] =
    LineSource.lines(spark, Seq(s"$res/$name"))
      .orderBy("lineno").select("line").collect().map(_.getString(0)).toSeq

  test("hello_utf16le/be/windows.txt decode to the reference's lines") {
    for (f <- Seq("hello_utf16le.txt", "hello_utf16be.txt")) {
      assume(exists(f))
      assert(textLines(f) == Seq("Hello world", "This is a thorny þ issue!"), f)
    }
    assume(exists("hello_windows.txt"))
    assert(textLines("hello_windows.txt") ==
      Seq("Hello windows world", "This is a thorny þ issue!"))
  }

  test("utf16 + windows jsonl parse to the same objects") {
    for (f <- Seq("hello_utf8.jsonl", "hello_utf16le.jsonl", "hello_utf16be.jsonl",
                  "hello_windows.jsonl")) {
      assume(exists(f))
      val texts = Tabular.jsonCells(LineSource.lines(spark, Seq(s"$res/$f")), Seq("text"))
        .orderBy("lineno").select(element_at(col("cells"), 1))
        .collect().map(_.getString(0)).toSeq
      assert(texts.length == 2 && texts.head.startsWith("Hello"), s"$f -> $texts")
    }
  }

  test("claims_utf16be_but_isnt.xml: mislabelled encoding still parses") {
    assume(exists("claims_utf16be_but_isnt.xml"))
    val text = LineSource.decodeSmart(
      Files.readAllBytes(Paths.get(res, "claims_utf16be_but_isnt.xml")))
    // declared UTF-16 but actually 8-bit: the reference recodes and swaps
    // the prolog label; our StAX reader gets already-decoded chars, so the
    // label must not break record extraction
    val fixed = text.replaceFirst("UTF-16", "UTF-8")
    val recs = XmlSource.splitRecords(fixed, "note", patternMatch = false)
    assert(recs.nonEmpty)
  }

  test("not_a_pdf.pdf raises like the reference (pdf_test.rb:23-33)") {
    assume(exists("not_a_pdf.pdf"))
    val e = intercept[RuntimeException] {
      Pdf.extractTextLines(Files.readAllBytes(Paths.get(res, "not_a_pdf.pdf")))
    }
    assert(e.getMessage.contains("as a PDF"))
  }
}
