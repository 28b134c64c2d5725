package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Legacy .doc extraction vs the reference fixture (`test/file/word_test.rb`
  * expects exactly 'Hello world, this is a word document'), and the Word
  * reader's line split. */
class WordDocSpec extends SparkSpec {
  private def fixture(name: String): Option[Array[Byte]] = {
    val p = Paths.get("/root/reference/test/resources", name)
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  test("hello_world.doc extracts the reference's expected text") {
    assume(fixture("hello_world.doc").isDefined)
    assert(BinaryDecode.extractWordText(fixture("hello_world.doc").get) ==
      "Hello world, this is a word document")
  }

  test("Word lines equal posexplode(splitLines(text)) over every line ending") {
    import spark.implicits._
    // (file bytes, the text the reader extracts, the lines it must give);
    // bytes that are neither zip nor OLE are read as UTF-8 text
    val cases = Seq(
      ("a\rb\r\nc\nd".getBytes("UTF-8"), "a\rb\r\nc\nd", Seq("a", "b", "c", "d")),
      ("one\ntwo\n".getBytes("UTF-8"), "one\ntwo\n", Seq("one", "two")),
      ("x\r\n\r\n\ny\r".getBytes("UTF-8"), "x\r\n\r\n\ny\r", Seq("x", "", "", "y")),
      ("\n\nz".getBytes("UTF-8"), "\n\nz", Seq("", "", "z")),
      (graft.queries.Fixtures.docx(Seq("p1", "", "p3")), "p1\n\np3", Seq("p1", "", "p3")),
      (graft.queries.Fixtures.docx(Nil), "", Nil))
    cases.zipWithIndex.foreach { case ((bytes, text, want), i) =>
      assert(BinaryDecode.extractWordText(bytes) == text)
      val dir = Files.createTempDirectory("wordlines")
      val p = Files.write(dir.resolve(s"case$i.docx"), bytes)
      val got = BinaryDecode.wordLines(spark, Seq(p.toString)).collect()
        .map(r => (r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
      // the column route the reader replaces
      val exploded = Seq(text).toDF("text")
        .select(posexplode(LineSource.splitLines(col("text"))).as(Seq("lineno", "line")))
        .collect().map(r => (r.getInt(0).toLong, r.getString(1))).toSeq
      val literal = want.zipWithIndex.map { case (l, n) => (n.toLong, l) }
      assert(got == literal, s"case $i")
      assert(exploded == literal, s"case $i")
    }
  }
}
