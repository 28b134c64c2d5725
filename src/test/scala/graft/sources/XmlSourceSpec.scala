package graft.sources

import graft.SparkSpec
import graft.model.TableMapping

import java.io.StringReader
import java.nio.file.Files
import javax.xml.stream.XMLStreamException

/** `XmlSource.records` reads each file in two passes — the encoding probe
  * with the strict parse folded in, then the split — and must give what
  * the whole-document split gave: decode, split strictly, and on a parse
  * failure split the control-character-escaped text. */
class XmlSourceSpec extends SparkSpec {

  private val mapping = TableMapping(xmlRecordXpath = Some("record"))

  private def writeTmp(name: String, bytes: Array[Byte]): String = {
    val p = Files.createTempDirectory("xmlsource").resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  private def read(p: String): Seq[String] =
    XmlSource.records(spark, Seq(p), mapping).orderBy("index")
      .select("record_xml").collect().map(_.getString(0)).toSeq

  /** `control_char_escaper.rb`'s escape as one regex pass over the whole
    * text, then a map over its characters. */
  private def escapeOracle(data: String): String = {
    val unescaped = "&#(?:(\\d+)|x([0-9a-fA-F]+));".r.replaceAllIn(data, m => {
      val code = if (m.group(1) != null) m.group(1).toInt else Integer.parseInt(m.group(2), 16)
      if (code < 32 && code != 9 && code != 10 && code != 13)
        java.util.regex.Matcher.quoteReplacement(f"0x$code%02x")
      else m.matched
    })
    unescaped.map {
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => f"0x${c.toInt}%02x"
      case c => c.toString
    }.mkString
  }

  /** The whole-document split: decode every byte, split strictly, and on a
    * parse failure split the escaped text. */
  private def slurp(bytes: Array[Byte]): Seq[String] = {
    val text = LineSource.decodeSmart(bytes)
    try XmlSource.splitRecordsStrict(new StringReader(text), "record", false).toSeq
    catch {
      case _: XMLStreamException =>
        XmlSource.splitRecordsStrict(new StringReader(escapeOracle(text)), "record", false).toSeq
    }
  }

  private def good(n: Int) = (1 to n).map(i => s"<record><a>$i</a></record>").mkString

  test("a control character anywhere reads as the whole-document split did") {
    val cases = Seq(
      "after three good records" ->
        s"<root>${good(3)}<record><a>x\u0001y</a></record>${good(2)}</root>".getBytes("UTF-8"),
      "at the start of the content" ->
        s"<root>\u0002${good(2)}</root>".getBytes("UTF-8"),
      "in the first record" -> s"<root><record>\u001f</record>${good(1)}</root>".getBytes("UTF-8"),
      "inside an attribute" ->
        s"""<root>${good(1)}<record a="b\u0003c"><a>1</a></record></root>""".getBytes("UTF-8"),
      "as character references" ->
        s"<root><record>&#1;-&#x1F;-&#65;-&#9;</record>${good(1)}</root>".getBytes("UTF-8"),
      "in a Windows-1252 file" ->
        s"<root><record>café\u0001</record>${good(1)}</root>".getBytes("windows-1252"),
      "in a UTF-16 file" ->
        ("\uFEFF" + s"<root><record>\u0004é</record>${good(1)}</root>").getBytes("UTF-16LE"))
    cases.foreach { case (label, bytes) =>
      val got = read(writeTmp("c.xml", bytes))
      assert(got == slurp(bytes), label)
      assert(got == XmlSource.splitRecords(LineSource.decodeSmart(bytes), "record", false), label)
    }
    val bytes = cases.head._2
    assert(read(writeTmp("c.xml", bytes)) ==
      (1 to 3).map(i => s"<record><a>$i</a></record>") ++ Seq("<record><a>x0x01y</a></record>") ++
        (1 to 2).map(i => s"<record><a>$i</a></record>"))
  }

  test("a well-formed file reads as the whole-document split did, escape untouched") {
    // "&#65;" and "0x01" are text here: no escape may rewrite them
    val bytes = s"<root><record>&#65; 0x01 &amp;#1;</record>${good(2)}</root>".getBytes("UTF-8")
    assert(read(writeTmp("w.xml", bytes)) == slurp(bytes))
  }

  test("NestingError propagates, before or after a control character") {
    Seq(s"<root><record><record/></record>\u0001</root>",
        s"<root>\u0001${good(1)}<record><record/></record></root>").foreach { xml =>
      intercept[XmlSource.NestingError](slurp(xml.getBytes("UTF-8")))
      val ex = intercept[Exception](read(writeTmp("n.xml", xml.getBytes("UTF-8"))))
      val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(_.isInstanceOf[XmlSource.NestingError]), causes.mkString("\n"))
    }
  }

  test("a file still ill formed after the escape fails, as the whole-document split did") {
    val bytes = s"<root>${good(1)}<record>\u0001</root>".getBytes("UTF-8")
    intercept[XMLStreamException](slurp(bytes))
    val ex = intercept[Exception](read(writeTmp("bad.xml", bytes)))
    val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(_.isInstanceOf[XMLStreamException]), causes.mkString("\n"))
  }

  test("the streamed escape equals the whole-text escape across chunk boundaries") {
    val rnd = new scala.util.Random(20261019L)
    val pieces = Seq("&", "#", "x", ";", "0", "1", "9", "a", "F", "g", " ", "<", "\t", "\n",
      "\r", "\u0000", "\u0001", "\u001f", "é", "&#1;", "&#x1f;", "&#65;", "&#x41;", "&#9;",
      "&#;", "&#x;", "&#0000031;", "&#12", "&&#2;", "&#x1G;")
    (1 to 2000).foreach { n =>
      val text = Seq.fill(rnd.nextInt(40))(pieces(rnd.nextInt(pieces.size))).mkString
      val r = new XmlSource.ControlCharEscaper(new StringReader(text))
      val out = new StringBuilder
      val buf = new Array[Char](16)
      var k = 0
      while (k >= 0) {
        val off = rnd.nextInt(4)
        k = r.read(buf, off, 1 + rnd.nextInt(buf.length - off))
        if (k > 0) out.appendAll(buf, off, k)
      }
      assert(out.toString == escapeOracle(text), s"case $n: ${text.map(_.toInt)}")
    }
  }

  test("XML files open with the session's Hadoop conf on the executor") {
    val p = writeTmp("session.xml", s"<root>${good(2)}</root>".getBytes("UTF-8"))
    graft.runtime.GraftSession.withConf(spark,
        "fs.sessfs.impl" -> classOf[SessionOnlyFs].getName,
        "fs.sessfs.impl.disable.cache" -> "true") {
      val rows = XmlSource.records(spark, Seq(s"sessfs://$p"), mapping).orderBy("index")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      assert(rows == Seq((s"sessfs:$p", 0L, "<record><a>1</a></record>"),
        (s"sessfs:$p", 1L, "<record><a>2</a></record>")))
    }
  }

  test("a zero-byte XML file gives no records") {
    assert(read(writeTmp("empty.xml", Array.emptyByteArray)).isEmpty)
  }
}
