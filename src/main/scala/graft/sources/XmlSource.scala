package graft.sources

import graft.model.TableMapping
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{Reader, StringReader, StringWriter}
import javax.xml.stream.{XMLInputFactory, XMLOutputFactory, XMLStreamConstants, XMLStreamException}
import scala.collection.mutable

/** XML record extraction (S6 streaming / S7 slurp / S8 metadata —
  * `lib/ndr_import/file/xml.rb`, `helpers/file/xml_streaming.rb`,
  * `xml/control_char_escaper.rb`).
  *
  * Each file is split into `xml_record_xpath` record elements with a StAX
  * cursor (memory-bounded — the reference's `Nokogiri::XML::Reader`
  * equivalent), executor-side, one task per file, whatever its size.
  * Record matching follows the reference: records are children of the
  * root matching the xpath's segments (the reference prepends a star-slash
  * wildcard), or root children whose NAME matches a regex when
  * `pattern_match_record_xpath` (`file/xml.rb:92-106`). A same-name,
  * same-attributes element nested inside another raises the reference's
  * NestingError (`xml_streaming.rb:45-56`).
  *
  * A document that does not parse as strict XML 1.0 is split again with
  * its control characters (forbidden in XML 1.0) escaped
  * (`helpers/file/xml.rb:60-74`); character references to control chars
  * are escaped as text too (`control_char_escaper.rb:10-49`). The strict
  * parse runs before the first record is emitted, folded into the
  * encoding probe's pass, so a file costs two reads, as a text file does.
  */
object XmlSource {

  final class NestingError(name: String) extends RuntimeException(
    s"Element '$name' was found nested inside another of the same type.\n" +
    "This is not accessible, and a known limitation of XmlStreaming.")

  /** The control-character escape, streamed: a character reference to a
    * control character (`CHARACTER_REFERENCES`,
    * `control_char_escaper.rb:11`: `&#1;`, `&#x1f;`) and a raw control
    * character other than tab, LF and CR both become printable `0x..`
    * text (ndr_support `UTF8Encoding#escape_control_chars!`); every other
    * character passes through. It holds at most one pending reference,
    * never the document. */
  private[graft] final class ControlCharEscaper(in: Reader) extends Reader {
    private val src = new java.io.PushbackReader(in, 1)
    private val out = new java.lang.StringBuilder
    private var pos = 0

    private def isControl(c: Int) = c < ' ' && c != '\t' && c != '\n' && c != '\r'
    private def isDigit(c: Int, hex: Boolean) = (c >= '0' && c <= '9') ||
      hex && ((c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F'))

    /** Appends the escape of the next character or reference; false at
      * the end of the input. */
    private def fill(): Boolean = {
      val c = src.read()
      if (c < 0) false
      else if (c != '&') {
        if (isControl(c)) out.append(f"0x$c%02x") else out.append(c.toChar)
        true
      } else {
        val ref = new java.lang.StringBuilder("&")
        var d = src.read()
        if (d == '#') {
          ref.append('#')
          d = src.read()
          val hex = d == 'x'
          if (hex) { ref.append('x'); d = src.read() }
          val digits = ref.length
          while (isDigit(d, hex)) { ref.append(d.toChar); d = src.read() }
          if (d == ';' && ref.length > digits) {
            val n = ref.substring(digits)
            val code = if (hex) Integer.parseInt(n, 16) else n.toInt
            if (isControl(code)) out.append(f"0x$code%02x") else out.append(ref).append(';')
            return true
          }
        }
        // not a reference: its text passes through, and the character
        // that ended it is read afresh
        out.append(ref)
        if (d >= 0) src.unread(d)
        true
      }
    }

    override def read(cbuf: Array[Char], off: Int, len: Int): Int = {
      if (len == 0) return 0
      if (pos == out.length) {
        out.setLength(0); pos = 0
        while (out.length < len && fill()) ()
        if (out.length == 0) return -1
      }
      val n = math.min(len, out.length - pos)
      out.getChars(pos, pos + n, cbuf, off)
      pos += n
      n
    }

    override def close(): Unit = src.close()
  }

  private def inputFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  /** Does the text parse as strict XML 1.0? A decoding failure is no
    * answer: it is rethrown, for the encoding probe to catch. */
  private def wellFormed(text: Reader): Boolean =
    try {
      val r = inputFactory().createXMLEventReader(text)
      while (r.hasNext) r.nextEvent()
      true
    } catch {
      case e: XMLStreamException =>
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case c: java.nio.charset.CharacterCodingException => c }
          .foreach(c => throw c)
        false
    }

  /** Records of one decoded document, escaped when it is not well formed. */
  private def split(text: Reader, wellFormed: Boolean, recordXpath: String,
                    patternMatch: Boolean): Iterator[String] =
    splitRecordsStrict(if (wellFormed) text else new ControlCharEscaper(text),
      recordXpath, patternMatch)

  private case class StackItem(name: String, attrs: Map[String, String])

  /** Split one decoded XML document into its record elements.
    * Returns record XML strings in document order. */
  def splitRecords(xmlText: String, recordXpath: String,
                   patternMatch: Boolean): Seq[String] =
    split(new StringReader(xmlText), wellFormed(new StringReader(xmlText)),
      recordXpath, patternMatch).toSeq

  /** Records lazily off a reader, parsed strictly — memory is bounded by
    * one record, not the document. */
  def splitRecordsStrict(source: Reader, recordXpath: String,
                         patternMatch: Boolean): Iterator[String] = {
    val segments = recordXpath.split("/").filter(_.nonEmpty).toSeq
    val outF = XMLOutputFactory.newInstance()
    val reader = inputFactory().createXMLEventReader(source)
    val stack = mutable.ArrayBuffer.empty[StackItem]
    var capture: StringWriter = null
    var captureWriter: javax.xml.stream.XMLEventWriter = null
    var captureDepth = -1

    def attrsOf(e: javax.xml.stream.events.StartElement): Map[String, String] = {
      val it = e.getAttributes
      val m = mutable.LinkedHashMap.empty[String, String]
      while (it.hasNext) { val a = it.next(); m(a.getName.getLocalPart) = a.getValue }
      m.toMap
    }

    // Does the current stack (root exclusive) match the record path?
    // Non-pattern xpath 'record' means any depth-2 child of root;
    // multi-segment paths must match from the root.
    def stackMatches(name: String): Boolean =
      if (patternMatch) stack.length == 2 &&
        java.util.regex.Pattern.compile(recordXpath).matcher(name).find()
      else stack.length == segments.length + 1 &&
        stack.drop(1).map(_.name) == segments

    new Iterator[String] {
      private var nextRecord: String = null
      private def advance(): Unit = {
        while (nextRecord == null && reader.hasNext) {
          val ev = reader.nextEvent()
          ev.getEventType match {
            case XMLStreamConstants.START_ELEMENT =>
              val se = ev.asStartElement()
              val name = se.getName.getLocalPart
              val attrs = attrsOf(se)
              if (stack.exists(it => it.name == name && it.attrs == attrs))
                throw new NestingError(name)
              stack += StackItem(name, attrs)
              if (capture == null && stackMatches(name)) {
                capture = new StringWriter()
                captureWriter = outF.createXMLEventWriter(capture)
                captureDepth = stack.length
              }
              if (captureWriter != null) captureWriter.add(ev)
            case XMLStreamConstants.END_ELEMENT =>
              if (captureWriter != null) captureWriter.add(ev)
              if (captureWriter != null && stack.length == captureDepth) {
                captureWriter.flush(); captureWriter.close()
                nextRecord = capture.toString
                capture = null; captureWriter = null; captureDepth = -1
              }
              if (stack.nonEmpty) stack.remove(stack.length - 1)
            case _ =>
              if (captureWriter != null) captureWriter.add(ev)
          }
        }
      }
      def hasNext: Boolean = { advance(); nextRecord != null }
      def next(): String = {
        advance()
        val r = nextRecord; nextRecord = null
        if (r == null) throw new NoSuchElementException
        r
      }
    }
  }

  /** S8 — evaluate `{name → xpath}` metadata once per document. The xpaths
    * here are root-relative (`//`-style descendant search supported as the
    * common case in the reference's fixtures). */
  def metadataValues(xmlText: String, metadata: Map[String, String]): Map[String, String] = {
    val doc = scala.xml.XML.loadString(xmlText)
    metadata.map { case (k, xpath) =>
      val clean = xpath.stripPrefix("//")
      val segs = clean.split("/").filter(_.nonEmpty)
      var nodes: Seq[scala.xml.Node] =
        if (xpath.startsWith("//")) (doc \\ segs.head) else (doc \ segs.head) match {
          case s if s.nonEmpty => s
          case _ => doc \\ segs.head
        }
      segs.tail.foreach { s =>
        if (s.startsWith("@")) nodes = nodes.flatMap(_.attribute(s.drop(1)).toSeq.flatten)
        else nodes = nodes.flatMap(_ \ s)
      }
      k -> nodes.map(_.text).mkString
    }
  }

  /** S8 — one file's metadata values, in `metadata`'s order, evaluated on
    * an executor over its whole DOM ([[LineSource.wholeFiles]]; the xpaths
    * need it, as in the reference): one row (file, lineno 0, cells), which
    * the importer's planning action brings back with the headers. */
  def fileMetadata(spark: SparkSession, file: String,
                   metadata: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    LineSource.wholeFiles(spark, Seq(file)) { (f, bytes) =>
      val values = metadataValues(LineSource.decodeSmart(bytes), metadata.toMap)
      Iterator.single((f, 0L, metadata.map(kv => values(kv._1))))
    }.toDF("file", "lineno", "cells")
  }

  /** Read files → one row per record element: (file, index, record_xml),
    * through the per-file runner ([[LineSource.perFile]]). Pass 1 is the
    * text sources' encoding probe (S18: UTF-16 BOM → strict UTF-8 →
    * Windows-1252) with the strict parse folded in; pass 2 streams the
    * records, escaped when pass 1 found the document ill formed. */
  def records(spark: SparkSession, paths: Seq[String], mapping: TableMapping): DataFrame = {
    val xpath = mapping.xmlRecordXpath.getOrElse(
      sys.error("xml_record_xpath is required for xml tables"))
    val pattern = mapping.patternMatchRecordXpath
    import spark.implicits._
    LineSource.perFile(spark, paths) { (file, _, open) =>
      val (cs, verdict) = LineSource.probe(open)(wellFormed)
      val strict = verdict.getOrElse {
        val text = LineSource.openReader(open, cs)
        try wellFormed(text) finally text.close()
      }
      split(LineSource.openReader(open, cs), strict, xpath, pattern)
        .zipWithIndex.map { case (xml, i) => (file, i.toLong, xml) }
    }.toDF("file", "index", "record_xml")
  }
}
