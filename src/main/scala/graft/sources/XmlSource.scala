package graft.sources

import graft.model.TableMapping
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.StringReader
import java.io.StringWriter
import javax.xml.stream.{XMLInputFactory, XMLOutputFactory, XMLStreamConstants}
import scala.collection.mutable

/** XML record extraction (S6 streaming / S7 slurp / S8 metadata —
  * `lib/ndr_import/file/xml.rb`, `helpers/file/xml_streaming.rb`,
  * `xml/control_char_escaper.rb`).
  *
  * Each file is split into `xml_record_xpath` record elements with a StAX
  * cursor (memory-bounded — the reference's `Nokogiri::XML::Reader`
  * equivalent), executor-side, one task per file. Record matching follows
  * the reference: records are children of the root matching the xpath's
  * segments (the reference prepends a star-slash wildcard), or root children whose NAME matches a regex when
  * `pattern_match_record_xpath` (`file/xml.rb:92-106`). A same-name,
  * same-attributes element nested inside another raises the reference's
  * NestingError (`xml_streaming.rb:45-56`).
  *
  * Control characters (forbidden in XML 1.0) are escaped on a failed parse
  * and the parse retried (`helpers/file/xml.rb:60-74`); character
  * references to control chars are unescaped first then escaped as text
  * (`control_char_escaper.rb:10-49`).
  */
object XmlSource {

  final class NestingError(name: String) extends RuntimeException(
    s"Element '$name' was found nested inside another of the same type.\n" +
    "This is not accessible, and a known limitation of XmlStreaming.")

  /** `CHARACTER_REFERENCES` (`control_char_escaper.rb:11`). */
  private val CharRefs = "&#(?:(\\d+)|x([0-9a-fA-F]+));".r

  /** Escape control chars as printable `0x..` text (ndr_support
    * `UTF8Encoding#escape_control_chars!` convention). */
  def escapeControlChars(data: String): String = {
    val unescaped = CharRefs.replaceAllIn(data, m => {
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

  private case class StackItem(name: String, attrs: Map[String, String])

  /** Split one decoded XML document into its record elements.
    * Returns record XML strings in document order. */
  def splitRecords(xmlText: String, recordXpath: String,
                   patternMatch: Boolean): Seq[String] = {
    try splitRecordsStrict(new StringReader(xmlText), recordXpath, patternMatch).toSeq
    catch {
      case e: NestingError => throw e
      case _: javax.xml.stream.XMLStreamException =>
        splitRecordsStrict(new StringReader(escapeControlChars(xmlText)),
          recordXpath, patternMatch).toSeq
    }
  }

  /** Streaming variant: records lazily off a java.io.Reader — memory is
    * bounded by one record, not the file. Used by [[recordsStreaming]]
    * for huge files; no control-char retry (that needs the full text). */
  def splitRecordsStrict(source: java.io.Reader, recordXpath: String,
                         patternMatch: Boolean): Iterator[String] = {
    val segments = recordXpath.split("/").filter(_.nonEmpty).toSeq
    val inF = XMLInputFactory.newInstance()
    inF.setProperty(XMLInputFactory.IS_COALESCING, true)
    inF.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val outF = XMLOutputFactory.newInstance()

    val reader = inF.createXMLEventReader(source)
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
    if (metadata.isEmpty) return Map.empty
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

  private val outSchema = StructType(Seq(
    StructField("file", StringType),
    StructField("index", LongType),
    StructField("record_xml", StringType)))

  /** Read files → one row per record element: (file, index, record_xml).
    * Per-file task via binaryFile; decode probes UTF-16/UTF-8/Windows-1252
    * like the text sources (S18). */
  def records(spark: SparkSession, paths: Seq[String], mapping: TableMapping): DataFrame = {
    val xpath = mapping.xmlRecordXpath.getOrElse(
      sys.error("xml_record_xpath is required for xml tables"))
    val pattern = mapping.patternMatchRecordXpath
    import spark.implicits._
    val texts = LineSource.fileTexts(spark, paths)
    texts.select(col("file"), col("text")).as[(String, String)]
      .flatMap { case (file, text) =>
        splitRecords(text, xpath, pattern).zipWithIndex.map {
          case (xml, i) => (file, i.toLong, xml)
        }
      }.toDF("file", "index", "record_xml")
  }

  /** True-streaming variant for HUGE files (the 100 TB posture):
    * `binaryFiles` hands each executor a [[org.apache.spark.input.PortableDataStream]]
    * and the StAX cursor runs directly on it — memory is bounded by one
    * record, never the file. Encoding follows the SAME probe as the text
    * sources (S18: UTF-16 BOM → strict UTF-8 → Windows-1252), streamed in
    * O(1) memory; only the control-char escape retry needs the batch
    * path. */
  def recordsStreaming(spark: SparkSession, paths: Seq[String],
                       mapping: TableMapping): DataFrame = {
    val xpath = mapping.xmlRecordXpath.getOrElse(
      sys.error("xml_record_xpath is required for xml tables"))
    val pattern = mapping.patternMatchRecordXpath
    import spark.implicits._
    val conf = LineSource.TaskConf(spark)
    val files = spark.sparkContext.binaryFiles(paths.mkString(","))
    spark.createDataset(files.flatMap { case (file, pds) =>
      val cs = LineSource.probeCharset(conf.value, file)
      val in = pds.open()
      val buffered = new java.io.BufferedInputStream(in, 256 * 1024)
      // skip the BOM the probe found (the parser must not see it as text)
      if (cs == java.nio.charset.StandardCharsets.UTF_16BE ||
          cs == java.nio.charset.StandardCharsets.UTF_16LE) {
        buffered.read(); buffered.read()
      } else {
        buffered.mark(4)
        if (!(buffered.read() == 0xEF && buffered.read() == 0xBB &&
              buffered.read() == 0xBF)) buffered.reset()
      }
      val reader = new java.io.InputStreamReader(buffered, cs)
      splitRecordsStrict(reader, xpath, pattern).zipWithIndex.map {
        case (xml, i) => (file, i.toLong, xml)
      }
    }).toDF("file", "index", "record_xml")
  }
}
