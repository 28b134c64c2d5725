package graft.sources

import graft.clean.RubyTranslate
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.ZipInputStream
import scala.collection.mutable
import scala.xml.XML

/** Excel reader (S3 — reference `lib/ndr_import/file/excel.rb`).
  *
  * xlsx/xlsm are parsed for real: an .xlsx is a zip of XML parts, so the
  * workbook/rels/sharedStrings/styles parts are read with the JDK zip
  * stream + scala-xml and every worksheet is walked with a StAX cursor,
  * streamed, whatever the workbook's size — no external spreadsheet
  * library. One table per worksheet (`excel.rb:20-27`), cells padded to
  * the sheet's column span
  * (`excel.rb:66-77` first_column..last_column) and rendered with Roo's
  * exact cast rules (`excel.rb:31-50`):
  *
  *   - date-formatted numbers → `yyyy-mm-dd` (date) or
  *     `yyyy-mm-dd hh:mm:ss` (datetime) — Rails `:db` format;
  *   - whole floats → integer strings (`12` not `12.0`);
  *   - everything else → string, Ruby-stripped (`to_s.strip`,
  *     [[graft.clean.RubyTranslate.strip]]).
  *
  * An `.xls` that is really an xlsx (zip magic) is parsed as xlsx — the
  * reference's rescue-and-retry (`excel.rb:104-115`); genuine OLE .xls goes
  * through the native BIFF8 parser ([[Biff8]]/[[Cfb]]). Password-protected
  * workbooks ARE supported: OOXML agile encryption (ECMA-376 §2.3.4) is
  * decrypted by [[OoxmlCrypto.decrypt]] when `file_password` is set; a
  * missing password raises the reference's clearly-worded error.
  */
object Excel {

  /** Excel serial-date epoch (1900 date system, with the Lotus leap bug —
    * serial 60 ≙ the fictitious 1900-02-29 — handled as Roo does via the
    * 1899-12-30 base). */
  private val Epoch = java.time.LocalDate.of(1899, 12, 30)

  // Builtin numFmtIds that render as dates/times (ECMA-376 §18.8.30).
  private val DateFmtIds = Set(14, 15, 16, 17, 18, 19, 20, 21, 22, 45, 46, 47)

  final case class Sheet(name: String, rows: Seq[Seq[String]])

  def isZip(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == 'K'

  /** Does a custom format code render as a date/time? (y/m/d/h/s tokens
    * outside quoted/bracketed sections.) */
  private def isDateFormatCode(code: String): Boolean = {
    val cleaned = code
      .replaceAll("\"[^\"]*\"", "")
      .replaceAll("\\[[^\\]]*\\]", "")
      .replaceAll("\\\\.", "")
    cleaned.exists(c => "ymdhsYMDHS".indexOf(c) >= 0)
  }

  private def castNumber(v: Double): String =
    if (v == v.floor && !v.isInfinite && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def castDate(serial: Double): String = {
    val days = serial.floor.toLong
    val date = Epoch.plusDays(days)
    val frac = serial - days
    if (frac == 0.0) date.toString
    else {
      val secs = math.round(frac * 86400)
      val t = java.time.LocalTime.ofSecondOfDay(secs % 86400)
      s"$date ${"%02d:%02d:%02d".format(t.getHour, t.getMinute, t.getSecond)}"
    }
  }

  /** shared-strings part → indexed table (rich-text runs concatenated). */
  private def sharedStringsOf(bytes: Option[Array[Byte]]): IndexedSeq[String] =
    bytes.map { b =>
      val ss = XML.load(new ByteArrayInputStream(b))
      (ss \ "si").map(si => (si \\ "t").map(_.text).mkString).toIndexedSeq
    }.getOrElse(IndexedSeq.empty)

  /** styles part → style index → is-date-format. */
  private def stylesOf(bytes: Option[Array[Byte]]): IndexedSeq[Boolean] =
    bytes.map { b =>
      val st = XML.load(new ByteArrayInputStream(b))
      val custom = (st \ "numFmts" \ "numFmt").map(n =>
        (n \@ "numFmtId").toInt -> isDateFormatCode(n \@ "formatCode")).toMap
      (st \ "cellXfs" \ "xf").map { xf =>
        val id = Option(xf \@ "numFmtId").filter(_.nonEmpty).map(_.toInt).getOrElse(0)
        DateFmtIds.contains(id) || custom.getOrElse(id, false)
      }.toIndexedSeq
    }.getOrElse(IndexedSeq.empty)

  /** workbook(+rels) parts → ordered (sheet name, zip part name). */
  private def sheetTargetsOf(workbookBytes: Array[Byte],
                             relsBytes: Option[Array[Byte]]): Seq[(String, String)] = {
    val workbook = XML.load(new ByteArrayInputStream(workbookBytes))
    val rels = relsBytes.map { b =>
      (XML.load(new ByteArrayInputStream(b)) \ "Relationship").map(n =>
        (n \@ "Id") -> (n \@ "Target").stripPrefix("/xl/").stripPrefix("xl/")).toMap
    }.getOrElse(Map.empty[String, String])
    (workbook \ "sheets" \ "sheet").map { s =>
      val name = s \@ "name"
      val rid = s.attribute("http://schemas.openxmlformats.org/officeDocument/2006/relationships", "id")
        .map(_.text).getOrElse("")
      name -> s"xl/${rels.getOrElse(rid, "worksheets/sheet1.xml")}"
    }
  }

  private def colIndex(ref: String): Int =
    ref.takeWhile(_.isLetter).foldLeft(0)((a, c) => a * 26 + (c.toUpper - 'A' + 1))

  /** StAX cursor over ONE worksheet part, yielding populated cells
    * `(row, col, castValue)` in document order — memory is O(1) per cell,
    * never the sheet DOM. Does NOT close `in` (zip streams own their
    * entries). */
  private final class CellCursor(in: java.io.InputStream, shared: IndexedSeq[String],
                                 styleIsDate: IndexedSeq[Boolean])
      extends Iterator[(Int, Int, String)] {
    import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
    private val r = {
      val f = XMLInputFactory.newInstance()
      f.setProperty(XMLInputFactory.IS_COALESCING, true)
      f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
      f.createXMLStreamReader(in)
    }
    private var implicitRow = 0
    private var implicitCol = 0
    private var cellType = ""
    private var cellStyle = -1
    private var inV = false
    private var inIs = false
    private var text = new StringBuilder
    private var cellRow = 0
    private var cellCol = 0
    private var pending: (Int, Int, String) = _
    private var done = false

    private def castCell(): Option[String] = {
      val v = text.toString
      cellType match {
        case "s"         => Some(RubyTranslate.strip(shared(v.trim.toInt)))
        case "inlineStr" => Some(RubyTranslate.strip(v))
        case "str"       => Some(RubyTranslate.strip(v))
        case "b"         => Some(if (v.trim == "1") "true" else "false")
        case "e"         => Some(RubyTranslate.strip(v))
        case _ if v.trim.isEmpty => None
        case _ =>
          val isDate = cellStyle >= 0 && cellStyle < styleIsDate.length && styleIsDate(cellStyle)
          val d = v.trim.toDouble
          Some(if (isDate) castDate(d) else castNumber(d))
      }
    }

    private def advance(): Unit = {
      while (pending == null && !done) {
        if (!r.hasNext) { done = true; r.close() }
        else r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" =>
                val ref = Option(r.getAttributeValue(null, "r")).filter(_.nonEmpty)
                implicitRow = ref.map(_.toInt).getOrElse(implicitRow + 1)
                implicitCol = 0
              case "c" =>
                val ref = Option(r.getAttributeValue(null, "r")).getOrElse("")
                implicitCol = if (ref.nonEmpty) colIndex(ref) else implicitCol + 1
                cellRow = implicitRow; cellCol = implicitCol
                cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
                cellStyle = Option(r.getAttributeValue(null, "s")).filter(_.nonEmpty)
                  .map(_.toInt).getOrElse(-1)
                text = new StringBuilder
              case "v" => inV = true
              case "is" => inIs = true
              case "t" if inIs => inV = true
              case _ => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (inV) text ++= r.getText
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" => inV = false
              case "t" if inIs => inV = false
              case "is" => inIs = false
              case "c" => castCell().foreach(v => pending = (cellRow, cellCol, v))
              case _ => ()
            }
          case _ => ()
        }
      }
    }

    def hasNext: Boolean = { advance(); pending != null }
    def next(): (Int, Int, String) = {
      advance()
      val c = pending; pending = null
      if (c == null) throw new NoSuchElementException("CellCursor exhausted")
      c
    }
  }

  /** One row per (file, tablename=sheet, lineno, cells) — the engine's
    * uniform tabular contract — from one per-file walk
    * ([[LineSource.perFile]]): each workbook is read by one task, sheets in
    * sequence (their row numbering is), and parallelism comes from many
    * files, as for the text sources. Dispatch follows the reference's
    * retry semantics (`excel.rb:98-115`): zip magic wins whatever the
    * extension; an OLE container is either an encrypted OOXML envelope
    * (decrypted with `password`, then walked like any zip) or a BIFF8
    * `.xls`; anything else is unreadable. The reference's own xlsx
    * streaming is an unshipped FIXME (`lib/ndr_import/file/excel.rb:58-63`). */
  def tables(spark: SparkSession, paths: Seq[String],
             password: Option[String] = None): DataFrame = {
    import spark.implicits._
    LineSource.perFile(spark, paths)((file, len, open) => fileRows(file, len, open, password))
      .toDF("file", "tablename", "lineno", "cells")
  }

  /** Worksheet parts must be walkable without inflating the whole zip into
    * memory; the metadata parts (workbook, rels, styles, sharedStrings) are
    * collected in one scan and held — the shared-strings table is the one
    * inherent in-memory cost of the format (exactly what POI's streaming
    * reader holds too). */
  private val MetaParts = Set("xl/workbook.xml", "xl/_rels/workbook.xml.rels",
    "xl/styles.xml", "xl/sharedStrings.xml")

  private def scanZip[A](open: () => InputStream)(
      f: (String, ZipInputStream) => Option[A]): Seq[A] = {
    val zin = new ZipInputStream(new java.io.BufferedInputStream(open()))
    val out = mutable.ArrayBuffer.empty[A]
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) f(e.getName, zin).foreach(out += _)
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toSeq
  }

  /** Lazy (file, sheet, lineno, cells) rows of one workbook; `len` is its
    * listed byte length and `open` opens it. A zip workbook streams
    * ([[zipRows]]). An OLE container needs random access (CFB FAT, crypto
    * envelope), so it is read whole on the task ([[LineSource.wholeFile]],
    * whose 2 GiB guard fires before that read). */
  private[sources] def fileRows(file: String, len: Long, open: () => InputStream,
                                password: Option[String])
      : Iterator[(String, String, Long, Seq[String])] = {
    val head = { val in = open(); try in.readNBytes(8) finally in.close() }
    if (isZip(head)) return zipRows(file, open)
    if (!Cfb.isCfb(head)) sys.error(s"Unable to read the file '$file'")
    val bytes = LineSource.wholeFile(file, len, open)
    if (OoxmlCrypto.isEncrypted(bytes)) password match {
      case Some(pw) =>
        val zip = OoxmlCrypto.decrypt(bytes, pw)
        zipRows(file, () => new ByteArrayInputStream(zip))
      case None => sys.error(s"Unable to read the file '$file'; it is " +
        "password protected (set file_password)")
    }
    else Biff8.parse(bytes, file).iterator.flatMap { sheet =>
      sheet.rows.zipWithIndex.map { case (cells, i) => (file, sheet.name, i.toLong, cells) }
    }
  }

  /** The three-scan StAX walk of one zip workbook (metadata → per-sheet
    * spans → lazy row emission), memory bounded by the metadata parts plus
    * ONE row, never the workbook bytes. Sheets come in zip-entry order; a
    * sheet with no populated cell has no rows. */
  private def zipRows(file: String, open: () => InputStream)
      : Iterator[(String, String, Long, Seq[String])] = {
    // scan 1: metadata parts, and every part's name
    val names = mutable.HashSet.empty[String]
    val meta = scanZip(open) { (name, zin) =>
      names += name
      if (MetaParts(name)) Some(name -> zin.readAllBytes()) else None
    }.toMap
    val workbook = meta.getOrElse("xl/workbook.xml",
      sys.error(s"Not an xlsx: no xl/workbook.xml in '$file'"))
    val shared = sharedStringsOf(meta.get("xl/sharedStrings.xml"))
    val styleIsDate = stylesOf(meta.get("xl/styles.xml"))
    // a part can back SEVERAL sheets (broken/missing rels all falling back
    // to the same target): each such sheet gets the part's rows
    val partToNames: Map[String, Seq[String]] =
      sheetTargetsOf(workbook, meta.get("xl/_rels/workbook.xml.rels"))
        .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    partToNames.keys.find(!names(_)).foreach(part =>
      sys.error(s"Missing sheet part $part in '$file'"))
    // scan 2: per-sheet populated spans (cheap StAX pass, values discarded)
    val spans: Map[String, (Int, Int, Int, Int)] = scanZip(open) { (name, zin) =>
      if (!partToNames.contains(name)) None
      else {
        var span: (Int, Int, Int, Int) = null
        new CellCursor(zin, shared, styleIsDate).foreach { case (rr, cc, _) =>
          span =
            if (span == null) (rr, rr, cc, cc)
            else (math.min(span._1, rr), math.max(span._2, rr),
                  math.min(span._3, cc), math.max(span._4, cc))
        }
        Option(span).map(name -> _)
      }
    }.toMap
    // scan 3: lazy row emission, one open stream walked entry by entry
    new Iterator[(String, String, Long, Seq[String])] {
      private val zin = new ZipInputStream(new java.io.BufferedInputStream(open()))
      private var closed = false
      private var cur: Iterator[(String, String, Long, Seq[String])] = Iterator.empty

      private def advance(): Unit = {
        while (!cur.hasNext && !closed) {
          val e = zin.getNextEntry
          if (e == null) { closed = true; zin.close() }
          else if (spans.contains(e.getName)) {
            val sheetNames = partToNames(e.getName)
            val (rowMin, rowMax, colMin, colMax) = spans(e.getName)
            cur = paddedRows(new CellCursor(zin, shared, styleIsDate),
                rowMin, rowMax, colMin, colMax)
              .flatMap { case (rr, cells) =>
                sheetNames.map(n => (file, n, (rr - rowMin).toLong, cells))
              }
          }
        }
      }
      def hasNext: Boolean = { advance(); cur.hasNext }
      def next(): (String, String, Long, Seq[String]) = { advance(); cur.next() }
    }
  }

  /** Group a document-ordered cell stream into padded rows over the sheet's
    * populated span (`excel.rb:66-77` first_column..last_column). Rows
    * between populated ones (and cells with no value) surface as nulls.
    * Worksheet rows must be in ascending order, as the ECMA-376
    * serialisation writes them; a workbook whose rows go back fails. */
  private def paddedRows(cells: Iterator[(Int, Int, String)],
                         rowMin: Int, rowMax: Int,
                         colMin: Int, colMax: Int): Iterator[(Int, Seq[String])] =
    new Iterator[(Int, Seq[String])] {
      private var nextRow = rowMin
      private var pendingCell: (Int, Int, String) = _
      private def peek(): (Int, Int, String) = {
        if (pendingCell == null && cells.hasNext) pendingCell = cells.next()
        pendingCell
      }
      def hasNext: Boolean = nextRow <= rowMax
      def next(): (Int, Seq[String]) = {
        if (!hasNext) throw new NoSuchElementException
        val row = new Array[String](colMax - colMin + 1)
        while (peek() != null && peek()._1 == nextRow) {
          val (_, cc, v) = pendingCell; pendingCell = null
          row(cc - colMin) = v
        }
        if (peek() != null && peek()._1 < nextRow)
          sys.error(s"Worksheet rows out of order (row ${peek()._1} after $nextRow) " +
            "— streaming reader needs ascending rows")
        val out = (nextRow, row.toSeq)
        nextRow += 1
        out
      }
    }
}
