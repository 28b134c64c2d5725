package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream
import scala.collection.mutable
import scala.xml.XML

/** Excel reader (S3 — reference `lib/ndr_import/file/excel.rb`).
  *
  * xlsx/xlsm are parsed for real: an .xlsx is a zip of XML parts, so the
  * workbook/sheet/sharedStrings/styles parts are read with the JDK zip
  * stream + scala-xml — no external spreadsheet library. One table per
  * worksheet (`excel.rb:20-27`), cells padded to the sheet's column span
  * (`excel.rb:66-77` first_column..last_column) and rendered with Roo's
  * exact cast rules (`excel.rb:31-50`):
  *
  *   - date-formatted numbers → `yyyy-mm-dd` (date) or
  *     `yyyy-mm-dd hh:mm:ss` (datetime) — Rails `:db` format;
  *   - whole floats → integer strings (`12` not `12.0`);
  *   - everything else → string, stripped.
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

  private def zipEntries(bytes: Array[Byte]): Map[String, Array[Byte]] = {
    val out = mutable.HashMap.empty[String, Array[Byte]]
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out(e.getName) = zin.readAllBytes()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toMap
  }

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

  /** Parse an xlsx/xlsm byte array into its sheets (cast, padded). */
  def parseXlsx(bytes: Array[Byte]): Seq[Sheet] = {
    val parts = zipEntries(bytes)
    val workbook = parts.getOrElse("xl/workbook.xml", sys.error("Not an xlsx: no xl/workbook.xml"))
    val shared = sharedStringsOf(parts.get("xl/sharedStrings.xml"))
    val styleIsDate = stylesOf(parts.get("xl/styles.xml"))
    sheetTargetsOf(workbook, parts.get("xl/_rels/workbook.xml.rels")).map {
      case (name, part) =>
        val sheetBytes = parts.getOrElse(part, sys.error(s"Missing sheet part $part"))
        Sheet(name, sheetRows(sheetBytes, shared, styleIsDate))
    }
  }

  private def colIndex(ref: String): Int =
    ref.takeWhile(_.isLetter).foldLeft(0)((a, c) => a * 26 + (c.toUpper - 'A' + 1))

  /** StAX cursor over ONE worksheet part, yielding populated cells
    * `(row, col, castValue)` in document order — memory is O(1) per cell,
    * never the sheet DOM. Both the in-memory and the streamed reader sit on
    * this single state machine. Does NOT close `in` (zip streams own their
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
        case "s"         => Some(shared(v.trim.toInt).trim)
        case "inlineStr" => Some(v.trim)
        case "str"       => Some(v.trim)
        case "b"         => Some(if (v.trim == "1") "true" else "false")
        case "e"         => Some(v.trim)
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

  /** In-memory worksheet parse: collect the cursor's cells, pad to the
    * populated span (`excel.rb:66-77` first_column..last_column). */
  private def sheetRows(sheetBytes: Array[Byte], shared: IndexedSeq[String],
                        styleIsDate: IndexedSeq[Boolean]): Seq[Seq[String]] = {
    val cells = mutable.HashMap.empty[(Int, Int), String]
    new CellCursor(new ByteArrayInputStream(sheetBytes), shared, styleIsDate)
      .foreach { case (rr, cc, v) => cells((rr, cc)) = v }
    if (cells.isEmpty) return Nil
    val rowMin = cells.keys.map(_._1).min; val rowMax = cells.keys.map(_._1).max
    val colMin = cells.keys.map(_._2).min; val colMax = cells.keys.map(_._2).max
    (rowMin to rowMax).map(rr => (colMin to colMax).map(cc => cells.get((rr, cc)).orNull))
  }

  /** Parse bytes by extension with the reference's retry semantics
    * (`excel.rb:98-115`): zip magic wins regardless of extension; genuine
    * OLE needs POI (unsupported here). */
  def parseWorkbook(fileName: String, bytes: Array[Byte],
                    password: Option[String] = None): Seq[Sheet] = {
    if (isZip(bytes)) parseXlsx(bytes)
    else if (OoxmlCrypto.isEncrypted(bytes)) password match {
      case Some(pw) => parseXlsx(OoxmlCrypto.decrypt(bytes, pw))
      case None     => sys.error(s"Unable to read the file '$fileName'; it is " +
        "password protected (set file_password)")
    }
    else if (Cfb.isCfb(bytes)) Biff8.parse(bytes)
    else sys.error(s"Unable to read the file '$fileName'")
  }

  /** One row per (file, tablename=sheet, lineno, cells) — the engine's
    * uniform tabular contract, one task per file. Size-routed like the
    * importer's XML branch: workbooks up to
    * [[LineSource.DefaultInMemoryMaxBytes]] ride `binaryFile`
    * (whole-workbook parse, full retry semantics); larger
    * xlsx files take the streaming reader ([[streamedTables]]) so a
    * multi-GiB workbook never hits binaryFile's 2 GiB record limit or
    * materialises on one task's heap. The reference's own xlsx streaming
    * is an unshipped FIXME (`lib/ndr_import/file/excel.rb:58-63`).
    * Oversized workbooks that CANNOT stream (CFB containers: BIFF8 .xls or
    * an encrypted OOXML envelope, which need random access) fall back to a
    * full in-memory parse on the executor task up to the 2 GiB format
    * ceiling, so size routing never regresses an input that used to parse. */
  def tables(spark: SparkSession, paths: Seq[String],
             password: Option[String] = None): DataFrame = {
    import spark.implicits._
    if (paths.isEmpty)
      return spark.emptyDataset[(String, String, Long, Seq[String])]
        .toDF("file", "tablename", "lineno", "cells")
    // ONE parallel stat pass serves both the size routing here and the
    // streamed route's 2 GiB fallback guard — re-statting the big subset
    // serially would add per-file driver RPC latency on wide path lists
    val lengths = LineSource.statLengths(spark, paths)
    val (big, small) =
      paths.partition(p => lengths.getOrElse(p, -1L) > LineSource.DefaultInMemoryMaxBytes)
    val inMem =
      if (small.isEmpty) None
      else Some(
        spark.read.format("binaryFile").load(small: _*)
          .select(col("path"), col("content")).as[(String, Array[Byte])]
          .flatMap { case (file, bytes) =>
            parseWorkbook(file, bytes, password).flatMap { sheet =>
              sheet.rows.zipWithIndex.map { case (cells, i) =>
                (file, sheet.name, i.toLong, cells)
              }
            }
          }.toDF("file", "tablename", "lineno", "cells"))
    val streamed =
      if (big.isEmpty) None else Some(streamedTables(spark, big, password, lengths))
    (inMem.toSeq ++ streamed.toSeq).reduce(_ unionByName _)
  }

  // ------------------------------------------------------------- streaming

  /** Worksheet parts must be walkable without inflating the whole zip into
    * memory; the metadata parts (workbook, rels, styles, sharedStrings) are
    * collected in one scan and held — the shared-strings table is the one
    * inherent in-memory cost of the format (exactly what POI's streaming
    * reader holds too). */
  private val MetaParts = Set("xl/workbook.xml", "xl/_rels/workbook.xml.rels",
    "xl/styles.xml", "xl/sharedStrings.xml")

  /** Streaming xlsx reader for oversized workbooks — the shipped version of
    * the reference's FIXME (`lib/ndr_import/file/excel.rb:58-63`). Three
    * sequential zip scans per file (metadata → per-sheet spans → lazy row
    * emission), memory bounded by the metadata parts plus ONE row, never
    * the workbook bytes. One task per file: sheets are sequential within a
    * workbook (their row numbering is), parallelism comes from many files —
    * the same doctrine as the text sources. Encrypted OOXML and BIFF8
    * workbooks need random access (crypto envelope / CFB FAT): those fall
    * back to a full in-memory parse ON THE TASK up to the 2 GiB format
    * ceiling (past which a clear bound error is raised instead of an OOM). */
  def streamedTables(spark: SparkSession, paths: Seq[String],
                     password: Option[String] = None,
                     lengths: Map[String, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    // qualified AND statted driver-side with the SESSION conf, like
    // binaryFile's path — an executor-side fresh Configuration could
    // resolve differently, and a failed stat must arm (not disarm) the
    // in-memory fallback's 2 GiB guard. Unknown length reports -1; the
    // fallback then reads with a bounds-checked loop instead. `lengths`
    // reuses the caller's stat pass (Excel.tables stats once for routing);
    // only paths it doesn't cover are statted here, in parallel.
    val missing = paths.filterNot(lengths.contains)
    val statted = LineSource.statLengths(spark, missing)
    val qualified = paths.map { p =>
      (p, LineSource.qualifiedPath(spark, p),
        lengths.getOrElse(p, statted.getOrElse(p, -1L)))
    }
    // a local relation spreads the list over min(files, defaultParallelism)
    // partitions with no exchange
    val conf = LineSource.TaskConf(spark)
    spark.createDataset(qualified)
      .mapPartitions(_.flatMap { case (p, q, len) =>
        streamedFileRows(conf.value, p, q, len, password)
      })
      .toDF("file", "tablename", "lineno", "cells")
  }

  private def scanZip[A](conf: Configuration, p: String)(
      f: (String, ZipInputStream) => Option[A]): Seq[A] = {
    val zin = new ZipInputStream(new java.io.BufferedInputStream(LineSource.openStream(conf, p)))
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

  /** The .xlsx/.xls container formats top out at 2 GiB (CFB sector
    * addressing / zip32 as written by Excel) — the hard ceiling for the
    * in-memory fallback. Headroom of 8 below Int.MaxValue: readAllBytes /
    * array allocation throw raw OutOfMemoryError above Int.MaxValue - 8,
    * and the clear bound error must fire first. */
  private[sources] val FormatMaxBytes: Long = Int.MaxValue.toLong - 8

  private def oversizedCfbError(p: String, len: Long): Nothing =
    sys.error(s"Unable to read oversized workbook '$p' ($len bytes): OLE " +
      "containers need a full in-memory parse and the format tops out at " +
      "2 GiB — the file is corrupt or mislabelled")

  /** Lazy (file, sheet, lineno, cells) rows for one oversized workbook;
    * `q` is the session-qualified spelling emitted as the `file` value and
    * `len` the driver-statted byte length (-1 when the stat failed — the
    * CFB fallback then reads with a bounds-checked loop so an unknown
    * length can never disarm the 2 GiB guard). `conf` is the session's
    * Hadoop conf, which every open of `p` uses. */
  private[sources] def streamedFileRows(conf: Configuration, p: String, q: String,
                                        len: Long, password: Option[String])
      : Iterator[(String, String, Long, Seq[String])] = {
    val head = { val in = LineSource.openStream(conf, p); try in.readNBytes(8) finally in.close() }
    if (!isZip(head)) {
      // CFB containers (legacy BIFF8 .xls, encrypted OOXML envelopes) need
      // random access (CFB FAT / crypto envelope) and cannot stream. Up to
      // the 2 GiB format ceiling they parse in-memory ON THIS TASK — the
      // same result the binaryFile path would have produced — so routing a
      // 300 MiB encrypted workbook past the in-memory bound degrades to a
      // bigger heap, never a new failure. Only past 2 GiB (no such valid
      // workbook exists) does this raise.
      if (!Cfb.isCfb(head))
        sys.error(s"Unable to stream oversized workbook '$p': it is neither " +
          "a zip archive nor an OLE container")
      if (len >= FormatMaxBytes) oversizedCfbError(p, len)
      val bytes = {
        val in = LineSource.openStream(conf, p)
        try {
          val b = in.readNBytes(FormatMaxBytes.toInt)
          // unknown length (failed stat): a saturated ceiling read IS
          // over-limit — the statted guard rejects len >= FormatMaxBytes,
          // and a file of exactly that size must fail identically whether
          // or not its stat succeeded
          if (b.length == FormatMaxBytes.toInt)
            oversizedCfbError(p, b.length.toLong)
          b
        } finally in.close()
      }
      return parseWorkbook(p, bytes, password).iterator.flatMap { sheet =>
        sheet.rows.zipWithIndex.map { case (cells, i) => (q, sheet.name, i.toLong, cells) }
      }
    }
    // scan 1: metadata parts
    val meta = scanZip(conf, p) { (name, zin) =>
      if (MetaParts(name)) Some(name -> zin.readAllBytes()) else None
    }.toMap
    val workbook = meta.getOrElse("xl/workbook.xml", sys.error(s"Not an xlsx: no xl/workbook.xml in '$p'"))
    val shared = sharedStringsOf(meta.get("xl/sharedStrings.xml"))
    val styleIsDate = stylesOf(meta.get("xl/styles.xml"))
    // a part can back SEVERAL sheets (broken/missing rels all falling back
    // to the same target) — the in-memory path emits each such sheet with
    // the part's rows, so the streamed path must too
    val partToNames: Map[String, Seq[String]] =
      sheetTargetsOf(workbook, meta.get("xl/_rels/workbook.xml.rels"))
        .groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    // scan 2: per-sheet populated spans (cheap StAX pass, values discarded)
    val spans: Map[String, (Int, Int, Int, Int)] = scanZip(conf, p) { (name, zin) =>
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
    // scan 3: lazy row emission, one open stream walked entry by entry;
    // a task-completion listener closes the stream even when the consumer
    // abandons the iterator early (limit/head short-circuits)
    new Iterator[(String, String, Long, Seq[String])] {
      private val zin =
        new ZipInputStream(new java.io.BufferedInputStream(LineSource.openStream(conf, p)))
      private var closed = false
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ =>
          if (!closed) { closed = true; try zin.close() catch { case _: Exception => () } }
        })
      private var cur: Iterator[(String, String, Long, Seq[String])] = Iterator.empty

      private def advance(): Unit = {
        while (!cur.hasNext && !closed) {
          val e = zin.getNextEntry
          if (e == null) { closed = true; zin.close() }
          else if (partToNames.contains(e.getName) && spans.contains(e.getName)) {
            val sheetNames = partToNames(e.getName)
            val (rowMin, rowMax, colMin, colMax) = spans(e.getName)
            cur = paddedRows(new CellCursor(zin, shared, styleIsDate),
                rowMin, rowMax, colMin, colMax)
              .flatMap { case (rr, cells) =>
                sheetNames.map(n => (q, n, (rr - rowMin).toLong, cells))
              }
          }
        }
      }
      def hasNext: Boolean = { advance(); cur.hasNext }
      def next(): (String, String, Long, Seq[String]) = { advance(); cur.next() }
    }
  }

  /** Group a document-ordered cell stream into padded rows over the sheet's
    * populated span — the streaming twin of [[sheetRows]]'s HashMap+pad.
    * Rows between populated ones (and cells with no value) surface as
    * nulls, identical to the in-memory path. Worksheet rows must be in
    * ascending order (the ECMA-376 serialisation is; a writer that
    * back-references rows would need the in-memory path). */
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
