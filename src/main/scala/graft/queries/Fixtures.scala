package graft.queries

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** The one writer per binary fixture format. The queries that import
  * generated files ([[QueryPack]]'s t12, t12b, s12 and s15) and every spec
  * that needs a container, a workbook, a Word file or a PDF build their
  * bytes here, so each reader is checked against one writer. Each
  * function is pure: rows in, file bytes out.
  *
  *   - [[zip]] and [[sevenZ]]: archives of named entries.
  *   - [[xlsx]]: a workbook of inline-string cells.
  *   - [[cfb]]: an MS-CFB (OLE2) container of named streams.
  *   - [[xls]]: a BIFF8 workbook (shared strings, LABELSST cells) in a
  *     `Workbook` CFB stream, from [[biffRecord]] and [[workbookStream]].
  *   - [[docx]]: one paragraph per line.
  *   - [[textPdf]]: one content stream per page, lines moved by `Td`.
  *   - [[acroFormPdf]]: one text-field widget per field.
  */
object Fixtures {

  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  private def xmlEscape(v: String): String =
    v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def pdfEscape(v: String): String =
    v.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  // ------------------------------------------------------------ archives

  def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, bytes) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name)); z.write(bytes); z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  def sevenZ(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZOutputFile}
    val channel = new org.apache.commons.compress.utils.SeekableInMemoryByteChannel()
    val sz = new SevenZOutputFile(channel)
    entries.foreach { case (name, bytes) =>
      val e = new SevenZArchiveEntry()
      e.setName(name)
      sz.putArchiveEntry(e); sz.write(bytes); sz.closeArchiveEntry()
    }
    sz.finish()
    java.util.Arrays.copyOf(channel.array(), channel.size().toInt)
  }

  // ---------------------------------------------------------------- xlsx

  private def columnName(c: Int): String =
    (if (c >= 26) columnName(c / 26 - 1) else "") + ('A' + c % 26).toChar

  /** A workbook with one worksheet per (name, rows), every cell an inline
    * string, no shared-strings or styles part. */
  def xlsx(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    val workbook =
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"""" +
        """ xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString + "</sheets></workbook>"
    val rels =
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        sheets.indices.map { i =>
          s"""<Relationship Id="rId${i + 1}" Type="x" Target="worksheets/sheet${i + 1}.xml"/>"""
        }.mkString + "</Relationships>"
    def sheetXml(rows: Seq[Seq[String]]) =
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        rows.zipWithIndex.map { case (cells, r) =>
          s"""<row r="${r + 1}">""" + cells.zipWithIndex.map { case (v, c) =>
            s"""<c r="${columnName(c)}${r + 1}" t="inlineStr"><is><t>${xmlEscape(v)}</t></is></c>"""
          }.mkString + "</row>"
        }.mkString + "</sheetData></worksheet>"
    zip((Seq("xl/workbook.xml" -> workbook, "xl/_rels/workbook.xml.rels" -> rels) ++
      sheets.zipWithIndex.map { case ((_, rows), i) =>
        s"xl/worksheets/sheet${i + 1}.xml" -> sheetXml(rows)
      }).map { case (name, text) => name -> text.getBytes(UTF_8) })
  }

  // ----------------------------------------------------------------- CFB

  /** A CFB container: the FAT sectors, then the directory sectors, then
    * each stream on consecutive sectors, all chained through the regular
    * FAT. The header's mini-stream cutoff is 0, so no stream lives in a
    * mini stream (readers honour the header value). The header's 109
    * DIFAT slots bound a container at ~7 MiB. */
  def cfb(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val SectorSize = 512
    val PerFatSector = SectorSize / 4
    val Free = -1; val EndOfChain = -2; val FatSect = -3
    def sectorsOf(n: Int) = math.max(1, (n + SectorSize - 1) / SectorSize)

    val dirSectors = sectorsOf((1 + streams.size) * 128)
    val dataSectors = dirSectors + streams.map(s => sectorsOf(s._2.length)).sum
    val fatSectors = Iterator.from(1).find(n => n * PerFatSector >= n + dataSectors).get
    require(fatSectors <= 109, "fixture exceeds the header's DIFAT slots")

    val fat = Array.fill(fatSectors * PerFatSector)(Free)
    def chain(start: Int, n: Int): Int = {
      for (i <- 0 until n) fat(start + i) = if (i == n - 1) EndOfChain else start + i + 1
      start + n
    }
    (0 until fatSectors).foreach(fat(_) = FatSect)
    val firstDir = fatSectors
    val starts = streams.scanLeft(chain(firstDir, dirSectors)) { case (at, (_, bytes)) =>
      chain(at, sectorsOf(bytes.length))
    }

    val header = ByteBuffer.allocate(SectorSize).order(ByteOrder.LITTLE_ENDIAN)
    header.putLong(0, graft.sources.Cfb.Signature)
    header.putShort(0x18, 0x3E)                      // minor version
    header.putShort(0x1A, 3)                         // major version 3
    header.putShort(0x1C, 0xFFFE.toShort)            // byte order mark
    header.putShort(0x1E, 9)                         // sector shift → 512
    header.putShort(0x20, 6)                         // mini shift → 64
    header.putInt(0x2C, fatSectors)
    header.putInt(0x30, firstDir)
    header.putInt(0x38, 0)                           // mini cutoff 0: no mini stream
    header.putInt(0x3C, EndOfChain)                  // no miniFAT
    header.putInt(0x44, EndOfChain)                  // no DIFAT sectors
    for (i <- 0 until 109) header.putInt(0x4C + i * 4, if (i < fatSectors) i else Free)

    // the root's child is the first stream; each stream's right sibling is
    // the next one
    def dirEntry(name: String, entryType: Int, child: Int, right: Int,
                 start: Int, size: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
      val utf16 = name.getBytes("UTF-16LE")
      b.put(utf16, 0, math.min(utf16.length, 62))
      b.putShort(0x40, ((math.min(name.length, 31) + 1) * 2).toShort)
      b.put(0x42, entryType.toByte)
      b.put(0x43, 1.toByte)                          // black
      b.putInt(0x44, Free); b.putInt(0x48, right); b.putInt(0x4C, child)
      b.putInt(0x74, start)
      b.putInt(0x78, size)
      b.array()
    }
    val out = new ByteArrayOutputStream()
    out.write(header.array())
    val fatBytes = ByteBuffer.allocate(fat.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    fat.foreach(fatBytes.putInt)
    out.write(fatBytes.array())
    out.write(dirEntry("Root Entry", 5, if (streams.isEmpty) Free else 1, Free, EndOfChain, 0))
    streams.zip(starts).zipWithIndex.foreach { case (((name, bytes), start), i) =>
      out.write(dirEntry(name, 2, Free, if (i + 1 < streams.size) i + 2 else Free,
        start, bytes.length))
    }
    out.write(new Array[Byte](dirSectors * SectorSize - (1 + streams.size) * 128))
    streams.foreach { case (_, bytes) =>
      out.write(bytes)
      out.write(new Array[Byte](sectorsOf(bytes.length) * SectorSize - bytes.length))
    }
    out.toByteArray
  }

  // --------------------------------------------------------------- BIFF8

  /** One BIFF8 record: id, body length, body. */
  def biffRecord(id: Int, body: Array[Byte]): Array[Byte] =
    le16(id) ++ le16(body.length) ++ body

  /** A BIFF8 string's option byte and characters: 8-bit when every char
    * fits Latin-1, else UTF-16LE. */
  private def biffChars(s: String): Array[Byte] =
    if (s.forall(_ <= 0xFF)) 0.toByte +: s.getBytes(ISO_8859_1)
    else 1.toByte +: s.getBytes("UTF-16LE")

  /** A `Workbook` stream: the globals substream (BOF, one BOUNDSHEET per
    * sheet, `globals`, EOF), then one substream per sheet (BOF, its cell
    * records, EOF), each BOUNDSHEET holding its substream's offset. */
  def workbookStream(globals: Array[Byte], sheets: Seq[(String, Array[Byte])]): Array[Byte] = {
    def bof(kind: Int) = biffRecord(0x809, le16(0x0600) ++ le16(kind) ++ new Array[Byte](12))
    val eof = biffRecord(0x0A, Array.emptyByteArray)
    def boundsheet(offset: Int, name: String) =
      biffRecord(0x85, le32(offset) ++ le16(0) ++ Array(name.length.toByte) ++ biffChars(name))
    val substreams = sheets.map { case (_, cells) => bof(0x10) ++ cells ++ eof }
    val globalsLen = bof(0x05).length + globals.length + eof.length +
      sheets.map { case (name, _) => boundsheet(0, name).length }.sum
    val offsets = substreams.scanLeft(globalsLen)(_ + _.length)
    bof(0x05) ++ sheets.zip(offsets).flatMap { case ((name, _), at) => boundsheet(at, name) } ++
      globals ++ eof ++ substreams.flatten
  }

  /** A BIFF8 `.xls`: every distinct cell value once in the SST (split into
    * CONTINUE records at BIFF8's 8,224-byte record limit, at string
    * boundaries), every non-null cell a LABELSST record. */
  def xls(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    val MaxBody = 8224
    val cells = sheets.flatMap(_._2).flatten.filter(_ != null)
    val strings = cells.distinct
    val index = strings.zipWithIndex.toMap
    val bodies = scala.collection.mutable.ArrayBuffer(new ByteArrayOutputStream())
    bodies.head.write(le32(cells.size) ++ le32(strings.size))
    strings.foreach { s =>
      val str = le16(s.length) ++ biffChars(s)
      require(str.length <= MaxBody - 8, "an SST string longer than one record")
      if (bodies.last.size + str.length > MaxBody) bodies += new ByteArrayOutputStream()
      bodies.last.write(str)
    }
    val sst = biffRecord(0xFC, bodies.head.toByteArray) ++
      bodies.tail.flatMap(b => biffRecord(0x3C, b.toByteArray))
    val sheetCells = sheets.map { case (name, rows) =>
      name -> rows.zipWithIndex.flatMap { case (row, r) =>
        row.zipWithIndex.collect { case (v, c) if v != null =>
          biffRecord(0xFD, le16(r) ++ le16(c) ++ le16(0) ++ le32(index(v)))
        }
      }.flatten.toArray
    }
    cfb(Seq("Workbook" -> workbookStream(sst, sheetCells)))
  }

  // ----------------------------------------------------------- documents

  /** A .docx whose `word/document.xml` holds one `<w:p>` per paragraph. */
  def docx(paragraphs: Seq[String]): Array[Byte] = {
    val body = paragraphs.map(p => s"<w:p><w:r><w:t>${xmlEscape(p)}</w:t></w:r></w:p>").mkString
    zip(Seq("word/document.xml" ->
      ("""<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
        s"<w:body>$body</w:body></w:document>").getBytes(UTF_8)))
  }

  /** A PDF with one content-stream object per page and no page tree: each
    * page starts its text at `0 780 Td` and moves down 12 units per line
    * with `Td`. */
  def textPdf(pages: Seq[Seq[String]]): Array[Byte] = {
    val pdf = new StringBuilder("%PDF-1.4\n")
    pages.zipWithIndex.foreach { case (lines, i) =>
      val body = lines.map(l => s"(${pdfEscape(l)}) Tj 0 -12 Td ").mkString("BT 0 780 Td ", "", "ET")
      pdf ++= s"${i + 1} 0 obj << /Length ${body.length} >> stream\n$body\nendstream\nendobj\n"
    }
    pdf ++= "%%EOF\n"
    pdf.toString.getBytes(ISO_8859_1)
  }

  /** A PDF with one text-field widget per (field name, value). */
  def acroFormPdf(fields: Seq[(String, String)]): Array[Byte] =
    ("%PDF-1.4\n" + fields.zipWithIndex.map { case ((name, value), i) =>
      s"${i + 1} 0 obj << /FT /Tx /Subtype /Widget /T (${pdfEscape(name)}) " +
        s"/V (${pdfEscape(value)}) >> endobj\n"
    }.mkString + "%%EOF\n").getBytes(ISO_8859_1)
}
