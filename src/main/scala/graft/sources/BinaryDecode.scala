package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

/** Binary-document text extraction (M3 `decode: :word_doc`, S13/S14 Word
  * readers — reference `lib/ndr_import/mapper.rb:281-311`,
  * `lib/ndr_import/file/{word,docx}.rb`).
  *
  * .docx is extracted for real: it is a zip of XML, so `word/document.xml`
  * is parsed and `<w:p>` paragraphs joined with newlines — pure JDK, no
  * external library. Legacy OLE .doc goes through a native MS-DOC piece
  * table walk ([[extractDoc]]); only when that fails does a deterministic
  * printable-run scraper stand in (POI HWPF would be the full-fidelity
  * replacement for pathological files).
  */
object BinaryDecode {

  private val OleMagic = Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte)

  def extractWordText(bytes: Array[Byte]): String = extractWordText(bytes, None)

  def extractWordText(bytes: Array[Byte], password: Option[String]): String = {
    if (bytes == null || bytes.isEmpty) return null
    if (bytes.length >= 4 && bytes.take(4).sameElements(OleMagic)) {
      if (OoxmlCrypto.isEncrypted(bytes)) password match {
        case Some(pw) => extractDocx(OoxmlCrypto.decrypt(bytes, pw))
        case None     => sys.error("Document is password protected (set file_password)")
      }
      else extractDoc(bytes)
    }
    else if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == 'K') extractDocx(bytes)
    else new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** (file, lineno, line) — each Word file read whole on its task
    * ([[LineSource.wholeFiles]]) and its text split as the text reader
    * splits a file ([[LineSource.lineIterator]]). */
  def wordLines(spark: SparkSession, paths: Seq[String],
                password: Option[String] = None): DataFrame = {
    import spark.implicits._
    LineSource.wholeFiles(spark, paths) { (file, bytes) =>
      val text = new java.io.StringReader(extractWordText(bytes, password))
      LineSource.lineIterator(new java.io.BufferedReader(text))
        .zipWithIndex.map { case (l, i) => (file, i.toLong, l) }
    }.toDF("file", "lineno", "line")
  }

  /** Real .docx extraction: unzip → parse word/document.xml → paragraphs. */
  def extractDocx(bytes: Array[Byte]): String = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      Iterator.continually(zin.getNextEntry)
        .takeWhile(_ != null)
        .find(_.getName == "word/document.xml") match {
        case Some(_) =>
          val xml = scala.xml.XML.load(zin)
          val paras = (xml \\ "body" \ "p").map { p =>
            (p \\ "t").map(_.text).mkString
          }
          paras.mkString("\n")
        case None => sys.error("Not a .docx file (no word/document.xml)")
      }
    } finally zin.close()
  }

  /** Legacy OLE .doc text extraction (MS-DOC): FIB → Clx piece table in
    * the table stream → text pieces (CP1252-compressed or UTF-16LE runs in
    * the WordDocument stream). Covers standard Word 97+ documents; falls
    * back to [[extractDocStub]] when the piece table cannot be walked
    * (POI HWPF would be the full-fidelity replacement). */
  def extractDoc(bytes: Array[Byte]): String = {
    try extractDocPieceTable(bytes)
    catch { case _: Exception => extractDocStub(bytes) }
  }

  private def extractDocPieceTable(bytes: Array[Byte]): String = {
    import java.nio.{ByteBuffer, ByteOrder}
    val cf = new Cfb.CompoundFile(bytes)
    val word = cf.stream("WordDocument").getOrElse(sys.error("No WordDocument stream"))
    val fib = ByteBuffer.wrap(word).order(ByteOrder.LITTLE_ENDIAN)
    require((fib.getShort(0) & 0xFFFF) == 0xA5EC, "Not a Word binary file")
    val flags = fib.getShort(0x0A).toInt
    val tableName = if ((flags & 0x0200) != 0) "1Table" else "0Table"
    val table = cf.stream(tableName).orElse(cf.stream("1Table")).orElse(cf.stream("0Table"))
      .getOrElse(sys.error("No table stream"))
    // FibRgLw97: starts at 32+2+28+2 = 64; ccpText at +12
    val ccpText = fib.getInt(64 + 12)
    // FibRgFcLcb97 starts at 154; fcClx/lcbClx are pair 33
    val fcClx = fib.getInt(154 + 33 * 8)
    val lcbClx = fib.getInt(154 + 33 * 8 + 4)
    require(fcClx >= 0 && lcbClx > 0 && fcClx + lcbClx <= table.length, "No Clx")

    // Walk the Clx: Prc blocks (0x01) then the Pcdt (0x02) holding PlcPcd.
    var p = fcClx
    val tb = ByteBuffer.wrap(table).order(ByteOrder.LITTLE_ENDIAN)
    while ((table(p) & 0xFF) == 0x01) p += 3 + (tb.getShort(p + 1).toInt & 0xFFFF)
    require((table(p) & 0xFF) == 0x02, "No Pcdt in Clx")
    val lcbPlcPcd = tb.getInt(p + 1)
    val plcStart = p + 5
    val nPieces = (lcbPlcPcd - 4) / 12
    val sb = new StringBuilder
    for (i <- 0 until nPieces) {
      val cpStart = tb.getInt(plcStart + i * 4)
      val cpEnd = tb.getInt(plcStart + (i + 1) * 4)
      val pcdOff = plcStart + (nPieces + 1) * 4 + i * 8
      val fcRaw = tb.getInt(pcdOff + 2)
      val compressed = (fcRaw & 0x40000000) != 0
      val fc = fcRaw & 0x3FFFFFFF
      val take = math.min(cpEnd, ccpText) - cpStart
      if (take > 0) {
        if (compressed)
          sb ++= new String(word, fc / 2, take, "windows-1252")
        else
          sb ++= new String(word, fc, take * 2, "UTF-16LE")
      }
    }
    // Word stores paragraph marks as \r; normalise like the reference's
    // whole_contents (split happens downstream); drop trailing mark.
    sb.toString.replace('\r', '\n').replace('\u0007', '\n') // \u0007 = table cell mark
      .replaceAll("[\\u0000-\\u0008\\u000B\\u000C\\u000E-\\u001F]", "")
      .replaceAll("\\n+$", "")
  }

  /** Fallback scraper when the piece table cannot be parsed: printable
    * ASCII runs (≥4 chars), deterministic. */
  def extractDocStub(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    val run = new StringBuilder
    def flush(): Unit = {
      if (run.length >= 4) { if (sb.nonEmpty) sb.append('\n'); sb.append(run) }
      run.clear()
    }
    bytes.foreach { b =>
      val c = (b & 0xFF).toChar
      if (c >= ' ' && c < 127) run.append(c) else flush()
    }
    flush()
    sb.toString
  }

  private val wordUdf = udf((b: Array[Byte]) => extractWordText(b))

  /** Column form used by the mapping compiler's decode chain. */
  def wordDocText(c: Column): Column = wordUdf(c.cast("binary"))
}
