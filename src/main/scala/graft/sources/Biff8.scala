package graft.sources

import graft.clean.RubyTranslate
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** Minimal BIFF8 (.xls, Excel 97-2003) worksheet parser — pure JDK, reading
  * the `Workbook` stream out of the OLE2 container ([[Cfb]]).
  *
  * Covers the records the reference's fixtures (and Roo) rely on:
  * BOUNDSHEET sheets, SST shared strings (with CONTINUE-record splits and
  * compressed/UTF-16 string flips mid-string), LABELSST/LABEL/NUMBER/RK/
  * MULRK/BOOLERR/FORMULA(+STRING) cells, FORMAT/XF for date detection,
  * 1904 DATEMODE. Values are rendered with the same Roo cast rules as the
  * xlsx path (`file/excel.rb:31-50`). A shared-string table that ends
  * before its declared count, or a LABELSST cell that points past it,
  * fails naming the file: those cells are never read as null.
  */
object Biff8 {

  private val DateFmtIds = Set(14, 15, 16, 17, 18, 19, 20, 21, 22, 45, 46, 47)

  /** The sheets of the `.xls` container `bytes`; `file` names it in errors. */
  def parse(bytes: Array[Byte], file: String): Seq[Excel.Sheet] = {
    val cf = new Cfb.CompoundFile(bytes)
    val wb = cf.stream("Workbook").orElse(cf.stream("Book"))
      .getOrElse(sys.error(s"No Workbook stream in .xls file '$file'"))
    parseWorkbookStream(wb, file)
  }

  private final case class Rec(id: Int, data: Array[Byte])

  private def records(wb: Array[Byte], from: Int): Iterator[(Int, Rec)] =
    new Iterator[(Int, Rec)] {
      private var pos = from
      def hasNext: Boolean = pos + 4 <= wb.length
      def next(): (Int, Rec) = {
        val b = ByteBuffer.wrap(wb, pos, 4).order(ByteOrder.LITTLE_ENDIAN)
        val id = b.getShort().toInt & 0xFFFF
        val len = b.getShort().toInt & 0xFFFF
        val at = pos
        val data = wb.slice(pos + 4, pos + 4 + len)
        pos += 4 + len
        (at, Rec(id, data))
      }
    }

  /** Reads BIFF8 unicode strings from an SST record and its CONTINUE
    * records. At a continuation boundary mid-string, the new record begins
    * with a fresh option-flags byte that may flip the 8-bit/16-bit
    * encoding for the remaining characters (MS-XLS 2.5.293). Running out
    * of records inside a string throws. */
  private final class SstReader(parts: IndexedSeq[Array[Byte]]) {
    private var part = 0
    private var off = 0
    private def avail: Int = parts(part).length - off
    private def hop(): Unit =
      if (part < parts.length - 1) { part += 1; off = 0 }
      else throw new IllegalStateException("the shared string records end inside a string")
    private def u8(): Int = {
      while (avail == 0) hop()
      val v = parts(part)(off) & 0xFF; off += 1; v
    }
    private def u16(): Int = u8() | (u8() << 8)
    private def u32(): Long = u16().toLong | (u16().toLong << 16)

    def readString(): String = {
      val cch = u16()
      val grbit = u8()
      var compressed = (grbit & 0x01) == 0
      val runs = if ((grbit & 0x08) != 0) u16() else 0
      val extSize = if ((grbit & 0x04) != 0) u32() else 0L
      val sb = new StringBuilder
      var remaining = cch
      while (remaining > 0) {
        if (avail == 0) {
          hop()
          compressed = (u8() & 0x01) == 0 // fresh flags byte
        } else if (compressed) {
          val take = math.min(remaining, avail)
          for (_ <- 0 until take) { sb += (parts(part)(off) & 0xFF).toChar; off += 1 }
          remaining -= take
        } else {
          val take = math.min(remaining, avail / 2)
          if (take == 0) { hop(); compressed = (u8() & 0x01) == 0 }
          else {
            for (_ <- 0 until take) {
              val lo = parts(part)(off) & 0xFF; val hi = parts(part)(off + 1) & 0xFF
              sb += (lo | (hi << 8)).toChar; off += 2
            }
            remaining -= take
          }
        }
      }
      var skip = runs.toLong * 4 + extSize
      while (skip > 0) {
        if (avail == 0) hop()
        val n = math.min(skip, avail.toLong).toInt; off += n; skip -= n
      }
      sb.toString
    }
  }

  private def parseWorkbookStream(wb: Array[Byte], file: String): Seq[Excel.Sheet] = {
    var date1904 = false
    val sheets = mutable.ArrayBuffer.empty[(String, Int)] // name, stream offset
    val customDateFmt = mutable.HashMap.empty[Int, Boolean]
    val xfIsDate = mutable.ArrayBuffer.empty[Boolean]
    val sst = mutable.ArrayBuffer.empty[String]

    // ---- globals substream
    val it = records(wb, 0)
    var sstParts: mutable.ArrayBuffer[Array[Byte]] = null
    var inGlobals = true

    // Full dispatch for every non-SST global record; the SST case below
    // re-enters here for the record that terminates its CONTINUE run, so a
    // FORMAT/XF landing right after the SST group still updates xfIsDate
    // (nonstandard writers order records freely).
    def handleGlobal(r: Rec): Unit = r.id match {
      case 0x22 => date1904 = r.data.nonEmpty && r.data(0) == 1
      case 0x85 => // BOUNDSHEET
        val b = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
        val offset = b.getInt(0)
        val cch = r.data(6) & 0xFF
        val grbit = r.data(7) & 0x01
        val name =
          if (grbit == 0) new String(r.data, 8, cch, "ISO-8859-1")
          else new String(r.data, 8, cch * 2, "UTF-16LE")
        sheets += name -> offset
      case 0x41E => // FORMAT
        val b = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
        val id = b.getShort(0).toInt & 0xFFFF
        // string at offset 2 (unicode, single record)
        val cch = b.getShort(2).toInt & 0xFFFF
        val grbit = r.data(4) & 0x01
        val code =
          if (grbit == 0) new String(r.data, 5, math.min(cch, r.data.length - 5), "ISO-8859-1")
          else new String(r.data, 5, math.min(cch * 2, r.data.length - 5), "UTF-16LE")
        customDateFmt(id) = code.replaceAll("\\[[^\\]]*\\]", "")
          .replaceAll("\"[^\"]*\"", "").exists(c => "ymdhsYMDHS".indexOf(c) >= 0)
      case 0xE0 => // XF
        val fmtId = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN).getShort(2).toInt & 0xFFFF
        xfIsDate += (DateFmtIds.contains(fmtId) || customDateFmt.getOrElse(fmtId, false))
      case 0x0A => inGlobals = false // EOF
      case _ => ()
    }

    while (it.hasNext && inGlobals) {
      val (_, r) = it.next()
      r.id match {
        case 0xFC => // SST (+ CONTINUEs)
          sstParts = mutable.ArrayBuffer(r.data.drop(8))
          val total = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN).getInt(4)
          // collect following CONTINUE records
          var done = false
          while (!done && it.hasNext) {
            val (_, nr) = it.next()
            if (nr.id == 0x3C) sstParts += nr.data
            else { handleGlobal(nr); done = true }
          }
          val reader = new SstReader(sstParts.toIndexedSeq)
          try while (sst.length < total) sst += reader.readString()
          catch {
            case e: RuntimeException => sys.error(s"Damaged shared string table in '$file': " +
              s"${e.getMessage} after ${sst.length} of its $total strings")
          }
        case _ => handleGlobal(r)
      }
    }

    sheets.map { case (name, offset) =>
      Excel.Sheet(name,
        parseSheet(wb, offset, sst.toIndexedSeq, xfIsDate.toIndexedSeq, date1904, file))
    }.toSeq
  }

  private def castNumber(v: Double, isDate: Boolean, date1904: Boolean): String =
    if (isDate) {
      val epoch = if (date1904) java.time.LocalDate.of(1904, 1, 1)
                  else java.time.LocalDate.of(1899, 12, 30)
      val days = v.floor.toLong
      val date = epoch.plusDays(days)
      val frac = v - days
      if (frac == 0.0) date.toString
      else {
        val secs = math.round(frac * 86400)
        val t = java.time.LocalTime.ofSecondOfDay(secs % 86400)
        f"$date ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
      }
    } else if (v == v.floor && !v.isInfinite && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def rkValue(rk: Int): Double = {
    val mul100 = (rk & 0x01) != 0
    val isInt = (rk & 0x02) != 0
    val v =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if (mul100) v / 100 else v
  }

  private def parseSheet(wb: Array[Byte], offset: Int, sst: IndexedSeq[String],
                         xfIsDate: IndexedSeq[Boolean], date1904: Boolean,
                         file: String): Seq[Seq[String]] = {
    val cells = mutable.HashMap.empty[(Int, Int), String]
    def isDate(xf: Int): Boolean = xf >= 0 && xf < xfIsDate.length && xfIsDate(xf)
    var pendingFormulaCell: Option[(Int, Int)] = None

    val it = records(wb, offset)
    var depth = 0
    var done = false
    while (it.hasNext && !done) {
      val (_, r) = it.next()
      val b = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
      r.id match {
        case 0x809 => depth += 1 // nested BOF (charts)
        case 0x0A  => depth -= 1; if (depth <= 0) done = true
        case 0xFD => // LABELSST
          val (row, colI, _) = (b.getShort(0).toInt & 0xFFFF, b.getShort(2).toInt & 0xFFFF, 0)
          val idx = b.getInt(6)
          if (idx < 0 || idx >= sst.length)
            sys.error(s"Cell ($row, $colI) in '$file' points past the shared string table " +
              s"(index $idx of ${sst.length} strings)")
          cells((row, colI)) = RubyTranslate.strip(sst(idx))
        case 0x204 => // LABEL (pre-SST inline string)
          val (row, colI) = (b.getShort(0).toInt & 0xFFFF, b.getShort(2).toInt & 0xFFFF)
          val cch = b.getShort(6).toInt & 0xFFFF
          val grbit = if (r.data.length > 8) r.data(8) & 0x01 else 0
          val s = if (grbit == 0) new String(r.data, 9, math.min(cch, r.data.length - 9), "ISO-8859-1")
                  else new String(r.data, 9, math.min(cch * 2, r.data.length - 9), "UTF-16LE")
          cells((row, colI)) = RubyTranslate.strip(s)
        case 0x203 => // NUMBER
          val (row, colI, xf) = (b.getShort(0).toInt & 0xFFFF, b.getShort(2).toInt & 0xFFFF,
            b.getShort(4).toInt & 0xFFFF)
          cells((row, colI)) = castNumber(b.getDouble(6), isDate(xf), date1904)
        case 0x27E => // RK
          val (row, colI, xf) = (b.getShort(0).toInt & 0xFFFF, b.getShort(2).toInt & 0xFFFF,
            b.getShort(4).toInt & 0xFFFF)
          cells((row, colI)) = castNumber(rkValue(b.getInt(6)), isDate(xf), date1904)
        case 0xBD => // MULRK
          val row = b.getShort(0).toInt & 0xFFFF
          val colFirst = b.getShort(2).toInt & 0xFFFF
          val n = (r.data.length - 6) / 6
          for (i <- 0 until n) {
            val xf = b.getShort(4 + i * 6).toInt & 0xFFFF
            val rk = b.getInt(6 + i * 6)
            cells((row, colFirst + i)) = castNumber(rkValue(rk), isDate(xf), date1904)
          }
        case 0x205 => // BOOLERR
          val (row, colI) = (b.getShort(0).toInt & 0xFFFF, b.getShort(2).toInt & 0xFFFF)
          val isErr = r.data(7) != 0
          cells((row, colI)) = if (isErr) "" else if (r.data(6) != 0) "true" else "false"
        case 0x06 => // FORMULA — cached numeric result or pending STRING
          val (row, colI, xf) = (b.getShort(0).toInt & 0xFFFF, b.getShort(2).toInt & 0xFFFF,
            b.getShort(4).toInt & 0xFFFF)
          val resultBits = b.getLong(6)
          if ((resultBits >>> 48) == 0xFFFFL) {
            val kind = (resultBits & 0xFF).toInt
            if (kind == 0) pendingFormulaCell = Some((row, colI)) // string follows
            else if (kind == 1) cells((row, colI)) = if (((resultBits >> 16) & 0xFF) != 0) "true" else "false"
            else cells((row, colI)) = ""
          } else
            cells((row, colI)) = castNumber(java.lang.Double.longBitsToDouble(resultBits),
              isDate(xf), date1904)
        case 0x207 => // STRING (formula string result)
          pendingFormulaCell.foreach { rc =>
            val cch = b.getShort(0).toInt & 0xFFFF
            val grbit = if (r.data.length > 2) r.data(2) & 0x01 else 0
            val s = if (grbit == 0) new String(r.data, 3, math.min(cch, r.data.length - 3), "ISO-8859-1")
                    else new String(r.data, 3, math.min(cch * 2, r.data.length - 3), "UTF-16LE")
            cells(rc) = RubyTranslate.strip(s)
          }
          pendingFormulaCell = None
        case _ => ()
      }
    }
    if (cells.isEmpty) return Nil
    val rMin = cells.keys.map(_._1).min; val rMax = cells.keys.map(_._1).max
    val cMin = cells.keys.map(_._2).min; val cMax = cells.keys.map(_._2).max
    (rMin to rMax).map(r => (cMin to cMax).map(c => cells.get((r, c)).orNull))
  }
}
