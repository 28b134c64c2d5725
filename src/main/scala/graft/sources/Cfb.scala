package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** Minimal OLE2 Compound File Binary (CFB / MS-CFB) reader — pure JDK.
  *
  * Just enough of the container format to pull named streams out of legacy
  * Office files: header → DIFAT → FAT chains → directory tree → stream
  * bytes, including the mini-stream (< 4096-byte streams live in 64-byte
  * mini sectors chained through the miniFAT inside the root entry's
  * stream). Used by the BIFF8 .xls reader (`Workbook` stream) and the
  * encrypted-OOXML path (`EncryptionInfo`/`EncryptedPackage`).
  */
object Cfb {

  final case class Entry(name: String, entryType: Int, startSector: Int, size: Long)

  final class CompoundFile(bytes: Array[Byte]) {
    private val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 512 &&
      (buf.getLong(0) == 0xE11AB1A1E011CFD0L), "Not an OLE2 compound file")

    private val sectorShift = buf.getShort(0x1E).toInt       // usually 9 → 512
    private val miniShift = buf.getShort(0x20).toInt         // usually 6 → 64
    private val sectorSize = 1 << sectorShift
    private val miniSize = 1 << miniShift
    private val numFatSectors = buf.getInt(0x2C)
    private val firstDirSector = buf.getInt(0x30)
    private val miniCutoff = buf.getInt(0x38)
    private val firstMiniFatSector = buf.getInt(0x3C)
    private val numMiniFatSectors = buf.getInt(0x40)
    private val firstDifatSector = buf.getInt(0x44)
    private val numDifatSectors = buf.getInt(0x48)

    private def sectorOffset(sector: Int): Int = 512 + sector * sectorSize

    // DIFAT: 109 entries in the header, then chained DIFAT sectors.
    private val fatSectors: Seq[Int] = {
      val out = mutable.ArrayBuffer.empty[Int]
      for (i <- 0 until 109) {
        val s = buf.getInt(0x4C + i * 4)
        if (s >= 0) out += s
      }
      var difat = firstDifatSector
      var remaining = numDifatSectors
      while (difat >= 0 && remaining > 0) {
        val base = sectorOffset(difat)
        val perSector = sectorSize / 4 - 1
        for (i <- 0 until perSector) {
          val s = buf.getInt(base + i * 4)
          if (s >= 0) out += s
        }
        difat = buf.getInt(base + perSector * 4)
        remaining -= 1
      }
      out.take(numFatSectors max out.length).toSeq
    }

    private val fat: Array[Int] = {
      val entriesPerSector = sectorSize / 4
      val arr = new Array[Int](fatSectors.length * entriesPerSector)
      fatSectors.zipWithIndex.foreach { case (s, i) =>
        val base = sectorOffset(s)
        for (j <- 0 until entriesPerSector)
          arr(i * entriesPerSector + j) = buf.getInt(base + j * 4)
      }
      arr
    }

    private def chain(start: Int, table: Array[Int]): Seq[Int] = {
      val out = mutable.ArrayBuffer.empty[Int]
      var s = start
      var guard = 0
      while (s >= 0 && guard < table.length + 2) {
        out += s
        s = if (s < table.length) table(s) else -2
        guard += 1
      }
      out.toSeq
    }

    private def readChain(start: Int, size: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(size.toInt max 16)
      chain(start, fat).foreach { s =>
        val off = sectorOffset(s)
        val n = math.min(sectorSize, bytes.length - off)
        if (n > 0) out.write(bytes, off, n)
      }
      out.toByteArray.take(size.toInt)
    }

    val entries: Seq[Entry] = {
      val dirBytes = readChain(firstDirSector, Long.MaxValue.min(bytes.length.toLong))
      (0 until dirBytes.length / 128).map { i =>
        val b = ByteBuffer.wrap(dirBytes, i * 128, 128).order(ByteOrder.LITTLE_ENDIAN)
        val nameLen = b.getShort(i * 128 + 0x40).toInt
        val name = if (nameLen >= 2)
          new String(dirBytes, i * 128, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
        else ""
        Entry(name, dirBytes(i * 128 + 0x42).toInt, b.getInt(i * 128 + 0x74),
          b.getInt(i * 128 + 0x78).toLong & 0xFFFFFFFFL)
      }.filter(_.entryType != 0)
    }

    private lazy val miniFat: Array[Int] = {
      val mfBytes = readChain(firstMiniFatSector,
        numMiniFatSectors.toLong * sectorSize)
      val arr = new Array[Int](mfBytes.length / 4)
      val b = ByteBuffer.wrap(mfBytes).order(ByteOrder.LITTLE_ENDIAN)
      for (i <- arr.indices) arr(i) = b.getInt(i * 4)
      arr
    }

    private lazy val miniStream: Array[Byte] = {
      val root = entries.find(_.entryType == 5).getOrElse(sys.error("No CFB root entry"))
      readChain(root.startSector, root.size)
    }

    /** Bytes of a named stream (first match anywhere in the directory). */
    def stream(name: String): Option[Array[Byte]] =
      entries.find(e => e.entryType == 2 && e.name == name).map { e =>
        if (e.size >= miniCutoff) readChain(e.startSector, e.size)
        else {
          val out = new java.io.ByteArrayOutputStream(e.size.toInt max 16)
          chain(e.startSector, miniFat).foreach { s =>
            val off = s * miniSize
            val n = math.min(miniSize, miniStream.length - off)
            if (n > 0) out.write(miniStream, off, n)
          }
          out.toByteArray.take(e.size.toInt)
        }
      }
  }

  def isCfb(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 &&
      ByteBuffer.wrap(bytes, 0, 8).order(ByteOrder.LITTLE_ENDIAN).getLong == 0xE11AB1A1E011CFD0L
}
