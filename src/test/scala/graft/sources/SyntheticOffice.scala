package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Test-side builders for the binary Office container formats, so the specs
  * that drive the CFB code paths (BIFF8 .xls, agile-encrypted OOXML) run on
  * any machine instead of assume()-skipping when the reference fixture
  * checkout is absent.
  *
  *   - [[cfb]]: a minimal MS-CFB writer — single FAT sector, no mini
  *     stream (the header's mini cutoff is written as 0, so every stream
  *     chains through the regular FAT; readers honour the header value).
  *   - [[biff8Xls]]: a BIFF8 workbook (BOF/BOUNDSHEET/SST/LABELSST/EOF)
  *     inside a CFB container.
  *   - [[agileEncrypt]]: an ECMA-376 agile-encryption envelope
  *     (EncryptionInfo + EncryptedPackage) around a zip payload — the exact
  *     inverse of [[OoxmlCrypto.decrypt]]'s KDF and segment cipher.
  *   - [[docx]], [[wordDoc]]: a Word document, as OOXML or as a Word 97
  *     binary `.doc` (FIB plus a one-piece table) inside a CFB container;
  *     [[textPdf]]: a one-stream PDF showing text lines.
  */
object SyntheticOffice {

  private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

  // ------------------------------------------------------------------ CFB

  /** Minimal CFB container: sector 0 = the single FAT sector, then the
    * directory sectors, then each stream on consecutive sectors. Capacity
    * ~60 KiB (one FAT sector = 128 chain entries) — plenty for fixtures. */
  def cfb(streams: Seq[(String, Array[Byte])]): Array[Byte] = {
    val SectorSize = 512
    val Free = 0xFFFFFFFF; val EndOfChain = 0xFFFFFFFE; val FatSect = 0xFFFFFFFD
    def sectorsOf(n: Int) = math.max(1, (n + SectorSize - 1) / SectorSize)

    val dirSectors = ((1 + streams.size) * 128 + SectorSize - 1) / SectorSize
    val fat = Array.fill(128)(Free)
    fat(0) = FatSect
    for (i <- 0 until dirSectors)
      fat(1 + i) = if (i == dirSectors - 1) EndOfChain else 2 + i
    var nextSector = 1 + dirSectors
    val starts = streams.map { case (_, bytes) =>
      val n = sectorsOf(bytes.length)
      val start = nextSector
      for (i <- 0 until n)
        fat(start + i) = if (i == n - 1) EndOfChain else start + i + 1
      nextSector += n
      start
    }
    require(nextSector <= 128, "fixture exceeds the single-FAT-sector writer")

    val header = ByteBuffer.allocate(SectorSize).order(ByteOrder.LITTLE_ENDIAN)
    header.putLong(0, 0xE11AB1A1E011CFD0L)          // magic
    header.putShort(0x18, 0x3E)                      // minor version
    header.putShort(0x1A, 3)                         // major version 3
    header.putShort(0x1C, 0xFFFE.toShort)            // byte order mark
    header.putShort(0x1E, 9)                         // sector shift → 512
    header.putShort(0x20, 6)                         // mini shift → 64
    header.putInt(0x2C, 1)                           // one FAT sector
    header.putInt(0x30, 1)                           // first directory sector
    header.putInt(0x38, 0)                           // mini cutoff 0: no mini stream
    header.putInt(0x3C, EndOfChain)                  // no miniFAT
    header.putInt(0x40, 0)
    header.putInt(0x44, EndOfChain)                  // no DIFAT sectors
    header.putInt(0x48, 0)
    header.putInt(0x4C, 0)                           // DIFAT[0] = FAT at sector 0
    for (i <- 1 until 109) header.putInt(0x4C + i * 4, Free)

    def dirEntry(name: String, entryType: Int, start: Int, size: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(128).order(ByteOrder.LITTLE_ENDIAN)
      val utf16 = name.getBytes("UTF-16LE")
      b.position(0); b.put(utf16, 0, math.min(utf16.length, 62))
      b.putShort(0x40, ((name.length + 1) * 2).toShort)
      b.put(0x42, entryType.toByte)
      b.put(0x43, 1.toByte)                          // black
      b.putInt(0x44, -1); b.putInt(0x48, -1); b.putInt(0x4C, -1)
      b.putInt(0x74, start)
      b.putInt(0x78, size)
      b.array()
    }
    val dir = new java.io.ByteArrayOutputStream()
    dir.write(dirEntry("Root Entry", 5, EndOfChain, 0))
    streams.zip(starts).foreach { case ((name, bytes), start) =>
      dir.write(dirEntry(name, 2, start, bytes.length))
    }
    while (dir.size() < dirSectors * SectorSize) dir.write(new Array[Byte](128))

    val out = new java.io.ByteArrayOutputStream()
    out.write(header.array())
    val fatBytes = ByteBuffer.allocate(SectorSize).order(ByteOrder.LITTLE_ENDIAN)
    fat.foreach(fatBytes.putInt)
    out.write(fatBytes.array())
    out.write(dir.toByteArray)
    streams.foreach { case (_, bytes) =>
      out.write(bytes)
      val pad = sectorsOf(bytes.length) * SectorSize - bytes.length
      out.write(new Array[Byte](pad))
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------- BIFF8

  /** A single-sheet BIFF8 .xls: globals substream (BOF, BOUNDSHEET, SST,
    * EOF) then the sheet substream (BOF, one LABELSST per cell, EOF), in a
    * `Workbook` CFB stream. Cell values ride the shared-string table. */
  def biff8Xls(sheetName: String, rows: Seq[Seq[String]]): Array[Byte] = {
    def rec(id: Int, data: Array[Byte]): Array[Byte] =
      le16(id) ++ le16(data.length) ++ data
    val bof = rec(0x809, new Array[Byte](16))
    val eof = rec(0x0A, Array.emptyByteArray)

    val strings = rows.flatten.distinct
    val sstIndex = strings.zipWithIndex.toMap
    val sstBody = strings.flatMap { s =>
      val ascii = s.getBytes("ISO-8859-1")
      le16(s.length) ++ Array(0.toByte) ++ ascii    // compressed, no runs
    }.toArray
    val sst = rec(0xFC, le32(strings.size) ++ le32(strings.size) ++ sstBody)

    val cells = rows.zipWithIndex.flatMap { case (cols, r) =>
      cols.zipWithIndex.map { case (v, c) =>
        rec(0xFD, le16(r) ++ le16(c) ++ le16(0) ++ le32(sstIndex(v)))
      }
    }
    val sheet = bof ++ cells.flatten ++ eof

    val nameBytes = sheetName.getBytes("ISO-8859-1")
    val boundsheetLen = 4 + 8 + nameBytes.length    // record header + fixed + name
    val globalsLen = bof.length + boundsheetLen + sst.length + eof.length
    val boundsheet = rec(0x85,
      le32(globalsLen) ++ Array[Byte](0, 0) ++
        Array(nameBytes.length.toByte, 0.toByte) ++ nameBytes)
    require(boundsheet.length == boundsheetLen)
    val workbook = bof ++ boundsheet ++ sst ++ eof ++ sheet
    cfb(Seq("Workbook" -> workbook))
  }

  // ----------------------------------------------------------- documents

  /** A .docx whose `word/document.xml` holds one `<w:p>` per paragraph. */
  def docx(paragraphs: Seq[String]): Array[Byte] = {
    val body = paragraphs.map(p =>
      s"<w:p><w:r><w:t>${scala.xml.Utility.escape(p)}</w:t></w:r></w:p>").mkString
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    z.write(("<w:document xmlns:w=\"http://schemas.openxmlformats.org/wordprocessingml/2006/main\">" +
      s"<w:body>$body</w:body></w:document>").getBytes("UTF-8"))
    z.closeEntry(); z.close()
    bos.toByteArray
  }

  /** A minimal Word 97 binary `.doc`: a `WordDocument` stream whose FIB
    * (magic 0xA5EC, the `1Table` flag, `ccpText`, `fcClx`/`lcbClx`) points
    * into a `1Table` stream holding a Clx whose Pcdt has one compressed
    * (Windows-1252) piece over the text; each paragraph ends in `\r`, as
    * Word stores it. */
  def wordDoc(paragraphs: Seq[String]): Array[Byte] = {
    val text = paragraphs.map(_ + "\r").mkString.getBytes("windows-1252")
    val textAt = 0x400
    val table = ByteBuffer.allocate(1 + 4 + 2 * 4 + 8).order(ByteOrder.LITTLE_ENDIAN)
    table.put(0x02.toByte)                          // Pcdt
    table.putInt(2 * 4 + 8)                         // lcbPlcPcd: two CPs, one PCD
    table.putInt(0).putInt(text.length)             // the piece's CP range
    table.putShort(0)                               // PCD flags
    table.putInt(0x40000000 | (textAt * 2))         // fc: compressed, offset * 2
    table.putShort(0)                               // prm
    val word = ByteBuffer.allocate(textAt + text.length).order(ByteOrder.LITTLE_ENDIAN)
    word.putShort(0, 0xA5EC.toShort)                // wIdent
    word.putShort(0x0A, 0x0200.toShort)             // fWhichTblStm: 1Table
    word.putInt(64 + 12, text.length)               // FibRgLw97.ccpText
    word.putInt(154 + 33 * 8, 0)                    // fcClx
    word.putInt(154 + 33 * 8 + 4, table.capacity)   // lcbClx
    word.position(textAt); word.put(text)
    cfb(Seq("WordDocument" -> word.array(), "1Table" -> table.array()))
  }

  /** A PDF whose one content stream shows `lines`, one per text line. */
  def textPdf(lines: Seq[String]): Array[Byte] = {
    val content = lines.map(l => s"($l) Tj").mkString("BT ", " T* ", " ET")
    (s"%PDF-1.4\n1 0 obj\n<< /Length ${content.length} >>\nstream\n$content\n" +
      "endstream\nendobj\n%%EOF").getBytes("ISO-8859-1")
  }

  // --------------------------------------------------- agile OOXML crypto

  private val VerifierInputBlock = Array(0xfe, 0xa7, 0xd2, 0x76, 0x3b, 0x4b, 0x9e, 0x79).map(_.toByte)
  private val VerifierValueBlock = Array(0xd7, 0xaa, 0x0f, 0x6d, 0x30, 0x61, 0x34, 0x4e).map(_.toByte)
  private val KeyValueBlock = Array(0x14, 0x6e, 0x0b, 0xe7, 0xab, 0xac, 0xd0, 0xd6).map(_.toByte)

  /** Wrap a zip payload in an agile-encryption envelope decryptable with
    * `password` — fixed salts keep the fixture deterministic. */
  def agileEncrypt(zip: Array[Byte], password: String,
                   spinCount: Int = 1000): Array[Byte] = {
    val pwSalt = Array.tabulate(16)(i => (i * 7 + 1).toByte)
    val kdSalt = Array.tabulate(16)(i => (i * 13 + 5).toByte)
    val md = MessageDigest.getInstance("SHA-512")

    var h = md.digest(pwSalt ++ password.getBytes("UTF-16LE"))
    var i = 0
    while (i < spinCount) {
      md.reset(); md.update(le32(i)); md.update(h); h = md.digest(); i += 1
    }
    def derived(block: Array[Byte]): Array[Byte] = {
      md.reset(); md.update(h); md.update(block); md.digest().take(32)
    }
    def pad16(data: Array[Byte]): Array[Byte] =
      if (data.length % 16 == 0) data
      else data.padTo(data.length + (16 - data.length % 16), 0.toByte)
    def enc(key: Array[Byte], iv: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val c = Cipher.getInstance("AES/CBC/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"),
        new IvParameterSpec(iv.take(16)))
      c.doFinal(pad16(data))
    }
    def b64(bytes: Array[Byte]): String =
      java.util.Base64.getEncoder.encodeToString(bytes)

    val verifierInput = Array.tabulate(16)(i => (i * 3 + 2).toByte)
    val encVerifierInput = enc(derived(VerifierInputBlock), pwSalt, verifierInput)
    md.reset()
    val verifierHash = md.digest(verifierInput)     // 64 bytes, 16-aligned
    val encVerifierValue = enc(derived(VerifierValueBlock), pwSalt, verifierHash)
    val packageKey = Array.tabulate(32)(i => (i * 11 + 7).toByte)
    val encKeyValue = enc(derived(KeyValueBlock), pwSalt, packageKey)

    val pkg = new java.io.ByteArrayOutputStream()
    pkg.write(le32(zip.length)); pkg.write(le32(0)) // LE64 payload size
    var seg = 0
    var pos = 0
    while (pos < zip.length) {
      val n = math.min(4096, zip.length - pos)
      md.reset(); md.update(kdSalt); md.update(le32(seg))
      val iv = md.digest()
      pkg.write(enc(packageKey, iv, zip.slice(pos, pos + n)))
      pos += n
      seg += 1
    }

    val xml =
      s"""<encryption>
         |<keyData saltSize="16" blockSize="16" keyBits="256" hashSize="64"
         | cipherAlgorithm="AES" cipherChaining="ChainingModeCBC"
         | hashAlgorithm="SHA512" saltValue="${b64(kdSalt)}"/>
         |<keyEncryptors><keyEncryptor><encryptedKey spinCount="$spinCount"
         | saltSize="16" blockSize="16" keyBits="256" hashSize="64"
         | cipherAlgorithm="AES" cipherChaining="ChainingModeCBC"
         | hashAlgorithm="SHA512" saltValue="${b64(pwSalt)}"
         | encryptedVerifierHashInput="${b64(encVerifierInput)}"
         | encryptedVerifierHashValue="${b64(encVerifierValue)}"
         | encryptedKeyValue="${b64(encKeyValue)}"/>
         |</keyEncryptor></keyEncryptors></encryption>""".stripMargin
    val info = Array[Byte](4, 0, 4, 0, 0x40, 0, 0, 0) ++ xml.getBytes("UTF-8")
    cfb(Seq("EncryptionInfo" -> info, "EncryptedPackage" -> pkg.toByteArray))
  }
}
