package graft.sources

import graft.queries.Fixtures

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** The two binary Office writers only specs call, on the one CFB writer
  * ([[graft.queries.Fixtures.cfb]]):
  *
  *   - [[wordDoc]]: a Word 97 binary `.doc` (FIB plus a one-piece table);
  *   - [[agileEncrypt]]: an ECMA-376 agile-encryption envelope
  *     (EncryptionInfo + EncryptedPackage) around a zip payload — the exact
  *     inverse of [[OoxmlCrypto.decrypt]]'s KDF and segment cipher.
  */
object SyntheticOffice {

  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)

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
    Fixtures.cfb(Seq("WordDocument" -> word.array(), "1Table" -> table.array()))
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
    Fixtures.cfb(Seq("EncryptionInfo" -> info, "EncryptedPackage" -> pkg.toByteArray))
  }
}
