package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Agile OOXML decryption against the reference's encrypted fixtures
  * (passwords from its tests: xlsx 'carrot', docx 'salad'). Skipped when
  * the corpus is absent. */
class OoxmlCryptoSpec extends AnyFunSuite {

  private val res = "/root/reference/test/resources"
  private def fixture(name: String): Option[Array[Byte]] = {
    val p = Paths.get(res, name)
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  test("password-protected xlsx decrypts and parses (password 'carrot')") {
    assume(fixture("password_protected_sample_xlsx.xlsx").isDefined)
    val bytes = fixture("password_protected_sample_xlsx.xlsx").get
    assert(OoxmlCrypto.isEncrypted(bytes))
    val sheets = ExcelFixtures.sheets(bytes, Some("carrot"))
    assert(sheets.head._2 == Seq(Seq("1A", "1B"), Seq("2A", "2B")))
  }

  test("wrong password raises BadPasswordError; missing password names the fix") {
    assume(fixture("password_protected_sample_xlsx.xlsx").isDefined)
    val bytes = fixture("password_protected_sample_xlsx.xlsx").get
    intercept[OoxmlCrypto.BadPasswordError](OoxmlCrypto.decrypt(bytes, "wrong"))
    val e = intercept[RuntimeException](ExcelFixtures.sheets(bytes))
    assert(e.getMessage.contains("password protected"))
  }

  test("password-protected docx decrypts to its text (password 'salad')") {
    assume(fixture("password_protected_hello_world.docx").isDefined)
    val bytes = fixture("password_protected_hello_world.docx").get
    val text = BinaryDecode.extractWordText(bytes, Some("salad"))
    assert(text.startsWith("Hello world, this is a modern word document"))
  }
}
