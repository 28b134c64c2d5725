package graft.clean

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** [[RubyTranslate]]'s whitespace rule: ActiveSupport `blank?` and Ruby's
  * `strip`/`rstrip`/`unpack('A')` over their exact character sets, the
  * `String` and `UTF8String` forms agreeing, and no other whitespace rule
  * left on the mapping path. */
class RubyTranslateSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)

  private val unicodeSpace =
    "\t\n\u000B\f\r \u0085\u00A0\u1680\u2000\u2001\u2005\u200A\u2028\u2029\u202F\u205F\u3000"

  test("blank: empty, nil or Unicode White_Space only; NUL and other controls are not blank") {
    Seq("", " ", unicodeSpace, "\u3000\t", null).foreach(s =>
      assert(RubyTranslate.blank(s), s"${show(s)} should be blank"))
    // NUL; zero-width space and U+180E (not White_Space); FS..US (Java's
    // isWhitespace says yes, Ruby no); a non-BMP letter
    Seq("\u0000", " \u0000 ", "x", " x ", "\u200B", "\u180E", "\u001C", "\u001F",
      "\uD83D\uDE00", "\u3000x").foreach(s =>
      assert(!RubyTranslate.blank(s), s"${show(s)} should not be blank"))
  }

  test("strip and rstrip remove space, \\t \\n \\v \\f \\r and NUL, and nothing outside ASCII") {
    assert(RubyTranslate.strip(" \t\n\u000B\f\r\u0000x y\u0000\r\n ") == "x y")
    assert(RubyTranslate.strip("\u00A0x\u3000") == "\u00A0x\u3000")
    assert(RubyTranslate.strip("\u001Cx\u001F") == "\u001Cx\u001F")
    assert(RubyTranslate.strip(" \u0000\t") == "")
    assert(RubyTranslate.rstrip(" \tx \u0000\t") == " \tx")
    assert(RubyTranslate.rstrip("\u0000") == "")
  }

  test("unpackA removes trailing spaces and NULs only") {
    assert(RubyTranslate.unpackA(u(" x \u0000 \u0000")).toString == " x")
    assert(RubyTranslate.unpackA(u("x\t")).toString == "x\t")
    assert(RubyTranslate.unpackA(u("x\u00A0 ")).toString == "x\u00A0")
    assert(RubyTranslate.unpackA(u("  ")).toString == "")
  }

  test("the UTF8String forms agree with the String forms, and return a clean input as it is") {
    val chars = Gen.oneOf(("ab \u0000\u00A0\u3000\u2028\u0085\u001C\u200B" + unicodeSpace).toSeq
      .map(_.toString) :+ "\uD83D\uDE00" :+ "é")
    val strings = Gen.listOfN(200, Gen.choose(0, 6).flatMap(n => Gen.listOfN(n, chars)
      .map(_.mkString))).apply(Gen.Parameters.default, Seed(7L)).get
    strings.foreach { s =>
      assert(RubyTranslate.blank(u(s)) == RubyTranslate.blank(s), show(s))
      assert(RubyTranslate.strip(u(s)).toString == RubyTranslate.strip(s), show(s))
    }
    val clean = u("x \u3000y")
    assert(RubyTranslate.strip(clean) eq clean)
    assert(RubyTranslate.unpackA(clean) eq clean)
  }

  test("no whitespace rule but RubyTranslate's on the mapping path") {
    val main = Paths.get("src/main/scala/graft")
    def scalaFiles(dir: String): Seq[Path] =
      Files.walk(main.resolve(dir)).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val scanned = (Seq("compile", "clean", "tabulate", "xml").flatMap(scalaFiles) :+
      main.resolve("functions/BlankToNull.scala"))
      .filterNot(_.endsWith("RubyTranslate.scala"))
    assert(scanned.size >= 7)
    val tokens = Seq(".trim", "trim(", "ltrim(", "rtrim(", "Character.isWhitespace")
    val hits = for {
      f <- scanned
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      t <- tokens if line.contains(t)
    } yield s"${main.relativize(f)}:${n + 1}: $t"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  private def show(s: String) =
    if (s == null) "nil" else s.map(c => f"\\u${c.toInt}%04x").mkString("\"", "", "\"")
}
