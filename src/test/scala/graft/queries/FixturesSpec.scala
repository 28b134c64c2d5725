package graft.queries

import graft.sources.ExcelFixtures
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[Fixtures]] is the one writer per binary format: no other source file
  * under `src/` writes a zip, a 7z or a CFB container. Hand-built PDFs that
  * probe parser edge cases are inputs, not writers, and are not scanned. */
class FixturesSpec extends AnyFunSuite {

  test("only Fixtures writes zip, 7z and CFB bytes under src/") {
    val root = Paths.get("src")
    val sources = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    def users(token: String) = sources.collect { case (f, text) if text.contains(token) => f }.toSet
    val writer = "main/scala/graft/queries/Fixtures.scala"
    // tokens spelled in pieces, so this file does not match itself
    assert(users("Zip" + "OutputStream") == Set(writer))
    assert(users("SevenZ" + "OutputFile") == Set(writer))
    // the CFB reader holds the signature it checks; only the writer borrows it
    assert(users("0xE11AB1A1" + "E011CFD0L") == Set("main/scala/graft/sources/Cfb.scala"))
    assert(users("Cfb." + "Signature") == Set(writer))
  }

  test("xlsx: sheets in order, cells escaped, columns past Z") {
    val wide = (0 until 28).map(i => s"c$i <&>")
    val book = Fixtures.xlsx(Seq("One & Two" -> Seq(wide, Seq("x")), "Empty" -> Nil))
    assert(ExcelFixtures.sheets(book) == Seq("One & Two" -> Seq(wide, "x" +: Seq.fill(27)(null))))
  }
}
