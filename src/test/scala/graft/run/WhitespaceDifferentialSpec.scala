package graft.run

import graft.SparkSpec
import graft.compile.{MappingCompiler, RowMapper}
import graft.model.{MappingLoader, TableMapping}
import graft.queries.Fixtures
import org.apache.avro.SchemaBuilder
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericDatumWriter, GenericRecord, GenericRecordBuilder}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** One seeded table, written as csv, tsv, jsonl, fixed-width text, xlsx,
  * `.xls`, avro and parquet, imported through [[Importer.extract]] with
  * one mapping: every format gives the `fields` and `rawtext` that
  * [[RowMapper.mappedLine]] gives over the table's rows. The cells carry
  * Ruby's two whitespace sets at both ends (tab, CR, NBSP, U+3000, NUL),
  * quotes, the delimiter and a non-BMP character. Every file but the
  * parquet one ends in two trailer rows, which `footer_lines: 2` drops;
  * the parquet file is imported without it, since a columnar file rejects
  * `footer_lines`.
  *
  * What a format cannot carry is declared here, in `carried`, and applied
  * to the rows the interpreter sees; nothing else differs. */
class WhitespaceDifferentialSpec extends SparkSpec {

  import WhitespaceDifferentialSpec.Format

  private val names = Seq("c0", "c1", "c2", "c3")

  /** Default normalise on every column (M13), the `strip` cleaner (M9),
    * `match` (M11) and a non-compact join (M17). */
  private val columnsYaml =
    """|columns:
       |- column: c0
       |  unpack_pattern: A{w}
       |  mappings:
       |  - field: c0
       |  - field: joined
       |    order: 1
       |    join: "|"
       |    compact: false
       |- column: c1
       |  unpack_pattern: A{w}
       |  mappings:
       |  - field: c1
       |  - field: stripped
       |    clean: :strip
       |- column: c2
       |  unpack_pattern: A{w}
       |  mappings:
       |  - field: c2
       |  - field: matched
       |    match: !ruby/regexp /^([^,]*)/
       |- column: c3
       |  unpack_pattern: A{w}
       |  mappings:
       |  - field: c3
       |  - field: joined
       |    order: 2
       |    join: "|"
       |""".stripMargin

  private val space = Seq(" ", "\t", "\u00A0", "\u3000", "\u0000", "\r")
  private val content = Seq("x", "a b", "\"q\"", ",", "\uD83D\uDE00", "é", "x\ty")

  private val rows: Seq[Seq[String]] = {
    def some(pool: Seq[String], max: Int) =
      Gen.choose(0, max).flatMap(n => Gen.listOfN(n, Gen.oneOf(pool))).map(_.mkString)
    val cell = for (a <- some(space, 2); b <- some(content, 2); c <- some(space, 2)) yield a + b + c
    Gen.listOfN(60, Gen.listOfN(names.size, cell)).apply(Gen.Parameters.default, Seed(20L)).get
  }

  /** The two rows after the table that `footer_lines: 2` must drop. */
  private val trailer = Seq(Seq("END", "of", "table", "\t"), Seq("total", "60", "x", "y"))

  /** The rows of every file but the parquet one: header, table, trailer. */
  private val written = names +: rows ++: trailer

  /** Widest cell in code points, plus one so every cell is padded. */
  private val width = written.flatten.map(s => s.codePointCount(0, s.length)).max + 1

  private def mapping(extra: String, footerLines: Int): TableMapping = MappingLoader.loadTable(
    s"klass: K\nheader_lines: 1\nfooter_lines: $footerLines\n$extra" +
      columnsYaml.replace("{w}", width.toString))

  // ---------------------------------------------------------------- writers

  private def csv(sep: Char)(cells: Seq[String]): String =
    cells.map { c =>
      if (c.isEmpty || c.exists(ch => ch == sep || ch == '"' || ch == '\r' || ch == '\n'))
        "\"" + c.replace("\"", "\"\"") + "\""
      else c
    }.mkString(sep.toString)

  private def json(cells: Seq[String]): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    cells.map(m.writeValueAsString).mkString("[", ",", "]")
  }

  private def padded(cells: Seq[String]): String =
    cells.map(c => c + " " * (width - c.codePointCount(0, c.length))).mkString

  private def lines(f: Seq[String] => String): Array[Byte] =
    written.map(f).mkString("", "\n", "\n").getBytes(UTF_8)

  private def avro: Array[Byte] = {
    val schema = names.foldLeft(SchemaBuilder.record("T").fields())(_.requiredString(_)).endRecord()
    val out = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    (rows ++ trailer).foreach { r =>
      val b = new GenericRecordBuilder(schema)
      names.zip(r).foreach { case (n, v) => b.set(n, v) }
      w.append(b.build())
    }
    w.close()
    out.toByteArray
  }

  private val rubyStrip = graft.clean.RubyTranslate.strip(_: String)

  private val formats = Seq(
    Format("t.csv", "", identity, () => Some(lines(csv(',')))),
    Format("t.tsv", "format: csv\ndelimiter: \"\\t\"\n", identity, () => Some(lines(csv('\t')))),
    Format("t.jsonl", "", identity, () => Some(lines(json))),
    // a line cannot hold a line break, so CR is left out of the file; `A`
    // drops the padding with any trailing space or NUL of the cell
    Format("t.txt", "", c => unpackA(c.replace("\r", "")),
      () => Some(lines(cells => padded(cells.map(_.replace("\r", "")))))),
    // Roo reads each cell `to_s.strip`; XML 1.0 text cannot hold NUL, so it
    // is left out of the file, and XML parsers read CR as LF
    Format("t.xlsx", "", c => rubyStrip(c.replace("\u0000", "").replace("\r", "\n")),
      () => Some(Fixtures.xlsx(Seq("S" -> written.map(_.map(_.replace("\u0000", ""))))))),
    Format("t.xls", "", rubyStrip, () => Some(Fixtures.xls(Seq("S" -> written)))),
    Format("t.avro", "", identity, () => Some(avro)),
    Format("t.parquet", "", identity, () => None))

  private def unpackA(s: String): String = s.reverse.dropWhile(c => c == ' ' || c == '\u0000').reverse

  test("eight formats give the interpreter's fields and rawtext, cell for cell") {
    val dir = Files.createTempDirectory("graft_ws")
    try {
      val diverged = formats.flatMap(f => divergence(f, dir.resolve(f.file)).map(f.file + ": " + _))
      assert(diverged.isEmpty, diverged.mkString("\n"))
      val parquet = dir.resolve("t.parquet").toString
      val e = intercept[RuntimeException](Importer.extract(spark, parquet, Seq(mapping("", 2))))
      assert(e.getMessage == s"footer_lines does not apply to the columnar file '$parquet'")
    } finally deleteAll(dir)
  }

  /** The first row where `f`'s import differs from the interpreter, if any. */
  private def divergence(f: Format, path: Path): Option[String] = {
    import spark.implicits._
    val footerLines = f.bytes() match {
      case Some(b) => Files.write(path, b); trailer.size
      case None =>
        rows.map { case Seq(a, b, c, d) => (a, b, c, d) }.toDF(names: _*)
          .coalesce(1).write.parquet(path.toString)
        0
    }
    val m = mapping(f.extra, footerLines)
    val merged = MappingCompiler(m).mergedColumns
    val expected = rows.map(r => RowMapper.mappedLine(r.map(f.carried), merged))
    val got = try Importer.extract(spark, path.toString, Seq(m)).flatMap(_.records
        .orderBy("index").select("index", "fields", "rawtext").collect()
        .map(r => (r.getLong(0), r.getMap[String, String](1).toMap,
          r.getMap[String, String](2).toMap)))
      catch { case e: Exception => return Some(e.getMessage.linesIterator.next()) }
    if (got.map(_._1) != (1 to rows.size).map(_.toLong))
      return Some(s"indexes ${got.map(_._1)}")
    got.zip(expected).zip(rows).collectFirst {
      case (((_, fields, raw), (expF, expR)), row) if fields != expF || raw != expR =>
        s"row ${row.map(c => show(c)).mkString(", ")}: got ${record(fields, raw)}, " +
          s"expected ${record(expF, expR)}"
    }
  }

  private def record(fields: Map[String, String], raw: Map[String, String]): String =
    Seq(fields, raw).map(_.toSeq.sorted.map { case (k, v) => s"$k=${show(v)}" }.mkString("{", " ", "}"))
      .mkString(" ")

  private def show(s: String): String = if (s == null) "nil" else s.flatMap {
    case c if c < 0x20 || c == '\u00A0' || c == '\u3000' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def deleteAll(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).forEach(deleteAll)
    Files.delete(p)
  }
}

object WhitespaceDifferentialSpec {

  /** One format: its file name, its mapping's extra keys, how a cell
    * arrives through it, and its bytes (None: written by Spark). */
  private final case class Format(file: String, extra: String, carried: String => String,
                                  bytes: () => Option[Array[Byte]])
}
