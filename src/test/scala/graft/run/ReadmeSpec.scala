package graft.run

import graft.SparkSpec
import graft.compile.MappingCompiler
import graft.model.MappingLoader
import graft.sources.LineSource
import graft.tabulate.NonTabular
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The reference README's worked example (`README.md:27-48`,
  * `test/readme_test.rb`): a pathology report flat file segmented on
  * dividers, nhsnumber captured from the D| line, the report body joined
  * from R|/numbered lines. */
class ReadmeSpec extends SparkSpec {

  test("README pathology example end to end") {
    val dir = Files.createTempDirectory("readme")
    val txt = dir.resolve("reports.txt")
    Files.write(txt,
      ("D|1111111111|x\nR|This is a\n1|multiline report\n------\n" +
       "D|2222222222|y\nR|Second\n1|report body\n------\n").getBytes("UTF-8"))

    val mapping = MappingLoader.loadTable(
      """|klass: PathologyReport
         |start_line_pattern: !ruby/regexp /\A------\z/
         |start_in_a_record: true
         |end_in_a_record: false
         |columns:
         |- column: nhsnumber
         |  non_tabular_cell:
         |    lines: 0
         |    capture: !ruby/regexp /^D\|([^|]*).*/
         |  mappings:
         |  - field: nhsnumber
         |    clean: :nhsnumber
         |- column: fulltextreport
         |  non_tabular_cell:
         |    lines: !ruby/range
         |      begin: 1
         |      end: -1
         |      excl: false
         |    capture: !ruby/regexp /^(?:R|\d+)\|(.*)$/i
         |    join: "\n"
         |  mappings:
         |  - field: fulltextreport
         |""".stripMargin)

    val lines = LineSource.lines(spark, Seq(txt.toString))
    val recs = MappingCompiler(mapping).records(NonTabular.tabulate(lines, mapping))
      .orderBy("index")
      .select(col("klass"),
        element_at(col("fields"), "nhsnumber").as("nhs"),
        element_at(col("fields"), "fulltextreport").as("report"))
      .collect()

    assert(recs.length == 2)
    assert(recs(0).getString(0) == "PathologyReport")
    assert(recs(0).getString(1) == "1111111111")
    assert(recs(0).getString(2) == "This is a\nmultiline report")
    assert(recs(1).getString(1) == "2222222222")
    assert(recs(1).getString(2) == "Second\nreport body")
  }

  test("README's oracle-battery query count matches the registry") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val counts = """(\d+)-query oracle battery""".r
      .findAllMatchIn(readme).map(_.group(1).toInt).toSeq
    assert(counts == Seq(graft.SparkEntry.queries.size))
  }

  test("every dir/File.scala path in the coverage map exists under src/main/scala/graft") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val table = readme.linesIterator.dropWhile(!_.startsWith("## Coverage map"))
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|")).mkString("\n")
    val cited = """`([a-z]+/[A-Za-z0-9]+\.scala)""".r
      .findAllMatchIn(table).map(_.group(1)).toSeq.distinct
    assert(cited.size >= 20, s"too few cited files for a meaningful check: $cited")
    val missing = cited.filterNot(f =>
      Files.isRegularFile(Paths.get("src/main/scala/graft", f)))
    assert(missing.isEmpty, s"README coverage map cites missing files: $missing")
  }
}
