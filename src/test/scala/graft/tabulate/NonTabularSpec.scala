package graft.tabulate

import graft.SparkSpec
import graft.model.MappingLoader
import org.apache.spark.sql.functions._

/** Ported from the reference's `test/non_tabular/table_test.rb` — the
  * expected record counts/contents pin the segmentation semantics. */
class NonTabularSpec extends SparkSpec {

  private def linesDf(text: String, file: String = "f1") = {
    import spark.implicits._
    text.split("\n", -1).toSeq.zipWithIndex
      .map { case (l, i) => (file, i.toLong, l) }
      .toDF("file", "lineno", "line")
  }

  private val simpleDivider =
    """111
      |Lorem ipsum dolor sit amet, consectetur adipisicing elit, sed do eiusmod tempor incididunt.
      |------
      |222
      |Ut enim ad minim veniam, quis nostrud exercitation ullamco laboris nisi ut aliquip ex ea commodo.
      |------
      |333
      |Duis aute irure dolor in reprehenderit in voluptate velit esse cillum dolore eu fugiat nulla.
      |------
      |444
      |Excepteur sint occaecat cupidatat non proident, sunt in culpa qui officia deserunt mollit anim.""".stripMargin

  private def dividerYaml(extra: String = "") =
    s"""|klass: SomeTestKlass
        |start_line_pattern: !ruby/regexp /^-{6}$$/
        |$extra
        |columns:
        |- column: one
        |  non_tabular_cell:
        |    lines: !ruby/range
        |      begin: 0
        |      end: -1
        |      excl: false
        |    capture: !ruby/regexp /^(.*)$$/i
        |    join: "\\n"
        |""".stripMargin

  private def run(yaml: String, text: String): Seq[String] = {
    val mapping = MappingLoader.loadTable(yaml)
    NonTabular.tabulate(linesDf(text), mapping)
      .orderBy("lineno")
      .select(element_at(col("cells"), 1))
      .collect().map(r => Option(r.getString(0)).getOrElse("<null>")).toSeq
  }

  test("no start_in_a_record or end_in_a_record → two middle records") {
    val rs = run(dividerYaml(), simpleDivider)
    assert(rs.length == 2)
    assert(rs.head.startsWith("222"))
    assert(rs.last.startsWith("333"))
  }

  test("start_in_a_record → three records, first starts 111") {
    val rs = run(dividerYaml("start_in_a_record: true"), simpleDivider)
    assert(rs.length == 3)
    assert(rs.head.startsWith("111"))
    assert(rs.last.startsWith("333"))
  }

  test("end_in_a_record → three records, last starts 444") {
    val rs = run(dividerYaml("end_in_a_record: true"), simpleDivider)
    assert(rs.length == 3)
    assert(rs.head.startsWith("222"))
    assert(rs.last.startsWith("444"))
  }

  test("both flags → all four records") {
    val rs = run(dividerYaml("start_in_a_record: true\nend_in_a_record: true"),
                 simpleDivider)
    assert(rs.length == 4)
    assert(rs.head.startsWith("111"))
    assert(rs.last.startsWith("444"))
  }

  test("no divider at all with both flags → one record") {
    val text = "111\nLorem ipsum dolor sit amet, consectetur adipisicing elit."
    val rs = run(dividerYaml("start_in_a_record: true\nend_in_a_record: true"), text)
    assert(rs.length == 1)
    assert(rs.head.startsWith("111"))
  }

  test("start and end dividers: between-record lines never captured") {
    val text =
      """----- START -----
        |111
        |Lorem ipsum.
        |------ END ------
        |This is never captured
        |----- START -----
        |222
        |Ut enim ad minim veniam.
        |------ END ------
        |This is never captured
        |----- START -----
        |333
        |Duis aute irure dolor.
        |------ END ------
        |This is never captured
        |----- START -----
        |444
        |This is captured
        |Excepteur sint occaecat.
        |------ END ------""".stripMargin
    val yaml =
      """|klass: SomeTestKlass
         |start_line_pattern: !ruby/regexp /^----- START -----$/
         |end_line_pattern: !ruby/regexp /^------ END ------$/
         |columns:
         |- column: one
         |  non_tabular_cell:
         |    lines: !ruby/range
         |      begin: 0
         |      end: -1
         |      excl: false
         |    capture: !ruby/regexp /^(.*)$/i
         |    join: "\n"
         |""".stripMargin
    val rs = run(yaml, text)
    assert(rs.length == 4)
    assert(rs.head.startsWith("111"))
    assert(rs.last.startsWith("444"))
    assert(rs.exists(_.contains("This is captured")))
    assert(!rs.exists(_.contains("This is never captured")))
  }

  test("capture_start_line + capture_end_line; lines: -1 picks end line") {
    val text =
      """111
        |Lorem ipsum dolor sit amet.
        |CAPTURE THIS CODE ABC
        |111
        |Lorem ipsum dolor sit amet.
        |CAPTURE THIS CODE XYZ
        |111
        |Lorem ipsum dolor sit amet.
        |CAPTURE THIS CODE 123""".stripMargin
    val yaml =
      """|klass: SomeTestKlass
         |start_line_pattern: !ruby/regexp /\A111\z/
         |end_line_pattern: !ruby/regexp /\ACAPTURE THIS CODE/
         |capture_start_line: true
         |capture_end_line: true
         |columns:
         |- column: one
         |  non_tabular_cell:
         |    lines: -1
         |    capture: !ruby/regexp /\A(.*)\z/i
         |""".stripMargin
    val rs = run(yaml, text)
    assert(rs.length == 3)
    assert(rs.head == "CAPTURE THIS CODE ABC")
    assert(rs.last == "CAPTURE THIS CODE 123")
  }

  test("flat_file: remove_lines + RegexpRange + int + range cells") {
    val text =
      """0
        |This is never captured
        |------
        |1
        |== Page 1 of 5 ==
        |Lorem ipsum A
        |Lorem ipsum B
        |== Page 2 of 5 ==
        |Lorem ipsum C
        |------
        |2
        |This is captured
        |== Page 3 of 5 ==
        |------
        |-1
        |== Page 4 of 5 ==
        |This is never captured""".stripMargin
    val yaml =
      """|klass: SomeTestKlass
         |start_line_pattern: !ruby/regexp /\A------\z/
         |start_in_a_record: false
         |end_in_a_record: false
         |remove_lines:
         |  footer:
         |  - !ruby/regexp /\A== Page \d+ of \d+ ==\z/i
         |columns:
         |- column: one
         |  non_tabular_cell:
         |    lines: !ruby/range
         |      begin: 0
         |      end: -1
         |      excl: true
         |    capture: !ruby/regexp /^(.*)$/i
         |    join: "\n"
         |""".stripMargin
    val rs = run(yaml, text)
    // records 1 and 2 (segment 0 dropped: no start_in_a_record;
    // trailing dropped: no end_in_a_record); page markers removed
    assert(rs.length == 2)
    assert(rs.head == "1\nLorem ipsum A\nLorem ipsum B") // excl drops last line
    assert(rs.last == "2")
    assert(!rs.exists(_.contains("Page")))
  }

  test("RegexpRange bounds: inclusive, exclusive, to-end; no match → null") {
    val text =
      """------
        |CAPTURE INCLUSIVE
        |Lorem ipsum dolor sit amet,
        |Capture me.
        |CAPTURE EXCLUSIVE
        |Ut enim ad minim veniam.
        |Do NOT capture me.
        |CAPTURE TO END
        |Tail line.
        |------
        |x""".stripMargin
    val yaml =
      """|klass: SomeTestKlass
         |start_line_pattern: !ruby/regexp /\A------\z/
         |columns:
         |- column: capture_inclusive
         |  non_tabular_cell:
         |    lines: !ruby/object:RegexpRange
         |      begin: !ruby/regexp /^CAPTURE INCLUSIVE$/
         |      end: !ruby/regexp /^Capture me.$/i
         |      excl: false
         |    capture: !ruby/regexp /^(.*)$/i
         |    join: "\n"
         |- column: capture_exclusive
         |  non_tabular_cell:
         |    lines: !ruby/object:RegexpRange
         |      begin: !ruby/regexp /^CAPTURE EXCLUSIVE$/
         |      end: !ruby/regexp /^Do NOT capture me.$/i
         |      excl: true
         |    capture: !ruby/regexp /^(.*)$/i
         |    join: "\n"
         |- column: capture_to_end
         |  non_tabular_cell:
         |    lines: !ruby/object:RegexpRange
         |      begin: !ruby/regexp /^CAPTURE TO END$/
         |      end: -1
         |      excl: false
         |    capture: !ruby/regexp /^(.*)$/i
         |    join: "\n"
         |- column: no_match
         |  non_tabular_cell:
         |    lines: !ruby/object:RegexpRange
         |      begin: !ruby/regexp /^NEVER MATCHES$/
         |      end: -1
         |      excl: false
         |    capture: !ruby/regexp /^(.*)$/i
         |""".stripMargin
    val mapping = MappingLoader.loadTable(yaml)
    val row = NonTabular.tabulate(linesDf(text), mapping)
      .orderBy("lineno").select(col("cells")).collect().head.getSeq[String](0)
    assert(row(0) == "CAPTURE INCLUSIVE\nLorem ipsum dolor sit amet,\nCapture me.")
    assert(row(1) == "CAPTURE EXCLUSIVE\nUt enim ad minim veniam.")
    assert(row(2) == "CAPTURE TO END\nTail line.")
    assert(row(3) == null)
  }

  test("missing non_tabular_cell / lines / capture → MappingError") {
    def tab(yaml: String): Unit =
      NonTabular.tabulate(linesDf("x"), MappingLoader.loadTable(yaml))
    val base = "klass: K\nstart_line_pattern: !ruby/regexp /^-+$/\ncolumns:\n"
    intercept[NonTabular.MappingError](tab(base + "- column: one\n"))
    intercept[NonTabular.MappingError](tab(base +
      "- column: one\n  non_tabular_cell:\n    join: x\n"))
    intercept[NonTabular.MappingError](tab(base +
      "- column: one\n  non_tabular_cell:\n    lines: 0\n"))
  }

  test("messages catalogue: per-locale resolution, fallbacks, placeholder args") {
    import graft.runtime.Messages
    // English is the shipped default and carries the placeholder
    assert(Messages("mapping.errors.missing_non_tabular_cell", "name" -> "surname")
      == "This mapping (surname) has no non_tabular_cell")
    // a registered locale resolves its own text; missing keys fall back to en
    Messages.register("xx", Map(
      "mapping.errors.missing_non_tabular_cell" -> "XX %{name} XX"))
    assert(Messages.t("xx", "mapping.errors.missing_non_tabular_cell",
      "name" -> "a") == "XX a XX")
    assert(Messages.t("xx", "mapping.errors.missing_start_line_pattern")
      == "This table has no start_line_pattern")
    // unknown locale falls back wholesale; unknown key fails fast
    assert(Messages.t("zz", "mapping.errors.start_pattern_before_end")
      == Messages("mapping.errors.start_pattern_before_end"))
    intercept[RuntimeException](Messages("mapping.errors.no_such_key"))
    // and the raising sites still produce the English texts (type + text)
    val ex = intercept[NonTabular.MappingError](NonTabular.validate(
      MappingLoader.loadTable("klass: K\ncolumns:\n- column: one\n")))
    assert(ex.getMessage == "This table has no start_line_pattern")
  }

  test("start before end with end pattern → runtime error") {
    val yaml =
      """|klass: K
         |start_line_pattern: !ruby/regexp /\ASTART\z/
         |end_line_pattern: !ruby/regexp /\AEND\z/
         |columns:
         |- column: one
         |  non_tabular_cell:
         |    lines: 0
         |    capture: !ruby/regexp /^(.*)$/
         |""".stripMargin
    val mapping = MappingLoader.loadTable(yaml)
    val ex = intercept[Exception] {
      NonTabular.tabulate(linesDf("START\na\nSTART\nb\nEND"), mapping).collect()
    }
    assert(ex.getMessage.contains("before the end") ||
           Option(ex.getCause).exists(_.getMessage.contains("before the end")))
  }

  test("capture chain: edge cases of record.rb's capture and strip") {
    val cases: Seq[(String, Seq[String], String)] = Seq(
      ("=== ORDER 42", Seq("^=== ORDER (\\d+)$"), "42"),            // plain hit
      ("=== ORDER 42", Seq("^NOPE (\\d+)$"), null),                 // miss -> nil
      (null, Seq("^(.*)$"), ""),                                    // null line -> chain from ""
      ("PRIORITY:   padded\t ", Seq("^PRIORITY: (.*)$"), "padded"), // strip both ends
      ("STATUS:  x\u0000 ", Seq("^STATUS: (.*)$"), "x"),            // NUL strip
      ("a: x b: y", Seq("^a: (.*)$", "x b: (.*)$"), "y"),           // chained captures
      ("a: x", Seq("^a: (.*)$", "^MISS (.*)$", "(.*)"), ""),        // mid-chain miss -> "" rematch
      ("blank:   ", Seq("^blank:(.*)$"), ""),                       // blank survivor
      ("opt", Seq("^opt(?: (\\S+))?$"), ""),                        // absent group -> ""
      ("  keep inner  spaces  ", Seq("^\\s*(.*\\S)\\s*$"), "keep inner  spaces"))
    cases.zipWithIndex.foreach { case ((line, patterns, expected), i) =>
      val got = NonTabular.capture(line, patterns.map(java.util.regex.Pattern.compile))
      assert(got == expected, s"case $i: got '$got', expected '$expected'")
    }
  }

  test("N1: a start line ending in a tab opens a record under a \\z pattern") {
    // line.rb rstrips each line the Ruby way: trailing tab, vertical tab
    // and NUL go as well as spaces, so "START\t" is "START" to the walk
    val yaml =
      """|klass: K
         |start_line_pattern: !ruby/regexp /\ASTART\z/
         |end_in_a_record: true
         |columns:
         |- column: one
         |  non_tabular_cell:
         |    lines: 0
         |    capture: !ruby/regexp /\A(.*)\z/
         |""".stripMargin
    assert(run(yaml, "START\t\nbody\t\nSTART \t\u000B\u0000\nsecond") ==
      Seq("body", "second"))
  }

  test("a repeated (file, lineno) fails loudly, naming the file") {
    import spark.implicits._
    val df = Seq(("dup.txt", 0L, "------"), ("dup.txt", 1L, "a"), ("dup.txt", 1L, "b"))
      .toDF("file", "lineno", "line")
    val ex = intercept[Exception] {
      NonTabular.tabulate(df, MappingLoader.loadTable(dividerYaml())).collect()
    }
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains("repeats line 1 of file dup.txt")),
      messages.mkString("\n"))
  }

  test("interleaved files shuffled over 4 partitions give the per-file records") {
    val mapping = MappingLoader.loadTable(
      dividerYaml("start_in_a_record: true\nend_in_a_record: true"))
    val a = linesDf(simpleDivider, "a.txt")
    val b = linesDf(simpleDivider.replace("Lorem", "Other").replace("444", "555"), "b.txt")
    def records(df: org.apache.spark.sql.DataFrame) =
      NonTabular.tabulate(df, mapping).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).toSet
    val oneAtATime = records(a) ++ records(b)
    assert(oneAtATime.size == 8)
    assert(records(a.union(b).orderBy(rand(7)).repartition(4)) == oneAtATime)
  }

  test("walk: a file that comes back after another file's run fails loudly, naming it") {
    import spark.implicits._
    val mapping = MappingLoader.loadTable(
      dividerYaml("start_in_a_record: true\nend_in_a_record: true"))
    // one partition: a.txt, then b.txt, then a.txt again, each run in order
    val lines = Seq(("a.txt", 0L, "x"), ("a.txt", 1L, "------"), ("b.txt", 0L, "y"),
      ("a.txt", 2L, "z"))
    val df = spark.sparkContext.parallelize(lines, 1).toDF("file", "lineno", "line")
    val ex = intercept[Exception](NonTabular.walk(df, mapping).collect())
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains("returns to file a.txt")),
      messages.mkString("\n"))
    // the same lines, each file's run contiguous, walk to the per-file records
    val ordered = spark.sparkContext.parallelize(lines.sortBy(l => (l._1, l._2)), 1)
      .toDF("file", "lineno", "line")
    assert(NonTabular.walk(ordered, mapping).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).toSeq ==
      Seq(("a.txt", 0L, Seq("x")), ("a.txt", 1L, Seq("z")), ("b.txt", 0L, Seq("y"))))
  }
}
