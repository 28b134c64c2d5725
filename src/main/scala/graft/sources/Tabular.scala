package graft.sources

import graft.model.TableMapping
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType, StructField, StructType}

/** Tabular sources: delimited (S2), fixed-width (T9), JSON Lines (S5) and
  * VCF (S11) — each producing the mapping compiler's input contract
  * `(file, lineno, cells: array<string>)`.
  *
  * All of these ride on [[LineSource]] (per-file ordered, narrow) and parse
  * lines with built-in expressions (`from_csv`, `split`, `substring`,
  * `from_json`) so parsing stays inside codegen.
  */
object Tabular {

  /** S2 — delimited. Single-char separators go through `from_csv` (full
    * quote handling, `liberal` ≈ unescapedQuoteHandling=STOP_AT_DELIMITER,
    * reference `helpers/file/delimited.rb:31-100`); multi-char separators
    * are plain splits (the reference feeds those through CSV with a fake
    * col_sep too). Cell count is bounded by the mapping's column count,
    * like the reference's positional semantics.
    */
  def delimited(spark: SparkSession, paths: Seq[String], mapping: TableMapping): DataFrame = {
    val sep = mapping.delimiter.getOrElse(",")
    // quote-aware record split so embedded newlines in quoted fields stay
    // inside their record (Ruby CSV semantics)
    val lines = if (sep.length == 1) LineSource.csvLines(spark, paths)
                else LineSource.lines(spark, paths)
    delimitedCells(lines, sep, mapping.columns.size, mapping.liberalParsing)
  }

  def delimitedCells(linesDf: DataFrame, sep: String, nCols: Int,
                     liberal: Boolean): DataFrame = {
    val cells: Column =
      if (sep.length == 1) {
        // one probe column beyond the mapping width: a non-null there means
        // the source row is over-wide, which MappingCompiler.records must
        // see (the reference raises "Line has too many columns" — it never
        // silently truncates; `mapper.rb:96-99`)
        val schema = StructType(
          (0 to nCols).map(i => StructField(s"c$i", StringType)) :+
            StructField("_corrupt", StringType))
        // Ruby CSV: a quote in a quoted field is doubled (Spark's default
        // escape is a backslash; with the quote as escape, univocity's
        // default escape-of-the-escape, NUL, drops NULs), and only an
        // unquoted empty field is nil (`nullValue`: a string no cell holds)
        val opts = Map(
          "sep" -> sep, "escape" -> "\"", "charToEscapeQuoteEscaping" -> "\"",
          "nullValue" -> "\u0000graft:nil\u0000", "mode" -> "PERMISSIVE",
          "enforceSchema" -> "true",
          "columnNameOfCorruptRecord" -> "_corrupt",
          "unescapedQuoteHandling" ->
            (if (liberal) "STOP_AT_DELIMITER" else "STOP_AT_CLOSING_QUOTE"))
        val parsed = from_csv(col("line"), schema, opts)
        val inWidth = array((0 until nCols).map(i => parsed.getField(s"c$i")): _*)
        val probe = parsed.getField(s"c$nCols")
        val plain =
          when(probe.isNotNull, concat(inWidth, array(probe))).otherwise(inWidth)
        if (liberal) plain
        else {
          // Ruby CSV's grammar: fields are fully quoted or contain no raw
          // quotes; a quote inside an unquoted field is "Illegal quoting".
          // The reference aborts the import on the first bad row, named
          // 1-based (`helpers/file/delimited.rb:90-100`) — unconditional
          // here too; `liberal_parsing` is the sanctioned tolerance knob.
          // The grammar regex is the sole check: _corrupt also fires on
          // benign token-count mismatches against the probe-widened schema,
          // and over-wide rows must reach the mapper's own "too many
          // columns" error, not a CSV-format one.
          val q = java.util.regex.Pattern.quote(sep)
          val field = "(?:\"(?:[^\"]|\"\")*\"|[^\"" + q + "]*)"
          val validLine = s"^$field(?:$q$field)*$$"
          when(!col("line").rlike(validLine),
            array(raise_error(concat(
              lit("Invalid CSV format on row "), (col("lineno") + 1).cast(StringType),
              lit(" of "), element_at(split(col("file"), "/"), -1)))))
            .otherwise(plain)
        }
      } else {
        split(col("line"), java.util.regex.Pattern.quote(sep), -1)
      }
    linesDf.select(col("file"), col("lineno"), cells.as("cells"))
  }

  /** T9 — fixed-width unpack. Supports Ruby `String#unpack` directives
    * `a<n>` (raw) and `A<n>` (trailing spaces and NULs removed:
    * [[graft.clean.RubyTranslate.unpackA]]), the two the reference uses
    * (`lib/ndr_import/fixed_width/table.rb:13-22`). */
  def fixedWidth(linesDf: DataFrame, unpackPatterns: Seq[String]): DataFrame = {
    final case class Slice(start: Int, len: Int, trim: Boolean)
    val pat = "([aA])(\\d+|\\*)".r
    var pos = 1
    val slices = unpackPatterns.map { p =>
      val m = pat.findFirstMatchIn(p.trim).getOrElse(
        sys.error(s"Unsupported unpack pattern: $p"))
      val len = if (m.group(2) == "*") Int.MaxValue - pos else m.group(2).toInt
      val s = Slice(pos, len, m.group(1) == "A")
      pos += len
      s
    }
    val cells = array(slices.map { s =>
      val sub = substring(col("line"), s.start, s.len)
      if (s.trim) graft.clean.RubyTranslate.unpackA(sub) else sub
    }: _*)
    linesDf.select(col("file"), col("lineno"), cells.as("cells"))
  }

  /** S5 — JSON Lines: array rows give cells by position; object rows give
    * cells in mapping column order (hash rows are keyed by column name in
    * the reference — `lib/ndr_import/file/json_lines.rb:16-50`). Takes
    * [[LineSource.lines]]' (file, lineno, line) frame. */
  def jsonCells(linesDf: DataFrame, columnNames: Seq[String]): DataFrame = {
    val asArray = from_json(col("line"), ArrayType(StringType))
    val asMap = from_json(col("line"), MapType(StringType, StringType))
    val cells = when(asArray.isNotNull, asArray)
      .otherwise(array(columnNames.map(n => try_element_at(asMap, lit(n))): _*))
    linesDf.select(col("file"), col("lineno"), cells.as("cells"))
  }

  /** S11 — VCF: drop `##` meta lines, strip the leading '#' off the #CHROM
    * header, split on tabs; header_lines is forced to 1 by the VCF table
    * (`lib/ndr_import/vcf/table.rb:8-19`). The meta lines are dropped per
    * file as it streams, before lines are numbered, so `lineno` counts the
    * kept lines only. */
  def vcf(spark: SparkSession, paths: Seq[String]): DataFrame =
    LineSource.streamedLines(spark, paths,
        br => LineSource.lineIterator(br).filterNot(_.startsWith("##")))
      .select(col("file"), col("lineno"),
              split(regexp_replace(col("line"), "^#", ""), "\t", -1).as("cells"))
}
