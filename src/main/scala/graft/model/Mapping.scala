package graft.model

/** The YAML-serialisable mapping model — a Scala rendering of the
  * reference's `NdrImport::Table` option vocabulary
  * (`lib/ndr_import/table.rb:13-17`, `lib/ndr_import/mapper.rb:12-36`,
  * `lib/ndr_import/non_tabular/table.rb:19-28`).
  *
  * All values are kept close to their YAML shapes; the compiler
  * (graft.compile.MappingCompiler) is where they become Catalyst
  * expressions.
  */

/** One `replace` entry: pattern (Ruby regex source or literal) → replacement. */
final case class Replace(pattern: String, replacement: String, isRegex: Boolean)

/** A field mapping — one output field derived from one input column
  * (`mapper.rb:133-169`). */
final case class FieldMapping(
    field: String,
    replace: Seq[Replace] = Nil,
    format: Option[String] = None,
    clean: Seq[String] = Nil,
    map: Option[Map[String, String]] = None,
    matchRegex: Option[String] = None,
    daysafter: Option[String] = None,
    order: Option[Int] = None,
    join: Option[String] = None,
    compact: Option[Boolean] = None,
    priority: Option[Int] = None,
    zipOrder: Option[Int] = None,
    splitChar: Option[String] = None,
    validatesPresence: Boolean = false) {
  def hasJoin: Boolean = join.isDefined
}

/** Per-record-line capture spec for non-tabular tables
  * (`non_tabular/column_mapping.rb`). `lines` is an int, an inclusive or
  * exclusive range, or a regex-bounded range resolved per record. */
sealed trait LineSelector
object LineSelector {
  final case class At(i: Int) extends LineSelector
  final case class Range(from: Bound, to: Bound, exclusive: Boolean) extends LineSelector
  sealed trait Bound
  final case class IntBound(i: Int) extends Bound
  final case class RegexBound(pattern: String) extends Bound
}

final case class NonTabularCell(
    lines: Option[LineSelector] = None,
    capture: Seq[String] = Nil,
    join: Option[String] = None,
    preserveBlankLines: Boolean = false)

/** A column mapping (`mapper.rb:12-36` key vocabulary). `column` may be a
  * literal name or a regex (T4 — mutated to the matching header text). */
final case class ColumnMapping(
    column: Option[String] = None,
    columnRegex: Option[String] = None,
    rawtextName: Option[String] = None,
    klass: Seq[String] = Nil,
    doNotCapture: Boolean = false,
    standardMapping: Option[String] = None,
    decode: Seq[String] = Nil,
    mapColumnNameTo: Option[String] = None,
    mappings: Seq[FieldMapping] = Nil,
    unpackPattern: Option[String] = None,
    nonTabularCell: Option[NonTabularCell] = None,
    xmlCell: Option[XmlCell] = None) {

  /** Rawtext key: explicit rawtext_name, else downcased column name
    * (`mapper.rb:107-109`). */
  def rawtextKey: String =
    rawtextName.orElse(column).map(_.toLowerCase).getOrElse("")
}

/** XML cell spec (`xml/table.rb:191-210`). */
final case class XmlCell(
    relativePath: Option[String] = None,
    attribute: Option[String] = None,
    multiple: Boolean = false,
    incrementFieldName: Boolean = false,
    buildNewRecord: Boolean = true,
    klassSection: Option[String] = None,
    keepKlass: Boolean = false)

/** Non-tabular segmentation options (`non_tabular/table.rb:19-28`). */
final case class NonTabularSpec(
    startLinePattern: String,
    endLinePattern: Option[String] = None,
    captureStartLine: Boolean = false,
    captureEndLine: Boolean = false,
    startInARecord: Boolean = false,
    endInARecord: Boolean = false,
    removeLines: Map[String, Seq[String]] = Map.empty)

/** A table mapping (`table.rb:13-17` `all_valid_options`). */
final case class TableMapping(
    canonicalName: Option[String] = None,
    filenamePattern: Option[String] = None,
    tablenamePattern: Option[String] = None,
    format: Option[String] = None,
    delimiter: Option[String] = None,
    liberalParsing: Boolean = false,
    filePassword: Option[String] = None,
    lastDataColumn: Option[Either[Int, String]] = None,
    headerLines: Int = 0,
    footerLines: Int = 0,
    klass: Option[String] = None,
    slurp: Boolean = false,
    rowIdentifier: Option[String] = None,
    significantMappedFields: Seq[String] = Nil,
    xmlRecordXpath: Option[String] = None,
    patternMatchRecordXpath: Boolean = false,
    yieldXmlRecord: Boolean = false,
    fileMetadata: Map[String, String] = Map.empty,
    nonTabular: Option[NonTabularSpec] = None,
    columns: Seq[ColumnMapping] = Nil) {

  /** Route (filename, tablename) to this mapping (T1, `table.rb:39-42`). */
  def matches(filename: String, tablename: Option[String]): Boolean = {
    val base = new java.io.File(filename).getName
    val fileOk = filenamePattern.forall(p => p.r.findFirstIn(base).isDefined)
    val tableOk = tablename match {
      case None    => true
      case Some(t) => tablenamePattern.forall(p => p.r.findFirstIn(t).isDefined)
    }
    fileOk && tableOk
  }

  /** T5 — `last_data_column` as int or Excel letters ('AE' → 31 1-based).
    * Returns the 0-based index of the last column to keep, or -1 for all
    * (`table.rb:244-262`). */
  def lastColumnToTransform: Int = lastDataColumn match {
    case None               => -1
    case Some(Left(i))      => i - 1
    case Some(Right(label)) =>
      require(label.matches("(?i)[A-Z]+"), s"Unknown 'last_data_column' format: $label")
      label.toUpperCase.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
  }
}
