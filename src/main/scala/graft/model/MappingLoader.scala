package graft.model

import org.yaml.snakeyaml.{LoaderOptions, Yaml}
import org.yaml.snakeyaml.constructor.SafeConstructor
import scala.jdk.CollectionConverters._

/** Loads the reference's YAML table mappings (`table.rb:117-124` round-trip
  * format, `docs/yaml-mapping-user-guide.md`) into the Scala model.
  *
  * Ruby-specific YAML is normalised on the way in:
  *   - `!ruby/object:NdrImport::*` tags are dropped (the node is a plain map)
  *   - `!ruby/regexp /…/flags` scalars become `(?flags)…` Java regex strings,
  *     marked so `column:` regexes stay distinguishable from literal names
  *   - `:symbol` scalars lose their leading colon
  */
object MappingLoader {

  // Marks a scalar that originated as a `!ruby/regexp` literal. Private-use
  // Unicode delimiters: printable to snakeyaml (NUL is rejected by its
  // StreamReader) yet impossible to collide with real mapping text.
  private val RegexMarker = "\uE000re\uE001"

  def loadTables(yamlText: String): Seq[TableMapping] = {
    val doc = parse(yamlText)
    doc match {
      case l: List[_] if l.forall(_.isInstanceOf[Map[_, _]]) &&
          l.asInstanceOf[List[Map[String, Any]]].forall(_.contains("columns")) =>
        l.asInstanceOf[List[Map[String, Any]]].map(tableFromMap)
      case m: Map[_, _] => Seq(tableFromMap(m.asInstanceOf[Map[String, Any]]))
      case l: List[_] => // a bare columns array
        Seq(TableMapping(columns = columnsFromAny(l)))
      case other => throw new IllegalArgumentException(s"Unrecognised mapping YAML: $other")
    }
  }

  def loadTable(yamlText: String): TableMapping = loadTables(yamlText).head

  /** Load just a columns array (the shape used throughout the reference's
    * mapper tests). */
  def loadColumns(yamlText: String): Seq[ColumnMapping] =
    parse(yamlText) match {
      case l: List[_] => columnsFromAny(l)
      case other => throw new IllegalArgumentException(s"Expected a columns list, got: $other")
    }

  // -------------------------------------------------------------- internals

  private[graft] def parse(yamlText: String): Any = {
    val pre = preprocess(yamlText)
    val yaml = new Yaml(new SafeConstructor(new LoaderOptions))
    toScala(yaml.load[Object](pre))
  }

  private def preprocess(text: String): String = {
    // Drop ruby object tags, inline or standalone (incl. `!ruby/range`
    // and `!ruby/object:RegexpRange` — both leave a plain begin/end/excl map).
    var t = text.replaceAll("!ruby/object:[A-Za-z0-9_:]+", "")
      .replaceAll("!ruby/range(?![A-Za-z])", "")
    // Rewrite ruby regexp literals to marked, quoted strings.
    val re = "!ruby/regexp\\s+/((?:[^/\\\\]|\\\\.)*)/([imx]*)".r
    t = re.replaceAllIn(t, m => {
      val body  = m.group(1)
      val flags = m.group(2)
      val javaRe = if (flags.nonEmpty) s"(?$flags)${body}" else body
      val quoted = (RegexMarker + javaRe).replace("\\", "\\\\").replace("\"", "\\\"")
      java.util.regex.Matcher.quoteReplacement("\"" + quoted + "\"")
    })
    t
  }

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, value) => stripSym(String.valueOf(k)) -> toScala(value) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case s: String            => s
    case other                => other
  }

  private def stripSym(s: String): String = s.stripPrefix(":")

  private def str(v: Any): String = v match {
    case null      => null
    case s: String => stripSym(s)
    case other     => String.valueOf(other)
  }

  private def optStr(m: Map[String, Any], k: String): Option[String] =
    m.get(k).filter(_ != null).map(str).filter(_.nonEmpty)

  private def optInt(m: Map[String, Any], k: String): Option[Int] =
    m.get(k).filter(_ != null).map {
      case i: java.lang.Number => i.intValue
      case s: String           => s.toInt
    }

  private def bool(m: Map[String, Any], k: String): Boolean =
    m.get(k).exists {
      case b: java.lang.Boolean => b
      case s: String            => s == "true"
      case _                    => false
    }

  private def strList(v: Any): Seq[String] = v match {
    case null      => Nil
    case l: List[_] => l.map(str)
    case s         => Seq(str(s))
  }

  private def isRegexStr(s: String): Boolean = s != null && s.startsWith(RegexMarker)
  private def unmark(s: String): String = s.stripPrefix(RegexMarker)

  private def tableFromMap(m: Map[String, Any]): TableMapping = {
    val nonTab = optStr(m, "start_line_pattern").map { slp =>
      NonTabularSpec(
        startLinePattern = unmark(slp),
        endLinePattern = optStr(m, "end_line_pattern").map(unmark),
        captureStartLine = bool(m, "capture_start_line"),
        captureEndLine = bool(m, "capture_end_line"),
        startInARecord = bool(m, "start_in_a_record"),
        endInARecord = bool(m, "end_in_a_record"),
        removeLines = m.get("remove_lines") match {
          case Some(rl: Map[String, Any] @unchecked) =>
            rl.map { case (k, v) => k -> strList(v).map(unmark) }
          case _ => Map.empty[String, Seq[String]]
        })
    }
    TableMapping(
      canonicalName = optStr(m, "canonical_name"),
      filenamePattern = optStr(m, "filename_pattern").map(unmark),
      tablenamePattern = optStr(m, "tablename_pattern").map(unmark),
      format = optStr(m, "format"),
      delimiter = optStr(m, "delimiter"),
      liberalParsing = bool(m, "liberal_parsing"),
      filePassword = optStr(m, "file_password"),
      lastDataColumn = m.get("last_data_column").filter(_ != null).map {
        case i: java.lang.Number => Left(i.intValue)
        case s: String           => Right(s)
      },
      headerLines = optInt(m, "header_lines").getOrElse(0),
      footerLines = optInt(m, "footer_lines").getOrElse(0),
      klass = optStr(m, "klass"),
      slurp = bool(m, "slurp"),
      rowIdentifier = optStr(m, "row_identifier"),
      significantMappedFields =
        m.get("significant_mapped_fields").map(strList).getOrElse(Nil),
      xmlRecordXpath = optStr(m, "xml_record_xpath").map(unmark),
      fileMetadata = m.get("xml_file_metadata") match {
        case Some(fm: Map[String, Any] @unchecked) =>
          fm.map { case (k, v) => k -> str(v) }
        case _ => Map.empty[String, String]
      },
      patternMatchRecordXpath = bool(m, "pattern_match_record_xpath"),
      nonTabular = nonTab,
      columns = m.get("columns").map(columnsFromAny).getOrElse(Nil))
  }

  private[graft] def columnsFromAny(v: Any): Seq[ColumnMapping] = v match {
    case l: List[_] => l.map {
      case cm: Map[String, Any] @unchecked => columnFromMap(cm)
      case null                            => ColumnMapping()
      case other => throw new IllegalArgumentException(s"Bad column mapping: $other")
    }
    case other => throw new IllegalArgumentException(s"Bad columns: $other")
  }

  private def columnFromMap(m: Map[String, Any]): ColumnMapping = {
    val rawCol = optStr(m, "column")
    val (colName, colRegex) = rawCol match {
      case Some(s) if isRegexStr(s) => (None, Some(unmark(s)))
      case other                    => (other, None)
    }
    ColumnMapping(
      column = colName,
      columnRegex = colRegex,
      rawtextName = optStr(m, "rawtext_name"),
      klass = m.get("klass").map(strList).getOrElse(Nil),
      doNotCapture = bool(m, "do_not_capture"),
      standardMapping = optStr(m, "standard_mapping"),
      decode = m.get("decode").map(strList).getOrElse(Nil),
      mapColumnNameTo = optStr(m, "map_columname_to"),
      mappings = m.get("mappings") match {
        case Some(l: List[_]) =>
          l.collect { case fm: Map[String, Any] @unchecked => fieldFromMap(fm) }
        case _ => Nil
      },
      unpackPattern = optStr(m, "unpack_pattern"),
      nonTabularCell = m.get("non_tabular_cell") collect {
        case ntc: Map[String, Any] @unchecked => nonTabularCellFromMap(ntc)
      },
      xmlCell = m.get("xml_cell") collect {
        case xc: Map[String, Any] @unchecked => xmlCellFromMap(xc)
      })
  }

  private def fieldFromMap(m: Map[String, Any]): FieldMapping = {
    val replaces: Seq[Replace] = m.get("replace") match {
      case Some(l: List[_]) => l.flatMap {
        case rm: Map[String, Any] @unchecked => rm.toSeq.map(replaceFromPair)
        case _ => Nil
      }
      case Some(rm: Map[String, Any] @unchecked) => rm.toSeq.map(replaceFromPair)
      case _ => Nil
    }
    FieldMapping(
      field = optStr(m, "field").getOrElse(""),
      replace = replaces,
      format = optStr(m, "format"),
      clean = m.get("clean").map(strList).getOrElse(Nil),
      map = m.get("map") collect {
        case mm: Map[String, Any] @unchecked =>
          mm.map { case (k, v) => str(k) -> (if (v == null) "" else str(v)) }
      },
      matchRegex = optStr(m, "match").map(unmark),
      daysafter = m.get("daysafter").filter(_ != null).map(str),
      order = optInt(m, "order"),
      join = m.get("join").filter(_ != null).map(str),
      compact = m.get("compact").collect { case b: java.lang.Boolean => b.booleanValue },
      priority = optInt(m, "priority"),
      zipOrder = optInt(m, "zip_order"),
      splitChar = optStr(m, "split_char"),
      validatesPresence = m.get("validates") match {
        case Some(vm: Map[String, Any] @unchecked) =>
          vm.get("presence").exists { case b: java.lang.Boolean => b; case s => s == "true" }
        case _ => false
      })
  }

  private def replaceFromPair(kv: (String, Any)): Replace = {
    val (k, v) = kv
    if (isRegexStr(k)) Replace(unmark(k), str(v), isRegex = true)
    else Replace(java.util.regex.Pattern.quote(k), str(v), isRegex = false)
  }

  private def nonTabularCellFromMap(m: Map[String, Any]): NonTabularCell = {
    import LineSelector._
    val lines: Option[LineSelector] = m.get("lines").filter(_ != null).map {
      case i: java.lang.Number => At(i.intValue)
      case rm: Map[String, Any] @unchecked => // RegexpRange-ish map {begin:, end:, excl:}
        Range(boundFrom(rm.getOrElse("begin", rm.getOrElse("first", 0))),
              boundFrom(rm.getOrElse("end", rm.getOrElse("last", -1))),
              rm.get("excl").exists { case b: java.lang.Boolean => b; case s => s == "true" })
      case s: String if s.contains("...") =>
        val Array(a, b) = s.split("\\.\\.\\.")
        Range(IntBound(a.trim.toInt), IntBound(b.trim.toInt), exclusive = true)
      case s: String if s.contains("..") =>
        val Array(a, b) = s.split("\\.\\.")
        Range(IntBound(a.trim.toInt), IntBound(b.trim.toInt), exclusive = false)
      case s: String => At(s.toInt)
    }
    NonTabularCell(
      lines = lines,
      capture = m.get("capture").map(strList(_).map(unmark)).getOrElse(Nil),
      join = optStr(m, "join"),
      preserveBlankLines = bool(m, "preserve_blank_lines"))
  }

  private def boundFrom(v: Any): LineSelector.Bound = v match {
    case i: java.lang.Number => LineSelector.IntBound(i.intValue)
    case s: String if isRegexStr(s) => LineSelector.RegexBound(unmark(s))
    case s: String if s.matches("-?\\d+") => LineSelector.IntBound(s.toInt)
    case s: String => LineSelector.RegexBound(s)
  }

  private def xmlCellFromMap(m: Map[String, Any]): XmlCell =
    XmlCell(
      relativePath = optStr(m, "relative_path"),
      attribute = optStr(m, "attribute"),
      multiple = bool(m, "multiple"),
      incrementFieldName = bool(m, "increment_field_name"),
      buildNewRecord = !m.get("build_new_record").exists {
        case b: java.lang.Boolean => !b
        case s                    => s == "false"
      },
      klassSection = optStr(m, "klass_section"),
      keepKlass = bool(m, "keep_klass"))
}
