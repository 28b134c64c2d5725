package graft.compile

import graft.clean.{Cleaners, RubyTranslate}
import graft.model._

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import scala.collection.mutable

/** Pure-Scala interpreter for the reference's `mapped_line`
  * (`lib/ndr_import/mapper.rb:88-232`) — the row-at-a-time twin of
  * [[MappingCompiler]]'s Catalyst pipelines.
  *
  * Two implementations exist by design: the compiler is the production path
  * for static-schema sources (codegen, pushdown); this interpreter serves the
  * data-dependent-schema paths (XML tables augment their mappings per record
  * — `xml/table.rb:58-87` — which no static plan can express) and doubles as
  * a property-test oracle for the compiler.
  *
  * Semantics notes (pinned by `test/mapper_test.rb`):
  *   - blank (nil, or ActiveSupport `blank?`: [[RubyTranslate.blank]])
  *     mapped values are dropped unless a `join` mapping is in play;
  *   - priority: no-priority mappings are unshifted "best" values, then
  *     ascending priority; first present wins;
  *   - zip: split each zipped value, zip truncating to the first array;
  *     rendered as compact JSON (the compiler's `to_json` format);
  *   - format: blank → nil, unparseable → ArgumentError-style failure;
  *   - rawtext always captures the (decoded) raw value.
  */
object RowMapper {

  final class MissingFieldError(field: String)
    extends RuntimeException(s"$field can't be blank")

  private def blank(s: String): Boolean = RubyTranslate.blank(s)

  /** `mapped_value` (`mapper.rb:203-231`). Returns null for "no value". */
  def mappedValue(original: String, fm: FieldMapping): String = {
    if (fm.format.isDefined) {
      if (blank(original)) null
      else {
        val javaFmt = RubyTranslate.dateFormat(fm.format.get)
        // case-insensitive like Ruby strptime ('01/JAN/70' parses)
        val fmt = new java.time.format.DateTimeFormatterBuilder()
          .parseCaseInsensitive().appendPattern(javaFmt).toFormatter(java.util.Locale.UK)
        try {
          var d = LocalDate.parse(RubyTranslate.strip(original), fmt)
          // Ruby strptime windowing: 69-99 → 19xx (Java bases yy on 2000)
          if (RubyTranslate.twoDigitYear(javaFmt) && d.getYear >= 2069)
            d = d.minusYears(100)
          d.toString
        }
        catch {
          case e: Exception =>
            throw new IllegalArgumentException(s"${e.getMessage} value ${original.inspectRuby}")
        }
      }
    } else if (fm.clean.nonEmpty) {
      if (blank(original)) null
      else fm.clean.foldLeft(original)((v, c) => Cleaners.scalaForName(c)(v))
    } else if (fm.map.isDefined) {
      fm.map.get.getOrElse(original, original)
    } else if (fm.matchRegex.isDefined) {
      val p = java.util.regex.Pattern.compile(RubyTranslate.regex(fm.matchRegex.get))
      val m = p.matcher(if (original == null) "" else original)
      if (m.find() && m.groupCount >= 1 && m.group(1) != null) RubyTranslate.strip(m.group(1)) else null
    } else if (fm.daysafter.isDefined) {
      // Ruby: `value.to_i.to_s == value.to_s` — exact round-trip only
      // ("007", "-0", "1.5" all pass through unchanged). Day counts outside
      // Int range also pass through: Spark DateType stores days as int32, so
      // the compiled path can't represent them — both paths agree instead.
      val isInt = original != null &&
        (try original.toLong.toString == original &&
             original.toLong.isValidInt
         catch { case _: Exception => false })
      if (!isInt) original
      else LocalDate.parse(fm.daysafter.get).plusDays(original.toLong).toString
    } else {
      if (blank(original)) null
      else RubyTranslate.strip(original)
    }
  }

  private implicit class RubyInspect(val s: String) extends AnyVal {
    def inspectRuby: String = if (s == null) "nil" else "\"" + s + "\""
  }

  private def applyReplaces(value: String, fm: FieldMapping): String =
    if (value == null || fm.replace.isEmpty) value
    else parseJsonArray(value) match {
      // M7 recurses into Array cells (`mapper.rb:59-66`); arrays travel as
      // their JSON rendering, matching the compiler's from_json/to_json
      case Some(elems) =>
        renderJsonArray(elems.map(e =>
          if (e == null) null else replaceString(e, fm)))
      case None => replaceString(value, fm)
    }

  private def replaceString(value: String, fm: FieldMapping): String =
    fm.replace.foldLeft(value) { (v, r) =>
      v.replaceAll(RubyTranslate.regex(r.pattern),
        RubyTranslate.replacement(r.replacement))
    }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A cell is an array iff it is a complete JSON array document — the
    * interpreter twin of the compiler's `from_json(..., array<string>)`
    * guard (numbers/objects coerce to their JSON text, like Spark's
    * string-typed parse). */
  private def parseJsonArray(value: String): Option[Seq[String]] =
    if (!RubyTranslate.strip(value).startsWith("[")) None
    else try {
      val p = jsonMapper.getFactory.createParser(value)
      val node = jsonMapper.readTree[com.fasterxml.jackson.databind.JsonNode](p)
      if (p.nextToken() != null) None // trailing content → not an array cell
      else if (node == null || !node.isArray) None
      else Some((0 until node.size).map { i =>
        val e = node.get(i)
        if (e.isNull) null else if (e.isTextual) e.asText else e.toString
      })
    } catch { case _: Exception => None }

  private def renderJsonArray(elems: Seq[String]): String =
    elems.map {
      case null => "null"
      case s    => jsonMapper.writeValueAsString(s)
    }.mkString("[", ",", "]")

  private def decodeValue(raw: String, encoding: String): String = {
    if (blank(raw)) return raw
    encoding.stripPrefix(":") match {
      case "base64" =>
        new String(java.util.Base64.getMimeDecoder.decode(raw),
          java.nio.charset.StandardCharsets.UTF_8)
      case "word_doc" =>
        graft.sources.BinaryDecode.extractWordText(
          raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      case other => sys.error(s"Cannot decode: $other")
    }
  }

  private final class FieldData {
    var values = mutable.ArrayBuffer.empty[String]
    val zipped = mutable.HashMap.empty[Int, String]
    var join: Option[String] = None
    var hasJoin = false
    var compact = true
    var splitChar: Option[String] = None
    def setOrdered(i: Int, v: String): Unit = {
      while (values.length <= i) values += null
      values(i) = v
    }
  }

  /** `mapped_line`: cells + merged column mappings → (fields, rawtext).
    * `line_mappings` must already have standard mappings merged
    * (MappingCompiler.mergedColumns) when called outside tests. */
  def mappedLine(line: Seq[String], cols: Seq[ColumnMapping]): (Map[String, String], Map[String, String]) = {
    if (line.length > cols.length)
      throw new IllegalArgumentException(
        s"Line has too many columns (expected ${cols.length} but got ${line.length})")

    val rawtext = mutable.LinkedHashMap.empty[String, String]
    val data = mutable.LinkedHashMap.empty[String, FieldData]

    line.zipWithIndex.foreach { case (rawIn, i) =>
      val cm = cols(i)
      if (!cm.doNotCapture) {
        var raw = rawIn
        cm.decode.foreach(enc => raw = decodeValue(raw, enc))
        rawtext(cm.rawtextKey) = raw

        cm.mapColumnNameTo.foreach { target =>
          val d = data.getOrElseUpdate(target, new FieldData)
          d.values = mutable.ArrayBuffer(cm.column.getOrElse(""))
          rawtext(target) = cm.column.getOrElse("")
        }

        cm.mappings.foreach { fm =>
          val replaced = applyReplaces(raw, fm)
          val value = mappedValue(replaced, fm)

          if (fm.validatesPresence && blank(value))
            throw new MissingFieldError(fm.field)

          if (!(blank(value) && !fm.hasJoin)) {
            val d = data.getOrElseUpdate(fm.field, new FieldData)
            if (fm.order.isDefined) {
              d.hasJoin = true
              if (d.join.isEmpty) d.join = fm.join
              fm.compact.foreach(c => d.compact = c)
              d.setOrdered(fm.order.get - 1, value)
            } else if (fm.priority.isDefined) {
              d.setOrdered(fm.priority.get, value)
            } else if (fm.zipOrder.isDefined &&
                       (d.splitChar.isDefined || fm.splitChar.isDefined)) {
              if (d.splitChar.isEmpty) d.splitChar = fm.splitChar
              d.zipped(fm.zipOrder.get - 1) = value
            } else {
              d.values.insert(0, value) // new "best" value
            }
          }
        }
      }
    }

    val fields = data.flatMap { case (field, d) =>
      if (d.hasJoin) {
        var vs = d.values.map(v => if (blank(v)) null else v).toSeq
        if (d.compact) vs = vs.filter(_ != null)
        Some(field -> vs.map(v => if (v == null) "" else v).mkString(d.join.getOrElse("")))
      } else if (d.zipped.nonEmpty) {
        val ordered = d.zipped.toSeq.sortBy(_._1).map(_._2)
        val split = ordered.map(v =>
          if (v == null) Array.empty[String]
          else v.split(java.util.regex.Pattern.quote(d.splitChar.getOrElse(""))))
        val zippedRows = split.head.indices.map { r =>
          split.map(arr => if (r < arr.length) arr(r) else null)
        }
        Some(field -> zippedRows.map(row =>
          row.map(v => if (v == null) "null" else "\"" + v + "\"").mkString("[", ",", "]"))
          .mkString("[", ",", "]"))
      } else {
        d.values.find(v => !blank(v)).map(field -> _)
      }
    }.toMap

    (fields, rawtext.toMap)
  }
}
