package graft.compile

import graft.clean.{Cleaners, RubyTranslate}
import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Compiles a [[graft.model.TableMapping]] into Catalyst column pipelines.
  *
  * This is the Spark rendering of the reference's per-row interpreter
  * (`lib/ndr_import/mapper.rb:88-196` `mapped_line`,
  * `lib/ndr_import/table.rb:94-110` `transform_line`): instead of looping
  * over cells per row in a VM, the mapping is compiled ONCE (driver-side)
  * into native `Column` expressions — regexp_replace / to_date / coalesce /
  * concat_ws / arrays_zip chains — that run inside whole-stage codegen on
  * executors. One input row fans out to one record per klass (T7) via a
  * single `explode` over per-klass structs, so the source is scanned once
  * regardless of klass count.
  *
  * Input contract: a DataFrame with
  *   - `cells`  array<string> — the row's cells
  *   - `lineno` long          — 0-based row index within its file
  *   - `file`   string        — source path (constant per file)
  *
  * Output (`records`): klass string, fields map<string,string>,
  * rawtext map<string,string>, index long. Dates are rendered ISO
  * (`yyyy-MM-dd`, Ruby `Date#to_s`); zipped fields as JSON arrays.
  */
final class MappingCompiler(mapping: TableMapping) {

  import MappingCompiler._

  validate()

  /** M20 + T7 validation — duplicate priorities per field, unknown standard
    * mappings, missing klass (`mapper.rb:235-256`, `table.rb:169-179`). */
  private def validate(): Unit = {
    val merged = mergedColumns
    val seen = collection.mutable.Map.empty[String, Int]
    merged.foreach { cm =>
      cm.mappings.foreach { fm =>
        fm.priority.foreach { p =>
          if (seen.get(fm.field).contains(p)) sys.error("Cannot have duplicate priorities")
          seen(fm.field) = p
        }
      }
    }
    if (mapping.klass.isEmpty) {
      val klassless = merged
        .filterNot(_.doNotCapture)
        .filter(_.klass.isEmpty)
        .map(c => c.column.orElse(c.standardMapping).getOrElse("(unnamed)"))
      if (klassless.nonEmpty)
        sys.error(s"Missing klass for column(s): ${toSentence(klassless)}")
    }
  }

  /** Columns with standard mappings merged in (M2, `mapper.rb:70-83`):
    * `mappings` lists append, scalar keys overwrite. */
  lazy val mergedColumns: Seq[ColumnMapping] = mapping.columns.map { cm =>
    cm.standardMapping match {
      case None => cm
      case Some(name) =>
        val std = StandardMappings.get(name).getOrElse(
          sys.error(s"""Standard mapping "$name" does not exist"""))
        std.copy(
          column = cm.column.orElse(std.column),
          columnRegex = cm.columnRegex.orElse(std.columnRegex),
          rawtextName = cm.rawtextName.orElse(std.rawtextName),
          klass = if (cm.klass.nonEmpty) cm.klass else std.klass,
          doNotCapture = cm.doNotCapture || std.doNotCapture,
          decode = if (cm.decode.nonEmpty) cm.decode else std.decode,
          mapColumnNameTo = cm.mapColumnNameTo.orElse(std.mapColumnNameTo),
          mappings = std.mappings ++ cm.mappings,
          standardMapping = None)
    }
  }

  /** Distinct klasses in declaration order (`table.rb:155-165`). */
  lazy val klasses: Seq[String] = mapping.klass match {
    case Some(k) => Seq(k)
    case None    => mergedColumns.flatMap(_.klass).distinct
  }

  /** Masked column view for one klass (`table.rb:183-191`): columns not
    * mentioning the klass become do_not_capture. */
  def maskedColumns(klass: String): Seq[ColumnMapping] =
    if (mapping.klass.contains(klass)) mergedColumns
    else mergedColumns.map { cm =>
      if (cm.klass.contains(klass)) cm else ColumnMapping(doNotCapture = true)
    }

  // ------------------------------------------------------------ expressions

  /** Raw cell for column i, after decode (M3) — null-safe out-of-range. */
  private def rawCell(cells: Column, i: Int, cm: ColumnMapping): Column = {
    val base = get(cells, lit(i))
    if (cm.decode.isEmpty) base
    else {
      val decoded = cm.decode.foldLeft(base) { (c, enc) =>
        enc match {
          case "base64"   => unbase64(c.cast(StringType))
          case "word_doc" => graft.sources.BinaryDecode.wordDocText(c)
          case other      => sys.error(s"Cannot decode: $other")
        }
      }
      val asString =
        if (cm.decode.last == "base64") decoded.cast(StringType) else decoded
      // blank passthrough (`mapper.rb:282`)
      when(isBlank(base), base).otherwise(asString)
    }
  }

  /** presence() — Ruby blank?/present? (`mapper.rb:190`): whitespace-only,
    * empty and null are all "blank". Native single-eval
    * ([[graft.functions.BlankToNull]]): the Column rendering referenced
    * its argument three times and nested presence calls multiplied the
    * underlying cell chain ~9× per field (n3_segments plan, r12). */
  private def presence(c: Column): Column = graft.functions.BlankToNull.presence(c)

  private def isBlank(c: Column): Column = c.isNull || trim(c) === ""

  /** M7 — replace-before-mapping (`mapper.rb:48-66`). Replacement strings
    * carry Ruby gsub semantics (`\1` backrefs, literal `$`), translated once
    * so this path and RowMapper.applyReplaces agree. Array cells (which
    * travel as their JSON rendering — see Tabular.jsonCells) get the
    * replace applied per element, the reference's `apply_replaces`
    * recursion (`mapper.rb:59-66`). */
  private def applyReplaces(c: Column, fm: FieldMapping): Column =
    fm.replace.foldLeft(c) { (acc, r) =>
      val pat  = RubyTranslate.regex(r.pattern)
      val repl = RubyTranslate.replacement(r.replacement)
      val asArr = from_json(acc, org.apache.spark.sql.types.ArrayType(StringType))
      when(acc.isNull, acc)
        .when(trim(acc).startsWith("[") && asArr.isNotNull,
              to_json(transform(asArr, x => regexp_replace(x, pat, repl))))
        .otherwise(regexp_replace(acc, pat, repl))
    }

  /** `mapped_value` (`mapper.rb:204-232`) — exactly one op family applies. */
  private def mappedValue(raw: Column, fm: FieldMapping): Column = {
    if (fm.format.isDefined) {
      val fmt = RubyTranslate.dateFormat(fm.format.get)
      val parsed0 = try_to_date(raw, fmt)
      // Ruby Date.strptime two-digit-year windowing: 69-99 → 19xx,
      // 00-68 → 20xx (Java's `yy` bases everything on 2000).
      val parsed =
        if (RubyTranslate.twoDigitYear(fmt))
          when(year(parsed0) >= 2069, add_months(parsed0, -1200)).otherwise(parsed0)
        else parsed0
      val out = when(isBlank(raw), lit(null).cast(StringType))
        .otherwise(parsed.cast(StringType))
      // The reference raises unconditionally on unparseable non-blank dates
      // (`mapper.rb:206-211`, ArgumentError "invalid date value <v>"), as
      // does RowMapper — never silently null a bad date.
      when(!isBlank(raw) && parsed.isNull,
           raise_error(concat(lit("invalid date value \""), raw, lit("\"")))
             .cast(StringType))
        .otherwise(out)
    } else if (fm.clean.nonEmpty) {
      val cleaned = fm.clean.foldLeft(raw)((c, name) => Cleaners.forName(name)(c))
      when(isBlank(raw), lit(null).cast(StringType)).otherwise(cleaned)
    } else if (fm.map.isDefined) {
      val m = fm.map.get
      if (m.isEmpty) raw
      else coalesce(element_at(typedLit(m), raw), raw) // missing key → passthrough
    } else if (fm.matchRegex.isDefined) {
      val pat = RubyTranslate.regex(fm.matchRegex.get)
      // regexp_extract returns '' on no match; Ruby returns nil — guard with rlike
      when(raw.isNotNull && raw.rlike(pat), trim(regexp_extract(raw, pat, 1)))
        .otherwise(lit(null).cast(StringType))
    } else if (fm.daysafter.isDefined) {
      // Integer-looking values (to_i round-trip, `mapper.rb:226`) become
      // epoch + n days; everything else passes through unchanged. Values
      // outside Int range can't be a Spark DateType (days are stored int32)
      // — both this path and RowMapper pass them through rather than one
      // emitting null and the other a 273-million-AD date.
      // ≤18 digits keeps the ANSI long cast safe; between() guards the
      // int32 range without an overflowing cast.
      val epoch = to_date(lit(fm.daysafter.get))
      val n = raw.cast("long")
      when(raw.rlike("^(-?[1-9][0-9]{0,17}|0)$") &&
             n.between(Int.MinValue.toLong, Int.MaxValue.toLong),
           date_add(epoch, n.cast("int")).cast(StringType))
        .otherwise(raw)
    } else {
      // default normalise M13: blank → null, else strip (single-eval)
      graft.functions.BlankToNull.stripPresence(raw)
    }
  }

  /** One fully-mapped value for (column, field mapping): replace → map →
    * validate (M14). */
  private def fieldValue(cells: Column, colIdx: Int, cm: ColumnMapping,
                         fm: FieldMapping): Column = {
    val raw = rawCell(cells, colIdx, cm)
    val replaced = applyReplaces(raw, fm)
    val v = mappedValue(replaced, fm)
    if (fm.validatesPresence)
      when(isBlank(v), raise_error(lit(s"${fm.field} can't be blank")).cast(StringType))
        .otherwise(v)
    else v
  }

  /** All (field → value) expressions for one klass's masked columns —
    * the compiled `mapped_line` (`mapper.rb:88-196`). */
  def fieldExprsFor(klass: String, cells: Column): Seq[(String, Column)] = {
    val cols = maskedColumns(klass)

    // Collect every contributing mapping per field, in column order.
    final case class Contrib(colIdx: Int, cm: ColumnMapping, fm: FieldMapping)
    val contribs = for {
      (cm, i) <- cols.zipWithIndex
      if !cm.doNotCapture
      fm <- cm.mappings
    } yield Contrib(i, cm, fm)

    val colNameFields: Seq[(String, Column)] = for {
      (cm, _) <- cols.zipWithIndex
      if !cm.doNotCapture
      target <- cm.mapColumnNameTo.toSeq
    } yield target -> lit(cm.column.getOrElse(""))

    val fieldsInOrder = contribs.map(_.fm.field).distinct

    val combined = fieldsInOrder.map { field =>
      val fms = contribs.filter(_.fm.field == field)
      val hasJoin  = fms.exists(_.fm.order.isDefined)
      val zipFms   = fms.filter(c => c.fm.zipOrder.isDefined)
      val splitChar = fms.flatMap(_.fm.splitChar).headOption

      val value: Column =
        if (hasJoin) {
          // M17: order/join (+compact) — values indexed by order, blanks → nil
          val ordered = fms.filter(_.fm.order.isDefined).sortBy(_.fm.order.get)
          val joinStr = ordered.flatMap(_.fm.join).headOption.getOrElse("")
          val compact = ordered.flatMap(_.fm.compact).lastOption.getOrElse(true)
          val vals = ordered.map(c => presence(fieldValue(cells, c.colIdx, c.cm, c.fm)))
          if (compact) concat_ws(joinStr, vals: _*) // concat_ws skips nulls = compact
          else concat_ws(joinStr, vals.map(v => coalesce(v, lit(""))): _*)
        } else if (zipFms.nonEmpty && splitChar.isDefined) {
          // M18: zip_order + split_char → array<array<string>> rendered as JSON
          val ordered = zipFms.sortBy(_.fm.zipOrder.get)
          val arrays = ordered.map(c =>
            split(fieldValue(cells, c.colIdx, c.cm, c.fm),
                  java.util.regex.Pattern.quote(splitChar.get)))
          // Ruby zip truncates to the FIRST array's length (`mapper.rb:188`)
          val zipped = transform(
            sequence(lit(0), size(arrays.head) - 1),
            i => array(arrays.map(a => get(a, i)): _*))
          to_json(zipped)
        } else {
          // M16: priority / cross-populate — no-priority mappings are "best"
          // (unshift, i.e. LAST no-priority wins first — `mapper.rb:167`),
          // then ascending priority.
          val noPri = fms.filter(c => c.fm.priority.isEmpty).reverse
          val pri   = fms.filter(_.fm.priority.isDefined).sortBy(_.fm.priority.get)
          val vals  = (noPri ++ pri).map(c => presence(fieldValue(cells, c.colIdx, c.cm, c.fm)))
          coalesce(vals: _*)
        }
      field -> value
    }

    combined ++ colNameFields
  }

  /** The rawtext map for one klass (M5 — always captures the raw value).
    * Duplicate rawtext keys (two columns sharing a rawtext_name, unnamed
    * columns all keyed "") follow Ruby hash assignment — last column wins —
    * deduped driver-side because Spark's map() throws on duplicate keys
    * under the default mapKeyDedupPolicy=EXCEPTION. */
  def rawtextFor(klass: String, cells: Column): Column = {
    val cols = maskedColumns(klass)
    val pairs: Seq[(String, Column)] = cols.zipWithIndex.flatMap { case (cm, i) =>
      if (cm.doNotCapture) Nil
      else {
        val base = Seq(cm.rawtextKey -> rawCell(cells, i, cm))
        val colname = cm.mapColumnNameTo.toSeq.map(t =>
          t -> lit(cm.column.getOrElse("")))
        base ++ colname
      }
    }
    val deduped = collection.mutable.LinkedHashMap.empty[String, Column]
    pairs.foreach { case (k, v) => deduped(k) = v }
    val entries = deduped.toSeq.flatMap { case (k, v) => Seq(lit(k), v) }
    if (entries.isEmpty) map() else map(entries: _*)
  }

  // ------------------------------------------------------------- transforms

  /** Rows → records for all klasses in ONE pass: explode over per-klass
    * structs, then drop skip-flagged records (T7 + T8). Narrow (no shuffle).
    */
  def records(df: DataFrame): DataFrame = {
    val cells = col("cells")
    val lastCol = mapping.lastColumnToTransform
    val trimmed =
      if (lastCol >= 0) df.withColumn("cells", slice(cells, 1, lastCol + 1)) else df

    val tooMany =
      when(size(col("cells")) > mergedColumns.size,
           raise_error(concat(
             lit(s"Line has too many columns (expected ${mergedColumns.size} but got "),
             size(col("cells")).cast(StringType), lit(")"))).cast(StringType))

    val identifier: Option[Column] = mapping.rowIdentifier map {
      case "index" => col("lineno").cast(StringType)
      case "uuid"  => expr("uuid()")
      case other   => sys.error(s"Unknown row_identifier: $other")
    }

    val klassStructs = klasses.map { k =>
      val fieldPairs0 = fieldExprsFor(k, col("cells"))
      val fieldPairs = identifier match {
        case Some(id) => fieldPairs0 :+ ("row_identifier" -> id)
        case None     => fieldPairs0
      }
      val entries = fieldPairs.flatMap { case (f, v) => Seq(lit(f), v) }
      val fieldsMap =
        if (entries.isEmpty) map()
        else map_filter(map(entries: _*), (_, v) => v.isNotNull)
      struct(
        lit(k).as("klass"),
        fieldsMap.as("fields"),
        rawtextFor(k, col("cells")).as("rawtext"))
    }

    // The reference raises unconditionally on over-wide rows
    // (`mapper.rb:96-99`), as does RowMapper — never silently truncate.
    val guarded = trimmed.withColumn("cells",
      when(tooMany.isNotNull, array(tooMany)).otherwise(col("cells")))

    guarded
      .select(col("lineno").as("index"), col("file"),
              explode(array(klassStructs: _*)).as("rec"))
      .select(col("rec.klass").as("klass"), col("rec.fields").as("fields"),
              col("rec.rawtext").as("rawtext"), col("index"), col("file"))
      .filter(!coalesce(element_at(col("fields"), "skip") === "true", lit(false)))
  }
}

object MappingCompiler {

  def apply(mapping: TableMapping): MappingCompiler =
    new MappingCompiler(mapping)

  /** Rails `Array#to_sentence`, used in reference error text. */
  def toSentence(items: Seq[String]): String = items match {
    case Seq()  => ""
    case Seq(a) => a
    case many   => many.init.mkString(", ") + " and " + many.last
  }

  /** Driver-side header consumption + validation (T3/T4,
    * `table.rb:203-241`): takes the first `header_lines` rows, mutates
    * regex-declared columns to matching header text, and fails with the
    * reference's message if no header line matches the expected names.
    * Returns the (possibly mutated) mapping.
    */
  def consumeHeader(mapping: TableMapping, headerRows: Seq[Seq[String]]): TableMapping = {
    if (mapping.headerLines == 0) return mapping

    var columns = mapping.columns
    var headerValid = false
    var bestGuess: Option[Seq[String]] = None

    headerRows.take(mapping.headerLines).foreach { line =>
      // T4: regex columns take the matching header cell's text
      columns = columns.zipWithIndex.map { case (cm, i) =>
        cm.columnRegex match {
          case Some(re) if i < line.length && re.r.findFirstIn(line(i)).isDefined =>
            cm.copy(column = Some(line(i)), columnRegex = None)
          case _ => cm
        }
      }
      val expected = columns.map(c =>
        c.column.orElse(c.standardMapping).map(_.toLowerCase).orNull)
      val guess = line.map(_.toLowerCase)
      if (guess.exists(_.trim.nonEmpty)) bestGuess = Some(guess)
      if (guess == expected) headerValid = true
    }

    if (!headerValid) {
      val expected = columns.flatMap(c => c.column.orElse(c.standardMapping))
        .map(_.toLowerCase)
      val received = bestGuess.getOrElse(Nil)
      val missing = expected.diff(received)
      val unexpected = received.diff(expected)
      val msg = new StringBuilder("Header is not valid!")
      if (missing.nonEmpty)
        msg.append(" missing: [" + missing.map("\"" + _ + "\"").mkString(", ") + "]")
      if (unexpected.nonEmpty)
        msg.append(" unexpected: [" + unexpected.map("\"" + _ + "\"").mkString(", ") + "]")
      if (missing.isEmpty && unexpected.isEmpty) msg.append(" (out of order)")
      sys.error(msg.toString)
    }
    mapping.copy(columns = columns)
  }

  /** T2 + T3 row-space trim: drop the first `header_lines` rows and the last
    * `footer_lines` rows of each file. Header drop is a narrow filter on
    * `lineno`; footer drop needs each file's row count — computed with a
    * tiny per-file aggregate that AQE turns into a broadcast join (cheap at
    * any scale; one row per file).
    */
  def dataRows(df: DataFrame, mapping: TableMapping): DataFrame = {
    val afterHeader =
      if (mapping.headerLines > 0) df.filter(col("lineno") >= mapping.headerLines) else df
    if (mapping.footerLines > 0) {
      val counts = df.groupBy(col("file").as("f")).agg(max(col("lineno")).as("maxline"))
      afterHeader
        .join(broadcast(counts), col("file") === col("f"))
        .filter(col("lineno") <= col("maxline") - mapping.footerLines)
        .drop("f", "maxline")
    } else afterHeader
  }
}
