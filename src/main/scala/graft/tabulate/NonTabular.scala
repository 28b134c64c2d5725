package graft.tabulate

import graft.clean.RubyTranslate
import graft.model._
import graft.runtime.Messages
import java.util.regex.Pattern
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** Non-tabular (multi-line record) segmentation: a port of the reference's
  * `NdrImport::NonTabular::Table` walk (`non_tabular/table.rb:100-167`,
  * N1–N3) and its per-record cell extractor (`non_tabular/record.rb:71-99`,
  * N4), with the mapping checks of `non_tabular/column_mapping.rb:50-72`
  * (N6).
  *
  * A typed `mapPartitions` ([[walk]]) walks each file's run of lines
  * once, as the reference does, keeping only the open record's captured
  * lines and a `remove_lines` lookahead as deep as the longest pattern
  * sequence. It needs each file's lines contiguous in one partition in
  * `lineno` order, and checks that they are with the one run check
  * ([[FileRuns]]) that the footer trim uses too. The per-file readers emit
  * lines that way, so the importer walks them as they come, with no
  * exchange; [[tabulate]] takes lines in any order and first puts each
  * file's lines in one partition, sorted by `(file, lineno)`, with one
  * exchange. Parallelism comes from many files; within a file the
  * semantics are sequential.
  *
  * Input: (file, lineno, line). Output: the MappingCompiler input contract
  * (file, lineno = 0-based record ordinal per file, cells array<string>).
  */
object NonTabular {

  final class MappingError(msg: String) extends RuntimeException(msg)

  /** Validate N6 (`non_tabular/column_mapping.rb:50-72`) + the table-level
    * requirements (`non_tabular/table.rb:51-55`). */
  def validate(mapping: TableMapping): NonTabularSpec = {
    // error TEXTS route through the Messages catalogue (the reference's
    // I18n seam); error TYPES stay MappingError — the asserted contract
    val spec = mapping.nonTabular.getOrElse(
      throw new MappingError(Messages("mapping.errors.missing_start_line_pattern")))
    if (mapping.tablenamePattern.isDefined)
      throw new MappingError(Messages("mapping.errors.unexpected_tablename_pattern"))
    mapping.columns.foreach { cm =>
      val name = cm.rawtextName.orElse(cm.column).orElse(cm.standardMapping).getOrElse("")
      cm.nonTabularCell match {
        case None => throw new MappingError(
          Messages("mapping.errors.missing_non_tabular_cell", "name" -> name))
        case Some(cell) =>
          if (cell.lines.isEmpty) throw new MappingError(
            Messages("mapping.errors.missing_non_tabular_cell_lines", "name" -> name))
          if (cell.capture.isEmpty) throw new MappingError(
            Messages("mapping.errors.missing_non_tabular_cell_capture", "name" -> name))
      }
    }
    spec
  }

  /** Segment + tabulate: (file, lineno, line) → (file, lineno, cells), for
    * lines in any order: one exchange and sort put each file's lines in
    * one partition in `lineno` order, then [[walk]]. */
  def tabulate(linesDf: DataFrame, mapping: TableMapping): DataFrame =
    walk(lineColumns(linesDf).repartition(col("file")).sortWithinPartitions("file", "lineno"),
      mapping)

  /** The walk alone, for lines already in per-file order: each file's
    * lines one contiguous run inside one partition, `lineno` ascending —
    * what every per-file reader ([[graft.sources.LineSource]]) emits. The
    * order is checked, not assumed ([[FileRuns]]). */
  private[graft] def walk(linesDf: DataFrame, mapping: TableMapping): DataFrame = {
    val spec = validate(mapping)
    val cells = mapping.columns.map(_.nonTabularCell.get)
    val spark = linesDf.sparkSession
    import spark.implicits._
    lineColumns(linesDf).as[(String, Long, String)]
      .mapPartitions(lines => new Walk(spec, cells, lines))
      .toDF("file", "lineno", "cells")
  }

  private def lineColumns(linesDf: DataFrame): DataFrame =
    linesDf.select(col("file"), col("lineno").cast("long"), col("line"))

  /** The `capture` chain (`record.rb:84-99`): each pattern keeps group 1
    * of the previous value (nil reads as "" for the next pattern; an absent
    * group is ""), and the survivor is Ruby `strip`ped
    * ([[RubyTranslate.strip]]). Null when the last pattern misses. */
  private[tabulate] def capture(line: String, patterns: Seq[Pattern]): String = {
    var v = line
    patterns.foreach { p =>
      val m = p.matcher(if (v == null) "" else v)
      v = if (m.find()) Option(m.group(1)).getOrElse("") else null
    }
    if (v == null) null else RubyTranslate.strip(v)
  }

  private def compile(rubyPattern: String): Pattern =
    Pattern.compile(RubyTranslate.regex(rubyPattern))

  private type Lines = scala.collection.IndexedSeq[String]

  /** One column's `non_tabular_cell` over a record's captured lines
    * (`record.rb:71-99`): select the lines, capture each, drop nils (and
    * blanks unless `preserve_blank_lines`), join. Null when a RegexpRange
    * bound matches no line (`PatternMatchError`). */
  private final class Cell(cell: NonTabularCell) {
    private val patterns = cell.capture.map(compile)
    private val join = cell.join.getOrElse("")

    private def index(b: LineSelector.Bound): Lines => Option[Int] = b match {
      case LineSelector.IntBound(i) => lines => Some(if (i < 0) lines.length + i else i)
      case LineSelector.RegexBound(rubyPattern) =>
        val p = compile(rubyPattern)
        lines => Some(lines.indexWhere(p.matcher(_).find())).filter(_ >= 0)
    }

    private val select: Lines => Option[Iterable[String]] = cell.lines.get match {
      case LineSelector.At(i) => lines =>
        val k = if (i < 0) lines.length + i else i
        Some(if (k >= 0 && k < lines.length) Seq(lines(k)) else Nil)
      case LineSelector.Range(a, b, excl) =>
        val (first, last) = (index(a), index(b))
        lines => for (from <- first(lines); to <- last(lines))
          yield if (from < 0 || from >= lines.length) Nil
                else lines.slice(from, if (excl) to else to + 1)
    }

    def value(lines: Lines): String = select(lines) match {
      case None => null
      case Some(sel) =>
        sel.iterator.map(capture(_, patterns))
          .filter(v => v != null && (cell.preserveBlankLines || v.nonEmpty))
          .mkString(join)
    }
  }

  /** The reference's line walk (`table.rb:100-167`) over one partition's
    * lines, each file one contiguous run in `lineno` order. Emits each
    * record as it closes. */
  private final class Walk(spec: NonTabularSpec, cellSpecs: Seq[NonTabularCell],
      input: Iterator[(String, Long, String)])
      extends Iterator[(String, Long, Seq[String])] {

    private val startPat = compile(spec.startLinePattern)
    private val endPat = spec.endLinePattern.map(compile)
    private val removeSeqs = spec.removeLines.values.map(_.map(compile)).toSeq
    private val lookahead = (0 +: removeSeqs.map(_.length)).max
    private val cells = cellSpecs.map(new Cell(_))

    private val out = mutable.Queue.empty[(String, Long, Seq[String])]
    // N2's lookahead: lines not yet past every remove_lines block they
    // could start, with their removed flags
    private val pending = mutable.ArrayDeque.empty[(String, Boolean)]
    private val runs = new FileRuns
    private var file: String = _
    private var ordinal = 0L
    private var inRecord = false
    private val record = mutable.ArrayBuffer.empty[String]

    def hasNext: Boolean = {
      while (out.isEmpty && input.hasNext) {
        val (f, lineno, line) = input.next()
        if (runs.opens(f, lineno)) {
          endOfFile()
          file = f
          ordinal = 0
          inRecord = spec.startInARecord
        }
        // N1 (`line.rb`): each line is Ruby-`rstrip`ped
        read(if (line == null) "" else RubyTranslate.rstrip(line))
      }
      if (out.isEmpty) endOfFile()
      out.nonEmpty
    }

    def next(): (String, Long, Seq[String]) =
      if (hasNext) out.dequeue() else Iterator.empty.next()

    // N2 (`table.rb:88-98`): a line is removed when it sits in a block of
    // consecutive lines matching one of the remove_lines sequences
    private def read(line: String): Unit =
      if (lookahead == 0) step(line, removed = false)
      else {
        pending.append((line, false))
        removeSeqs.foreach { seq =>
          val from = pending.length - seq.length
          if (from >= 0 && seq.indices.forall(k => seq(k).matcher(pending(from + k)._1).find()))
            seq.indices.foreach(k => pending(from + k) = (pending(from + k)._1, true))
        }
        if (pending.length == lookahead) stepHead()
      }

    private def stepHead(): Unit = {
      val (line, removed) = pending.removeHead()
      step(line, removed)
    }

    // N3 (`table.rb:100-167`)
    private def step(line: String, removed: Boolean): Unit =
      if (startPat.matcher(line).find()) {
        if (inRecord) {
          if (endPat.isDefined)
            throw new MappingError(Messages("mapping.errors.start_pattern_before_end"))
          emit()
        }
        inRecord = true
        if (spec.captureStartLine && !removed) record += line
      } else if (inRecord && endPat.exists(_.matcher(line).find())) {
        if (spec.captureEndLine && !removed) record += line
        emit()
        inRecord = false
      } else if (inRecord && !removed) record += line

    private def emit(): Unit = {
      out.enqueue((file, ordinal, cells.map(_.value(record))))
      ordinal += 1
      record.clear()
    }

    // a no-op before the first file and once the last has ended
    private def endOfFile(): Unit = {
      while (pending.nonEmpty) stepHead()
      if (inRecord && spec.endInARecord && record.nonEmpty) emit()
      record.clear()
    }
  }
}
