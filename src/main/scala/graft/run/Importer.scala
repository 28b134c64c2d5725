package graft.run

import graft.compile.MappingCompiler
import graft.model.TableMapping
import graft.sources._
import graft.tabulate.NonTabular
import graft.xml.{XmlTable => XmlTableTransform}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** End-to-end orchestration — the Spark rendering of
  * `UniversalImporterHelper#extract` (T1/T12/T13,
  * `lib/ndr_import/universal_importer_helper.rb`):
  *
  *   1. expand containers driver-side (Registry.files);
  *   2. match each inner file to its first matching mapping
  *      (filename_pattern, T1) and build its lazy read with the format's
  *      source;
  *   3. ONE Spark action brings back every file's header block, for
  *      each workbook the first rows of every sheet (so its sheet names),
  *      and for each XML file its `xml_file_metadata` values (S8); each
  *      branch of it is capped at its header block, and the drop's
  *      per-file reads run as the tasks of that one job;
  *   4. per (file, tablename), on the driver: re-match the mapping,
  *      validate the header (T3/T4; a failure names the file and sheet),
  *      trim header and footer rows (T2), compile the mapping once and
  *      transform (klass fan-out T7, skip T8); then union per canonical
  *      table (T12 — the reference's TableEnumProxy is `unionByName` here).
  *
  * No other action runs before the write, save the numbering job of a
  * parquet or orc file's `zipWithIndex`: everything after that one action
  * is lazy Catalyst plans, with no join or aggregate; the caller
  * gets one DataFrame per canonical table and composes freely (joins, aggs,
  * writes) with full pushdown. No workbook is materialised: a mapped sheet
  * re-reads its workbook in the plan that consumes it. Every reader but
  * parquet/orc emits rows in per-file order, so footers are trimmed
  * ([[MappingCompiler.dataRows]]) and non-tabular text, PDF and Word lines
  * walked ([[NonTabular.walk]]) as the rows stream, with no exchange.
  */
object Importer {

  /** One resolved (mapping, records-DataFrame) pair. */
  final case class MappedTable(mapping: TableMapping, records: DataFrame)

  def extract(spark: SparkSession, sourceFile: String, mappings: Seq[TableMapping],
              containerOpts: Registry.ContainerOptions = Registry.ContainerOptions())
      : Seq[MappedTable] = {
    val reads = Registry.files(sourceFile, containerOpts).flatMap { file =>
      mappings.find(_.matches(file, None)).map(m => read(spark, file, m, mappings))
    }
    // the one planning action: every read's head, tagged with its index
    val tagged = reads.zipWithIndex.collect {
      case (Read(Some(head), _), i) => head.select(lit(i).as("read"), col("*"))
    }
    val back = if (tagged.isEmpty) Map.empty[Int, Seq[HeadRow]]
      else headerPlan(tagged).collect().toSeq.groupMap(_.getInt(0)) { r =>
        HeadRow(r.getString(1), r.getLong(2), Option(r.getSeq[String](3)).map(_.toSeq).getOrElse(Nil))
      }
    reads.zipWithIndex.flatMap { case (r, i) => r.tables(back.getOrElse(i, Nil)) }
  }

  /** T12 — canonical table → union of its per-file record streams. */
  def mappedTables(spark: SparkSession, sourceFile: String, mappings: Seq[TableMapping],
                   containerOpts: Registry.ContainerOptions = Registry.ContainerOptions())
      : Map[String, DataFrame] =
    extract(spark, sourceFile, mappings, containerOpts)
      .groupBy(_.mapping.canonicalName.getOrElse(""))
      .view.mapValues(_.map(_.records).reduce(_ unionByName _)).toMap

  // ---------------------------------------------------------------- private

  /** A row the planning action brought back: (table, lineno, cells), table
    * being the sheet name, null for a single-table file. */
  private final case class HeadRow(table: String, lineno: Long, cells: Seq[String])

  /** One file's lazy read before the planning action: `head`, the rows
    * (table, lineno, cells) the action must bring back, if any; `tables`,
    * the file's mapped tables given those rows. */
  private final case class Read(head: Option[DataFrame], tables: Seq[HeadRow] => Seq[MappedTable])

  /** The planning action's plan: the tagged heads in one union. */
  private[run] def headerPlan(heads: Seq[DataFrame]): DataFrame = heads.reduce(_ union _)

  /** The header block (table, lineno, cells) of a single-file frame. The
    * `lineno` filter is correct on any frame; the per-partition take stops
    * the read after it, since a single file's frame holds at most `lines`
    * such rows, and the per-file runner reads the file in one task. No
    * limit: a `limit` plans a GlobalLimit over an Exchange, per branch of
    * the union. */
  private[run] def headerBlock(rows: DataFrame, lines: Int): DataFrame = {
    val block = rows.filter(col("lineno") < lines)
      .select(lit(null).cast("string").as("table"), col("lineno").cast("long"), col("cells"))
    block.mapPartitions((it: Iterator[Row]) => it.take(lines))(Encoders.row(block.schema))
  }

  /** A file's read, by format. Most formats have one anonymous table,
    * whose mapping is the file's; Excel has one per sheet
    * (`file/excel.rb:20-27`), each re-matched by sheet name. */
  private def read(spark: SparkSession, file: String, m: TableMapping,
                   mappings: Seq[TableMapping]): Read = {
    def ready(records: => DataFrame) = Read(None, _ => Seq(MappedTable(m, records)))
    def table(rows: DataFrame) = Read(
      Option.when(m.headerLines > 0)(headerBlock(rows, m.headerLines)),
      head => Seq(MappedTable(m, tabularRecords(m, rows, head, s"'$file'"))))
    val format = Registry.formatFor(file, m.format)
    format match {
      case "csv" | "delimited" => table(Tabular.delimited(spark, Seq(file), m))
      case "txt" | "text" | "nontabular" =>
        val lines = LineSource.lines(spark, Seq(file))
        val unpack = m.columns.flatMap(_.unpackPattern)
        // T9: a fixed-width mapping is tabular, header and footer included
        if (m.nonTabular.isEmpty && unpack.nonEmpty) table(Tabular.fixedWidth(lines, unpack))
        else ready(nonTabularOrPlain(m, lines))
      case "jsonl" =>
        table(Tabular.jsonCells(LineSource.lines(spark, Seq(file)), m.columns.flatMap(_.column)))
      case "vcf" => table(Tabular.vcf(spark, Seq(file)))
      case "avro" => table(Avro.rows(spark, Seq(file)))
      case "parquet" | "orc" =>
        // Spark-native extension: columnar files feed the mapping pipeline
        // directly — cells are drawn by mapping column name (like JSONL
        // object rows), values rendered as strings. Scan stays columnar
        // (pruned to the mapped columns) and fully splittable. Like the
        // Avro scaffold, a synthetic header row satisfies reference-style
        // `header_lines: 1` mappings — columnar data has no header row of
        // its own, and without this the first DATA row would be consumed
        // and validated as the header. That header is known here, so the
        // planning action brings nothing back for these files. Nor has it
        // trailer rows, and a file's rows span partitions, where the footer
        // trim in the stream would drop rows inside the file: so
        // `footer_lines` is rejected.
        if (m.footerLines > 0)
          sys.error(s"footer_lines does not apply to the columnar file '$file'")
        val df = if (format == "parquet") spark.read.parquet(file)
                 else spark.read.orc(file)
        val names = m.columns.flatMap(_.column)
        // Contiguous per-import ordinal, computed distributed via
        // RDD.zipWithIndex over ONE realised RDD: its partition sizes
        // and its data rows come from the same fixed partition set, so
        // the ordinal can never drift — a two-scan scheme (count
        // aggregate + data scan as separate DataFrame executions) would
        // silently mis-number rows if split planning changed between
        // them (maxPartitionBytes reconfigured, defaultParallelism
        // moved under dynamic allocation). lineno = ordinal +
        // header_lines matches every other source's "index is the input
        // row number" contract with no single-partition shuffle; the
        // scan is pre-projected to the mapped columns so parquet
        // pruning still applies. For a multi-part directory the order
        // follows Spark's split planning (offset order within a file).
        val projected = df.select(names.map(n => col(n).cast("string")): _*)
        val indexed = projected.rdd.zipWithIndex.map { case (row, i) =>
          Row(file, i + m.headerLines, (0 until row.length).map(row.getString))
        }
        val data = spark.createDataFrame(indexed, StructType(Seq(
          StructField("file", StringType), StructField("lineno", LongType),
          StructField("cells", ArrayType(StringType)))))
        val header = (0 until m.headerLines).map(i => HeadRow(null, i.toLong, names))
        val rows =
          if (m.headerLines == 0) data
          else {
            import spark.implicits._
            header.map(h => (file, h.lineno, h.cells)).toDF("file", "lineno", "cells")
              .unionByName(data)
          }
        Read(None, _ => Seq(MappedTable(m, tabularRecords(m, rows, header, s"'$file'"))))
      case "xls" | "xlsm" | "xlsx" =>
        val rows = Excel.tables(spark, Seq(file), m.filePassword)
        // every sheet with a populated cell has a row 0, so each sheet's
        // first max(1, header_lines) rows name the sheets and hold their
        // headers, whichever mapping each sheet matches
        val lines = (1 +: mappings.filter(_.matches(file, None)).map(_.headerLines)).max
        val head = rows.filter(col("lineno") < lines)
          .select(col("tablename").as("table"), col("lineno"), col("cells"))
        Read(Some(head), back => back.map(_.table).distinct.flatMap { sheet =>
          mappings.find(_.matches(file, Some(sheet))).map { sm =>
            MappedTable(sm, tabularRecords(sm,
              rows.filter(col("tablename") === sheet).drop("tablename"),
              back.filter(_.table == sheet), s"'$file' sheet '$sheet'"))
          }
        })
      case "xml" | "xml_table" =>
        val meta = m.fileMetadata.toSeq
        Read(Option.when(meta.nonEmpty)(headerBlock(XmlSource.fileMetadata(spark, file, meta), 1)),
          back => Seq(MappedTable(m, meta.map(_._1).zip(back.flatMap(_.cells)).foldLeft(
            XmlTableTransform.records(XmlSource.records(spark, Seq(file), m), m)) {
            case (df, (k, v)) => df.withColumn(s"meta_$k", lit(v))
          })))
      case "pdf" => ready(nonTabularOrPlain(m, Pdf.lines(spark, Seq(file))))
      case "acroform" => ready(acroFormRecords(spark, file, m))
      case "doc" | "docx" =>
        ready(nonTabularOrPlain(m, BinaryDecode.wordLines(spark, Seq(file), m.filePassword)))
      case other => throw new Registry.UnknownFormatError(other)
    }
  }

  /** Header validation, header/footer trim and mapping of one table's
    * (file, lineno, cells) rows, given its first rows (`head`). */
  private def tabularRecords(mapping: TableMapping, rows: DataFrame, head: Seq[HeadRow],
                             where: String): DataFrame = {
    // T5: last_data_column caps cells for header rows too (`table.rb:55-57`
    // — process_line slices before validation).
    val lastCol = mapping.lastColumnToTransform
    val headerRows = head.filter(_.lineno < mapping.headerLines).sortBy(_.lineno)
      .map(r => if (lastCol >= 0) r.cells.take(lastCol + 1) else r.cells)
    val validated = MappingCompiler.consumeHeader(mapping, headerRows, Some(where))
    MappingCompiler(validated).records(MappingCompiler.dataRows(rows, validated))
  }

  /** Non-tabular segmentation when the mapping declares it; else each line
    * is a one-cell row. */
  private def nonTabularOrPlain(mapping: TableMapping, lines: DataFrame): DataFrame = {
    if (mapping.nonTabular.isDefined)
      // every per-file reader emits a file's lines in order, in one task
      MappingCompiler(mapping).records(NonTabular.walk(lines, mapping))
    else {
      val rows = lines.select(col("file"), col("lineno"), array(col("line")).as("cells"))
      MappingCompiler(mapping).records(MappingCompiler.dataRows(rows, mapping))
    }
  }

  /** AcroForm: validate all hash keys are mapped (T10,
    * `pdf_form/table.rb:29-68`), reorder to mapping order, then the
    * standard pipeline. */
  private def acroFormRecords(spark: SparkSession, file: String,
                              mapping: TableMapping): DataFrame = {
    val hash = Pdf.acroForm(spark, Seq(file))
    val declared = mapping.columns.flatMap(_.column)
    val unmappedCheck = filter(map_keys(col("fields_hash")),
      k => !k.isin(declared.map(lit(_)): _*))
    val guarded = hash.withColumn("fields_hash",
      when(size(unmappedCheck) > 0,
        map_concat(col("fields_hash"), map(raise_error(concat(
          lit("Unmapped data: "), array_join(unmappedCheck, ", "))), lit(""))))
        .otherwise(col("fields_hash")))
    val cells = array(declared.map(n => element_at(col("fields_hash"), n)): _*)
    MappingCompiler(mapping).records(
      guarded.select(col("file"), col("lineno"), cells.as("cells")))
  }
}
