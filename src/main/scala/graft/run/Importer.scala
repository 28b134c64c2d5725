package graft.run

import graft.compile.MappingCompiler
import graft.model.TableMapping
import graft.sources._
import graft.tabulate.NonTabular
import graft.xml.{XmlTable => XmlTableTransform}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end orchestration — the Spark rendering of
  * `UniversalImporterHelper#extract` (T1/T12/T13,
  * `lib/ndr_import/universal_importer_helper.rb`):
  *
  *   1. expand containers driver-side (Registry.files);
  *   2. match each inner file to its first matching mapping
  *      (filename_pattern, T1) and read it with the format's source;
  *   3. per (file, tablename): re-match, consume+validate headers
  *      (driver-side, T3/T4), trim header/footer rows (T2), compile the
  *      mapping once and transform (klass fan-out T7, skip T8);
  *   4. union per canonical table (T12 — the reference's TableEnumProxy is
  *      `unionByName` here).
  *
  * Everything after path resolution is lazy Catalyst plans; the caller gets
  * one DataFrame per canonical table and composes freely (joins, aggs,
  * writes) with full pushdown.
  */
object Importer {

  /** One resolved (mapping, records-DataFrame) pair. */
  final case class MappedTable(mapping: TableMapping, records: DataFrame)

  def extract(spark: SparkSession, sourceFile: String, mappings: Seq[TableMapping],
              containerOpts: Registry.ContainerOptions = Registry.ContainerOptions())
      : Seq[MappedTable] = {
    Registry.files(sourceFile, containerOpts).flatMap { file =>
      mappings.find(_.matches(file, None)) match {
        case None => Nil
        case Some(fileMapping) =>
          tablesFor(spark, file, fileMapping).flatMap { case (tablename, transform) =>
            mappings.find(_.matches(file, tablename)).map { mapping =>
              MappedTable(mapping, transform(mapping))
            }
          }
      }
    }
  }

  /** T12 — canonical table → union of its per-file record streams. */
  def mappedTables(spark: SparkSession, sourceFile: String, mappings: Seq[TableMapping],
                   containerOpts: Registry.ContainerOptions = Registry.ContainerOptions())
      : Map[String, DataFrame] =
    extract(spark, sourceFile, mappings, containerOpts)
      .groupBy(_.mapping.canonicalName.getOrElse(""))
      .view.mapValues(_.map(_.records).reduce(_ unionByName _)).toMap

  // ---------------------------------------------------------------- private

  /** The per-(file, tablename) transforms a file offers. Most formats have
    * one anonymous table; Excel has one per sheet (`file/excel.rb:20-27`). */
  private def tablesFor(spark: SparkSession, file: String, fileMapping: TableMapping)
      : Seq[(Option[String], TableMapping => DataFrame)] = {
    val format = Registry.formatFor(file, fileMapping.format)
    format match {
      case "csv" | "delimited" =>
        single { m =>
          tabularRecords(spark, m, Tabular.delimited(spark, Seq(file), m))
        }
      case "txt" | "text" | "nontabular" =>
        single { m =>
          val lines = LineSource.lines(spark, Seq(file))
          val unpack = m.columns.flatMap(_.unpackPattern)
          // T9: a fixed-width mapping is tabular, header and footer included
          if (m.nonTabular.isEmpty && unpack.nonEmpty)
            tabularRecords(spark, m, Tabular.fixedWidth(lines, unpack))
          else nonTabularOrPlain(m, lines)
        }
      case "jsonl" =>
        single { m =>
          val lines = LineSource.lines(spark, Seq(file))
          tabularRecords(spark, m, Tabular.jsonCells(lines, m.columns.flatMap(_.column)))
        }
      case "vcf" =>
        single(m => tabularRecords(spark, m, Tabular.vcf(spark, Seq(file))))
      case "avro" =>
        single(m => tabularRecords(spark, m, Avro.rows(spark, Seq(file))))
      case "parquet" | "orc" =>
        // Spark-native extension: columnar files feed the mapping pipeline
        // directly — cells are drawn by mapping column name (like JSONL
        // object rows), values rendered as strings. Scan stays columnar
        // (pruned to the mapped columns) and fully splittable. Like the
        // Avro scaffold, a synthetic header row satisfies reference-style
        // `header_lines: 1` mappings — columnar data has no header row of
        // its own, and without this the first DATA row would be consumed
        // and validated as the header.
        single { m =>
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
            org.apache.spark.sql.Row(file, i + m.headerLines,
              (0 until row.length).map(row.getString))
          }
          val data = spark.createDataFrame(indexed,
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("file",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("lineno",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("cells",
                org.apache.spark.sql.types.ArrayType(
                  org.apache.spark.sql.types.StringType)))))
          val rows =
            if (m.headerLines == 0) data
            else {
              import spark.implicits._
              val header = (0 until m.headerLines).map(i =>
                (file, i.toLong, names)).toDF("file", "lineno", "cells")
              header.unionByName(data)
            }
          tabularRecords(spark, m, rows)
        }
      case "xls" | "xlsm" | "xlsx" =>
        // materialised once (sheet-name collect + one scan per sheet read
        // it); localCheckpoint rather than cache() — CacheManager entries
        // are never auto-freed, while checkpoint blocks release with the
        // RDD when the import's DataFrames go out of scope
        val sheets = Excel.tables(spark, Seq(file), fileMapping.filePassword)
          .localCheckpoint()
        val names = sheets.select("tablename").distinct()
          .collect().map(_.getString(0)).toSeq
        names.map { sheet =>
          (Option(sheet), (m: TableMapping) =>
            tabularRecords(spark, m,
              sheets.filter(col("tablename") === sheet).drop("tablename")))
        }
      case "xml" | "xml_table" =>
        single { m =>
          val recs = XmlTableTransform.records(XmlSource.records(spark, Seq(file), m), m)
          XmlSource.fileMetadata(spark, file, m.fileMetadata).foldLeft(recs) {
            case (df, (k, v)) => df.withColumn(s"meta_$k", lit(v))
          }
        }
      case "pdf" =>
        single(m => nonTabularOrPlain(m, Pdf.lines(spark, Seq(file))))
      case "acroform" =>
        single(m => acroFormRecords(spark, file, m))
      case "doc" | "docx" =>
        single(m => nonTabularOrPlain(m, BinaryDecode.wordLines(spark, Seq(file), m.filePassword)))
      case other => throw new Registry.UnknownFormatError(other)
    }
  }

  private def single(f: TableMapping => DataFrame)
      : Seq[(Option[String], TableMapping => DataFrame)] = Seq((None, f))

  /** Header validation, header/footer trim and mapping of a single file's
    * (file, lineno, cells) rows. */
  private def tabularRecords(spark: SparkSession, mapping: TableMapping,
                             rows: DataFrame): DataFrame = {
    // T5: last_data_column caps cells for header rows too (`table.rb:55-57`
    // — process_line slices before validation).
    val lastCol = mapping.lastColumnToTransform
    val headerRows =
      if (mapping.headerLines > 0)
        // limit above the scan: lineno is unique per line of this one
        // file, so the filter yields at most header_lines rows and the
        // limit is semantically a no-op — but it plans as CollectLimit,
        // which stops reading after the header block instead of scanning
        // the whole file just to validate its header (a full-file pass
        // per file on a wide 10k-file import). Ordering is restored
        // driver-side over ≤ header_lines rows.
        headerFrame(rows, mapping.headerLines)
          .collect()
          .sortBy(r => r.getLong(r.fieldIndex("lineno")))
          .map { r =>
            val cells = Option(r.getSeq[String](r.fieldIndex("cells")))
              .map(_.toSeq).getOrElse(Nil)
            if (lastCol >= 0) cells.take(lastCol + 1) else cells
          }.toSeq
      else Nil
    val validated = MappingCompiler.consumeHeader(mapping, headerRows)
    MappingCompiler(validated).records(MappingCompiler.dataRows(rows, validated))
  }

  /** The header block of a single file's (file, lineno, cells) frame,
    * limit-capped so the read plans a CollectLimit and stops after the
    * header. CONTRACT: `rows` must hold exactly ONE file — on a
    * multi-file frame the global `limit(headerLines)` would keep an
    * arbitrary `headerLines`-row subset and nondeterministically drop
    * other files' header rows (the per-file `lineno` filter alone is
    * correct for any frame; the limit is what makes the scan stop, and it
    * is only sound per file). Every caller builds per-file frames; a new
    * multi-file caller must window per file instead. Package-private for
    * the plan pin in ImporterSpec. */
  private[run] def headerFrame(rows: DataFrame, headerLines: Int): DataFrame =
    rows.filter(col("lineno") < headerLines).limit(headerLines)

  /** Non-tabular segmentation when the mapping declares it; else each line
    * is a one-cell row. */
  private def nonTabularOrPlain(mapping: TableMapping, lines: DataFrame): DataFrame = {
    if (mapping.nonTabular.isDefined) {
      val cells = NonTabular.tabulate(lines, mapping)
      MappingCompiler(mapping).records(cells)
    } else {
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
