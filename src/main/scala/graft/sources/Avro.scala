package graft.sources

import graft.model._
import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Avro reader + mapping scaffold (S9/S10 — reference
  * `lib/ndr_import/file/avro.rb`, `avro/table.rb`).
  *
  * The reference stringifies every value and emits the field names as a
  * synthetic header row (`avro.rb:13-30`); we preserve both behaviours so
  * mappings written for the reference (header_lines: 1, daysafter on
  * logical dates) run unchanged. Each file is decoded on one task through
  * the shared per-file runner ([[LineSource.perFile]]), streamed with the
  * Avro container reader (avro core ships with Spark) over the task's
  * stream: memory holds one Avro block, never the whole file.
  */
object Avro {

  private def stringify(v: Any): String = v match {
    case null => ""
    case b: java.nio.ByteBuffer =>
      new String(b.array(), java.nio.charset.StandardCharsets.ISO_8859_1)
    case other => other.toString
  }

  /** Rows with the synthetic header first (`avro.rb:17-24`). */
  def rowsFromBytes(bytes: Array[Byte]): Seq[Seq[String]] =
    rowIterator(new java.io.ByteArrayInputStream(bytes)).toSeq

  /** One Avro container stream's rows, decoded block by block; the header
    * comes from the first record, so a file with no record gives no row. */
  private def rowIterator(in: java.io.InputStream): Iterator[Seq[String]] = {
    val reader = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    var header: Seq[String] = null
    Iterator.continually(reader).takeWhile(r => r.hasNext || { r.close(); false }).flatMap { r =>
      val rec = r.next()
      val first = header == null
      if (first) header = rec.getSchema.getFields.asScala.map(_.name).toSeq
      val values = header.map(f => stringify(rec.get(f)))
      if (first) Iterator(header, values) else Iterator.single(values)
    }
  }

  /** (file, lineno, cells) — header row at lineno 0 per file. */
  def rows(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    LineSource.perFile(spark, paths) { (file, _, open) =>
      rowIterator(open()).zipWithIndex.map { case (cells, i) => (file, i.toLong, cells) }
    }.toDF("file", "lineno", "cells")
  }

  /** S10 — build a Table mapping from an `.avsc` schema
    * (`avro/table.rb:9-45`): klass required, header_lines 1, logical `date`
    * fields get `daysafter: '1970-01-01'`; names downcased. */
  def tableFromSchema(schemaJson: String, klass: String): TableMapping = {
    val schema = new Schema.Parser().parse(schemaJson)
    val columns = schema.getFields.asScala.map { f =>
      val name = f.name
      val isDate = unwrap(f.schema()).exists(s =>
        s.getType == Schema.Type.INT &&
          Option(s.getLogicalType).exists(_.getName == "date"))
      val fm =
        if (isDate) FieldMapping(field = name.toLowerCase, daysafter = Some("1970-01-01"))
        else FieldMapping(field = name.toLowerCase)
      ColumnMapping(column = Some(name.toLowerCase), mappings = Seq(fm))
    }.toSeq
    TableMapping(klass = Some(klass), format = Some("avro"), headerLines = 1,
      columns = columns)
  }

  private def unwrap(s: Schema): Seq[Schema] =
    if (s.getType == Schema.Type.UNION) s.getTypes.asScala.toSeq else Seq(s)

}
