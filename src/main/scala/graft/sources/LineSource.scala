package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file ordered line access — the engine's equivalent of the
  * reference's text streaming (`lib/ndr_import/file/text.rb:15-47`) and its
  * encoding probe (`file/text.rb:35-47`: try UTF-16 first via BOM, then
  * UTF-8, then fall back to Windows-1252 — ndr_support `ensure_utf8!`).
  *
  * One reader serves every text, CSV, JSON Lines and VCF file
  * ([[streamedLines]]): each file is read by one task, line by line, in
  * O(line) memory whatever its size, so line numbers are exact and
  * per-file ordering is free — no global sort, no shuffle. Parallelism
  * comes from MANY files, never from within one text file, whose
  * semantics (header/footer/segmentation) are sequential.
  *
  * [[fileTexts]]/[[splitLines]] decode a whole document as one string;
  * they serve only readers that need the full text (the XML slurp and its
  * control-character retry, the XML metadata probe, Word).
  */
object LineSource {

  /** Decode bytes with the reference's probe order. Deterministic, pure. */
  def decodeSmart(bytes: Array[Byte]): String = {
    if (bytes == null) return null
    // BOM-based UTF-16 detection (reference mode probe 'rb:utf-16:utf-8')
    if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFE && (bytes(1) & 0xFF) == 0xFF)
      return new String(bytes, 2, bytes.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    if (bytes.length >= 2 && (bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xFE)
      return new String(bytes, 2, bytes.length - 2, java.nio.charset.StandardCharsets.UTF_16LE)
    // UTF-8 BOM
    val (off, len) =
      if (bytes.length >= 3 && (bytes(0) & 0xFF) == 0xEF && (bytes(1) & 0xFF) == 0xBB &&
          (bytes(2) & 0xFF) == 0xBF) (3, bytes.length - 3)
      else (0, bytes.length)
    // strict UTF-8, else Windows-1252 (ndr_support UTF8Encoding fallback)
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
    try dec.decode(java.nio.ByteBuffer.wrap(bytes, off, len)).toString
    catch {
      case _: java.nio.charset.CharacterCodingException =>
        new String(bytes, off, len, java.nio.charset.Charset.forName("windows-1252"))
    }
  }

  private val decodeSmartUdf = udf(decodeSmart _)

  /** One row per file: (file, text). */
  def fileTexts(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format("binaryFile").load(paths: _*)
      .select(col("path").as("file"), decodeSmartUdf(col("content")).as("text"))

  /** Split decoded text into chomped lines, Ruby `each_line`-style (no
    * phantom empty line after a trailing newline). */
  def splitLines(text: Column): Column = {
    val arr = split(text, "\r\n|\r|\n", -1)
    when(size(arr) > 0 && element_at(arr, -1) === "", slice(arr, lit(1), size(arr) - 1))
      .otherwise(arr)
  }

  /** Workbooks and XML files above this size take their streaming
    * readers ([[Excel.tables]], the importer's XML branch); smaller ones
    * keep the whole-document parse, whose retry semantics need every
    * byte. Text, CSV, JSON Lines and VCF always stream. */
  val DefaultInMemoryMaxBytes: Long = 256L * 1024 * 1024

  /** (file, lineno, line) — lineno 0-based per file, exact. */
  def lines(spark: SparkSession, paths: Seq[String]): DataFrame =
    streamedLines(spark, paths, lineIterator)

  /** (file, lineno, line) with quote-aware record splitting for CSV:
    * newlines inside a quoted field belong to the record (Ruby CSV
    * semantics — `CSV.foreach` row enumeration). */
  def csvLines(spark: SparkSession, paths: Seq[String]): DataFrame =
    streamedLines(spark, paths, csvRecordIterator)

  /** The one text reader: (file, lineno, line), each file read by one task,
    * two passes like the reference's delimited encoding probe
    * (`helpers/file/delimited.rb:48-88` — the first pass proves the
    * encoding, the second streams), so memory stays O(line), never
    * O(file). `records` splits a decoded file into its lines; a line it
    * drops takes no `lineno`. Spark's file index lists `paths` (globs,
    * directories, hidden files, a missing path failing here, naming it)
    * without reading a byte; its files become a local relation, which
    * spreads them over min(files, defaultParallelism) partitions with no
    * exchange. */
  private[sources] def streamedLines(spark: SparkSession, paths: Seq[String],
      records: java.io.BufferedReader => Iterator[String]): DataFrame = {
    import spark.implicits._
    val conf = TaskConf(spark)
    // inputFiles reports URIs; the Path spelling is binaryFile's `path`
    val files = spark.read.format("binaryFile").load(paths: _*).inputFiles
      .map(u => new org.apache.hadoop.fs.Path(new java.net.URI(u)).toString)
    spark.createDataset(files.toSeq)
      .mapPartitions { it =>
        // one reader open at a time per partition; close it even when the
        // consumer abandons the iterator early (limit/head)
        var open: java.io.Reader = null
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            if (open != null) try open.close() catch { case _: Exception => () }
          })
        it.flatMap { f =>
          val cs = probeCharset(conf.value, f)
          val br = openReader(conf.value, f, cs)
          // close the predecessor on handoff: it is either already closed
          // (iterator exhausted) or was abandoned mid-file (zero-line file,
          // consumer short-circuit) — double-close is a no-op, so handoff
          // plus the completion listener covers every path
          if (open != null) try open.close() catch { case _: Exception => () }
          open = br
          records(br).zipWithIndex.map { case (l, i) => (f, i.toLong, l) }
        }
      }.toDF("file", "lineno", "line")
  }

  /** Byte length of every path (-1 where the stat failed — exotic
    * filesystems). Stats in parallel on a DEDICATED bounded pool: serial
    * per-path HEAD calls would block the driver for minutes over object
    * stores with 100k-file inputs, and blocking I/O on the JVM-wide
    * commonPool would starve its other users. The one stat behind every
    * size-routed reader: Excel's routing and its fallback 2 GiB guard share
    * one map, and the importer's XML branch routes on it too. */
  private[graft] def statLengths(spark: SparkSession,
                                 paths: Seq[String]): Map[String, Long] = {
    if (paths.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, math.max(1, paths.size)))
    try {
      val futures = paths.map { p =>
        p -> pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            try {
              val hp = new org.apache.hadoop.fs.Path(p)
              hp.getFileSystem(conf).getFileStatus(hp).getLen
            } catch { case _: Exception => -1L }
        })
      }
      futures.map { case (p, f) => p -> f.get() }.toMap
    } finally pool.shutdown()
  }

  /** The Hadoop-qualified form of a path ("file:/tmp/x", "hdfs://nn/x") —
    * what `binaryFile`'s `path` column reports. Excel's streamed reader
    * emits THIS as its `file` value, so a workbook has one spelling
    * whichever reader read it. Resolved DRIVER-SIDE with the session's
    * Hadoop conf (session-level `fs.defaultFS`/scheme settings included) —
    * an executor-side default `Configuration()` could qualify differently
    * from binaryFile. */
  private[graft] def qualifiedPath(spark: SparkSession, p: String): String = {
    val hp = new org.apache.hadoop.fs.Path(p)
    try hp.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(hp).toString
    catch { case _: Exception => p }
  }

  /** The session's Hadoop conf (`spark.hadoop.*` keys, runtime `fs.*`
    * settings, credentials, `fs.<scheme>.impl`) as the key/value pairs a
    * task carries; `value` rebuilds it once per task, so executors open
    * files with the conf the driver listed them with. Spark's
    * `SerializableConfiguration` gzips every key's source list, which
    * costs about 20 ms per task, more than reading a small file. */
  private[sources] final class TaskConf private (entries: Array[(String, String)])
      extends Serializable {
    @transient lazy val value: org.apache.hadoop.conf.Configuration = {
      val c = new org.apache.hadoop.conf.Configuration(false)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  private[sources] object TaskConf {
    def apply(spark: SparkSession): TaskConf = {
      import scala.jdk.CollectionConverters._
      new TaskConf(spark.sessionState.newHadoopConf().iterator.asScala
        .map(e => e.getKey -> e.getValue).toArray)
    }
  }

  private[sources] def openStream(conf: org.apache.hadoop.conf.Configuration,
                                  p: String): java.io.InputStream = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(conf).open(hp)
  }

  /** Pass 1: BOM sniff + strict UTF-8 validation, streaming (no
    * materialisation). Mirrors decodeSmart's probe order exactly. */
  private[sources] def probeCharset(conf: org.apache.hadoop.conf.Configuration,
                                    p: String): java.nio.charset.Charset = {
    val in = new java.io.BufferedInputStream(openStream(conf, p))
    try {
      in.mark(4)
      val b0 = in.read(); val b1 = in.read()
      if (b0 == 0xFE && b1 == 0xFF) return java.nio.charset.StandardCharsets.UTF_16BE
      if (b0 == 0xFF && b1 == 0xFE) return java.nio.charset.StandardCharsets.UTF_16LE
      // no UTF-16 BOM: rewind, skip a UTF-8 BOM if present, then validate
      // the whole remainder as strict UTF-8 in 64 KiB chunks
      in.reset()
      in.mark(4)
      val hasUtf8Bom = in.read() == 0xEF && in.read() == 0xBB && in.read() == 0xBF
      if (!hasUtf8Bom) in.reset()
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      val reader = new java.io.InputStreamReader(in, dec)
      val buf = new Array[Char](64 * 1024)
      try {
        while (reader.read(buf) >= 0) ()
        java.nio.charset.StandardCharsets.UTF_8
      } catch {
        case _: java.nio.charset.CharacterCodingException =>
          java.nio.charset.Charset.forName("windows-1252")
      }
    } finally in.close()
  }

  /** Pass 2 reader: positioned past any BOM, decoding with the probed
    * charset (UTF-16 readers also consume the BOM). */
  private def openReader(conf: org.apache.hadoop.conf.Configuration, p: String,
                         cs: java.nio.charset.Charset): java.io.BufferedReader = {
    val in = new java.io.BufferedInputStream(openStream(conf, p))
    val utf16 = cs == java.nio.charset.StandardCharsets.UTF_16BE ||
      cs == java.nio.charset.StandardCharsets.UTF_16LE
    if (utf16) { in.read(); in.read() } // skip BOM
    else {
      in.mark(3)
      val hasUtf8Bom = in.read() == 0xEF && in.read() == 0xBB && in.read() == 0xBF
      if (!hasUtf8Bom) in.reset()
    }
    new java.io.BufferedReader(new java.io.InputStreamReader(in, cs), 64 * 1024)
  }

  /** readLine-based iterator: \n, \r and \r\n all terminate, terminator
    * dropped, no phantom empty line after a trailing newline — the exact
    * splitLines semantics. Closes the reader at exhaustion. */
  private[sources] def lineIterator(br: java.io.BufferedReader): Iterator[String] =
    new Iterator[String] {
      private var nxt = br.readLine()
      def hasNext: Boolean = nxt != null
      def next(): String = {
        val v = nxt
        nxt = br.readLine()
        if (nxt == null) br.close()
        v
      }
    }

  /** CSV records: newlines inside quoted fields stay in their record, and
    * `\r\n`, `\r` and `\n` end one outside quotes. Stateful, so a walk
    * rather than an expression. Closes the reader at exhaustion. */
  private def csvRecordIterator(br: java.io.BufferedReader): Iterator[String] =
    new Iterator[String] {
      private var done = false
      private var nxt: String = advance()
      private def advance(): String = {
        if (done) return null
        var c = br.read()
        if (c < 0) { done = true; br.close(); return null }
        val sb = new StringBuilder
        var inQuotes = false
        while (c >= 0) {
          val ch = c.toChar
          if (ch == '"') { inQuotes = !inQuotes; sb += ch }
          else if (!inQuotes && (ch == '\n' || ch == '\r')) {
            if (ch == '\r') {
              br.mark(1)
              val peek = br.read()
              if (peek >= 0 && peek != '\n') br.reset()
            }
            return sb.toString
          } else sb += ch
          c = br.read()
        }
        done = true
        br.close()
        sb.toString // EOF without trailing newline: final record
      }
      def hasNext: Boolean = nxt != null
      def next(): String = { val v = nxt; nxt = advance(); v }
    }
}
