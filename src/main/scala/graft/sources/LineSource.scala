package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

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
  * semantics (header/footer/segmentation) are sequential. Its per-file
  * runner ([[perFile]]) reads every file of every format, `binaryFile`
  * only listing them: workbooks ([[Excel.tables]]) and XML
  * ([[XmlSource.records]]) stream with the same encoding probe
  * ([[probe]]), Avro block by block, and the whole-document formats (PDF,
  * Word, the XML metadata DOM, OLE workbooks) one file held whole at a
  * time under one 2 GiB guard ([[wholeFile]]).
  *
  * [[decodeSmart]] decodes a whole document as one string (the XML
  * metadata DOM); [[splitLines]] is the column form of [[lineIterator]].
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

  /** Split decoded text into chomped lines, Ruby `each_line`-style (no
    * phantom empty line after a trailing newline). */
  def splitLines(text: Column): Column = {
    val arr = split(text, "\r\n|\r|\n", -1)
    when(size(arr) > 0 && element_at(arr, -1) === "", slice(arr, lit(1), size(arr) - 1))
      .otherwise(arr)
  }

  /** (file, lineno, line) — lineno 0-based per file, exact. */
  def lines(spark: SparkSession, paths: Seq[String]): DataFrame =
    streamedLines(spark, paths, lineIterator)

  /** (file, lineno, line) with quote-aware record splitting for CSV:
    * newlines inside a quoted field belong to the record (Ruby CSV
    * semantics — `CSV.foreach` row enumeration). */
  def csvLines(spark: SparkSession, paths: Seq[String]): DataFrame =
    streamedLines(spark, paths, csvRecordIterator)

  /** The one text reader: (file, lineno, line), two passes per file like
    * the reference's delimited encoding probe (`helpers/file/delimited.rb:48-88`
    * — the first pass proves the encoding, the second streams), so memory
    * stays O(line), never O(file). `records` splits a decoded file into
    * its lines; a line it drops takes no `lineno`. */
  private[sources] def streamedLines(spark: SparkSession, paths: Seq[String],
      records: java.io.BufferedReader => Iterator[String]): DataFrame = {
    import spark.implicits._
    perFile(spark, paths) { (file, _, open) =>
      val (cs, _) = probe(open)(_ => ())
      records(openReader(open, cs)).zipWithIndex.map { case (l, i) => (file, i.toLong, l) }
    }.toDF("file", "lineno", "line")
  }

  /** The one per-file runner behind every reader. Spark's file index lists
    * `paths` (globs, directories, hidden files, `k=v` directories, a
    * missing path failing here, naming it) without reading a byte; its
    * non-empty files become a local relation, which spreads them over
    * min(files, defaultParallelism) partitions with no exchange. `read(file, length,
    * open)` yields one file's rows in one task: `file` is binaryFile's
    * `path` spelling, `length` the listed byte length, and `open` opens the
    * file with the session's Hadoop conf. Every stream `open` hands out is
    * closed when the task moves to the next file or completes, so a
    * consumer that stops early (limit/head) leaks nothing. */
  private[sources] def perFile[T: Encoder](spark: SparkSession, paths: Seq[String])(
      read: (String, Long, () => java.io.InputStream) => Iterator[T]): Dataset[T] = {
    import spark.implicits._
    val conf = TaskConf(spark)
    val listed = spark.read.format("binaryFile").load(paths: _*).queryExecution.analyzed
      .collect { case r: LogicalRelation => r.relation }
      .collect { case r: HadoopFsRelation => r.location.listFiles(Nil, Nil) }
      .flatten.flatMap(_.files).map(f => (f.getPath.toString, f.getLen))
    spark.createDataset(listed).mapPartitions { it =>
      val opened = scala.collection.mutable.ArrayBuffer.empty[java.io.Closeable]
      def closeOpened(): Unit = {
        opened.foreach(c => try c.close() catch { case _: Exception => () })
        opened.clear()
      }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeOpened()))
      it.flatMap { case (file, len) =>
        // the previous file's streams are exhausted or abandoned by now
        closeOpened()
        read(file, len, () => {
          val in = openStream(conf.value, file)
          opened += in
          in
        })
      }
    }
  }

  /** Whole-document formats (PDF, AcroForm, Word, the XML metadata DOM) on
    * the same runner: `read(file, bytes)` parses one file held whole. */
  private[sources] def wholeFiles[T: Encoder](spark: SparkSession, paths: Seq[String])(
      read: (String, Array[Byte]) => Iterator[T]): Dataset[T] =
    perFile(spark, paths)((file, len, open) => read(file, wholeFile(file, len, open)))

  /** One file's bytes, read whole after a guard on its listed length: a
    * byte array, like a CFB container, tops out just below 2 GiB, and the
    * clear error must fire before readAllBytes throws OutOfMemoryError. */
  private[sources] def wholeFile(file: String, len: Long,
                                 open: () => java.io.InputStream): Array[Byte] = {
    if (len >= Int.MaxValue.toLong - 8)
      sys.error(s"Unable to read oversized file '$file' ($len bytes): the " +
        "format needs a full in-memory parse and a whole-file read tops out " +
        "at 2 GiB — the file is corrupt or mislabelled")
    val in = open()
    try in.readAllBytes() finally in.close()
  }

  /** The session's Hadoop conf (`spark.hadoop.*` keys, runtime `fs.*`
    * settings, credentials, `fs.<scheme>.impl`) as the key/value pairs a
    * task carries, so executors open files with the conf the driver listed
    * them with. `value` is built once per JVM for each distinct set of
    * pairs and reused by every task that carries the same set; a session
    * whose keys change between reads carries a new set, and so a new conf.
    * Spark's `SerializableConfiguration` gzips every key's source list,
    * which costs about 20 ms per task, more than reading a small file. */
  private[sources] final class TaskConf private (entries: Array[(String, String)])
      extends Serializable {
    @transient lazy val value: Configuration = TaskConf.built(entries.toSeq)
  }

  private[sources] object TaskConf {
    def apply(spark: SparkSession): TaskConf = {
      import scala.jdk.CollectionConverters._
      new TaskConf(spark.sessionState.newHadoopConf().iterator.asScala
        .map(e => e.getKey -> e.getValue).toArray)
    }

    /** The few most recently used confs, keyed by their pairs. */
    private val recent =
      new java.util.LinkedHashMap[Seq[(String, String)], Configuration](8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Seq[(String, String)], Configuration]): Boolean = size() > 4
      }

    private def built(pairs: Seq[(String, String)]): Configuration = recent.synchronized {
      recent.computeIfAbsent(pairs, _ => {
        val c = new Configuration(false)
        pairs.foreach { case (k, v) => c.set(k, v) }
        c
      })
    }
  }

  private def openStream(conf: Configuration, p: String): java.io.InputStream = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(conf).open(hp)
  }

  /** Pass 1: BOM sniff, then strict UTF-8 validation, streamed — the same
    * probe order as [[decodeSmart]]. `check` reads the text as it is
    * decoded (an XML file parses it; a text file needs nothing), so the
    * common case costs one read. Returns the charset and `check`'s verdict
    * in it — None when the file proved not to be UTF-8, so the caller
    * checks it again in Windows-1252 if it needs a verdict. */
  private[sources] def probe[A](open: () => java.io.InputStream)(
      check: java.io.Reader => A): (Charset, Option[A]) = {
    val in = new java.io.BufferedInputStream(open())
    try {
      in.mark(4)
      val b0 = in.read(); val b1 = in.read()
      val utf16 =
        if (b0 == 0xFE && b1 == 0xFF) StandardCharsets.UTF_16BE
        else if (b0 == 0xFF && b1 == 0xFE) StandardCharsets.UTF_16LE
        else null
      if (utf16 != null) return (utf16, Some(check(new java.io.InputStreamReader(in, utf16))))
      in.reset()
      skipUtf8Bom(in)
      val strict = new java.io.InputStreamReader(in, StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT))
      try {
        val verdict = check(strict)
        val buf = new Array[Char](64 * 1024)
        while (strict.read(buf) >= 0) ()
        (StandardCharsets.UTF_8, Some(verdict))
      } catch {
        case _: java.nio.charset.CharacterCodingException => (Charset.forName("windows-1252"), None)
      }
    } finally in.close()
  }

  private def skipUtf8Bom(in: java.io.BufferedInputStream): Unit = {
    in.mark(3)
    if (!(in.read() == 0xEF && in.read() == 0xBB && in.read() == 0xBF)) in.reset()
  }

  /** Pass 2 reader: positioned past any BOM, decoding with the probed
    * charset (UTF-16 readers also consume the BOM). */
  private[sources] def openReader(open: () => java.io.InputStream,
                                  cs: Charset): java.io.BufferedReader = {
    val in = new java.io.BufferedInputStream(open())
    if (cs == StandardCharsets.UTF_16BE || cs == StandardCharsets.UTF_16LE) {
      in.read(); in.read() // skip BOM
    } else skipUtf8Bom(in)
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
