package graft.sources

import graft.SparkSpec

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The one text reader: literal rows across encodings, line-ending styles
  * and quoted CSV records, at exact per-file line numbers. */
class LineSourceSpec extends SparkSpec {

  private def writeTmp(name: String, bytes: Array[Byte]): String = {
    val dir = Files.createTempDirectory("lines")
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  private def collectLines(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.orderBy("lineno").collect().map(r => (r.getLong(1), r.getString(2))).toSeq

  private def numbered(lines: String*): Seq[(Long, String)] =
    lines.zipWithIndex.map { case (l, i) => (i.toLong, l) }

  test("lines decode utf-8, utf-16 and windows-1252, every line ending") {
    val cases = Seq(
      ("plain utf-8", "alpha\nbeta\ngamma\n".getBytes("UTF-8"),
        numbered("alpha", "beta", "gamma")),
      ("crlf + no trailing newline", "one\r\ntwo\r\nthree".getBytes("UTF-8"),
        numbered("one", "two", "three")),
      ("bare cr", "a\rb\r\rc\r".getBytes("UTF-8"),
        numbered("a", "b", "", "c")),
      ("utf-8 bom", Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
        "héllo\nwörld\n".getBytes("UTF-8"), numbered("héllo", "wörld")),
      ("utf-16le bom", Array[Byte](0xFF.toByte, 0xFE.toByte) ++
        "seize\nbits\n".getBytes("UTF-16LE"), numbered("seize", "bits")),
      ("utf-16be bom", Array[Byte](0xFE.toByte, 0xFF.toByte) ++
        "big\nendian\n".getBytes("UTF-16BE"), numbered("big", "endian")),
      ("windows-1252 fallback", "café\nnaïve ÿ\n".getBytes("windows-1252"),
        numbered("café", "naïve ÿ")))
    cases.foreach { case (label, bytes, expected) =>
      val p = writeTmp("case.txt", bytes)
      val got = collectLines(LineSource.lines(spark, Seq(p)))
      assert(got == expected, s"$label: got $got")
    }
  }

  test("streamed csv records keep embedded newlines inside quotes") {
    val content = "name,notes\nBob,\"line one\nline two\"\nAnn,plain\n"
    val p = writeTmp("embedded.csv", content.getBytes("UTF-8"))
    assert(collectLines(LineSource.csvLines(spark, Seq(p))) ==
      numbered("name,notes", "Bob,\"line one\nline two\"", "Ann,plain"))
  }

  test("files sharing one partition keep contiguous 0-based linenos") {
    val sizes = Seq(3, 1, 5, 2, 4, 1, 3)
    val paths = sizes.zipWithIndex.map { case (n, i) =>
      writeTmp(s"f$i.txt", (1 to n).map(k => s"f$i-$k").mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    }
    val df = LineSource.lines(spark, paths)
    assert(df.rdd.getNumPartitions < paths.size,
      s"${paths.size} files over ${df.rdd.getNumPartitions} partitions share none")
    val byFile = df.collect().groupBy(_.getString(0)).view
      .mapValues(_.map(r => (r.getLong(1), r.getString(2))).sortBy(_._1).toSeq).toMap
    assert(byFile.size == paths.size)
    sizes.zipWithIndex.foreach { case (n, i) =>
      val file = byFile.keys.find(_.endsWith(s"/f$i.txt")).get
      assert(byFile(file) == numbered((1 to n).map(k => s"f$i-$k"): _*), file)
    }
  }

  test("a zero-byte file, or no file, gives zero rows") {
    val p = writeTmp("empty.txt", Array.emptyByteArray)
    assert(LineSource.lines(spark, Seq(p)).count() == 0L)
    assert(LineSource.csvLines(spark, Seq(p)).count() == 0L)
    assert(LineSource.lines(spark, Seq.empty).count() == 0L)
  }

  test("a missing path fails, naming the path") {
    val p = Files.createTempDirectory("lines").resolve("no_such_file.txt").toString
    val ex = intercept[Exception](LineSource.lines(spark, Seq(p)).collect())
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains("no_such_file.txt")),
      messages.mkString("\n"))
  }

  test("files open with the session's Hadoop conf on the executor") {
    // the scheme is known only to the session conf, and caching is off so
    // a filesystem the driver built cannot stand in for the task's own
    val p = writeTmp("session.txt", "s1\ns2\n".getBytes("UTF-8"))
    graft.runtime.GraftSession.withConf(spark,
        "fs.sessfs.impl" -> classOf[SessionOnlyFs].getName,
        "fs.sessfs.impl.disable.cache" -> "true") {
      val rows = LineSource.lines(spark, Seq(s"sessfs://$p")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._2).toSeq
      assert(rows == Seq((s"sessfs:$p", 0L, "s1"), (s"sessfs:$p", 1L, "s2")))
    }
  }

  test("a session fs.* key changed between two reads reaches the second read") {
    // the task conf is reused across reads; a changed key must not be
    // served from the conf an earlier read built
    val p = writeTmp("tagged.txt", "plain\n".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(p + ".v2"), "second\n".getBytes("UTF-8"))
    def read(suffix: String) = graft.runtime.GraftSession.withConf(spark,
        "fs.sessfs.impl" -> classOf[SuffixedFs].getName,
        "fs.sessfs.impl.disable.cache" -> "true",
        "fs.sessfs.suffix" -> suffix) {
      LineSource.lines(spark, Seq(s"sessfs://$p")).collect().map(_.getString(2)).toSeq
    }
    assert(read("") == Seq("plain"))
    assert(read(".v2") == Seq("second"))
    assert(read("") == Seq("plain"))
  }

  test("only the listing uses binaryFile in src/main") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    // file → how many times `token` appears in it, for the files it appears in
    def users(token: String) = sources
      .map { case (f, text) => f -> java.util.regex.Pattern.quote(token).r.findAllMatchIn(text).size }
      .filter(_._2 > 0).toMap
    assert(users("sparkContext.binaryFiles").isEmpty)
    assert(users("DefaultInMemoryMaxBytes").isEmpty)
    // the file-index listing; every reader's bytes reach it through perFile
    assert(users("format(\"binaryFile\")") == Map("graft/sources/LineSource.scala" -> 1))
  }

  test("a whole-document file past the 2 GiB ceiling fails, naming it, before any read") {
    var opens = 0
    val open = () => { opens += 1; new java.io.ByteArrayInputStream("%PDF-1.4\n".getBytes("UTF-8")) }
    val e = intercept[RuntimeException] {
      LineSource.wholeFile("file:/data/big.pdf", 3L * 1024 * 1024 * 1024, open)
    }
    assert(e.getMessage.contains("'file:/data/big.pdf'"))
    assert(e.getMessage.contains("tops out at") && e.getMessage.contains("2 GiB"))
    assert(opens == 0)
    // just below the ceiling the file is read, once
    assert(new String(LineSource.wholeFile("small.pdf", 9L, open), "UTF-8") == "%PDF-1.4\n")
    assert(opens == 1)
  }

  test("PDF and Word files open with the session's Hadoop conf on the executor") {
    val pdf = writeTmp("session.pdf", graft.queries.Fixtures.textPdf(Seq(Seq("Hello PDF", "line two"))))
    val word = writeTmp("session.docx", graft.queries.Fixtures.docx(Seq("first", "second")))
    graft.runtime.GraftSession.withConf(spark,
        "fs.sessfs.impl" -> classOf[SessionOnlyFs].getName,
        "fs.sessfs.impl.disable.cache" -> "true") {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._2).toSeq
      assert(rows(Pdf.lines(spark, Seq(s"sessfs://$pdf"))) ==
        Seq((s"sessfs:$pdf", 0L, "Hello PDF"), (s"sessfs:$pdf", 1L, "line two")))
      assert(rows(BinaryDecode.wordLines(spark, Seq(s"sessfs://$word"))) ==
        Seq((s"sessfs:$word", 0L, "first"), (s"sessfs:$word", 1L, "second")))
    }
  }

  test("a glob or a directory reads each visible file under it") {
    val dir = Files.createTempDirectory("lines")
    Seq("a.txt" -> "a1\na2\n", "b.txt" -> "b1\n", "c.csv" -> "c1\n",
        "_SUCCESS" -> "", ".hidden.txt" -> "h1\n").foreach { case (n, t) =>
      Files.write(dir.resolve(n), t.getBytes("UTF-8"))
    }
    def read(path: String) = LineSource.lines(spark, Seq(path)).collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getString(2))).sorted.toSeq
    assert(read(s"$dir/*.txt") == Seq(("a.txt", 0L, "a1"), ("a.txt", 1L, "a2"), ("b.txt", 0L, "b1")))
    assert(read(dir.toString) == read(s"$dir/*.txt") :+ (("c.csv", 0L, "c1")))
    assert(LineSource.lines(spark, Seq(s"$dir/a.txt")).head().getString(0).startsWith("file:/"))
  }

  test("a full delimited read works through the streaming path") {
    val az = ('A' to 'Z').map(_.toString)
    val content = az.mkString(",") + "\n" + Seq.fill(26)("1").mkString(",") + "\n"
    val p = writeTmp("wide.csv", content.getBytes("UTF-8"))
    val lines = LineSource.csvLines(spark, Seq(p))
    val rows = Tabular.delimitedCells(lines, ",", 26, liberal = false)
      .orderBy("lineno").select("lineno", "cells").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1))).toSeq
    assert(rows == Seq((0L, az), (1L, Seq.fill(26)("1"))))
  }
}

/** The local filesystem under a scheme of its own, "sessfs". */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessfs:///")
  override def getScheme: String = "sessfs"
}

/** [[SessionOnlyFs]] reading each file's sibling named by the conf key
  * `fs.sessfs.suffix`, so what a read returns shows which conf opened it. */
class SuffixedFs extends SessionOnlyFs {
  override def open(f: org.apache.hadoop.fs.Path,
                    bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    val suffix = getConf.get("fs.sessfs.suffix", "")
    super.open(new org.apache.hadoop.fs.Path(f.toString + suffix), bufferSize)
  }
}
