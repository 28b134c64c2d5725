package graft.compile

import graft.SparkSpec
import graft.model.MappingLoader
import graft.sources.LineSource
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** T2 + T3 row-space trim ([[MappingCompiler.dataRows]]): the header
  * filter, and the footer ring buffer that runs once per file run. */
class DataRowsSpec extends SparkSpec {

  private val mapping = MappingLoader.loadTable(
    "klass: K\nheader_lines: 1\nfooter_lines: 2\ncolumns:\n- column: one\n")

  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq

  test("footer_lines trims each file of a partition on its own; a short file gives no rows") {
    val dir = Files.createTempDirectory("graft_footer")
    def file(name: String, lines: String*) =
      Files.write(dir.resolve(name), lines.mkString("", "\n", "\n").getBytes("UTF-8")).toString
    val a = file("a.txt", "head", "a1", "a2", "a3", "foot-a1", "foot-a2")
    val b = file("b.txt", "head", "b1", "foot-b1", "foot-b2")
    // header plus one line: shorter than header + footer
    val c = file("c.txt", "head", "c1")
    val lines = LineSource.lines(spark, Seq(a, b, c)).coalesce(1)
    assert(lines.rdd.getNumPartitions == 1, "the files must share one partition")
    val trimmed = MappingCompiler.dataRows(
      lines.select(col("file"), col("lineno"), array(col("line")).as("cells")), mapping)
    val plan = trimmed.queryExecution.optimizedPlan
    assert(plan.collectFirst { case j: Join => j; case g: Aggregate => g }.isEmpty,
      s"the trim plans a join or an aggregate:\n$plan")
    val got = trimmed.collect().map(r =>
      (r.getString(0).split('/').last, r.getLong(1), r.getSeq[String](2).head)).toSeq
    assert(got == Seq(("a.txt", 1L, "a1"), ("a.txt", 2L, "a2"), ("a.txt", 3L, "a3"),
      ("b.txt", 1L, "b1")))
  }

  test("a footer trim over rows out of file order fails, naming the file") {
    import spark.implicits._
    def trim(rows: (String, Long)*) = MappingCompiler.dataRows(
      spark.sparkContext.parallelize(rows.map { case (f, i) => (f, i, Seq(s"$f-$i")) }, 1)
        .toDF("file", "lineno", "cells"), mapping).collect()
    assert(trim(("a.txt", 1L), ("a.txt", 2L), ("a.txt", 3L), ("b.txt", 1L)).length == 1)
    val returns = intercept[Exception](
      trim(("a.txt", 1L), ("a.txt", 2L), ("b.txt", 1L), ("a.txt", 3L)))
    assert(messages(returns).exists(m => m != null && m.contains("returns to file a.txt")),
      messages(returns).mkString("\n"))
    val repeats = intercept[Exception](
      trim(("dup.txt", 1L), ("dup.txt", 2L), ("dup.txt", 2L)))
    assert(messages(repeats).exists(m => m != null && m.contains("repeats line 2 of file dup.txt")),
      messages(repeats).mkString("\n"))
  }
}
