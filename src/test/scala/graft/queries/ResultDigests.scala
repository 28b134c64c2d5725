package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Order-free content digests of registry query results, canonicalised
  * the way `tools/check_oracle.py` canonicalises a result before it
  * compares with DuckDB: columns sorted by name, every value rendered as
  * a string, rows sorted, md5 over the lot. A digest moves only when a
  * query's answer moves, so the committed digests catch a wrong answer
  * without DuckDB.
  *
  * Regenerate (only with a declared change of a query's semantics), with
  * `<sf0.01>` the TESTDATA.md sf0.01 directory:
  * {{{
  * sbt "Test/runMain graft.queries.ResultDigests <sf0.01> \
  *   src/test/resources/graft/result_digests_sf0.01.tsv"
  * }}}
  * It runs on the test suites' session profile (`SparkSpec.session`),
  * so the digests are made under the same partitioning the spec checks
  * them under. */
object ResultDigests {

  /** (row count, md5 hex) of `df`'s canonical rendering. */
  def digest(df: DataFrame): (Long, String) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => order.map(i => field(render(r.get(i)))).mkString("(", ",", ")"))
    java.util.Arrays.sort(rows.asInstanceOf[Array[Object]])
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r => md.update(r.getBytes(UTF_8)); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  // length-prefixed, so no value's text can fake a field boundary
  private def field(s: String): String = s"${s.length}:$s"

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(x => field(render(x))).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => field(render(k)) + "=" + field(render(x)) }
        .sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(x => field(render(x))).mkString("(", ",", ")")
    case other => other.toString
  }

  /** name → (rows, md5) from a digest file: one `name\trows\tmd5` line
    * per query. */
  def load(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.nonEmpty)
      .map { l =>
        val Array(name, rows, md5) = l.split('\t')
        name -> (rows.toLong, md5)
      }.toMap

  /** Builds `q` at `sfDir` and digests it, then frees what the query
    * pinned (pipeline persists, checkpoint blocks), as `graft.Bench`
    * does between queries. */
  def run(spark: SparkSession, q: QueryPack.Query, sfDir: String): (Long, String) = {
    val sc = spark.sparkContext
    val pinnedBefore = sc.getPersistentRDDs.keySet
    var df: DataFrame = null
    try { df = q.build(spark, sfDir); digest(df) }
    finally {
      if (df != null) graft.operators.TextPipeline.unpersistPipeline(df)
      spark.sqlContext.clearCache()
      (sc.getPersistentRDDs.keySet -- pinnedBefore)
        .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, out) = (args(0), args(1))
    val spark = graft.SparkSpec.session
    val lines = QueryPack.registry.map { q =>
      val (n, md5) = run(spark, q, sfDir)
      s"${q.name}\t$n\t$md5"
    }
    Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
