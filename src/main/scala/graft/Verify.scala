package graft
import graft.queries.QueryPack
import graft.runtime.GraftSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each registry query's result → parquet (negative
  * controls included), plus oracle_sql.json, for the DuckDB compare
  * (`tools/check_oracle.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional args(2): comma-separated query names — dump just those
    // (oracle_sql.json still covers them), so one new row can be checked
    // without re-running the whole suite. The driver passes two args, so
    // its gate always dumps everything.
    val only = args.lift(2).map(QueryPack.filterNames)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    QueryPack.registry.filter(q => only.forall(_(q.name))).foreach { q =>
      try q.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // UNFILTERED on purpose (the args(2) filter applies to the parquet
    // dumps only): the comment above promises oracle_sql.json always
    // covers every query, and the campaign tooling (tools/time_oracle.py)
    // reads this file as THE suite definition — a filtered dump would
    // silently shrink an engine-comparison pass to the filter set.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
