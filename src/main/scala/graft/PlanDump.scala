package graft

import graft.queries.QueryPack

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (plans/<round>/<q>_<tag>.txt).
  * Both this and [[Bench]] build their session from
  * [[graft.runtime.GraftSession]], so the dumped plan is the plan the
  * bench actually executes — a plan captured under a different planner
  * would pin claims Bench never runs.
  *
  * Usage: PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  * (no query list = every non-negative-control query). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val only = args.lift(3).map(QueryPack.filterNames)
    val spark = graft.runtime.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val picked = QueryPack.registry.filter(q => only.fold(!q.negativeControl)(_(q.name)))
      .sortBy(_.name)
    picked.foreach { case QueryPack.Query(name, fn, _, _) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
