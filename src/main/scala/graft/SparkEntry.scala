package graft
import graft.queries.QueryPack.registry
import org.apache.spark.sql.{SparkSession, DataFrame}
/** The battery's entry points for external tools, derived from the one
  * query list [[graft.queries.QueryPack.registry]]: every query carries
  * its oracle. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.QueryPack.q1Agg(spark, "/root/testdata/sf0.001")
  /** Every query's DataFrame function over a data directory, by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap
  /** Oracle-pinned queries left out of `graft.Bench`'s headline suite
    * unless named; each query function's scaladoc gives the reason. */
  def negativeControls: Set[String] =
    registry.filter(_.negativeControl).map(_.name).toSet
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracleSql).toMap
}
