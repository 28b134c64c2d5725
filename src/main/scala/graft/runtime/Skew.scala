package graft.runtime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation utilities for the 100 TB posture.
  *
  * AQE's skew-join splitting covers joins; these helpers cover the cases
  * AQE does not: aggregations over a hot key, and map-side pre-aggregation
  * when a handful of keys dominate the shuffle. Both are pure DataFrame
  * re-writes — no custom partitioner, so they compose with everything
  * else (codegen, pushdown, further operators).
  */
object Skew {

  /** Two-phase salted aggregation: group by (key, salt) first — spreading
    * a hot key over `salts` reducers — then merge the partials. The two
    * aggregate maps must be an associative decomposition (e.g. partial
    * counts summed, partial sums summed, partial maxes maxed).
    *
    * {{{
    * Skew.saltedAgg(df, Seq(col("user_id")), 16,
    *   partial = Map("n" -> count(lit(1)), "v" -> sum(col("value"))),
    *   merge   = Map("n" -> sum(col("n")), "v" -> sum(col("v"))))
    * }}}
    */
  def saltedAgg(df: DataFrame, keys: Seq[Column], salts: Int,
                partial: Map[String, Column],
                merge: Map[String, Column]): DataFrame = {
    require(salts > 0)
    val salted = df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val phase1 = salted
      .groupBy((keys :+ col("_salt")): _*)
      .agg(partial.head._2.as(partial.head._1),
           partial.tail.map { case (n, c) => c.as(n) }.toSeq: _*)
    phase1
      .groupBy(keys: _*)
      .agg(merge.head._2.as(merge.head._1),
           merge.tail.map { case (n, c) => c.as(n) }.toSeq: _*)
  }

  /** Broadcast-salt a skewed JOIN key manually (for engines/paths without
    * AQE): replicate the small side over `salts` copies and salt the big
    * side's key, so one hot key fans across `salts` tasks. */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: Column,
                 smallKey: Column, salts: Int): DataFrame = {
    val saltedBig = big.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val replicated = small
      .withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(replicated,
      bigKey === smallKey && saltedBig("_salt") === replicated("_salt"))
      .drop("_salt")
  }
}
