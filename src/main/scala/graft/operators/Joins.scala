package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators in their distributed-safe shapes.
  *
  * Both deliberately avoid inequality join conditions: Spark plans a
  * non-equi join as a broadcast nested loop (or a per-key cross product),
  * which degenerates quadratically at scale. The shapes here — a
  * carry-forward window for as-of, bounded bucket fan-out for range — keep
  * every shuffle keyed and every task's work proportional to its input.
  * OperatorsSpec checks both against naive inequality joins. The
  * `x_asof_join` / `x_range_join` oracle queries inline their own window
  * and bucketed-join plans of the same shapes; they do not call these
  * operators.
  */
object Joins {

  /** As-of join: for each left row, the latest right row of the same key
    * with `rightTs` strictly before (`strict=true`) or at-or-before the
    * left row's `leftTs`. Right value columns arrive as `asof_<name>`
    * (null when no prior right row exists).
    *
    * Shape: tag + union + one shuffle on the key + one ordered window with
    * `last(..., ignoreNulls)` carry-forward. Never an inequality join.
    * Ties on the timestamp are broken by side: with `strict=true` the right
    * row at the same instant is NOT visible to the left row; otherwise it is.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               leftTs: String, rightTs: String, valueCols: Seq[String],
               strict: Boolean = true): DataFrame = {
    require(keyCols.nonEmpty && valueCols.nonEmpty)
    val leftCols = left.columns.toSeq
    // Side ordering realises the tie semantics through the preceding-row
    // frame: with strict=true, a right row at the SAME instant sorts after
    // the left row and falls outside its preceding frame (not visible);
    // inclusive sorts it before (visible). Ties among right rows at one
    // instant are broken arbitrarily.
    val (leftSide, rightSide) = if (strict) (0, 1) else (1, 0)
    // All value columns travel as ONE struct: the struct is non-null for
    // every right row even when individual fields are null, so the
    // ignoreNulls carry-forward adopts the latest right ROW atomically —
    // never a mix of fields from different rows, never skipping a row
    // whose value happens to be null.
    val rightVals = struct(valueCols.map(col): _*)
    val unioned = left.select(
      (leftCols.map(col) ++
        Seq(col(leftTs).as("_ts"), lit(leftSide).as("_side"),
          lit(null).cast(right.select(rightVals).schema.head.dataType).as("_vals"))): _*)
      .unionByName(right.select(
        (leftCols.map(c => if (keyCols.contains(c)) col(c) else lit(null).as(c)) ++
          Seq(col(rightTs).as("_ts"), lit(rightSide).as("_side"),
            rightVals.as("_vals"))): _*))
    val frame = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carried = unioned.withColumn("_vals",
      when(col("_side") === leftSide,
        last(when(col("_side") === rightSide, col("_vals")), ignoreNulls = true)
          .over(frame))
        .otherwise(col("_vals")))
    carried.filter(col("_side") === leftSide)
      .select(leftCols.map(col) ++
        valueCols.map(c => col("_vals").getField(c).as(s"asof_$c")): _*)
  }

  /** Range join: all (left, right) pairs of the same key with
    * `rightTs` in `(leftTs + lowerMs, leftTs + upperMs]`. Both sides are
    * bucketed at `bucketMs` (default: the window width) and equi-joined on
    * (key, bucket), then the exact bounds filter — bounded fan-out of
    * `⌈window/bucket⌉+1` buckets per left row instead of an inequality
    * join's per-key cross product. */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                leftTs: String, rightTs: String,
                lowerMs: Long, upperMs: Long,
                bucketMs: Long = 0L): DataFrame = {
    require(upperMs > lowerMs, "empty range")
    val w = if (bucketMs > 0) bucketMs else upperMs - lowerMs
    val l = left.withColumn("_bucket",
      explode(sequence(expr(s"(${leftTs} + ${lowerMs}) div ${w}"),
                       expr(s"(${leftTs} + ${upperMs}) div ${w}"))))
    val r = right.withColumn("_bucket", expr(s"${rightTs} div ${w}"))
    val cond = keyCols.map(k => l(k) === r(k)).reduce(_ && _) &&
      l("_bucket") === r("_bucket") &&
      r(rightTs) > l(leftTs) + lowerMs && r(rightTs) <= l(leftTs) + upperMs
    l.join(r, cond)
      .drop("_bucket")
  }

  /** Column-renaming helper for self-range-joins: prefix every column. */
  def prefixed(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(s"$prefix$c")): _*)
}
