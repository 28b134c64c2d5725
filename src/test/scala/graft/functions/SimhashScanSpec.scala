package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimhashScanSpec extends SparkSpec {
  import spark.implicits._

  /** The explode+groupBy rendering the native scan replaced — kept here
    * as the parity oracle so any drift from the original contract (which
    * the x_simhash* DuckDB rows pin at the query level) fails a unit
    * test with the offending string in hand. */
  private def rendered(docs: org.apache.spark.sql.DataFrame,
                       bits: Int, wide: Boolean): Map[Long, Long] = {
    val wordHash =
      if (bits <= 32 && !wide)
        expr("cast(conv(substring(md5(_w), 1, 8), 16, 10) as bigint)")
      else expr("cast(conv(substring(md5(_w), 1, 14), 16, 10) as bigint)")
    val ex = docs.select(col("id"), explode(split(col("text"), " ")).as("_w"))
      .withColumn("_h", wordHash)
    val bitSums = (0 until bits).map { b =>
      sum(shiftright(col("_h"), b).bitwiseAND(1) * 2 - 1).as(s"_s$b")
    }
    val agg = ex.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until bits).map { b =>
      when(col(s"_s$b") > 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
    agg.select(col("id"), sim.as("sig")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private val tricky = Seq(
    "plain words here",
    "",                       // empty text = one empty token
    "doubled  spaces",        // empty token in the middle
    "trailing space ",        // trailing empty token (split keeps it)
    " leading",               // leading empty token
    "one",
    "café naïve ünïcode",     // multi-byte UTF-8 words
    "a a a a repeated tokens a a",
    "   ")                    // only separators

  test("native scan == explode+groupBy rendering on edge-case strings (16/32/56 bits)") {
    // an RDD-backed frame, so the scan's generated code runs: a local
    // relation's projection is folded at plan time, interpreted
    val docs = spark.sparkContext.parallelize(
      tricky.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 3).toDF("id", "text")
    for ((bits, wide) <- Seq((16, false), (32, false), (16, true), (56, true))) {
      // planned afresh per path: an executed plan keeps its codegen mode
      def native(fused: Boolean) = {
        val q = docs.select(col("id"), SimhashScan.simhashScan(col("text"), bits, wide).as("sig"))
        val out = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(fusedInCodegen(q, "graft_simhash_scan") == fused)
        out
      }
      val gen = native(fused = true)
      assert(gen.size == tricky.size)
      assert(gen == rendered(docs, bits, wide), s"drift at bits=$bits wide=$wide")
      assert(withInterpreted(native(fused = false)) == gen,
        s"interpreted eval diverged at bits=$bits wide=$wide")
    }
  }

  test("scan is codegen-native (no fallback) and guards its inputs") {
    val docs = Seq((1L, "x")).toDF("id", "text")
    val plan = docs.select(SimhashScan.simhashScan(col("text"), 16))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_simhash_scan"))
    intercept[Exception] {
      Seq(Tuple1(3L)).toDF("n")
        .select(SimhashScan.simhashScan(col("n"), 16)).collect()
    }
    intercept[Exception] {
      docs.select(SimhashScan.simhashScan(col("text"), 57)).collect()
    }
  }
}
