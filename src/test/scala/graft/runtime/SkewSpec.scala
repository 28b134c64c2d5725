package graft.runtime

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  test("salted aggregation equals plain aggregation (hot key included)") {
    import spark.implicits._
    // one massively hot key + a tail
    val df = ((1 to 5000).map(i => ("hot", i % 7)) ++
              (1 to 500).map(i => (s"k${i % 23}", i))).toDF("k", "v")

    val plain = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    val salted = Skew.saltedAgg(df, Seq(col("k")), 8,
        partial = Map("n" -> count(lit(1)), "s" -> sum(col("v"))),
        merge = Map("n" -> sum(col("n")), "s" -> sum(col("s"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    assert(salted == plain)
  }

  test("salted join equals plain join") {
    import spark.implicits._
    val big = ((1 to 2000).map(_ => 1) ++ (2 to 50)).toDF("k")
    val small = (1 to 50).map(i => (i, s"v$i")).toDF("sk", "sv")
    val plain = big.join(small, col("k") === col("sk"))
      .groupBy("sv").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(big, small, col("k"), col("sk"), 8)
      .groupBy("sv").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }
}
