package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The temperature rate table is derived on the driver from one
  * `(stratum, n)` aggregation. These tests pin it bit-for-bit to the
  * same algebra written as Spark column expressions (the earlier
  * implementation, kept below as the reference), and pin
  * [[TextStats.applyTemperature]]'s membership to the reference's. */
class TemperatureRatesSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: the rate algebra as self-joined Spark aggregates. */
  private def referenceRates(df: DataFrame, strataCol: String, alpha: Double): DataFrame = {
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("n"))
    val shared = counts
      .crossJoin(broadcast(counts.agg(sum(col("n")).as("_tot"))))
      .withColumn("_share", col("n") / col("_tot"))
      .withColumn("_pw", pow(col("_share"), lit(alpha)))
    val targeted = shared
      .crossJoin(broadcast(shared.agg(sum(col("_pw")).as("_z"))))
      .withColumn("_target", col("_pw") / col("_z"))
      .withColumn("_rate", col("_target") / col("_share"))
    targeted
      .crossJoin(broadcast(targeted.agg(max(col("_rate")).as("_rmax"))))
      .select(col(strataCol), col("n"),
        round(col("_share"), 4).as("share"),
        round(col("_target"), 4).as("target_share"),
        round(col("_rate") / col("_rmax"), 4).as("rate"))
  }

  /** Reference: the rates collected by string key into the sample. */
  private def referenceApply(df: DataFrame, strataCol: String, keyCol: String,
                             alpha: Double): DataFrame = {
    val fractions = referenceRates(df, strataCol, alpha)
      .select(col(strataCol).cast("string"), col("rate"))
      .collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getDouble(1)))
      .toMap
    TextStats.stratifiedSample(df, strataCol, "id", fractions, defaultFraction = 1.0)
  }

  private def rateRows(df: DataFrame): Map[Option[Any], (Long, Double, Double, Double)] =
    df.collect().map(r => Option(r.get(0)) ->
      ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap

  /** A corpus with `counts(i)` rows in stratum `s<i>`, plus `nullRows`
    * rows whose stratum is null; ids are unique. */
  private def corpus(counts: Seq[Int], nullRows: Int): DataFrame = {
    val strata = counts.zipWithIndex.map { case (n, i) => (Option(s"s$i"), n) } ++
      (if (nullRows > 0) Seq((Option.empty[String], nullRows)) else Nil)
    strata.toDF("s", "n")
      .select(col("s"), explode(sequence(lit(1), col("n"))).as("i"))
      .withColumn("id", monotonically_increasing_id())
  }

  test("driver rates equal the column-expression algebra bit for bit") {
    val rng = new scala.util.Random(20261017L)
    // skewed counts fall off as ~1/rank² with seeded noise, uniform
    // counts are equal; every uniform table and the largest skewed one
    // add a null stratum. The last table's shares (0.00145, 0.00465,
    // 0.00815, 0.98575) are decimal ties at the 4th place; rounding by
    // `math.round(x * 10000)` takes the first three down, `round` up.
    def skewed(k: Int) = (1 to k).map(r => 4000 / (r * r) + 1 + rng.nextInt(9))
    val tables = Seq(1, 2, 7, 200).flatMap(k => Seq(
        (s"$k strata, skewed", corpus(skewed(k), 0)),
        (s"$k strata, uniform, null stratum", corpus(Seq.fill(k)(13), 1 + rng.nextInt(40))))) ++
      Seq(("200 strata, skewed, null stratum", corpus(skewed(200), 1 + rng.nextInt(40))),
        ("4-place ties in the shares", corpus(Seq(29, 93, 163, 19715), 0)))
    for ((label, df) <- tables; alpha <- Seq(0.3, 0.5, 1.0)) {
      val got = TextStats.temperatureRates(df, "s", alpha)
      val want = referenceRates(df, "s", alpha)
      assert(got.schema == want.schema, s"$label, alpha $alpha")
      val (g, w) = (rateRows(got), rateRows(want))
      assert(g.size == got.count(), s"$label, alpha $alpha: duplicate strata")
      assert(g == w, s"$label, alpha $alpha")
    }
  }

  test("temperatureRates reads no file and keeps the stratum's type") {
    val dir = java.nio.file.Files.createTempDirectory("temperature-rates").toFile
    try {
      val path = new java.io.File(dir, "docs").getPath
      corpus(Seq(400, 90, 10), 5).write.parquet(path)
      val docs = spark.read.parquet(path)
      val rates = TextStats.temperatureRates(docs, "s", 0.5)
      assert(rates.inputFiles.isEmpty)
      assert(rateRows(rates) == rateRows(referenceRates(docs, "s", 0.5)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
    val ints = (1 to 50).map(i => (i.toLong, i % 3)).toDF("id", "s")
    val intRates = TextStats.temperatureRates(ints, "s", 0.5)
    assert(intRates.schema == referenceRates(ints, "s", 0.5).schema)
    assert(intRates.schema("s").dataType == org.apache.spark.sql.types.IntegerType)
  }

  private def members(df: DataFrame): Set[Long] =
    df.select(col("id")).as[Long].collect().toSet

  test("applyTemperature on an empty frame returns an empty frame") {
    val empty = Seq.empty[(Long, String)].toDF("id", "s")
    assert(TextStats.temperatureRates(empty, "s", 0.5).count() == 0)
    assert(TextStats.applyTemperature(empty, "s", "id", 0.5).count() == 0)
  }

  test("applyTemperature with an all-null stratum keeps every row") {
    val df = (1L to 300L).map(i => (i, Option.empty[String])).toDF("id", "s")
    val out = TextStats.applyTemperature(df, "s", "id", 0.3)
    assert(members(out) == (1L to 300L).toSet)
    assert(members(out) == members(referenceApply(df, "s", "id", 0.3)))
  }

  test("applyTemperature: a null stratum counts in the totals, an int stratum keys by its cast") {
    // 600 / 150 / 40 int strata plus 60 null-stratum rows
    val ints = (1L to 850L).map(i =>
      (i, if (i <= 600) Some(1) else if (i <= 750) Some(2) else if (i <= 790) Some(3) else None))
      .toDF("id", "s")
    // the reference's sample cannot take an int stratum (its map lookup
    // fails analysis), so it runs on the string cast: same rates, same keys
    val strings = ints.withColumn("s", col("s").cast("string"))
    for (alpha <- Seq(0.3, 0.5, 1.0)) {
      val out = TextStats.applyTemperature(ints, "s", "id", alpha)
      assert(out.schema == ints.schema)
      assert(members(out) == members(referenceApply(strings, "s", "id", alpha)),
        s"alpha $alpha")
      // null rows fall to the default fraction 1.0
      assert(out.filter(col("s").isNull).count() == 60)
    }
    // the dominant stratum is really downsampled at alpha 0.5
    assert(TextStats.applyTemperature(ints, "s", "id", 0.5)
      .filter(col("s") === 1).count() < 600)
  }

  test("alpha outside (0, 1] is rejected") {
    val df = Seq((1L, "a")).toDF("id", "s")
    for (a <- Seq(0.0, -0.5, 1.5)) {
      intercept[IllegalArgumentException](TextStats.temperatureRates(df, "s", a))
      intercept[IllegalArgumentException](TextStats.applyTemperature(df, "s", "id", a))
    }
  }
}
