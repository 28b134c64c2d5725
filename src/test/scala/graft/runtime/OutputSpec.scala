package graft.runtime

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OutputSpec extends SparkSpec {

  private def parquetFiles(dir: java.io.File): Array[java.io.File] =
    dir.listFiles((_, n) => n.endsWith(".parquet"))

  test("sizedWrite picks file count from the data and round-trips exactly") {
    import spark.implicits._
    val df = (1L to 20000L).map(i => (i, s"row $i " + "x" * 50)).toDF("id", "body")
    val base = java.nio.file.Files.createTempDirectory("sized_write").toFile

    // a small target must split the write into multiple files...
    val many = new java.io.File(base, "many")
    val nMany = Output.sizedWrite(df, many.getPath, targetBytesPerFile = 64L << 10)
    assert(nMany > 1, s"64 KB target on a ~MB frame must split, got $nMany")
    assert(parquetFiles(many).length == nMany,
      "on-disk file count must equal the returned sizing decision")

    // ...a huge target must produce exactly one
    val one = new java.io.File(base, "one")
    assert(Output.sizedWrite(df, one.getPath, targetBytesPerFile = 1L << 40) == 1)
    assert(parquetFiles(one).length == 1)

    // sizing must never change answers — bit-exact round trip
    val back = spark.read.parquet(many.getPath)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(back.toSeq == df.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq)

    intercept[IllegalArgumentException](
      Output.sizedWrite(df, new java.io.File(base, "bad").getPath,
        targetBytesPerFile = 0))
  }

  test("sizedWrite clamps estimator blow-ups (join size-product pathology)") {
    import spark.implicits._
    // Size-only estimation propagates a join as the PRODUCT of child
    // sizes: self-joining twice inflates a ~1 MB frame's estimate far
    // past reality. With a tiny target the raw file count would be
    // astronomical; the cap must hold it to something schedulable
    // instead of a silent ~1M-file repartition (ADVICE r11).
    val base = (1L to 2000L).map(i => (i, "z" * 200)).toDF("id", "body")
    val blown = base.join(base.select(col("id")), "id")
      .join(base.select(col("id")), "id")
    val est = blown.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = 1L << 10
    assume((est / target) > (1L << 20), s"estimate $est not inflated enough")
    val dir = java.nio.file.Files.createTempDirectory("sized_clamp").toFile
    val auto = new java.io.File(dir, "auto")
    val n = Output.sizedWrite(blown, auto.getPath, targetBytesPerFile = target)
    val cores = spark.sparkContext.defaultParallelism
    assert(n == math.max(64L * cores, 4096L),
      s"blown estimate must clamp to the auto cap, got $n")
    assert(spark.read.parquet(auto.getPath).count() == 2000L)
  }

  test("sizedWrite evens out a skewed upstream partitioning") {
    import spark.implicits._
    // all rows in ONE input partition — the post-aggregation skew shape
    val skewed = (1L to 8000L).map(i => (i, "y" * 64)).toDF("id", "body")
      .repartition(lit(0))
    val dir = java.nio.file.Files.createTempDirectory("sized_balance").toFile
    val n = Output.sizedWrite(skewed, dir.getPath, targetBytesPerFile = 64L << 10)
    assert(n > 1)
    val sizes = parquetFiles(dir).map(_.length())
    assert(sizes.length == n)
    // round-robin balance: no file more than 3x the smallest (parquet
    // framing overhead dominates tiny files, so the band is loose)
    assert(sizes.max <= sizes.min * 3,
      s"files should be near-even after balance: ${sizes.mkString(", ")}")
  }
}
