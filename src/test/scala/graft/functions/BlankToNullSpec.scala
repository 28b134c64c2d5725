package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `BlankToNull` (Ruby `blank?`/`presence`, the wrapper of every mapped
  * field) gives the same values generated and interpreted: every value
  * test runs on an RDD-backed frame under both paths. */
class BlankToNullSpec extends SparkSpec {

  import spark.implicits._

  private val inputs: Seq[(Long, Option[String])] = Seq(
    1L -> Some(""), 2L -> Some(" "), 3L -> Some("   "), 4L -> None,
    5L -> Some("x"), 6L -> Some("  padded "), 7L -> Some(" a b"), 8L -> Some("a b"))

  /** `presence`/`stripPresence` per id, each path planned afresh and
    * asserted to have run the path it names; the two must agree. */
  private def bothPaths(strip: Boolean): Map[Long, String] = {
    val df = spark.sparkContext.parallelize(inputs, 3).toDF("id", "v")
    def run(fused: Boolean) = {
      val f = if (strip) BlankToNull.stripPresence _ else BlankToNull.presence _
      val q = df.select(col("id"), f(col("v")))
      val out = q.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(fusedInCodegen(q, "graft_blank_to_null") == fused)
      out
    }
    val gen = run(fused = true)
    assert(withInterpreted(run(fused = false)) == gen, "interpreted eval diverged from codegen")
    gen
  }

  test("presence: blank, space-only and null give null; anything else passes through") {
    assert(bothPaths(strip = false) == Map(1L -> null, 2L -> null, 3L -> null, 4L -> null,
      5L -> "x", 6L -> "  padded ", 7L -> " a b", 8L -> "a b"))
  }

  test("stripPresence: blank gives null; a value loses its leading and trailing spaces") {
    assert(bothPaths(strip = true) == Map(1L -> null, 2L -> null, 3L -> null, 4L -> null,
      5L -> "x", 6L -> "padded", 7L -> "a b", 8L -> "a b"))
  }
}
