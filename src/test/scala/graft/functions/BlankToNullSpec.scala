package graft.functions

import graft.SparkSpec
import graft.clean.RubyTranslate
import org.apache.spark.sql.functions._

/** `BlankToNull` (Ruby `blank?`/`presence`, the wrapper of every mapped
  * field) and the Column forms of `RubyTranslate.strip`/`unpackA` give the
  * same values generated and interpreted: every value test runs on an
  * RDD-backed frame under both paths. */
class BlankToNullSpec extends SparkSpec {

  import spark.implicits._

  private val inputs: Seq[(Long, Option[String])] = Seq(
    1L -> Some(""), 2L -> Some(" "), 3L -> Some("   "), 4L -> None,
    5L -> Some("x"), 6L -> Some("  padded "), 7L -> Some(" a b"), 8L -> Some("a b"),
    // Ruby's two sets: tab, CR, NBSP and U+3000 are blank; NUL is not
    // blank, but strip removes it
    9L -> Some("\t"), 10L -> Some("\u3000"), 11L -> Some("\u0000"), 12L -> Some("\r"),
    13L -> Some(" \tx  "), 14L -> Some("\u00A0"), 15L -> Some("\u00A0x\u0000 "))

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
      5L -> "x", 6L -> "  padded ", 7L -> " a b", 8L -> "a b",
      9L -> null, 10L -> null, 11L -> "\u0000", 12L -> null, 13L -> " \tx  ", 14L -> null,
      15L -> "\u00A0x\u0000 "))
  }

  test("stripPresence: blank gives null; a value loses its leading and trailing spaces") {
    assert(bothPaths(strip = true) == Map(1L -> null, 2L -> null, 3L -> null, 4L -> null,
      5L -> "x", 6L -> "padded", 7L -> "a b", 8L -> "a b",
      9L -> null, 10L -> null, 11L -> "", 12L -> null, 13L -> "x", 14L -> null,
      15L -> "\u00A0x"))
  }

  test("RubyTranslate's strip and unpackA columns: Ruby's sets, null-safe") {
    val df = spark.sparkContext.parallelize(inputs, 3).toDF("id", "v")
    val got = onBothPaths("static_invoke") {
      df.select(col("id"), RubyTranslate.strip(col("v")), RubyTranslate.unpackA(col("v")))
    }(_.collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap)
    assert(got == Map(1L -> ("", ""), 2L -> ("", ""), 3L -> ("", ""), 4L -> (null, null),
      5L -> ("x", "x"), 6L -> ("padded", "  padded"), 7L -> ("a b", " a b"), 8L -> ("a b", "a b"),
      9L -> ("", "\t"), 10L -> ("\u3000", "\u3000"), 11L -> ("", ""), 12L -> ("", "\r"),
      13L -> ("x", " \tx"), 14L -> ("\u00A0", "\u00A0"), 15L -> ("\u00A0x", "\u00A0x")))
  }
}
