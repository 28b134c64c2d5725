package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[VocabId]] — the constant-time vocab-id probe: parity with the
  * literal-map rendering it replaced (the O(V)-per-probe trap, SCALING.md
  * r15 ladder), the OOV → −1 contract, and survival at a production-sized
  * table (where the literal-map rendering is the thing being avoided,
  * not a viable parity arm — parity there is against a driver-side
  * map). */
class VocabIdSpec extends SparkSpec {
  import spark.implicits._

  private val vocab: Seq[(String, Long)] =
    Seq("a" -> 0L, "b" -> 1L, "ab" -> 2L, "ﬀ" -> 3L, "𝕒" -> 4L, "é" -> 5L)

  /** An RDD-backed frame of `syms` in input order: a local relation's
    * projection is folded on the driver, so its generated code never runs. */
  private def frame(syms: Seq[String]) =
    spark.sparkContext.parallelize(syms.zipWithIndex, 2).toDF("sym", "i")

  /** Each sym's id, in input order, through the generated code and `eval`. */
  private def ids(syms: Seq[String], table: Seq[(String, Long)]): Seq[Option[Long]] =
    onBothPaths("graft_vocab_id")(frame(syms).select(col("i"), VocabId.vocabId(col("sym"), table))) {
      _.collect().sortBy(_.getInt(0)).map(r => Option(r.get(1)).map(_.asInstanceOf[Long])).toSeq
    }

  test("parity with element_at on a literal map, OOV -> -1, null -> null") {
    val syms = Seq("a", "b", "ab", "ﬀ", "𝕒", "é", "zz", "", "A")
    val litMap = map(vocab.flatMap { case (s, i) => Seq(lit(s), lit(i)) }: _*)
    val ref = frame(syms).select(col("i"), coalesce(element_at(litMap, col("sym")), lit(-1L)))
      .collect().sortBy(_.getInt(0)).map(r => Option(r.getLong(1))).toSeq
    // null INPUT propagates as null (standard unary null semantics; the
    // coalesce rendering it replaced folded null input into the OOV -1,
    // but OOV means a present, unknown symbol — and the pipeline's
    // symbol arrays are containsNull=false, so in situ the two never
    // diverge)
    assert(ids(syms :+ null, vocab) == ref :+ None)
  }

  test("production-sized table: every id correct against the driver map") {
    val big = (0 until 32768).map(i => (s"sym$i", i.toLong))
    val byKey = big.toMap
    val probes = Seq("sym0", "sym1", "sym32767", "sym16384", "nope", "sym")
    assert(ids(probes, big) == probes.map(p => Some(byKey.getOrElse(p, -1L))))
  }

  test("interpreted eval matches codegen") {
    val expr = VocabId(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString("ab"),
        org.apache.spark.sql.types.StringType), vocab)
    assert(expr.eval(null) == 2L)
    val miss = VocabId(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString("q"),
        org.apache.spark.sql.types.StringType), vocab)
    assert(miss.eval(null) == -1L)
  }
}
