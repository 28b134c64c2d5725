package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the native per-row term-frequency map against the composable
  * rendering (`explode(split)` → filter → groupBy) it replaces, in both
  * codegen and interpreted evaluation. */
class TermCountsSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    (1L, "cat sat cat"),
    (2L, " leading  double  and trailing "),
    (3L, ""),
    (4L, "solo"),
    (5L, "héllo wörld héllo 中文 中文 中文"))

  test("term_counts ≡ explode(split)+filter+groupBy on every pathology") {
    val docs = texts.toDF("id", "t")
    val native = docs
      .select(col("id"), explode(TermCounts.termCounts(col("t"))).as(Seq("term", "tf")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val composed = docs
      .select(col("id"), explode(split(col("t"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("id", "term").agg(count(lit(1)).cast("int").as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(native === composed)
    // the empty doc contributes an empty map, not a null/empty-string term
    assert(!native.exists(_._1 == 3L))
  }

  test("term_counts: first-occurrence key order, null in → null out") {
    val m = TermCounts.count(org.apache.spark.unsafe.types.UTF8String
      .fromString("b a b c a b"))
    val keys = (0 until m.numElements()).map(i =>
      m.keyArray().getUTF8String(i).toString)
    val vals = (0 until m.numElements()).map(i => m.valueArray().getInt(i))
    assert(keys === Seq("b", "a", "c") && vals === Seq(3, 2, 1))

    val out = Seq((1L, null: String)).toDF("id", "t")
      .select(TermCounts.termCounts(col("t"))).collect()
    assert(out.head.isNullAt(0))
  }

  test("pair_counts ≡ the transform-HOF pairing on every pathology") {
    val docs = (texts :+ (6L, "a b a b a")).toDF("id", "t")
    val native = docs
      .select(col("id"), explode(PairCounts.pairCounts(col("t"))).as(Seq("bg", "c")))
      .select(col("id"), substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"), col("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    val ws = docs.withColumn("_ws", filter(split(col("t"), " "), w => length(w) > 0))
    val composed = ws.filter(size(col("_ws")) >= 2)
      .select(col("id"), explode(transform(sequence(lit(1), size(col("_ws")) - 1),
        i => struct(element_at(col("_ws"), i).as("w1"),
                    element_at(col("_ws"), i + 1).as("w2")))).as("b"))
      .groupBy(col("id"), col("b.w1"), col("b.w2")).agg(count(lit(1)).cast("int").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(native === composed)
    // repeated pair counted, multi-space gap canonicalised to one space
    assert(native.contains((6L, "a", "b", 2)) && native.contains((6L, "b", "a", 2)))
    assert(native.contains((2L, "leading", "double", 1)))
    // single-token and empty docs emit nothing (absent, not zero)
    assert(!native.exists(t => t._1 == 3L || t._1 == 4L))
  }

  test("ngram_span_hashes ≡ the transform/slice/array_join + h32 rendering") {
    val docs = (texts ++ Seq(
      (6L, "a b c d e f g"),
      (7L, " x  y z  w v "))).toDF("id", "t")
    for ((n, stride) <- Seq((3, 1), (3, 2), (2, 3), (1, 1))) {
      val native = docs
        .select(col("id"),
          explode(NgramSpanHashes.ngramSpanHashes(col("t"), n, stride)).as("_s"))
        .select(col("id"), col("_s.start"), col("_s.gram_h"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val composed = docs
        .withColumn("_ws", filter(split(col("t"), " "), w => length(w) > 0))
        .filter(size(col("_ws")) >= n)
        .select(col("id"),
          explode(transform(
            sequence(lit(0), floor((size(col("_ws")) - n) / lit(stride)).cast("int")),
            k => struct((k * stride + 1).as("start"),
              array_join(slice(col("_ws"), k * stride + 1, lit(n)), " ").as("g")))).as("_s"))
        .select(col("id"), col("_s.start"),
          conv(substring(md5(col("_s.g")), 1, 8), 16, 10).cast("long"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(native === composed, s"divergence at n=$n stride=$stride")
    }
  }

  test("term_counts interpreted eval agrees with codegen") {
    // an RDD-backed frame, planned afresh per mode (see TextScanSpec)
    val docs = spark.sparkContext.parallelize(texts, 3).toDF("id", "t")
    def run(fused: Boolean) = {
      val counted = docs
        .select(col("id"), explode(TermCounts.termCounts(col("t"))).as(Seq("term", "tf")))
      val out = counted.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      assert(fusedInCodegen(counted, "graft_term_counts") == fused,
        s"whole-stage codegen != $fused")
      out
    }
    val gen = run(fused = true)
    assert(withInterpreted(run(fused = false)) === gen)
  }
}
