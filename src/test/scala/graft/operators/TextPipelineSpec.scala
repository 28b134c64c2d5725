package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[TextPipeline]] lifecycle pins — the composition risks PlanQualitySpec
  * can't see: executor-block hygiene across repeated runs, and the
  * nearDedup flag's empty-input behavior. */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  // docs 1/2 share the exact word multiset (reordered) → same simhash,
  // hamming 0, a guaranteed near-dup pair that exact dedup cannot catch;
  // 2 drops (equal quality — same words, same length — id tie-break).
  // Doc 3 carries punctuation so the calibration gate has a strict
  // minimum to drop instead of an all-tied stratum.
  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
    (2L, "kappa iota theta eta zeta epsilon delta gamma beta alpha", "en"),
    (3L, "one, two, three! four? five; six: seven! eight? nine; ten.", "en"),
    (4L, "red orange yellow green blue indigo violet pink black white", "en"),
    (5L, "north south east west up down left right front back", "en")
  ).toDF("doc_id", "text", "lang")

  private def bench = Seq((100L, "totally unrelated benchmark words here"))
    .toDF("doc_id", "text")

  test("nearDedup run releases ALL pinned blocks on unpersistPipeline") {
    // the near-dup build pins three localCheckpoints (signature, CC
    // edges, CC final labels) inside the drop-set scope, plus the
    // training cache; the scope releases the three once the drop set
    // (near-dup losers ∪ contaminated ids, one eager pass so neither
    // branch re-runs per downstream action) is pinned. A live run holds
    // exactly two blocks and unpersistPipeline must free both —
    // repeated pipeline runs in one session must not accrete executor
    // blocks
    def pinned() = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned()
    val df = TextPipeline.e2e(corpus, "doc_id", "text", "lang",
      bench, "text", lexicon = Seq("zebra"),
      maxTop2GramCharFrac = 0.9, nearDedup = true)
    val out = df.collect()
    assert(out.nonEmpty, "pipeline must keep survivors")
    assert(!out.map(_.getLong(0)).contains(2L),
      "doc 2 is the reordered twin of doc 1 and must lose the keeper rank")
    val mid = pinned() -- before
    assert(mid.size == 2,
      s"a nearDedup run holds exactly the training cache + the drop-set " +
        s"checkpoint, got $mid")
    TextPipeline.unpersistPipeline(df)
    val after = pinned() -- before
    assert(after.isEmpty, s"unpersistPipeline must return to baseline, leaked: $after")
  }

  test("nearDedup=true on an all-gated (empty post-dedup) corpus returns empty, no throw") {
    // every doc hits the lexicon gate → post-dedup corpus is empty; the
    // flag must fall through to the nearDedup=false shape, not throw
    // simhashWidthFor(0)'s require
    val zebra = corpus.withColumn("text", concat(lit("zebra "), col("text")))
    val df = TextPipeline.e2e(zebra, "doc_id", "text", "lang",
      bench, "text", lexicon = Seq("zebra"),
      maxTop2GramCharFrac = 0.9, nearDedup = true)
    try assert(df.collect().isEmpty)
    finally TextPipeline.unpersistPipeline(df)
  }
}
