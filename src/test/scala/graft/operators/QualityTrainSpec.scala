package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[TextStats.trainQualityModel]] — distributed full-batch logistic
  * regression on the hashed-ngram features. The 4-iteration training
  * trajectory is pinned bit-for-bit by the `x_quality_trained` oracle;
  * these tests pin the learning contracts on a separable fixture. */
class QualityTrainSpec extends SparkSpec {

  import spark.implicits._

  // Linearly separable by vocabulary: positives speak alpha/beta,
  // negatives gamma/delta; one ambiguous doc shares neither.
  private val docs = Seq(
    (1L, "alpha beta alpha beta", true),
    (2L, "beta alpha beta", true),
    (3L, "alpha alpha beta", true),
    (4L, "gamma delta gamma delta", false),
    (5L, "delta gamma delta", false),
    (6L, "gamma gamma delta", false),
    (7L, "", false)) // featureless: no gradient, scores sigmoid(bias)
    .toDF("doc_id", "text", "y")

  private def probs(w: Array[Double], b: Double): Map[Long, Double] =
    TextStats.learnedQuality(docs, "doc_id", "text", w.toSeq, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap

  test("training separates the classes; featureless doc sits at sigmoid(bias)") {
    val (w, b) = TextStats.trainQualityModel(
      docs, "doc_id", "text", col("y"), buckets = 64, iters = 8, lr = 1.0)
    val p = probs(w, b)
    for (id <- Seq(1L, 2L, 3L); neg <- Seq(4L, 5L, 6L))
      assert(p(id) > p(neg), s"pos $id (${p(id)}) must outscore neg $neg (${p(neg)})")
    assert(p(1L) > 0.5 && p(4L) < 0.5)
    val atBias = 1.0 / (1.0 + math.exp(-b))
    assert(math.abs(p(7L) - atBias) < 1e-4,
      s"featureless doc must score sigmoid(bias)=$atBias, got ${p(7L)}")
  }

  test("more iterations strengthen the separation monotonically on this fixture") {
    def margin(iters: Int): Double = {
      val (w, b) = TextStats.trainQualityModel(
        docs, "doc_id", "text", col("y"), buckets = 64, iters = iters, lr = 1.0)
      val p = probs(w, b)
      Seq(1L, 2L, 3L).map(p).min - Seq(4L, 5L, 6L).map(p).max
    }
    val m = Seq(1, 4, 8).map(margin)
    assert(m(0) < m(1) && m(1) < m(2), s"margins must grow: $m")
  }

  test("deterministic across partitionings — full batch, zero init, no RNG") {
    val (w1, b1) = TextStats.trainQualityModel(
      docs, "doc_id", "text", col("y"), buckets = 64, iters = 4)
    val (w2, b2) = TextStats.trainQualityModel(
      docs.repartition(7), "doc_id", "text", col("y"), buckets = 64, iters = 4)
    assert(b1 == b2)
    // gradients are double sums over shuffled partitions: demand 1e-12
    // agreement, not bit equality (the oracle's 4-dp hash is the pin)
    assert(w1.zip(w2).forall { case (a, c) => math.abs(a - c) < 1e-12 })
  }

  test("the trained model drops into dsirScore-class scans: weights length = buckets") {
    val (w, _) = TextStats.trainQualityModel(
      docs, "doc_id", "text", col("y"), buckets = 32, iters = 1)
    assert(w.length == 32)
  }

  test("a loop that throws restores AQE and shuffle partitions; an unset key stays unset") {
    // an all-featureless corpus takes the loop-static path (AQE on, a
    // 0-row frame), flips both keys, then throws in iteration 1's
    // nothing-to-train-on check — inside the loop, after the flip
    val empty = Seq((1L, "", true), (2L, "", false)).toDF("doc_id", "text", "y")
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    def state() = keys.map(k => k -> spark.conf.getAll.get(k)) // None: unset
    val saved = state()
    try {
      for (prior <- Seq(Seq(None, Some("7")), Seq(Some("true"), None))) {
        keys.zip(prior).foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        intercept[IllegalArgumentException] {
          TextStats.trainQualityModel(empty, "doc_id", "text", col("y"), buckets = 16)
        }
        assert(state() == keys.zip(prior), s"conf not restored to $prior")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("an all-featureless corpus fails loudly") {
    val empty = Seq((1L, "", true), (2L, "", false)).toDF("doc_id", "text", "y")
    intercept[IllegalArgumentException] {
      TextStats.trainQualityModel(empty, "doc_id", "text", col("y"), buckets = 16)
    }
  }
}
