package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  /** (n_features, logit) of `text`, read from an RDD-backed frame through
    * the generated code and through `eval`. */
  private def score(text: String, weights: Seq[Double], bias: Double,
                    bigrams: Boolean = true): (Int, Double) =
    onBothPaths("graft_hashed_ngram_score") {
      spark.sparkContext.parallelize(Seq(text), 1).toDF("t")
        .select(HashedNgramScore.hashedNgramScore(col("t"), weights, bias, bigrams).as("s"))
        .select(col("s.n_features"), col("s.logit"))
    } { df => val r = df.head(); (r.getInt(0), r.getDouble(1)) }

  test("feature count: unigrams + adjacent bigrams, whitespace runs, empty -> bias") {
    val w = Seq.fill(16)(0.0)
    assert(score("a b c", w, 0.25) == ((5, 0.25)))       // 3 uni + 2 bi
    assert(score("one", w, 0.0) == ((1, 0.0)))           // no bigram from one token
    assert(score("  a \n\t b  ", w, 0.0)._1 == 3)        // runs collapse, no empties
    assert(score("", w, -1.5) == ((0, -1.5)))            // zero tokens -> bias alone
    assert(score("a b c", w, 0.0, bigrams = false)._1 == 3)
  }

  test("bucket hash matches the engine h32 convention (conv(substr(md5)))") {
    // compute the expected bucket weight via Spark SQL's own md5 idiom
    val b = 64
    val w = Seq.tabulate(b)(i => i.toDouble) // weight == bucket index
    val feats = Seq("hello", "world", "hello world")
    val expected = feats.map { f =>
      spark.sql(s"SELECT cast(conv(substring(md5('$f'), 1, 8), 16, 10) as bigint) % $b")
        .head().getLong(0).toDouble
    }.sum / 3
    val (n, logit) = score("Hello WORLD", w, 0.0) // lowercased before hashing
    assert(n == 3)
    assert(math.abs(logit - expected) < 1e-12, s"logit $logit vs $expected")
  }

  test("mean not sum: the logit is length-invariant, not length-proportional") {
    val w = Seq.tabulate(32)(i => math.sin(i))
    // hand-check the mean: "a b" = uni(a), uni(b), bi(a b) averaged
    def bucket(f: String): Int =
      spark.sql(s"SELECT cast(conv(substring(md5('$f'), 1, 8), 16, 10) as bigint) % 32")
        .head().getLong(0).toInt
    val expect = (w(bucket("a")) + w(bucket("b")) + w(bucket("a b"))) / 3
    assert(math.abs(score("a b", w, 0.0)._2 - expect) < 1e-12)
    // 100 repetitions of the same word converge to a bag mean, never 100×
    val rep1 = score("tok", w, 0.0)._2
    val rep100 = score(Seq.fill(100)("tok").mkString(" "), w, 0.0)._2
    assert(math.abs(rep100) <= math.abs(rep1) + math.abs(w(bucket("tok tok"))) + 1e-9)
  }

  test("native scan agrees with the composed Spark SQL rendering") {
    val b = 128
    val weights = Seq.tabulate(b)(i => (((i + 1) * 2654435761L) % 2000003L) / 2000003.0 - 0.5)
    val docs = spark.sparkContext.parallelize(Seq.tabulate(50)(i =>
      (i.toLong, s"Row ${i % 7} value v${i % 5} agg text sample ${"pad " * (i % 3)}".trim)), 3)
      .toDF("doc_id", "text")
    val native = graft.operators.TextStats
      .learnedQuality(docs, "doc_id", "text", weights, bias = 0.1)
    docs.createOrReplaceTempView("qm_docs")
    val rendered = spark.sql(
      s"""WITH toks AS (
         |  SELECT doc_id, filter(split(lower(text), '[ \\n\\t\\r]+'), t -> t != '') AS ts
         |  FROM qm_docs),
         |feats AS (
         |  SELECT doc_id, explode(concat(ts,
         |    transform(sequence(1, size(ts) - 1), i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1))))) AS f
         |  FROM toks WHERE size(ts) >= 1),
         |scored AS (
         |  SELECT doc_id, count(*) AS nf,
         |    sum(((cast(conv(substring(md5(f), 1, 8), 16, 10) as bigint) % $b + 1) * 2654435761 % 2000003)
         |        / 2000003.0 - 0.5) AS s
         |  FROM feats GROUP BY doc_id)
         |SELECT t.doc_id, cast(coalesce(sc.nf, 0) as int) AS n_features,
         |  round(1.0 / (1.0 + exp(-(0.1 + coalesce(sc.s / sc.nf, 0.0)))), 4) AS q_learned
         |FROM toks t LEFT JOIN scored sc USING (doc_id)""".stripMargin)
    val a = native.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val e = rendered.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(a.toSeq == e.toSeq)
  }

  test("analysis-time guards: non-string input and empty weights fail early") {
    val df = Seq(Tuple1(1L)).toDF("n")
    intercept[Exception] {
      df.select(HashedNgramScore.hashedNgramScore(col("n"), Seq(1.0), 0.0)).collect()
    }
    intercept[Exception] {
      Seq(Tuple1("x")).toDF("t")
        .select(HashedNgramScore.hashedNgramScore(col("t"), Seq.empty, 0.0)).collect()
    }
  }
}
