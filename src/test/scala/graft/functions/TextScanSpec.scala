package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The native CharScan counters must be value-identical to the
  * regex/split renderings they replace — including Java split's
  * leading/trailing-empty rules, negated-class Unicode behaviour and
  * the BPE alternation's run semantics — in both codegen and
  * interpreted evaluation. Both paths observe the same stored UTF-8
  * bytes, so the comparison runs through a DataFrame, exactly like
  * production. */
class TextScanSpec extends SparkSpec {

  import spark.implicits._

  // the composable renderings these scans replaced (the references)
  private def refSpaceTokens(c: org.apache.spark.sql.Column) = size(split(c, " "))
  private def refPunct(c: org.apache.spark.sql.Column) =
    size(regexp_extract_all(c, lit("[^A-Za-z0-9 ]"), lit(0)))
  private def refWsTokens(c: org.apache.spark.sql.Column) = size(split(trim(c), "\\s+"))
  private def refBpe(c: org.apache.spark.sql.Column) =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  private val interesting = Seq(
    "", " ", "  ", "a", "a b", "a  b", " a", "a ", "  a  b  ",
    "\ta", "a\t", "a\tb", "\t \n", "a \t b\nc", "line1\nline2\r\n",
    "hello, world!", "abc123", "abc 123 !?", "a1b2c3", "...", "a.b.c",
    "Grüße, 東京 2024!", "😀 emoji 😀😀 run", "mixed αβγ 123 _k salt",
    "tabvt", "form\ffeed", "_under_score_", "a-b-c", "0", "00 11 22")

  private val gen: Gen[String] = Gen.oneOf(
    Gen.oneOf(interesting),
    Gen.listOfN(24, Gen.oneOf(
      Gen.alphaNumChar, Gen.const(' '), Gen.const('\t'), Gen.const('\n'),
      Gen.const('.'), Gen.const(','), Gen.const('!'), Gen.const('€'),
      Gen.const('ß'), Gen.const('\r'), Gen.const('\f'))).map(_.mkString),
    Gen.asciiPrintableStr.map(_.take(30)),
    // unicode including supplementary-plane code points
    Gen.listOfN(12, Gen.oneOf("aZ9 \t𝕏😀é中¡\f".toCharArray.toSeq
      ++ Character.toChars(0x1F600).toSeq)).map(_.mkString))

  private def inputs: Seq[String] = {
    val samples = (0 until 8).flatMap(i =>
      Gen.listOfN(50, gen).apply(Gen.Parameters.default, Seed(11L + i)).toSeq).flatten
    (interesting ++ samples).distinct
  }

  test("all five scan kinds match their regex/split references (codegen path)") {
    val df = inputs.toDF("t").cache()
    val got = df.select(
      col("t"),
      (TextScan.spaces(col("t")) + lit(1)).as("n_spaces"),
      refSpaceTokens(col("t")).as("r_spaces"),
      TextScan.punct(col("t")).as("n_punct"),
      refPunct(col("t")).as("r_punct"),
      (TextScan.wsRuns(trim(col("t"))) + lit(1)).as("n_ws"),
      refWsTokens(col("t")).as("r_ws"),
      TextScan.bpeTokens(col("t")).as("n_bpe"),
      refBpe(col("t")).as("r_bpe"),
      TextScan.spaceToks(col("t")).as("n_st"),
      size(filter(split(col("t"), " "), x => length(x) > 0)).as("r_st")).collect()
    got.foreach { r =>
      val t = r.getString(0)
      assert(r.getInt(1) == r.getInt(2), s"spaceTokens diverged on '$t'")
      assert(r.getInt(3) == r.getInt(4), s"punct diverged on '$t'")
      assert(r.getInt(5) == r.getInt(6), s"wsTokens diverged on '$t'")
      assert(r.getInt(7) == r.getInt(8), s"bpeTokens diverged on '$t'")
      assert(r.getInt(9) == r.getInt(10), s"spaceToks diverged on '$t'")
    }
  }

  test("interpreted eval agrees with codegen") {
    // an RDD-backed frame: a local relation's projection is folded at
    // plan time by an interpreted projection, bypassing both paths
    val base = spark.sparkContext.parallelize(inputs.take(120), 3).toDF("t")
    // a fresh frame per evaluation: an executed plan keeps the codegen
    // mode it was planned under
    def run(fused: Boolean): Seq[Seq[Any]] = {
      val sel = base.select(
        TextScan.spaces(col("t")), TextScan.punct(col("t")),
        TextScan.wsRuns(col("t")), TextScan.bpeTokens(col("t")),
        TextScan.spaceToks(col("t")))
      val out = sel.collect().map(_.toSeq).toSeq
      assert(fusedInCodegen(sel, "graft_charscan") == fused,
        s"whole-stage codegen != $fused")
      out
    }
    val codegen = run(fused = true)
    assert(withInterpreted(run(fused = false)) == codegen,
      "interpreted eval diverged from codegen")
  }

  test("null input yields null, and the scans reach whole-stage codegen") {
    val df = Seq(Some("a b"), None).toDF("t")
    val r = df.select(TextScan.spaces(col("t")).as("s")).collect()
      .map(x => if (x.isNullAt(0)) None else Some(x.getInt(0)))
    assert(r.toSet == Set(Some(1), None))

    val q = spark.range(50)
      .select(concat(lit("row "), col("id")).as("t"))
      .filter(TextScan.bpeTokens(col("t")) > 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_charscan")),
      s"charscan not inside a codegen stage:\n$plan")
    assert(q.count() == 50)
  }

  test("operator wrappers: quality / wsTokens / bpeIshTokens values unchanged") {
    import graft.operators.TextStats
    val df = inputs.filter(_.nonEmpty).toDF("text")
    val got = df.select(
      col("text"),
      TextStats.quality(col("text")).as("q"),
      round(least(refSpaceTokens(col("text")).cast("double") / 50.0, lit(1.0)) *
        (lit(1.0) - refPunct(col("text")).cast("double") / length(col("text"))), 4).as("rq"),
      TextStats.wsTokens(col("text")).as("w"), refWsTokens(col("text")).as("rw"),
      TextStats.bpeIshTokens(col("text")).as("b"), refBpe(col("text")).as("rb")).collect()
    got.foreach { r =>
      val t = r.getString(0)
      assert(java.util.Objects.equals(r.get(1), r.get(2)), s"quality diverged on '$t'")
      assert(r.getInt(3) == r.getInt(4), s"wsTokens diverged on '$t'")
      assert(r.getInt(5) == r.getInt(6), s"bpeIshTokens diverged on '$t'")
    }
  }
}
