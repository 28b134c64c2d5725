package graft.functions

import graft.SparkSpec
import graft.operators.TextDedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The native n-gram probe must be value-identical to the composable
  * rendering it replaces — `split(t, " ")` windows joined by one space,
  * `array_distinct`, then benchmark-set membership — on both its codegen
  * and its interpreted path, including empty pieces (leading, trailing
  * and doubled spaces), the empty string, multibyte UTF-8 and rows
  * shorter than `n`. The two routes of [[TextDedup.decontaminate]] and
  * [[TextDedup.contaminationFraction]] (probe vs shuffle-hash join) must
  * give identical rows, duplicate ids included. */
class NgramProbeSpec extends SparkSpec {

  import spark.implicits._

  private val words = Seq("a", "b", "c", "ab", "é", "東京", "😀", "z9")

  private val gen: Gen[String] = for {
    k <- Gen.choose(0, 24)
    ws <- Gen.listOfN(k, Gen.oneOf(words))
    seps <- Gen.listOfN(k, Gen.frequency(8 -> " ", 1 -> "  ", 1 -> "   "))
    lead <- Gen.oneOf("", "", " ", "  ")
    trail <- Gen.oneOf("", "", " ")
  } yield lead + ws.zip(seps).map { case (w, s) => w + s }.mkString.dropRight(
    if (k > 0) seps.last.length else 0) + trail

  private val interesting = Seq("", " ", "  ", "a", "a b", "a  b", " a", "a ",
    "  a  b  ", "a b a b a b", "東京 😀 東京 😀", "a b c a b c a b c a b c")

  private val docs: Seq[String] = (interesting ++ (0 until 6).flatMap(i =>
    Gen.listOfN(40, gen).apply(Gen.Parameters.default, Seed(31L + i)).toSeq.flatten)).distinct

  // benchmark: every 4th doc, plus a middle slice of every 7th, so long
  // windows are shared too; "z9" never occurs in it, so docs share part
  // of their grams even at n = 1
  private val bench: Seq[String] =
    (docs.zipWithIndex.collect { case (d, i) if i % 4 == 0 => d } ++
      docs.zipWithIndex.collect { case (d, i) if i % 7 == 3 =>
        d.split(" ", -1).slice(2, 16).mkString(" ") }).map(_.replace("z9", "y8"))

  /** The composable rendering: distinct `n`-grams of `t`, empty below
    * `n` pieces (the `spaceTokens >= n` guard). */
  private def refGrams(t: Column, n: Int): Column = {
    val w = split(t, " ")
    when(size(w) >= n, array_distinct(transform(sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(o => element_at(w, i + o)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def benchGrams(n: Int): Set[String] =
    bench.toDF("t").select(explode(refGrams(col("t"), n))).as[String].collect().toSet

  private def withInterpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for (n <- Seq(1, 3, 10)) test(s"probe equals the composable rendering at n = $n, codegen and interpreted") {
    val grams = benchGrams(n)
    val bc = spark.sparkContext.broadcast(GramSet(grams.map(utf8)))
    val shared = typedLit(grams.toSeq)
    // an RDD-backed frame: a local relation's projection would be folded
    // on the driver, bypassing generated code
    val base = spark.sparkContext.parallelize(docs, 3).toDF("t")
    val want = base.select(col("t"),
      size(refGrams(col("t"), n)).cast("long"),
      size(array_intersect(refGrams(col("t"), n), shared)).cast("long"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(want.values.exists(_._2 > 0), "no doc shares a gram; the check would be vacuous")
    assert(want.values.exists(w => w._1 > w._2 && w._2 > 0), "no partly shared doc")
    // a fresh frame per evaluation: an executed plan keeps the codegen
    // mode it was planned under
    def got(fused: Boolean): Map[String, (Long, Long)] = {
      val probed = base.select(col("t"), NgramProbe.ngramProbe(col("t"), n, bc).as("p"))
        .select("t", "p.n_grams", "p.n_shared")
      val out = probed.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(probed.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.child.toString
      }.exists(_.contains("graft_ngram_probe")) == fused, s"whole-stage codegen != $fused")
      out
    }
    val codegen = got(fused = true)
    want.foreach { case (t, w) => assert(codegen(t) == w, s"codegen diverged on '$t'") }
    assert(withInterpreted(got(fused = false)) == codegen, "interpreted eval diverged from codegen")
    bc.destroy()
  }

  test("null text gives a null probe; rows under n pieces give (0, 0)") {
    val bc = spark.sparkContext.broadcast(GramSet(Seq(utf8("a b c"))))
    val rows = Seq(None, Some("a b"), Some("a b c")).toDF("t")
      .select(NgramProbe.ngramProbe(col("t"), 3, bc).as("p")).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getStruct(0).toSeq == Seq(0L, 0L))
    assert(rows(2).getStruct(0).toSeq == Seq(1L, 1L))
    bc.destroy()
  }

  test("decontaminate and contaminationFraction: probe and shuffle routes give identical rows") {
    // duplicate ids (every 5th doc shares its id with the next) and a null text
    val corpus: DataFrame = (docs.zipWithIndex.map { case (d, i) =>
      (i.toLong - (if (i % 5 == 1) 1 else 0), Option(d)) } :+ ((9999L, None: Option[String])))
      .toDF("id", "t")
    val benchDf = bench.toDF("bt")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    for (n <- Seq(1, 3, 10)) {
      val probe = TextDedup.decontaminate(corpus, "id", "t", benchDf, "bt", n = n)
      val shuffled = TextDedup.decontaminate(corpus, "id", "t", benchDf, "bt", n = n,
        benchBroadcastMaxBytes = 0L)
      assert(rows(probe).nonEmpty)
      assert(rows(probe) == rows(shuffled), s"decontaminate routes differ at n = $n")
      val fProbe = TextDedup.contaminationFraction(corpus, "id", "t", benchDf, "bt", n = n)
      val fShuffled = TextDedup.contaminationFraction(corpus, "id", "t", benchDf, "bt", n = n,
        benchBroadcastMaxBytes = 0L)
      assert(rows(fProbe).size == corpus.count())
      assert(rows(fProbe) == rows(fShuffled), s"contaminationFraction routes differ at n = $n")
    }
  }
}
