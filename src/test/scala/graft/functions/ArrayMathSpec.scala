package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native DotProduct must be value-identical to the interpreted HOF
  * rendering it replaces (`aggregate(zip_with(...))`) — same fold order,
  * same null semantics — across float/double arrays, nulls, mismatched
  * lengths and empties, in both codegen and interpreted evaluation: every
  * value test runs on an RDD-backed frame under both paths. */
class ArrayMathSpec extends SparkSpec {

  import spark.implicits._

  private def hofDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** `dot(a, b)` per id over `df` on both evaluation paths, each planned
    * afresh and asserted to have run the path it names; the two must
    * agree, and the map is the codegen path's. `df` must be RDD-backed: a
    * local relation's projection is folded at plan time, interpreted. */
  private def dotBothPaths(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] = {
    def run(fused: Boolean) = {
      val q = df.select(col("id"), ArrayMath.dot(col("a"), col("b")))
      val out = q.collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      assert(fusedInCodegen(q, "graft_dot") == fused)
      out.toMap
    }
    val gen = run(fused = true)
    assert(withInterpreted(run(fused = false)) == gen, "interpreted eval diverged from codegen")
    gen
  }

  private def hofDots(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] =
    df.select(col("id"), hofDot(col("a"), col("b"))).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap

  test("dot matches the HOF reference on random float vectors") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat()), Seq.fill(64)(rnd.nextFloat()))
    }
    val df = spark.sparkContext.parallelize(rows, 3).toDF("id", "a", "b")
    val native = dotBothPaths(df)
    assert(native.size == 200 && native.values.forall(_.isDefined))
    assert(native == hofDots(df), "fold-order divergence")
  }

  test("dot null semantics: null array, null element, length mismatch, empty") {
    val df = spark.sparkContext.parallelize(Seq(
      (1L, Option(Seq[Option[Float]](Some(1f), Some(2f))), Option(Seq[Option[Float]](Some(3f), Some(4f)))),
      (2L, None, Option(Seq[Option[Float]](Some(1f)))),                       // null array
      (3L, Option(Seq[Option[Float]](Some(1f), None)), Option(Seq[Option[Float]](Some(1f), Some(1f)))), // null element
      (4L, Option(Seq[Option[Float]](Some(1f))), Option(Seq[Option[Float]](Some(1f), Some(1f)))),       // length mismatch
      (5L, Option(Seq.empty[Option[Float]]), Option(Seq.empty[Option[Float]]))), 2) // empty
      .toDF("id", "a", "b")
    val got = dotBothPaths(df)
    assert(got == Map(1L -> Some(11.0), 2L -> None, 3L -> None, 4L -> None, 5L -> Some(0.0)))
    // and the HOF reference agrees on every row
    assert(hofDots(df) == got)
  }

  test("dot reaches whole-stage codegen (no interpreted HOF in the plan)") {
    // a range source (not a LocalTableScan, which folds the filter away)
    val df = spark.range(100).select(col("id"),
      array(col("id").cast("float"), lit(2f)).as("a"),
      array(lit(3f), lit(-4f)).as("b"))
    val q = df.filter(ArrayMath.dot(col("a"), col("b")) > 0)
    // the `*(n)` prefix is the WholeStageCodegen marker in the simple
    // plan string; the HOF version's Filter shows unstarred
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_dot")),
      s"graft_dot not inside a codegen stage:\n$plan")
    assert(!plan.contains("aggregate(zip_with"), s"HOF crept back:\n$plan")
    assert(q.count() == 97) // 3*id - 8 > 0 ⇔ id >= 3
  }

  test("every numeric element type is accepted and matches the HOF reference") {
    // the HOF rendering this expression replaced cast ANY castable element
    // to double, so the public operator must accept the full NumericType
    // family — short/byte/decimal included, not just float/double/int/long
    val base = spark.sparkContext.parallelize(Seq((1L, Seq(1, -2, 3), Seq(4, 5, -6))), 1)
      .toDF("id", "a", "b")
    val want = 1 * 4 + -2 * 5 + 3 * -6 // = -24
    for (t <- Seq("smallint", "tinyint", "int", "bigint", "float", "double", "decimal(6,2)")) {
      val df = base.select(col("id"),
        col("a").cast(s"array<$t>").as("a"), col("b").cast(s"array<$t>").as("b"))
      assert(dotBothPaths(df) == Map(1L -> Some(want.toDouble)), s"element type $t")
      assert(hofDots(df) == Map(1L -> Some(want.toDouble)), s"HOF divergence for $t")
    }
  }

  test("centroidSqDistances: values, entry order, argmin agreement, null semantics") {
    val rnd = new scala.util.Random(11)
    val cents = Seq.fill(7)(Seq.fill(16)(rnd.nextDouble()))
    val ids = (0L until 7L).toSeq
    val rows = (1 to 100).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat())))
    // an RDD-backed frame: a local relation's projection is folded at
    // plan time by an interpreted projection, whatever the codegen settings
    val df = spark.sparkContext.parallelize(rows, 3).toDF("id", "v")
    val sel = df.select(col("id"),
      ArrayMath.centroidSqDistances(col("v"), cents).as("ds"),
      ArrayMath.nearestCentroid(col("v"), ids, cents).as("cell"))
    val got = sel.collect()
    assert(fusedInCodegen(sel, "graft_centroid_sqdists"))
    val byId = rows.toMap
    got.foreach { r =>
      val v = byId(r.getLong(0)).map(_.toDouble)
      // the reference arithmetic: s2 accumulated left-to-right over the
      // loaded values, each norm a left fold, (s2 - 2*dot) + n2
      val s2 = v.foldLeft(0.0)((a, x) => a + x * x)
      val want = cents.map { c =>
        val dot = v.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2)
        val n2 = c.foldLeft(0.0)((a, x) => a + x * x)
        (s2 - 2.0 * dot) + n2
      }
      val ds = r.getSeq[Double](1)
      assert(ds == want, s"distance-table divergence for id ${r.getLong(0)}")
      // first minimum of the table IS the argmin expression's choice
      val first = ds.indexOf(ds.min)
      assert(r.getLong(2) == ids(first), "table argmin != NearestCentroid")
    }
    // interpreted eval agrees
    val interp = withInterpreted {
      val q = df.select(ArrayMath.centroidSqDistances(col("v"), cents))
      val out = q.collect()
      assert(!fusedInCodegen(q, "graft_centroid_sqdists"))
      out
    }
    assert(interp.map(_.getSeq[Double](0)).toSeq == got.map(_.getSeq[Double](1)).toSeq)
    // null semantics: null array / null element / length mismatch → null
    val bad = Seq(
      (1L, Option(Seq[Option[Float]](Some(1f), None) ++ Seq.fill(14)(Option(0f)))),
      (2L, None),
      (3L, Option(Seq[Option[Float]](Some(1f), Some(2f))))) // wrong dim
      .toDF("id", "v")
    val nulls = bad.select(col("id"),
        ArrayMath.centroidSqDistances(col("v"), cents).as("ds")).collect()
    nulls.foreach(r => assert(r.isNullAt(1), s"expected null for id ${r.getLong(0)}"))
  }

  test("centroidResidual: subtraction, sparse-id lookup, null semantics, id-order guard") {
    val cents = Seq(Seq(1.0, 2.0, 3.0), Seq(-1.0, 0.0, 1.0))
    val ids = Seq(10L, 40L) // non-contiguous ascending — binary search path
    val df = spark.sparkContext.parallelize(Seq(
      (1L, Option(Seq(4f, 4f, 4f)), Option(10L)),
      (2L, Option(Seq(4f, 4f, 4f)), Option(40L)),
      (3L, Option(Seq(4f, 4f, 4f)), Option(11L)), // unknown cell
      (4L, None: Option[Seq[Float]], Option(10L)), // null vector
      (5L, Option(Seq(4f, 4f)), Option(10L))), 2)  // length mismatch
      .toDF("id", "v", "cell")
    // planned afresh per call: an executed plan keeps its codegen mode
    def residuals(fused: Boolean) = {
      val q = df.select(col("id"),
        ArrayMath.centroidResidual(col("v"), col("cell"), ids, cents).as("r"))
      val out = q.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Double](1)))).toMap
      assert(fusedInCodegen(q, "graft_centroid_residual") == fused)
      out
    }
    val got = residuals(fused = true)
    assert(got(1L).contains(Seq(3.0, 2.0, 1.0)))
    assert(got(2L).contains(Seq(5.0, 4.0, 3.0)))
    assert(got(3L).isEmpty && got(4L).isEmpty && got(5L).isEmpty)
    // interpreted eval agrees
    assert(withInterpreted(residuals(fused = false)) == got)
    // descending ids must be rejected up front (binary search + tie parity)
    intercept[IllegalArgumentException] {
      df.select(ArrayMath.centroidResidual(col("v"), col("cell"),
        Seq(40L, 10L), cents)).collect()
    }
  }

  test("mixed float/double (literal side) and interpreted eval agree") {
    val df = spark.sparkContext.parallelize(Seq((1L, Seq(0.5f, -1.5f))), 1).toDF("id", "a")
    val v = Seq(2.0, 4.0)
    def dotValue(fused: Boolean) = {
      val q = df.select(graft.operators.Ann.dotLit(col("a"), v))
      val out = q.head.getDouble(0)
      assert(fusedInCodegen(q, "graft_dot") == fused)
      out
    }
    val native = dotValue(fused = true)
    assert(native == 0.5 * 2.0 + -1.5 * 4.0)
    assert(withInterpreted(dotValue(fused = false)) == native)
  }
}
