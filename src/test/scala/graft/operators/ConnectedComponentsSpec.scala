package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[TextDedup.connectedComponents]]' two regimes — the driver finish
  * (union-find over one collect) and the distributed HashMin loop
  * ([[TextDedup.ccSqlLoop]]) — checked against an iterative union-find
  * oracle and against each other, on seeded graphs of the shapes that
  * break label propagation: deep paths in both id orders, stars, dense
  * tangles, duplicate/reversed/self pairs and many small components. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Every id in `pairs` -> its component's minimum under `ord`. Union
    * always hangs the larger root under the smaller, so roots ARE the
    * minima; iterative find with full path compression. */
  private def oracle[T](pairs: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(x: T): T = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** Spark orders strings by UTF-8 bytes, i.e. by code point. */
  private val sparkStringOrder: Ordering[String] =
    Ordering.Implicits.seqOrdering[Seq, Int].on(_.codePoints.toArray.toSeq)

  private def shuffled(es: Seq[(Long, Long)], seed: Long) =
    new scala.util.Random(seed).shuffle(es)

  private def randomGraph(maxNodes: Int, density: Double): Gen[Seq[(Long, Long)]] =
    for {
      n <- Gen.choose(2, maxNodes)
      m = math.max(1, (n * n * density).toInt)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield es.filter { case (a, b) => a != b }.distinct

  private val sparse = randomGraph(60, 0.02)
  private val dense = randomGraph(15, 0.5)

  /** Named graphs over small long ids; `mapId` spreads them out below. */
  private def graphs: Seq[(String, Seq[(Long, Long)])] = {
    val params = Gen.Parameters.default
    val path = (0L until 99L).map(i => (i, i + 1))
    val sparseGs = (1 to 4).map(i => s"sparse-$i" -> sparse(params, Seed(i.toLong)).get)
    val denseGs = (1 to 2).map(i => s"dense-$i" -> dense(params, Seed(100L + i)).get)
    val dupRev = sparse(params, Seed(7L)).get
    sparseGs ++ denseGs ++ Seq(
      "path-ascending" -> path,
      "path-descending" -> path.reverse.map(_.swap),
      "path-shuffled" -> shuffled(path, 3L),
      "star-min-centre" -> (1L to 40L).map(i => (0L, i)),
      "star-max-centre" -> (0L until 40L).map(i => (i, 40L)),
      "dup-and-reversed" -> (dupRev ++ dupRev ++ dupRev.map(_.swap)),
      "self-pairs" -> Seq((5L, 5L), (1L, 2L), (2L, 2L), (9L, 9L), (3L, 1L)),
      "empty" -> Seq.empty,
      "many-small" -> (0L until 60L).flatMap(c =>
        if (c % 3 == 0) Seq((3 * c, 3 * c + 1), (3 * c + 1, 3 * c + 2), (3 * c + 2, 3 * c))
        else Seq((3 * c + 2, 3 * c))))
  }

  /** Order-preserving renderings (an ascending path stays ascending):
    * longs spread over both signs, zero-padded strings. */
  private def mapId(x: Long): Long = x * 7919L - 400000L
  private def strId(x: Long): String = f"doc-$x%04d"

  private def bothRegimes(pairs: DataFrame): (DataFrame, DataFrame) =
    (TextDedup.connectedComponents(pairs, "a", "b"), TextDedup.ccSqlLoop(pairs, "a", "b"))

  private def checkParity[T](name: String, pairs: Seq[(T, T)], df: DataFrame)
                            (implicit ord: Ordering[T]): Unit = {
    val (driver, loop) = bothRegimes(df)
    assert(driver.schema == loop.schema, s"$name: schemas differ")
    assert(driver.columns.toSeq == Seq("id", "component"))
    def labels(out: DataFrame): Map[T, T] = {
      val rows = out.collect().toSeq.map(r => r.getAs[T](0) -> r.getAs[T](1))
      assert(rows.map(_._1).distinct.length == rows.length, s"$name: repeated ids")
      rows.toMap
    }
    val want = oracle(pairs)
    val (gotDriver, gotLoop) = (labels(driver), labels(loop))
    assert(gotDriver.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet,
      s"$name: output ids must be exactly the ids in the pairs")
    assert(gotDriver == want, s"$name: driver finish vs union-find oracle")
    assert(gotLoop == want, s"$name: distributed loop vs union-find oracle")
  }

  test("both regimes match the union-find oracle on long ids") {
    graphs.foreach { case (name, es) =>
      val pairs = es.map { case (a, b) => (mapId(a), mapId(b)) }
      checkParity(name, pairs, pairs.toDF("a", "b"))
    }
  }

  test("both regimes match the union-find oracle on string ids") {
    implicit val ord: Ordering[String] = sparkStringOrder
    graphs.foreach { case (name, es) =>
      val pairs = es.map { case (a, b) => (strId(a), strId(b)) }
      checkParity(name, pairs, pairs.toDF("a", "b"))
    }
  }

  test("string ids order by code point, not by UTF-16 unit") {
    implicit val ord: Ordering[String] = sparkStringOrder
    // U+1F600 sorts BELOW U+FF5E in UTF-16 (surrogate 0xD83D) but above
    // it in Spark's UTF-8 byte order
    val (emoji, tilde) = ("😀", "～")
    val pairs = Seq((emoji, tilde))
    checkParity("astral", pairs, pairs.toDF("a", "b"))
    val got = TextDedup.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(_.getString(1)).toSet
    assert(got == Set(tilde))
  }

  test("null ids: the driver finish reproduces the loop's rows") {
    // the loop never joins on a null id: the null node merges nothing and
    // takes its smallest non-null neighbour's final label
    val pairs = Seq[(String, String)](("b", null), (null, "c"), ("c", "d"),
      ("d", "a"), (null, null), ("e", "f")).toDF("a", "b")
    val (driver, loop) = bothRegimes(pairs)
    assert(driver.schema == loop.schema)
    def rows(df: DataFrame) =
      df.collect().map(r => Option(r.getString(0)) -> Option(r.getString(1))).toSet
    assert(rows(driver) == rows(loop))
    assert(rows(driver).contains(None -> Some("b")))
  }

  test("regime choice: driver finish at the bound, loop at bound + 1") {
    val bound = TextDedup.DriverCcMaxEdges
    assert(TextDedup.driverCcOrdering(bound, LongType).isDefined)
    assert(TextDedup.driverCcOrdering(bound, StringType).isDefined)
    assert(TextDedup.driverCcOrdering(bound + 1, LongType).isEmpty)
    assert(TextDedup.driverCcOrdering(bound + 1, StringType).isEmpty)
    // no exact driver rendering of Spark's double equality (-0.0, NaN)
    assert(TextDedup.driverCcOrdering(2, DoubleType).isEmpty)
  }

  private val confKeys = Seq("spark.sql.adaptive.enabled",
    "spark.sql.join.preferSortMergeJoin", "spark.sql.shuffle.partitions")

  /** The three loop keys as set in the session; None: unset (the
    * getters would read an unset key as its default). */
  private def confState() = confKeys.map(k => k -> spark.conf.getAll.get(k))

  /** Runs `body` with the three loop keys saved, restoring them after. */
  private def withSavedConf(body: => Unit): Unit = {
    val saved = confState()
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the loop restores its three conf keys after failing to converge") {
    withSavedConf {
      // second pass: a key the caller never set must stay unset, not be
      // pinned to the default it reads as
      for (smj <- Seq(Some("true"), None)) {
        spark.conf.set("spark.sql.adaptive.enabled", "true") // the flip path
        smj match {
          case Some(v) => spark.conf.set("spark.sql.join.preferSortMergeJoin", v)
          case None => spark.conf.unset("spark.sql.join.preferSortMergeJoin")
        }
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        val before = confState()
        val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
        val e = intercept[RuntimeException](
          TextDedup.ccSqlLoop(chain, "a", "b", maxIter = 1))
        assert(e.getMessage.contains("did not converge"))
        assert(confState() == before, s"conf not restored to $before")
      }
    }
  }

  test("the driver finish never touches session conf") {
    withSavedConf {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      // an UNSET key exposes even a set-then-restore
      spark.conf.unset("spark.sql.join.preferSortMergeJoin")
      val before = spark.sessionState.conf.getAllConfs
      val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
      val got = TextDedup.connectedComponents(chain, "a", "b").collect()
      assert(got.length == 64 && got.forall(_.getLong(1) == 0L))
      assert(spark.sessionState.conf.getAllConfs == before)
    }
  }

  test("the driver finish leaves nothing pinned") {
    def pinned() = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = TextDedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    assert((pinned() -- before).isEmpty, s"leaked: ${pinned() -- before}")
  }

  private def spills(dir: java.io.File): Seq[String] =
    dir.listFiles().toSeq.map(_.getName).filter(_.startsWith("ckpt-"))

  test("driver finish with a reliable dir: labels, one edge spill left, result outlives it") {
    val dir = java.nio.file.Files.createTempDirectory("cc-driver-ckpt").toFile
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
      val out = TextDedup.connectedComponents(pairs, "a", "b",
        checkpointDir = Some(dir.getAbsolutePath))
      // the edge list is spilled before the count that picks the regime;
      // the labels are driver-built, so nothing else is written
      assert(spills(dir).size == 1, s"expected the edge spill only, got ${spills(dir)}")
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("driver finish inside withCheckpointScope: dir emptied, result stays live") {
    val dir = java.nio.file.Files.createTempDirectory("cc-driver-scope").toFile
    try {
      val chain = (0 until 15).map(i => (i.toLong, i.toLong + 1)).toDF("a", "b")
      val labels = graft.runtime.Checkpoints.withCheckpointScope(
          spark, dir.getAbsolutePath) { scoped =>
        TextDedup.connectedComponents(chain, "a", "b", checkpointDir = Some(scoped))
      }
      assert(dir.listFiles().isEmpty,
        s"scope must delete its spills, found: ${dir.listFiles().map(_.getName).toSeq}")
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 16 && got.values.forall(_ == 0L))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }
}
