package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic testdata scale-up: builds a `factor`× copy of the
  * driver-generated star schema (TESTDATA.md) by unioning `factor`
  * re-keyed copies of every fact table. Dimension tables (`region`,
  * `nation`) pass through unchanged — exactly how a real corpus grows:
  * more facts, same dimensions.
  *
  * Determinism: no RNG anywhere. Key offsets are `k × (max(key)+1)`
  * computed from the source tables; the text/embedding perturbations are
  * pure functions of (row key, element index, copy number) via md5. Two
  * runs over the same source produce byte-identical row sets.
  *
  * Re-keying preserves referential integrity per copy: `lineitem` copy k
  * joins `orders`/`part`/`supplier` copy k under the same offsets, so
  * join fan-outs scale linearly with `factor` — never quadratically.
  *
  * The near-dup inputs are additionally PERTURBED per copy, because
  * byte-identical copies would manufacture quadratic work that says
  * nothing about operator scaling: 10 identical copies of every document
  * put 10 docs in every LSH bucket (×100 candidate pairs), and identical
  * embedding vectors collide in every hyperplane bucket the same way.
  *   - `documents.text`, copy k>0: every word suffixed `_k` — word/char
  *     counts, repetition structure and within-copy duplicate clusters
  *     are preserved, but no gram survives across copies, so LSH
  *     candidate generation scales like a genuinely 10× larger corpus.
  *   - `embeddings.embedding`, copy k>0: per-element deterministic
  *     jitter in [-0.5, 0.5) (md5 of vec_id:elem:k), decorrelating the
  *     copies' directions for hyperplane/IVF bucketing.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("scratch/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.runtime.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scale(spark, src, dst, factor)
    spark.stop()
  }

  /** Scale every table from `src` into `dst` (same `<name>.parquet` layout,
    * directories rather than single files). */
  def scale(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // events carries TIMESTAMP(NANOS) parquet, which Spark only reads with
    // the nanos-as-long legacy conf — set it for the duration of the run
    // (runtime SQL conf, restored after) so any caller session works
    // write timestamps as µs INT64 (not the INT96 legacy default): INT96
    // carries no min/max statistics, so predicate pushdown over ts would
    // go blind on the scaled dirs
    val confs = Seq(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try scaleAll(spark, src, dst, factor)
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def scaleAll(spark: SparkSession, src: String, dst: String,
                       factor: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")

    // one stride per key family, shared by every table referencing it
    val sOrd = stride(rd("orders"), "o_orderkey")
    val sCust = stride(rd("customer"), "c_custkey")
    val sPart = stride(rd("part"), "p_partkey")
    val sSupp = stride(rd("supplier"), "s_suppkey")
    val sEvent = stride(rd("events"), "event_id")
    val sUser = stride(rd("events"), "user_id")
    val sDoc = stride(rd("documents"), "doc_id")
    val sVec = stride(rd("embeddings"), "vec_id")

    def offsets(keys: (String, Long)*)(df: DataFrame, k: Int): DataFrame =
      keys.foldLeft(df) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + lit(k * s))
      }

    val plans: Seq[(String, (DataFrame, Int) => DataFrame)] = Seq(
      "customer" -> offsets("c_custkey" -> sCust) _,
      "supplier" -> offsets("s_suppkey" -> sSupp) _,
      "part" -> offsets("p_partkey" -> sPart) _,
      "orders" -> offsets("o_orderkey" -> sOrd, "o_custkey" -> sCust) _,
      "lineitem" -> offsets("l_orderkey" -> sOrd, "l_partkey" -> sPart,
        "l_suppkey" -> sSupp) _,
      // users scale with the data (new users, same per-user event density)
      // so sessionization/window workloads keep their per-key shape
      "events" -> { (df, k) =>
        normalizeTs(offsets("event_id" -> sEvent, "user_id" -> sUser)(df, k))
      },
      "documents" -> { (df, k) =>
        offsets("doc_id" -> sDoc)(df, k)
          .withColumn("text", saltWords(col("text"), k))
      },
      "embeddings" -> { (df, k) =>
        offsets("vec_id" -> sVec)(df, k)
          .withColumn("embedding", jitter(col("embedding"), col("vec_id"), k))
      })

    plans.foreach { case (t, tweak) =>
      val out = (0 until factor).map(k => tweak(rd(t), k)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"$t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    Seq("region", "nation").foreach { t =>
      rd(t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"$t: copied unscaled")
    }
  }

  /** Offset between consecutive copies of a key column: max+1, so copies
    * never collide and the mapping is invertible (copy = key / stride).
    * An empty (or all-NULL-key) source table has no usable max — fail
    * with a clear message rather than the opaque NPE `head.getLong(0)`
    * would throw; a stride-0 pass-through would silently collide copies
    * if the table were non-empty with NULL keys. */
  private def stride(df: DataFrame, c: String): Long = {
    val row = df.agg(max(col(c)).cast("long")).head
    require(!row.isNullAt(0),
      s"cannot scale: key column '$c' has no non-null values (empty source table?)")
    row.getLong(0) + 1L
  }

  /** Legacy-source repair: TIMESTAMP(NANOS)-era events.ts reads only as a
    * long (raw nanos), and writing that long back produces plain INT64
    * parquet — every downstream engine loses the timestamp binding (the
    * DuckDB oracle's `epoch_ms(ts)` stops resolving), which is why the
    * four event-time queries used to drop out of the engine comparison.
    * Convert such a long to a µs TIMESTAMP on write; sub-µs precision is
    * dropped (integer division) — no query observes it (they all bin to
    * ms). A source that already carries a real timestamp type (the
    * current driver testdata is µs TIMESTAMP_NTZ; re-scaled output may be
    * NTZ or LTZ) passes through unchanged — scaling preserves the
    * source's type exactly. */
  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df // real timestamp (NTZ or LTZ): preserve the source type
    }

  /** Copy-k word salt: suffix every word with `_k` (identity for k=0). */
  def saltWords(text: Column, k: Int): Column =
    if (k == 0) text
    else array_join(transform(split(text, " "), w => concat(w, lit(s"_$k"))), " ")

  /** Copy-k embedding jitter: deterministic per-element noise in
    * [-0.5, 0.5) derived from md5(vec_id:element:k) (identity for k=0).
    * The vec_id passed in is the already-offset copy key. */
  def jitter(vec: Column, id: Column, k: Int): Column =
    if (k == 0) vec
    else transform(vec, (x, i) =>
      (x + conv(substring(md5(concat_ws(":",
          id.cast("string"), i.cast("string"), lit(k.toString))), 1, 4), 16, 10)
        .cast("double") / 65536.0 - 0.5).cast("float"))
}
