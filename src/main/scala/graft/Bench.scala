package graft
import graft.queries.QueryPack
import graft.runtime.GraftSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional args(0): comma-separated query names — time just those
    // (same warmup + timing protocol), so a query added after a full
    // campaign can be measured alone without re-running the suite. It is
    // ONLY a query filter (the data dir comes from SPARK_GRAFT_SF_DIR), so
    // an unknown name fails fast instead of emitting a zero-query line.
    // Without it, the headline suite leaves out the negative controls
    // (x_ann_ivf_hier alone would otherwise dominate every sf10 total).
    val only = args.headOption.map(QueryPack.filterNames)
    val picked = QueryPack.registry.filter(q => only.fold(!q.negativeControl)(_(q.name)))
      .sortBy(_.name)
    // Timed runs per query (per-query MIN is reported): this box is a
    // microVM with 20-50% host-neighbour drift between runs, and min-of-N
    // independent passes is the de-noising every published campaign and
    // the DuckDB comparison already use — the single-run driver bench
    // disagreed with the refresh on drift alone two rounds running
    // (round-10 verdict task 6). The raw per-run times are emitted too.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    require(runs >= 1, s"SPARK_GRAFT_RUNS must be >= 1, got $runs")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Steady-state measurement: warm codegen/IO paths once, untimed.
    spark.range(1000).selectExpr("sum(id)").collect()
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // Inter-query isolation (r18; measurement-methodology fix, documented
    // in OPTIMIZATION_r18.md): queries that pin state — pipeline persists,
    // localCheckpoint blocks from index builds and CC loops — used to
    // leak it for the REST of the suite (the caller-owns-release contract;
    // Bench never released). ~100 queries of accreted executor blocks
    // squeeze the storage pool and tax everything that runs later, so
    // suite numbers measured query N's cost plus queries 1..N−1's litter.
    // Released AFTER a query's last run, never between runs: within-query
    // cache reuse (warm run2 reading run1's persist) is unchanged, so
    // per-query minimums stay comparable with every prior campaign.
    def releaseQueryState(frames: Seq[org.apache.spark.sql.DataFrame],
                          pinnedBefore: scala.collection.Set[Int]): Unit = {
      frames.foreach(graft.operators.TextPipeline.unpersistPipeline)
      spark.sqlContext.clearCache()
      val sc = spark.sparkContext
      (sc.getPersistentRDDs.keySet -- pinnedBefore).foreach { id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
      }
    }
    // Page-cache warm pass: read every input file once, untimed, so the
    // first query touching a table doesn't absorb its cold-disk read.
    new java.io.File(sfDir).listFiles((_, n) => n.endsWith(".parquet"))
      .foreach { f =>
        try force(spark.read.parquet(f.getPath)) catch { case _: Throwable => }
      }
    // Full untimed warmup pass: every query runs once before timing, so
    // per-query fixture generation, codegen compilation and shuffle-file
    // creation land outside the timings — scan-bound queries were swinging
    // ±20-60% round-to-round from exactly these first-run costs.
    picked.foreach { q =>
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val df = try Some(q.build(spark, sfDir)) catch { case _: Throwable => None }
      df.foreach(d => try force(d) catch { case _: Throwable => })
      releaseQueryState(df.toSeq, pinnedBefore)
    }
    // Steady-state: `runs` timed passes per query, per-query MIN reported
    // (the noise-floor estimator for a drift-dominated box); fixed name
    // order keeps runs comparable across rounds. A query that throws in
    // any timed run is FAILED: its time-to-failure is not a time, so it
    // stays out of `queries`, `runs` and the total, and the run exits 1.
    val results = picked.map { case QueryPack.Query(name, fn, _, _) =>
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      val frames = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.DataFrame]
      var failed = false
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          frames += df
          force(df)
        } catch { case e: Throwable =>
          failed = true
          System.err.println(s"bench: query $name failed: $e")
        }
        (System.nanoTime() - t0) / 1e9
      }
      releaseQueryState(frames.toSeq, pinnedBefore)
      (name, !failed, times)
    }
    val ok = results.filter(_._2)
    val qs = ok.map { case (k, _, ts) => s"\"" + k + "\":" + ts.min }
      .mkString("{", ",", "}")
    val raw = ok.map { case (k, _, ts) =>
      s"\"" + k + "\":" + ts.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val status = results.map { case (k, passed, _) =>
      s"\"" + k + "\":\"" + (if (passed) "ok" else "failed") + "\""
    }.mkString("{", ",", "}")
    val excluded = QueryPack.registry
      .filter(q => q.negativeControl && !picked.contains(q))
      .map(_.name).sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._3.min).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"status":$status,"protocol":"min-of-$runs","runs":$raw,"negative_controls_excluded":$excluded,"sf":"$sfDir"}"""
    println(line)
    // Stdout alone is lossy — the round-13 driver captured only a
    // truncated tail, leaving BENCH_r13.json with `parsed: null`. Persist
    // the same line to a file so the full per-query map always survives.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LAST.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"bench-out write failed: $e") }
    spark.stop()
    val nFailed = results.size - ok.size
    if (nFailed > 0) {
      System.err.println(s"bench: $nFailed of ${results.size} queries failed")
      sys.exit(1)
    }
  }
}
