package graft.runtime

import org.apache.spark.sql.DataFrame

/** Write-path output sizing — the small-files guard for the sink half of
  * the 100 TB story. A naive `df.write` emits one file per task: a
  * 100 TB job with 100k shuffle partitions writes 100k files per table,
  * and every downstream scan pays the listing + open cost; conversely a
  * carelessly coalesced write funnels the job through a handful of
  * tasks. This helper picks the file count FROM THE DATA: Catalyst's own
  * size estimate (`optimizedPlan.stats.sizeInBytes` — the same signal
  * broadcast decisions consult) divided by a target bytes-per-file.
  *
  * The estimate is logical (decompressed row bytes), so on-disk parquet
  * lands smaller than the target by roughly the compression ratio — the
  * error direction is usually MORE, SMALLER files. Callers who know
  * their compression ratio can fold it into `targetBytesPerFile` (e.g.
  * 4× the desired on-disk size for text-heavy columns).
  *
  * One failure mode is NOT merely "more files": without CBO statistics
  * Spark's size-only estimator propagates a join as the PRODUCT of its
  * children's sizes (and inflates aggregates), so writing a join result
  * can estimate astronomically high. [[Output.sizedWrite]] therefore
  * clamps the file count to a plausibility cap tied to the cluster's
  * parallelism and WARNS when the clamp fires — a silent million-file
  * repartition is a job-killing shuffle, not a sizing nuance. Frames fresh off a scan or exchange
  * have trustworthy estimates; deep join/aggregate plans may not —
  * prefer materialising those. */
object Output {

  /** Write `df` as parquet at `path` in approximately
    * `sizeInBytes / targetBytesPerFile` files, round-robin repartitioned —
    * one extra shuffle, evenly sized files even after a skewed
    * aggregation. Returns the chosen file count
    * (one visible sizing decision, the [[graft.operators.TextDedup
    * .decontaminate]] route-logging convention).
    *
    * The count is capped against estimator blow-ups at
    * `max(64 × defaultParallelism, 4096)` — generous for any
    * honest estimate (64 target-size files per core is >16 GB of logical
    * rows per core at the default target), but catches the
    * join-size-product pathology, where the clamp fires with a loud WARN
    * instead of scheduling a ~1M-task shuffle. (The cap deliberately
    * reads cluster parallelism, not `df.rdd.getNumPartitions` — under
    * AQE materialising the RDD would EXECUTE the upstream stages once
    * just to count partitions, then the write would run them again.) */
  def sizedWrite(df: DataFrame, path: String, targetBytesPerFile: Long = 256L << 20): Int = {
    require(targetBytesPerFile > 0, "targetBytesPerFile must be positive")
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val raw = ((est + targetBytesPerFile - 1) / targetBytesPerFile).max(1)
    val cores = df.sparkSession.sparkContext.defaultParallelism.max(1)
    val cap = math.max(64L * cores, 4096L)
    if (raw > cap) log.warn(
      s"sizedWrite: size estimate $est bytes implies $raw files — clamping " +
      s"to $cap (64 x $cores cores). Size-only estimation multiplies child " +
      "sizes through joins; if this frame is a join/aggregate result the " +
      "estimate is untrustworthy — materialise the input first.")
    val n = raw.min(cap).min(1L << 20).toInt
    log.info(
      s"sizedWrite: estimated $est bytes / target $targetBytesPerFile -> $n file(s)")
    df.repartition(n).write.mode("overwrite").parquet(path)
    n
  }
}
