package graft.runtime

import org.apache.spark.sql.SparkSession

/** The one session factory: every `src/main` entry point (Bench, Verify,
  * PlanDump, ScaleGen) and the test suites plan under [[profile]].
  *
  * Defaults are chosen for the 100 TB posture (SURVEY.md §7.7): AQE on
  * (runtime re-plan, skew-join splitting, partition coalescing), broadcast
  * threshold generous enough that dimension tables always broadcast, and a
  * shuffle-partition count that callers override per deployment (the
  * local core count by default, thousands on a real cluster).
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The planner configuration, as applied by [[builder]]. */
  val profile: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // AQE sort-merge -> shuffled-hash rewrite (guide §3.1): when every
    // post-shuffle partition's build side fits under the threshold, the
    // join skips both sorts. 256 MB is a per-partition bound, so the
    // setting is scale-adaptive by construction (bigger data -> more
    // partitions, bound unchanged), not a local-mode constant; the same
    // value is the production recommendation for 4-8 GB executors.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
      (256L * 1024 * 1024).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString,
    // spill-aware split sizing: partitions sized to fit executor memory
    // comfortably at high SF (default 128m; kept explicit so deployments
    // tune it alongside shuffle.partitions)
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    // nanos-era events.parquet (TIMESTAMP(NANOS)) reads only as longs
    // under this legacy flag
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "127.0.0.1")

  def builder(master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config(profile.toMap)

  /** Runs `body` with `settings` applied to the session conf, then puts
    * each key back as it was, also when `body` throws: a key that was
    * set gets its old value, and a key that was unset is unset again
    * rather than pinned to the default it would have read as. Loop
    * operators that re-plan under their own AQE/partition settings
    * scope them with this. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val was = settings.map { case (k, _) => k -> set.get(k) }
    try {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally was.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
