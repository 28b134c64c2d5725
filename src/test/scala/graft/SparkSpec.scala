package graft

import graft.runtime.GraftSession
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run in
  * the forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark

  /** Runs `body` with whole-stage codegen off and expressions evaluated
    * interpreted (`eval`/`nullSafeEval`), restoring both keys after.
    * Plan a fresh frame inside `body`: an executed plan keeps the mode
    * it was planned under. */
  def withInterpreted[T](body: => T): T =
    GraftSession.withConf(spark,
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)

  /** `body`'s result and the number of Spark jobs it submitted: jobs
    * are told apart by a local property this thread carries while `body`
    * runs, so other suites' jobs are not counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    val outer = sc.getLocalProperty(key)
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      GraftListenerBridge.drain(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(key, outer)
      sc.removeSparkListener(listener)
    }
  }

  /** Whether `df`'s executed plan runs an expression named `name` inside
    * a whole-stage codegen stage. */
  def fusedInCodegen(df: DataFrame, name: String): Boolean =
    df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.child.toString
    }.exists(_.contains(name))

  /** `read` of `q` planned with expression `name` fused into whole-stage
    * codegen, checked equal to `read` of a fresh `q` planned interpreted.
    * `q` must read an RDD-backed frame: a projection over a local relation
    * is folded on the driver, and its generated code never runs. */
  def onBothPaths[T](name: String)(q: => DataFrame)(read: DataFrame => T): T = {
    def run(fused: Boolean): T = {
      val df = q
      val out = read(df)
      assert(fusedInCodegen(df, name) == fused, s"$name fused in codegen: ${!fused}")
      out
    }
    val generated = run(fused = true)
    assert(withInterpreted(run(fused = false)) == generated,
      s"$name: interpreted eval diverged from the generated code")
    generated
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
