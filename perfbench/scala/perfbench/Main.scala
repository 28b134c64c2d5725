package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable

/** One benchmark JVM: builds the session, runs the untimed warm-up batch,
  * prints `PERFBENCH READY` (the end of set-up), then runs batches back to
  * back, closed loop, and writes the raw results as JSON. An untraced run
  * times the fixed number of batches that fills `--seconds` at the
  * workload's nominal batch length (`Workload.timedBatches`).
  *
  *   --workload W --inputs DIR --work DIR --seconds S --trace 0|1
  *   --cores N --result FILE [--spans FILE]
  *
  * With `--trace 1` the time is split: the first half alternates untraced
  * batches with batches under the listener but without staging (their
  * ratio is the tracing overhead), the second half runs staged batches
  * under spans (the per-layer numbers). */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = new File(a("work")).getAbsolutePath
    val spark = session(work, a("cores").toInt)
    System.err.println(f"perfbench: session ready ${jvmSeconds()}%.2f s after JVM start")
    val wl = Workload(a("workload"), spark, new File(a("inputs")).getAbsolutePath, work)
    val runner = new Runner(spark, wl, work)
    runner.warmUp()
    System.err.println(f"perfbench: warm-up checked ${jvmSeconds()}%.2f s after JVM start")

    val seconds = a("seconds").toDouble
    val result = mutable.LinkedHashMap.empty[String, Any]
    if (a("trace") == "1") {
      val listener = new TaskListener
      val (listened, untraced) = runner.phase(seconds / 2, None, Some(listener))
        .partition(_.listened)
      spark.sparkContext.addSparkListener(listener)
      val tracer = new Tracer(spark.sparkContext)
      val traced = runner.phase(seconds / 2, Some(tracer))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val layers = if (traced.isEmpty) Map.empty[String, Double]
        else Trace.layerMetrics(tracer, listener, traced.map(_.index))
      result("layers") = layers + ("trace.overhead_ratio" ->
        Trace.median(listened.map(_.seconds)) / Trace.median(untraced.map(_.seconds)))
      a.get("spans").foreach(p => write(p, Trace.spansJson(tracer, listener)))
    } else runner.phase(seconds, None, batches = wl.timedBatches(seconds))
    result("batch_seconds") = runner.done.map(_.seconds)
    result("records") = runner.done.map(_.records).sum
    result("attempted") = runner.attempted
    result("failed") = runner.failed
    result("wrong") = runner.wrong
    result("peak_rss_mb") = peakRssMb()
    write(a("result"), Json.render(result))
    spark.stop()
  }

  /** The session profile `graft.Bench` times the query suite under, local
    * to the run's work directory. */
  def session(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        (256L * 1024 * 1024).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // one batch plans more distinct generated classes than the default
      // 100-entry cache holds; with the default, every batch recompiled
      // them and batch medians spread 30% between runs
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def jvmSeconds(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def write(path: String, text: String): Unit =
    Files.write(new File(path).toPath, text.getBytes(UTF_8))
}

final case class Done(index: Int, seconds: Double, records: Long, listened: Boolean)

/** Runs batches, checks each one's output and releases what it pinned. */
final class Runner(spark: SparkSession, wl: Workload, work: String) {
  val done = mutable.ArrayBuffer.empty[Done]
  var attempted, failed, wrong = 0
  private var next = 0

  /** Batch 0, untimed, then `PERFBENCH READY`: set-up ends here. Its
    * output is checked against the reference before any timed batch
    * runs, and a mismatch ends the run. Then `wl.settle` more untimed,
    * checked batches let the JIT reach the code paths' steady state. */
  def warmUp(): Unit = {
    (0 to wl.settle).foreach { i =>
      val out = s"$work/out/b$i"
      isolated(i, out) {
        wl.batch(i, out)
        if (i == 0) {
          println("PERFBENCH READY")
          System.out.flush()
        }
        wl.verify(i, out)
      }
    }
    next = wl.settle + 1
  }

  /** Batches back to back: exactly `batches` of them when that is
    * positive, else for `seconds` (at least one); returns the ones that
    * finished with correct output. With `listen`, every second batch runs
    * with that listener registered (at least two batches). */
  def phase(seconds: Double, tracer: Option[Tracer],
            listen: Option[TaskListener] = None, batches: Int = 0): Seq[Done] = {
    val until = System.nanoTime() + (seconds * 1e9).toLong
    val mine = mutable.ArrayBuffer.empty[Done]
    var k = 0 // the workload sees batch numbers counted from each phase's start
    do {
      val i = next
      next += 1
      attempted += 1
      val out = s"$work/out/b$i"
      val listener = listen.filter(_ => k % 2 == 1)
      listener.foreach(spark.sparkContext.addSparkListener)
      try isolated(k, out) {
        val t0 = System.nanoTime()
        tracer match {
          case Some(t) => t.batch = i; t.span("batch")(wl.staged(k, out, t))
          case None => wl.batch(k, out)
        }
        val secs = (System.nanoTime() - t0) / 1e9
        mine += Done(i, secs, wl.verify(k, out), listener.isDefined)
      } catch {
        case e: WrongOutput =>
          failed += 1; wrong += 1
          System.err.println(s"perfbench: batch $i WRONG OUTPUT: ${e.getMessage}")
        case e: Throwable =>
          failed += 1
          System.err.println(s"perfbench: batch $i FAILED: $e")
          e.printStackTrace()
      } finally listener.foreach(spark.sparkContext.removeSparkListener)
      k += 1
    } while (if (batches > 0) k < batches
             else System.nanoTime() < until || (listen.isDefined && k < 2))
    done ++= mine
    mine.toSeq
  }

  /** Batch isolation: whatever `body` persisted or checkpointed, its cache
    * entries, its output and its scratch files are gone afterwards, so a
    * batch never measures the previous one's leftovers. */
  private def isolated[T](i: Int, out: String)(body: => T): T = {
    val sc = spark.sparkContext
    val pinned = sc.getPersistentRDDs.keySet
    try body
    finally {
      spark.catalog.clearCache()
      (sc.getPersistentRDDs.keySet -- pinned).foreach { id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true))
      }
      Workload.deleteTree(new File(out))
      wl.release(i)
    }
  }
}

/** Just enough JSON for the result file: maps, sequences, numbers. */
object Json {
  def render(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case s: String => quote(s)
    case other => quote(other.toString)
  }
  private def quote(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
