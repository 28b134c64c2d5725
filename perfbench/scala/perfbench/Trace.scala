package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed call into a layer. `parent` is the enclosing span's id (-1 for
  * a batch root); `batch` groups the spans of one batch. */
final case class Span(id: Int, name: String, parent: Int, batch: Int, start: Long) {
  var end: Long = start
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder: spans and their counts stay in memory and are written
  * once, after the run. The active span id rides a SparkContext local
  * property, so [[TaskListener]] can charge every job, stage and task to
  * the innermost span that submitted it. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[(Int, String), Double]
  private var stack: List[Span] = Nil
  var batch = 0

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), batch,
      System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Adds `v` to counter `key` of the latest span called `name`. */
  def countOn(name: String, key: String, v: Double): Unit =
    spans.reverseIterator.find(_.name == name).foreach { s =>
      counts((s.id, key)) = counts.getOrElse((s.id, key), 0.0) + v
    }
}

object Tracer {
  val Key = "perfbench.span"
}

/** Spark-side counters per span: jobs, and per task its run time, GC time,
  * shuffle bytes written and bytes spilled. */
final class TaskListener extends SparkListener {
  final case class Task(span: Int, durMs: Long, gcMs: Long, shuffle: Long, spill: Long)

  val jobs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageSpan = mutable.Map.empty[Int, Int]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobs(s) += 1
    e.stageIds.foreach(stageSpan(_) = s)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    if (s >= 0) stageSpan(e.stageInfo.stageId) = s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(stageSpan.getOrElse(e.stageId, -1), e.taskInfo.duration,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}

object Trace {

  /** The layer spans, in the order they are reported. */
  val Layers = Seq("run.expand", "run.plan", "sources.read", "tabulate.segment",
    "xml.transform", "compile.map", "runtime.write", "operators.pipeline",
    "operators.pairs", "operators.cc")

  /** Counts reported per layer, as `<span>.<count>`. */
  val Counts = Seq("run.expand.files", "sources.read.rows", "sources.read.bytes_in",
    "tabulate.segment.records", "xml.transform.records", "compile.map.records",
    "runtime.write.files", "runtime.write.bytes", "operators.pairs.pairs",
    "operators.pipeline.survivors")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Per-layer metrics: every statistic is summed over a batch's spans of
    * that layer, then the median over the traced batches is reported. */
  def layerMetrics(t: Tracer, l: TaskListener, batches: Seq[Int]): Map[String, Double] = {
    val byBatch = t.spans.groupBy(_.batch)
    val children = t.spans.groupBy(_.parent)
    val tasksBySpan = l.tasks.groupBy(_.span)
    val perBatch: Seq[Map[String, Double]] = batches.map { b =>
      val spans = byBatch.getOrElse(b, Nil)
      val root = spans.find(_.parent < 0).get
      val out = mutable.Map.empty[String, Double]
      Layers.foreach { layer =>
        val ls = spans.filter(_.name == layer)
        val self = ls.map(s => s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum)
        val tk = ls.flatMap(s => tasksBySpan.getOrElse(s.id, Nil))
        val durs = tk.map(_.durMs.toDouble).toSeq
        out(s"$layer.wall_s") = ls.map(_.seconds).sum
        out(s"$layer.self_s") = self.sum
        out(s"$layer.jobs") = ls.map(s => l.jobs(s.id)).sum.toDouble
        out(s"$layer.tasks") = tk.size.toDouble
        out(s"$layer.shuffle_bytes") = tk.map(_.shuffle).sum.toDouble
        out(s"$layer.spill_bytes") = tk.map(_.spill).sum.toDouble
        out(s"$layer.gc_s") = tk.map(_.gcMs).sum / 1e3
        out(s"$layer.task_skew") =
          if (durs.isEmpty) 0.0 else durs.max / math.max(median(durs), 1.0)
      }
      Counts.foreach { c =>
        val layer = c.substring(0, c.lastIndexOf('.'))
        val key = c.substring(c.lastIndexOf('.') + 1)
        out(c) = spans.filter(_.name == layer).map(s => t.counts.getOrElse((s.id, key), 0.0)).sum
      }
      out("trace.coverage") = Layers.map(x => out(s"$x.self_s")).sum / root.seconds
      out.toMap
    }
    perBatch.head.keys.map(k => k -> median(perBatch.map(_(k)))).toMap
  }

  /** Spans as JSON lines: {name, batch, start, end, parent} plus counters. */
  def spansJson(t: Tracer, l: TaskListener): String = {
    val tasksBySpan = l.tasks.groupBy(_.span)
    t.spans.map { s =>
      val c = t.counts.collect { case ((id, k), v) if id == s.id => s""""$k":$v""" }
      val tk = tasksBySpan.getOrElse(s.id, Nil)
      (Seq(s""""name":"${s.name}"""", s""""id":${s.id}""", s""""parent":${s.parent}""",
        s""""batch":${s.batch}""", s""""start":${s.start}""", s""""end":${s.end}""",
        s""""jobs":${l.jobs(s.id)}""", s""""tasks":${tk.size}""") ++ c)
        .mkString("{", ",", "}")
    }.mkString("", "\n", "\n")
  }
}
