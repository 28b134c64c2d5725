package graft.runtime

import graft.SparkSpec

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one session profile: the tests plan under it, and no other
  * `src/main` code builds a session of its own. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every profile key at its profile value") {
    val drift = GraftSession.profile.flatMap { case (k, v) =>
      val got = spark.conf.getOption(k)
      if (got.contains(v)) None else Some(s"$k: expected $v, got $got")
    }
    assert(drift.isEmpty, drift.mkString("; "))
  }

  test("GraftSession is the only SparkSession builder in src/main") {
    val root = Paths.get("src/main/scala")
    val builderCall = """SparkSession\s*\.\s*builder""".r
    val callers = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => builderCall.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString).toSeq.sorted
    assert(callers == Seq("graft/runtime/GraftSession.scala"))
  }
}
