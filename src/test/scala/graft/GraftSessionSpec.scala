package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The test suite runs the engine that Bench times and Verify gates. */
class GraftSessionSpec extends SparkSpec {
  test("the shared test session carries every engine conf entry") {
    GraftSession.engineConf(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
  }

  test("GraftSession is the only session builder in src/ (drift guard)") {
    // split so this file's own source does not match
    val call = "SparkSession" + ".builder("
    val comment = """^\s*(//|\*|/\*)""".r
    def scalaFiles(root: String): Seq[Path] =
      Files.walk(Paths.get(root)).iterator.asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    val hits = (scalaFiles("src/main") ++ scalaFiles("src/test")).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains(call) && comment.findFirstIn(l).isEmpty =>
          (p.getFileName.toString, i + 1)
      }
    }
    // GraftFunctionsSpec builds a fresh session to test registration
    // through `withExtensions`
    assert(hits.map(_._1).sorted == Seq("GraftFunctionsSpec.scala",
      "GraftSession.scala"), hits)
    val (_, at) = hits.find(_._1 == "GraftFunctionsSpec.scala").get
    val ext = Files.readAllLines(
      Paths.get("src/test/scala/graft/functions/GraftFunctionsSpec.scala"))
      .asScala.slice(at - 1, at + 3)
    assert(ext.exists(_.contains(".withExtensions(")), ext)
  }
}
