package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard over `src/main/scala`: one session builder, no path
  * that only exists in this checkout, and SQL function names bound in
  * one place.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val root = Paths.get("").toAbsolutePath
  private val main = "src/main/scala/graft"

  private lazy val sources: Map[String, String] = {
    val s = Files.walk(root.resolve("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    finally s.close()
  }

  /** Files whose text contains `needle`. */
  private def offenders(needle: String, in: Map[String, String] = sources): Set[String] =
    in.collect { case (f, text) if text.contains(needle) => f }.toSet

  test("src/main: one session builder, no checkout path, SQL names bound in GraftExtensions") {
    assert(sources.size > 50, s"the scan saw only ${sources.size} files")

    // split, so that grepping the tree for the call finds only the builder
    assert(offenders("SparkSession" + ".builder") == Set(s"$main/Session.scala"))

    val checkout = root.toString + "/"
    assert(offenders(checkout, in = Map("probe.scala" -> s"""val d = "${checkout}fixtures"""")) ==
      Set("probe.scala"))
    assert(offenders(checkout).isEmpty)

    assert(offenders("injectFunction") == Set(s"$main/plans/GraftExtensions.scala"))
    // BloomJoin binds names for the SQL text it generates on caller sessions
    assert(offenders("registerFunction") == Set(s"$main/operators/BloomJoin.scala"))
  }
}
