package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.QuerySpec

/** Source guard over `src/main/scala`: one session builder, no path
  * that only exists in this checkout, SQL function names bound in one
  * place, and query names spelled only in the catalog.
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

  /** String literals in `text` that spell one of `names`. */
  private def nameLiterals(text: String, names: Set[String]): Int =
    "\"(q\\d+_\\w+)\"".r.findAllMatchIn(text).count(m => names(m.group(1)))

  test("catalog: 375 distinct specs, 89 tracked, query names spelled only in catalog/") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.size == 375)
    assert(names.distinct.size == names.size)
    val ordinals = names.map(QuerySpec.ordinal)
    assert(ordinals.distinct.size == ordinals.size)
    assert(ordinals.count(_ < 90) == 89)

    val known = names.toSet
    val probe = Seq("q1_agg", "q2_top10", "q3_left_join", "q4_royalties")
      .map(n => "\"" + n + "\"").mkString("Map(", " -> 1, ", " -> 1)")
    assert(nameLiterals(probe, known) == 4)
    assert(nameLiterals("\"q45_sessions\" \"q1_aggregate\"", known) == 0)

    val (catalog, rest) = sources.partition(_._1.startsWith(s"$main/catalog/"))
    assert(catalog.values.map(nameLiterals(_, known)).sum >= 375)
    val spelled = rest.map { case (f, text) => f -> nameLiterals(text, known) }
      .filter(_._2 > 3)
    assert(spelled.isEmpty, s"query-name literals outside catalog/: $spelled")
  }
}
