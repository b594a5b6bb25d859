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
    // child sessions come from Session.fork, the one place artifact
    // isolation is turned off (so forks share compiled code)
    assert(offenders("newSession" + "()") == Set(s"$main/Session.scala"))
    assert(offenders("artifact" + ".isolation") == Set(s"$main/Session.scala"))
    // one file per trigger is a bounded replay's cadence, set by its
    // reader next to replayWaves; a stream operator takes its source as given
    assert(offenders("maxFilesPer" + "Trigger") == Set(s"$main/streaming/StreamingReports.scala"))

    val checkout = root.toString + "/"
    assert(offenders(checkout, in = Map("probe.scala" -> s"""val d = "${checkout}fixtures"""")) ==
      Set("probe.scala"))
    assert(offenders(checkout).isEmpty)

    assert(offenders("injectFunction") == Set(s"$main/plans/GraftExtensions.scala"))
    // BloomJoin binds names for the SQL text it generates on caller sessions
    assert(offenders("registerFunction") == Set(s"$main/operators/BloomJoin.scala"))
  }

  test("src/main: corpus tables are read only through Corpus.load (tables/, tools/ aside)") {
    // split, so that grepping the tree for a by-path read finds no guard
    val byPath = ("\\." + "parquet\\(s?\"[^\"]*/(" +
      graft.tables.Corpus.tableNames.mkString("|") + ")\\.parquet\"").r
    def readers(in: Map[String, String]): Set[String] =
      in.collect { case (f, text) if byPath.findFirstIn(text).nonEmpty => f }.toSet
    assert(readers(Map(
      "read.scala" -> ("val d = spark.read" + ".parquet(s\"$dir/documents" + ".parquet\")"),
      "fp.scala" -> ("IndexStore.fingerprint(s\"$dir/documents" + ".parquet\")"))) ==
      Set("read.scala"))
    val exempt = Seq(s"$main/tables/", s"$main/tools/")
    val offending = readers(sources.filterNot { case (f, _) => exempt.exists(f.startsWith) })
    assert(offending.isEmpty, s"by-path corpus reads outside Corpus.load: $offending")
  }

  test("src/main: the versioned-store layout is spelled only in VersionedStore") {
    // split, so that grepping the tree for the layout finds only the store
    val layout = Seq("_mani" + "fest", "%0" + "9d", "\\\\{1,2}d" + "\\{9\\}",
      "v\\(?" + "\\\\{1,2}d").map(_.r)
    assert(layout.map(_.findFirstIn("\"v\\\\d{9}\\\\.json\"")).count(_.nonEmpty) == 2)
    // q344/q347 plant damaged stores by hand on purpose
    val fixtures = Seq("q344_store_fsck", "q347_store_fsck_repair")
    val store = s"$main/operators/VersionedStore.scala"
    val scanned = sources.map {
      case (f, text) if f == s"$main/catalog/OperatorQueries.scala" =>
        f -> text.split("QuerySpec\\(")
          .filterNot(spec => fixtures.exists(n => spec.startsWith("\"" + n + "\"")))
          .mkString
      case other => other
    }
    for (needle <- layout) {
      val spelled = scanned.collect {
        case (f, text) if needle.findFirstIn(text).nonEmpty => f
      }.toSet
      assert(spelled == Set(store), s"$needle spelled outside the store")
    }
  }

  test("src/main: minhash index frames are built only in Dedup") {
    // split, so that grepping the tree for a builder call finds only Dedup
    val builders = Seq("\\bshingl" + "ed\\(", "\\bbanded" + "Of\\(", "\\bMinhash" + "Index\\(").map(_.r)
    val probe = "Dedup.Minhash" + "Index(b, s, 3, 128, 32); banded" + "Of(shingl" + "ed(d, i, t, 3), 128, 32)"
    assert(builders.forall(_.findFirstIn(probe).nonEmpty))
    assert(builders.forall(_.findFirstIn("readMinhash" + "Index(s, p); banded" + "OfAgg(b, 128, 32)").isEmpty))
    for (needle <- builders) {
      val spelled = sources.collect {
        case (f, text) if needle.findFirstIn(text).nonEmpty => f
      }.toSet
      assert(spelled == Set(s"$main/ext/Dedup.scala"), s"$needle outside Dedup: $spelled")
    }
  }

  /** Lines of `text` (with their index) that call the `broadcast(` join
    * hint: a line or doc comment does not count, nor does a method call
    * such as `sparkContext.broadcast(` (a broadcast variable).
    */
  private def hints(text: String): Seq[(String, Int)] = {
    val call = "(?<![.\\w])broad" + "cast\\("
    text.split("\n").toSeq.zipWithIndex.filter { case (l, _) =>
      val t = l.trim
      val code = if (t.contains("//")) t.take(t.indexOf("//")) else t
      !t.startsWith("*") && !t.startsWith("/*") && call.r.findFirstIn(code).nonEmpty
    }
  }

  /** Hinted lines of `text` whose line above is not a `// bound:` comment. */
  private def unbound(text: String): Seq[String] = {
    val lines = text.split("\n")
    hints(text).collect {
      case (l, i) if i == 0 || !lines(i - 1).trim.startsWith("// bound:") => l.trim
    }
  }

  test("src/main: every broadcast hint carries a bound comment") {
    // split, so that grepping the tree for a hint finds none here
    val hinted = "a.join(broad" + "cast(b), Seq(\"k\"))"
    assert(unbound(hinted) == Seq(hinted))
    assert(unbound("// bound: one row\n  x.crossJoin(broad" + "cast(t))").isEmpty)
    assert(unbound("// one row\n  x.crossJoin(broad" + "cast(t))").size == 1)
    assert(hints("val b = spark.sparkContext.broad" + "cast(m)\n" +
      "  * corpus ⨯ broad" + "cast(queries)\n  // a broad" + "cast(x) note").isEmpty)

    val all = sources.toSeq.flatMap { case (f, text) => hints(text).map(h => s"$f: ${h._1.trim}") }
    assert(all.size <= 30, s"${all.size} broadcast hints in src/main/scala:\n${all.mkString("\n")}")
    val missing = sources.toSeq.flatMap { case (f, text) => unbound(text).map(l => s"$f: $l") }
    assert(missing.isEmpty, s"hints without a `// bound:` line above:\n${missing.mkString("\n")}")
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
